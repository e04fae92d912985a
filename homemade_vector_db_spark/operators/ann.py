"""Approximate nearest-neighbor tier — the reference's HNSW / IVF-PQ roles.

Reference (/root/reference/local_db.py:41-54): hnswlib HNSW graph
(M=16, ef_construction=200, ef=50) and FAISS IVF-PQ (nlist=100, nprobe=
nlist//10, PQ m=16×8bit). Graph-walk ANN doesn't map to a distributed
shared-nothing engine, so each index is re-expressed as the Spark-native
structure with the same contract (approximate top-k, tunable recall/cost):

- LSH  (HNSW role): MLlib BucketedRandomProjectionLSH — hash tables are
  DataFrame columns; approxNearestNeighbors prunes by bucket.
- IVF  (IVF-PQ coarse role): KMeans centroids as the coarse quantizer.
  Build assigns every vector to a centroid (one MLlib fit + one transform);
  query scans only the `nprobe` nearest cells — a filter on the cluster id,
  which at scale is a parquet partition key, so probing 10/100 cells reads
  10% of the data (partition pruning, same scan-fraction contract as FAISS
  nprobe). Centroid selection is a tiny driver-side numpy argsort over
  nlist rows — the only non-DataFrame step, O(nlist·dim).
- Adaptive shrink (O2a parity, local_db.py:82-111): requested nlist is
  clamped to max(1, min(nlist, n//2)) before fitting; if clustering is
  impossible (n < 2) the index degrades to a single cell = exact scan,
  mirroring the reference's silent flat fallback.

Recall is verified against the exact operator in tests (recall@k), not by
hash equality — the reference takes the same stance for its ANN indexes
(/root/reference/test_local_db.py:155-157).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from homemade_vector_db_spark.operators.knn import knn_exact


def _to_vector_col(df: DataFrame, vec_col: str, out: str) -> DataFrame:
    from pyspark.ml.functions import array_to_vector

    return df.withColumn(out, array_to_vector(F.col(vec_col).cast("array<double>")))


# ----------------------------------------------------------------------- IVF
@dataclass
class IVFIndex:
    """Coarse-quantized index: assignments DataFrame + centroid matrix."""

    assignments: DataFrame  # original columns + `cluster INT`
    centroids: list[list[float]]  # nlist × dim (driver-side, tiny)
    id_col: str
    vec_col: str

    @property
    def nlist(self) -> int:
        return len(self.centroids)


def build_ivf(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 100,
    seed: int = 42,
    cache: bool = True,
) -> IVFIndex:
    """Fit the coarse quantizer and assign every row to a cell.

    TRAINING is driver-side numpy Lloyd on a bounded sample (pq._lloyd —
    the FAISS strategy: coarse quantizers train on samples, never the full
    set, so this step is O(1) in corpus size). ASSIGNMENT is the
    zero-shuffle distributed path (`ivf_assign`, vectorized argmin in
    mapInPandas). At 100 TB: `assignments.write.partitionBy('cluster')`
    so query-time cell probes become partition pruning instead of a
    filter scan (tier.save_index does exactly this).
    """
    import numpy as np

    from homemade_vector_db_spark.operators.pq import _lloyd

    n = df.count()
    if n == 0:
        raise ValueError("cannot build IVF index on empty table")
    # O2a parity: shrink nlist for tiny corpora instead of failing.
    # Besides the n//2 floor-guard, cap at ~sqrt(n) (the FAISS sizing
    # rule): over-partitioning a small corpus scatters true neighbors
    # across cells and any fixed nprobe under-recalls.
    import math

    k = max(1, min(nlist, n // 2, math.isqrt(n))) if n >= 2 else 1
    if k == 1:
        # single cell = flat fallback: every probe scans everything
        # (reference parity: IVFPQ train failure → flat, local_db.py:101-108)
        assigned = df.withColumn("cluster", F.lit(0).cast("int"))
        centroids = [[0.0] * len(df.select(vec_col).first()[0])]
    else:
        # deterministic UNBIASED sample: order by a hash of the id, not the
        # id itself — a head-of-table slice of a corpus sorted by time/
        # label/source would train centroids on a biased slice (FAISS
        # trains on random samples for the same reason). Still a top-k
        # (TakeOrderedAndProject), never a full sort.
        sample = (
            df.select(vec_col, F.xxhash64(F.col(id_col).cast("string")).alias("__h"))
            .orderBy("__h")
            .limit(min(n, 20_000))
            .collect()
        )
        X = np.asarray([r[0] for r in sample], dtype="float64")
        centroids = _lloyd(X, k, seed).tolist()
        assigned = ivf_assign(
            IVFIndex(None, centroids, id_col, vec_col), df
        )
    idx = IVFIndex(assigned, centroids, id_col, vec_col)
    if cache:
        idx.assignments.cache()
    return idx


def nearest_cells(centroids, query, nprobe: int | None = None) -> list[int]:
    """The nprobe cells whose centroids lie nearest the query, nearest
    first; nprobe defaults to nlist//10 (FAISS default mirrored from
    local_db.py:52). Centroid ranking is nlist×dim floats on the driver
    — numpy, not a job."""
    import numpy as np

    cents = np.asarray(centroids, dtype="float64")
    if nprobe is None:
        nprobe = max(1, len(cents) // 10)
    d2 = ((cents - np.asarray(list(query), dtype="float64")) ** 2).sum(axis=1)
    return [int(c) for c in np.argsort(d2, kind="stable")[:nprobe]]


def ivf_search(
    index: IVFIndex,
    query: Sequence[float],
    k: int = 10,
    nprobe: int | None = None,
    metric: str = "sqeuclidean",
) -> DataFrame:
    """Top-k over the nprobe nearest cells (`nearest_cells`)."""
    probe = nearest_cells(index.centroids, query, nprobe)
    cells = index.assignments.where(F.col("cluster").isin(probe))
    return knn_exact(
        cells, list(query), id_col=index.id_col, vec_col=index.vec_col,
        k=k, metric=metric,
    )


def ivf_search_filtered(
    index: IVFIndex,
    query: Sequence[float],
    predicate,
    k: int = 10,
    nprobe: int | None = None,
    metric: str = "sqeuclidean",
    widen: int = 4,
) -> DataFrame:
    """Filtered ANN — a metadata predicate applied INSIDE the probed-cell
    scan (the faiss IDSelector / vector-DB filter-during-search shape),
    not brute force over the filtered corpus and not post-filtering the
    unfiltered top-k.

    Why it needs its own entry point: the reference's pre_filter on the
    flat path (O4a, local_db.py:169-185) scans everything so filtering
    is free; under IVF the true neighbors SATISFYING the predicate may
    live outside the default probe set (the "filtered-ANN recall cliff"
    every production vector store documents), so the standard mitigation
    is applied here — the probe set widens by `widen`× when a predicate
    is present, paying E[widen·nprobe/nlist] of a corpus scan for recall
    that q_ann_filtered_recall gates. `build_ivf` keeps every input
    column in `assignments`, so the predicate is an ordinary codegen'd
    Column over the cell scan: partition-prunable when assignments are
    written partitionBy('cluster') (tier.save_index), pushed to parquet row
    groups either way. No new kernel: the filtered cells feed the same
    exact knn_exact law, so returned scores are bit-identical to the
    flat path's for any returned id."""
    if nprobe is None:
        nprobe = max(1, index.nlist // 10)
    probe = nearest_cells(index.centroids, query, max(1, nprobe * widen))
    cells = index.assignments.where(F.col("cluster").isin(probe)).where(
        predicate
    )
    return knn_exact(
        cells, list(query), id_col=index.id_col, vec_col=index.vec_col,
        k=k, metric=metric,
    )


def ivf_assign(index: IVFIndex, new_df: DataFrame) -> DataFrame:
    """Assign NEW vectors to the existing coarse cells — no refit.

    This is the streaming-ingest maintenance path (the reference refits
    IVF from scratch inside `add`, local_db.py:82-111; an incremental
    index is our improvement, mirroring FAISS's own add-after-train).
    The centroid matrix (nlist × dim floats) travels in the task closure;
    assignment is a vectorized numpy argmin inside mapInPandas — a pure
    per-row map, ZERO shuffles at any scale (the pure-SQL alternative,
    broadcast-join + min_by + rejoin, costs two exchanges).
    """
    import numpy as np
    import pandas as pd
    from typing import Iterator

    cents = np.asarray(index.centroids, dtype="float64")
    cn2 = (cents**2).sum(axis=1)  # precomputed ||c||² (argmin drops ||x||²)
    vec_col = index.vec_col

    def assign(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            pdf = pdf.copy()
            if len(pdf) == 0:
                # empty Arrow batch (idle streaming micro-batches produce
                # them) — np.stack would throw on an empty sequence
                pdf["cluster"] = np.empty(0, dtype="int32")
                yield pdf
                continue
            x = np.stack(pdf[vec_col].map(np.asarray)).astype("float64")
            # argmin over ||x-c||² = argmin over ||c||² - 2·x·c
            pdf["cluster"] = np.argmin(cn2 - 2.0 * (x @ cents.T), axis=1).astype(
                "int32"
            )
            yield pdf

    out_schema = T.StructType(
        list(new_df.schema.fields) + [T.StructField("cluster", T.IntegerType())]
    )
    return new_df.mapInPandas(assign, schema=out_schema)


def ivf_add(index: IVFIndex, new_df: DataFrame) -> IVFIndex:
    """Extend the index with newly-ingested vectors (assign-only). Call
    `build_ivf` afresh when drift makes the fixed centroids stale — the
    classic rebuild-on-threshold policy; assignments are append-only
    parquet in the meantime (tier.save_index partitions by cluster, so
    appends land in the right partitions)."""
    extended = index.assignments.unionByName(ivf_assign(index, new_df))
    return IVFIndex(extended, index.centroids, index.id_col, index.vec_col)


# ----------------------------------------------------------------------- LSH
@dataclass
class LSHIndex:
    model: object  # BucketedRandomProjectionLSHModel
    hashed: DataFrame
    id_col: str
    vec_col: str


def build_lsh(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_length: float = 2.0,
    num_hash_tables: int = 3,
    seed: int = 42,
    cache: bool = True,
) -> LSHIndex:
    from pyspark.ml.feature import BucketedRandomProjectionLSH

    vdf = _to_vector_col(df, vec_col, "__v")
    lsh = BucketedRandomProjectionLSH(
        inputCol="__v",
        outputCol="__hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=seed,
    )
    model = lsh.fit(vdf)
    hashed = model.transform(vdf)
    if cache:
        hashed.cache()
    return LSHIndex(model, hashed, id_col, vec_col)


def lsh_search(index: LSHIndex, query: Sequence[float], k: int = 10) -> DataFrame:
    """approxNearestNeighbors → (id, score) with the reference's 1/(1+d²)
    similarity transform applied to the squared distance."""
    from pyspark.ml.linalg import Vectors

    qv = Vectors.dense([float(x) for x in query])
    res = index.model.approxNearestNeighbors(index.hashed, qv, k, distCol="__dist")
    # MLlib returns true euclidean distance; square it for parity with the
    # reference's squared-L2 similarity (SURVEY.md §2.3-1).
    return res.select(
        F.col(index.id_col),
        F.round(1.0 / (1.0 + F.col("__dist") * F.col("__dist")), 6).alias("score"),
    ).orderBy(F.desc("score"), F.asc(index.id_col))


def lsh_similarity_join(
    index: LSHIndex,
    other: DataFrame | None = None,
    max_l2: float = 1.0,
) -> DataFrame:
    """Bulk similarity self-join (pairs within L2 distance) — the scale path
    for embedding near-dup dedup: bucket-join instead of cross product."""
    other_hashed = index.hashed if other is None else other
    joined = index.model.approxSimilarityJoin(
        index.hashed, other_hashed, max_l2, distCol="__dist"
    )
    a = F.col(f"datasetA.{index.id_col}")
    b = F.col(f"datasetB.{index.id_col}")
    return (
        joined.where(a < b)
        .select(
            a.alias("a_id"), b.alias("b_id"), F.round("__dist", 6).alias("l2_dist")
        )
        .orderBy("a_id", "b_id")
    )


def lsh_batch_search(
    index: LSHIndex,
    queries: DataFrame,
    query_id_col: str = "query_id",
    qvec_col: str = "qv",
    k: int = 5,
    max_l2: float = 2.0,
) -> DataFrame:
    """Approximate BATCH k-NN: top-k corpus neighbors for EVERY query row
    in one plan — the 100 TB serving path (knn.knn_batch is its exact
    twin). Candidates come from `approxSimilarityJoin` bucket co-location
    (cost ∝ bucket collisions, not |corpus|×|queries|); per-query ranking
    is a window partitioned by query_id — local sorts after one exchange.
    `max_l2` bounds the candidate radius; queries with no candidate in
    radius return < k rows (recall/radius trade-off, recall-tested)."""
    from pyspark.sql import Window

    # the model hashes datasetB through its inputCol, so the query vector
    # must carry the same name ("__v") the index was built with
    qdf = _to_vector_col(queries, qvec_col, "__v").select(
        F.col(query_id_col), F.col("__v")
    )
    joined = index.model.approxSimilarityJoin(
        index.hashed, qdf, max_l2, distCol="__dist"
    )
    w = Window.partitionBy(f"datasetB.{query_id_col}").orderBy(
        F.asc("__dist"), F.asc(f"datasetA.{index.id_col}")
    )
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select(
            F.col(f"datasetB.{query_id_col}").alias(query_id_col),
            F.col(f"datasetA.{index.id_col}").alias(index.id_col),
            F.round(1.0 / (1.0 + F.col("__dist") * F.col("__dist")), 6).alias(
                "score"
            ),
            F.col("rn"),
        )
        .orderBy(query_id_col, "rn")
    )
