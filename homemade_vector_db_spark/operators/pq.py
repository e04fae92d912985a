"""Product Quantization — the reference's IVF-PQ compression tier
(/root/reference/local_db.py:49-52: FAISS IndexIVFPQ, m=16 subquantizers,
8-bit codes, nlist=100).

Spark-first decomposition:
- TRAIN: split each vector into m contiguous subvectors; fit an independent
  KMeans codebook (≤256 centroids → 8-bit codes) per subspace. Training
  runs on a sample; codebooks are tiny (m × 256 × dim/m floats) and live
  broadcast.
- ENCODE: one pass assigns every subvector its nearest codebook id —
  stored as `codes ARRAY<SMALLINT>` (m bytes of information per vector vs
  4·dim bytes raw: 32× compression at dim=64, m=8 — the memory contract
  that lets 100 TB of vectors fit a fraction of cluster RAM).
- QUERY (ADC, asymmetric distance): the query stays exact; a per-query
  lookup table LUT[i][c] = ||q_subᵢ - codebook_i[c]||² is computed
  driver-side (m×256 numpy — microseconds) and inlined into the plan as
  literal arrays, so scoring is m element_at lookups + adds per row —
  whole-stage codegen, no UDF, no shuffle. approx_dist = Σᵢ LUT[i][codeᵢ].

Combined with the IVF coarse quantizer (ann.py) this is the full IVF-PQ
pipeline: probe nprobe cells, ADC-score only those rows, exact-rerank the
top candidates if desired. Recall-tested vs the exact operator
(tests/test_pq.py) — same stance as the reference's ANN tests
(/root/reference/test_local_db.py:155-157).
"""

from __future__ import annotations

from dataclasses import dataclass, replace
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from homemade_vector_db_spark.operators.tier import vector_dim


@dataclass
class PQIndex:
    codes: DataFrame  # original id col + `codes ARRAY<SMALLINT>`
    codebooks: list[list[list[float]]]  # m × k_i × (dim/m)
    m: int
    dim: int
    id_col: str
    vec_col: str


def build_pq(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    codebook_size: int = 256,
    dim: int | None = None,
    seed: int = 42,
    cache: bool = True,
) -> PQIndex:
    """Train per-subspace codebooks and encode every vector.

    TRAINING runs driver-side on a bounded sample (`train_rows`, default
    20k rows → 20k×m subvectors) with vectorized numpy Lloyd iterations —
    the same strategy FAISS uses (train in memory on a sample, never on
    the full set). Distributed KMeans per subspace would pay m fits ×
    iters × per-job scheduling overhead to cluster data that fits in one
    numpy array at ANY corpus size: the sample is capped, so this step is
    O(1) in corpus scale. ENCODING (the O(n) part) stays fully
    distributed (_encode).

    Parity with the reference's adaptive shrink (local_db.py:82-111):
    codebook_size is clamped to max(1, min(requested, n//2)) so tiny
    corpora train instead of failing.
    """
    import numpy as np

    dim = vector_dim(df, vec_col, dim)
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    n = df.count()
    k = max(1, min(codebook_size, n // 2))

    base = df.select(F.col(id_col), *_subvectors(F.col(vec_col), m, sub))

    # deterministic UNBIASED training sample: top-k by hash of the id (not
    # id order — head-of-table slices are biased when the corpus is sorted
    # by time/label/source); 20k × dim doubles ≈ 10 MB driver-side at dim=64
    train_rows = 20_000
    sample = (
        base.orderBy(F.xxhash64(F.col(id_col).cast("string")))
        .limit(min(n, train_rows))
        .collect()
    )
    codebooks: list[list[list[float]]] = []
    for i in range(m):
        X = np.asarray([r[f"__s{i}"] for r in sample], dtype="float64")
        codebooks.append(_lloyd(X, k, seed + i).tolist())

    codes = _encode(base, codebooks, sub, id_col, df.sparkSession)
    if cache:
        codes = codes.cache()
    return PQIndex(codes, codebooks, m, dim, id_col, vec_col)


def _subvectors(vec, m: int, sub: int) -> list:
    """The m contiguous `__s{i}` sub-vector columns PQ trains and encodes."""
    return [
        F.slice(vec, i * sub + 1, sub).cast("array<double>").alias(f"__s{i}")
        for i in range(m)
    ]


def pq_add(index: PQIndex, new_df: DataFrame) -> PQIndex:
    """Add-after-train: encode an appended row block with the FROZEN
    codebooks (geometry never depended on individual rows, so the union
    of code relations equals a re-encode of the union). One distributed
    encode pass over the new rows only."""
    sub = index.dim // index.m
    base = new_df.select(
        F.col(index.id_col), *_subvectors(F.col(index.vec_col), index.m, sub)
    )
    new_codes = _encode(
        base, index.codebooks, sub, index.id_col, new_df.sparkSession
    )
    return replace(index, codes=index.codes.unionByName(new_codes))


def _lloyd(X, k: int, seed: int, iters: int = 12):
    """Vectorized Lloyd k-means on an in-memory sample (one subspace).
    Empty clusters are re-seeded from the points farthest from their
    centroid — the standard FAISS-style repair."""
    import numpy as np

    rng = np.random.default_rng(seed)
    n = len(X)
    cents = X[rng.choice(n, size=k, replace=False)].copy() if n >= k else np.resize(X, (k, X.shape[1])).astype("float64")
    for _ in range(iters):
        d2 = (cents**2).sum(axis=1)[None, :] - 2.0 * (X @ cents.T)
        assign = np.argmin(d2, axis=1)
        mind2 = d2[np.arange(n), assign]
        moved = False
        for c in range(k):
            mask = assign == c
            if mask.any():
                new = X[mask].mean(axis=0)
                if not np.allclose(new, cents[c]):
                    moved = True
                cents[c] = new
            else:
                cents[c] = X[np.argmax(mind2)]
                mind2[np.argmax(mind2)] = -np.inf
                moved = True
        if not moved:
            break
    return cents


def _encode(base: DataFrame, codebooks, sub: int, id_col: str, spark) -> DataFrame:
    """Assign each subvector its nearest code: explode subspaces, broadcast
    the (subspace, code, centroid) table, min_by over the join.

    A literal argmin expression (nested CASE over all centroids) overflows
    the analyzer stack at realistic codebook sizes (250+ deep tree); the
    join form is flat, scales to any k, and runs once at build time.
    """
    from homemade_vector_db_spark.functions.vector import squared_l2_fixed

    m = len(codebooks)
    cb_rows = [
        (i, ci, [float(x) for x in cent])
        for i, cb in enumerate(codebooks)
        for ci, cent in enumerate(cb)
    ]
    cb_df = spark.createDataFrame(
        cb_rows, "sub_i INT, code INT, cent ARRAY<DOUBLE>"
    )
    subrows = base.select(
        F.col(id_col),
        F.posexplode(F.array(*[F.col(f"__s{i}") for i in range(m)])).alias(
            "sub_i", "subvec"
        ),
    )
    joined = subrows.join(F.broadcast(cb_df), "sub_i")
    d = squared_l2_fixed("subvec", "cent", sub)
    best = joined.groupBy(id_col, "sub_i").agg(F.min_by("code", d).alias("code"))
    return best.groupBy(id_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("sub_i", "code"))),
            lambda s: s["code"],
        )
        .cast("array<smallint>")
        .alias("codes")
    )


def pq_search(
    index: PQIndex,
    query: Sequence[float],
    k: int = 10,
    score_decimals: int | None = 6,
) -> DataFrame:
    """ADC top-k: per-query LUT inlined as literals, m lookups per row."""
    import numpy as np

    q = np.asarray(list(query), dtype="float64")
    sub = index.dim // index.m
    luts = []
    for i in range(index.m):
        qs = q[i * sub : (i + 1) * sub]
        cb = np.asarray(index.codebooks[i], dtype="float64")
        luts.append(((cb - qs) ** 2).sum(axis=1))

    # ONE parsed SQL string — m LUT probes with the per-query tables
    # inlined as array literals (single py4j round-trip instead of
    # m × codebook_size; bit-identical — functions/vector.py note)
    from homemade_vector_db_spark.functions.vector import _lit_d

    terms = []
    for i in range(index.m):
        lut_sql = "array(" + ", ".join(_lit_d(float(d)) for d in luts[i]) + ")"
        terms.append(
            f"element_at({lut_sql}, "
            f"CAST(element_at(codes, {i + 1}) AS INT) + 1)"
        )
    score = 1.0 / (1.0 + F.expr(" + ".join(terms)))
    if score_decimals is not None:
        score = F.round(score, score_decimals)
    return (
        index.codes.select(F.col(index.id_col), score.alias("score"))
        .orderBy(F.desc("score"), F.asc(index.id_col))
        .limit(k)
    )


def _residual_expr(centroids, vec_col: str):
    """x − centroid(cluster) as a pure codegen projection (the centroid
    table constant-folds into a literal array indexed by the cluster
    column) — the single definition of the residual law shared by
    training (build_ivfpq) and add-after-train encoding."""
    cents_lit = F.array(
        *[F.array(*[F.lit(float(v)) for v in c]) for c in centroids]
    )
    return F.zip_with(
        F.col(vec_col).cast("array<double>"),
        F.element_at(cents_lit, F.col("cluster") + 1),
        lambda a, b: a - b,
    )


def encode_with_geometry(
    new_df: DataFrame,
    centroids,
    codebooks,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes, cluster) for rows under a FIXED geometry — the faiss
    add-after-train encode path: assign to the EXISTING coarse cells,
    encode residuals with the EXISTING codebooks. The single encode
    definition behind ivfpq_add and the streaming IncrementalPQIndex."""
    from homemade_vector_db_spark.operators.ann import IVFIndex, ivf_assign

    assigned = ivf_assign(
        IVFIndex(None, centroids, id_col, vec_col), new_df
    )
    m = len(codebooks)
    sub = dim // m
    resid = _residual_expr(centroids, vec_col)
    base = assigned.select(
        F.col(id_col), F.col("cluster"), *_subvectors(resid, m, sub)
    )
    return _encode(base, codebooks, sub, id_col, new_df.sparkSession).join(
        base.select(id_col, "cluster"), id_col
    )


@dataclass
class IVFPQIndex:
    """Residual-encoded IVF-PQ — the canonical FAISS IndexIVFPQ layout
    (/root/reference/local_db.py:49-52 wraps exactly this design): PQ
    codes the RESIDUAL x − centroid(cell), whose variance is far lower
    than x's, so the same code budget quantizes much finer than coding
    raw vectors per cell. Scores stay comparable across cells because
    ADC with the per-cell query residual q − centroid(cell) approximates
    the same ||q − x||²."""

    codes: DataFrame  # (id, codes ARRAY<SMALLINT>, cluster INT)
    codebooks: list[list[list[float]]]  # trained on residuals
    centroids: list[list[float]]
    m: int
    dim: int
    id_col: str
    vec_col: str


def build_ivfpq(
    ivf_index,
    m: int = 8,
    codebook_size: int = 64,
    dim: int | None = None,
    seed: int = 42,
    cache: bool = True,
) -> IVFPQIndex:
    """Train shared residual codebooks over all cells and encode every row.

    The residual column is a pure codegen projection (centroid table as a
    constant-folded literal array indexed by the cluster column); training
    and encoding then reuse build_pq unchanged — one distributed encode
    pass, sample-bounded driver-side training."""
    assignments = ivf_index.assignments  # (id, vec, cluster)
    id_col, vec_col = ivf_index.id_col, ivf_index.vec_col
    resid = _residual_expr(ivf_index.centroids, vec_col)
    base = assignments.select(
        F.col(id_col), F.col("cluster"), resid.alias("__resid")
    )
    pq = build_pq(
        base, id_col=id_col, vec_col="__resid", m=m,
        codebook_size=codebook_size, dim=dim, seed=seed, cache=False,
    )
    codes = pq.codes.join(base.select(F.col(id_col), "cluster"), id_col)
    if cache:
        codes = codes.cache()
    return IVFPQIndex(
        codes, pq.codebooks, ivf_index.centroids, pq.m, pq.dim, id_col,
        vec_col,
    )


def ivfpq_search(
    index: IVFPQIndex,
    query: Sequence[float],
    k: int = 10,
    nprobe: int = 4,
    score_decimals: int | None = 6,
) -> DataFrame:
    """Probe the nprobe nearest cells in ONE scan: `cluster IN (probes)`
    filter (partition PRUNING under the tier.save_index layout), a
    per-row residual-ADC score via a CASE over the probed cells' LUT
    literals, then a single global TakeOrderedAndProject — the FAISS
    single-phase select (scan probed lists, one global heap), one job,
    with the engine-wide (rounded score DESC, id ASC) law over ALL probed
    rows. Each cell's LUT chain is the same left-associated m-term sum
    pq_search builds."""
    import numpy as np

    from homemade_vector_db_spark.functions.vector import _lit_d
    from homemade_vector_db_spark.operators.ann import nearest_cells

    q = np.asarray(list(query), dtype="float64")
    cents = np.asarray(index.centroids, dtype="float64")
    probe = nearest_cells(cents, q, nprobe)
    sub = index.dim // index.m
    branches = []
    for c in probe:
        qr = q - cents[c]
        terms = []
        for i in range(index.m):
            qs = qr[i * sub : (i + 1) * sub]
            cb = np.asarray(index.codebooks[i], dtype="float64")
            lut = ((cb - qs) ** 2).sum(axis=1)
            lut_sql = "array(" + ", ".join(_lit_d(float(d)) for d in lut) + ")"
            terms.append(
                f"element_at({lut_sql}, "
                f"CAST(element_at(codes, {i + 1}) AS INT) + 1)"
            )
        branches.append(f"WHEN {c} THEN ({' + '.join(terms)})")
    adc = F.expr("CASE cluster " + " ".join(branches) + " END")
    score = 1.0 / (1.0 + adc)
    if score_decimals is not None:
        score = F.round(score, score_decimals)
    return (
        index.codes.where(F.col("cluster").isin(probe))
        .select(F.col(index.id_col), score.alias("score"))
        .orderBy(F.desc("score"), F.asc(index.id_col))
        .limit(k)
    )


def ivfpq_add(index: IVFPQIndex, new_df: DataFrame) -> IVFPQIndex:
    """Add-after-train (faiss IndexIVFPQ.add parity, the ivf_add stance):
    new rows are assigned to the EXISTING coarse cells and their
    residuals encoded with the EXISTING codebooks — no refit, one
    distributed encode pass over just the batch; rebuild on drift is the
    caller's threshold policy. Codes are append-only, so under the
    partitionBy('cluster') save layout an append lands in the right
    partitions."""
    new_codes = encode_with_geometry(
        new_df, index.centroids, index.codebooks, index.dim,
        index.id_col, index.vec_col,
    )
    return replace(index, codes=index.codes.unionByName(new_codes))
