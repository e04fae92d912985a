"""Exact k-NN — the reference's 'flat' index path, Spark-first.

Reference semantics (/root/reference/local_db.py:137-200): reshape the query
to (1, dim) float32, run FAISS IndexFlatL2 exact scan, convert squared-L2
distance to similarity ``1/(1+d)``, return top-k (doc_id, score).

Spark plan: broadcast the 1-row query vector, compute the distance as a
codegen'd column expression over every row, then ``ORDER BY score DESC LIMIT
k`` — Catalyst plans this as TakeOrderedAndProject: each partition keeps a
local k-heap, the driver merges k·numPartitions candidates. No global sort,
no shuffle of the data. At 100 TB this is a single scan-side pass; with a
selective pre-filter the parquet reader never materializes pruned row groups.

Deliberate divergences (SURVEY.md §2.3):
- D2: the reference's `pre_filter` actually runs AFTER the index search
  (/root/reference/local_db.py:169-185) and can return < k rows even when k
  matching docs exist. We filter BEFORE ranking (a true pre-filter, strictly
  stronger: every returned row satisfies the predicate AND we return
  min(k, n_matching) rows).
- D3: FAISS pads with -1 ids when k > n (/root/reference/local_db.py:174);
  we return min(k, n) real rows.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from homemade_vector_db_spark.functions.vector import (
    dot,
    dot_fixed,
    dot_lit,
    dot_self,
    l2_to_similarity,
    qnorm_py,
    squared_l2,
    squared_l2_fixed,
    squared_l2_lit,
)

QVEC = "__qvec"
QNORM = "__qnorm"


def with_query_vector(
    df: DataFrame,
    query: DataFrame | Sequence[float],
    with_norm: bool = False,
    dim: int | None = None,
) -> DataFrame:
    """Attach the query vector to every row via a broadcast 1-row cross join.

    `query` is either a literal python sequence or a 1-row DataFrame whose
    single array column is the vector (e.g. `embeddings.where(vec_id==0)
    .select('embedding')`). Keeping it a DataFrame avoids a collect on the
    driver and lets the query itself be the result of another Spark job.

    `with_norm` adds a `__qnorm` column computed on the 1-row side BEFORE
    the broadcast — the Project under BroadcastExchange evaluates once per
    query, not once per corpus row (for a literal query the norm constant-
    folds). The per-row cosine then needs only 2 dim-term reductions
    instead of 3.
    """
    qdot = (
        (lambda c: dot_fixed(c, c, dim)) if dim is not None else (lambda c: dot(c, c))
    )
    if isinstance(query, DataFrame):
        cols = query.columns
        if len(cols) != 1:
            raise ValueError("query DataFrame must have exactly one array column")
        qdf = query.select(F.col(cols[0]).alias(QVEC)).limit(1)
        if with_norm:
            qdf = qdf.select(QVEC, F.sqrt(qdot(QVEC)).alias(QNORM))
        return df.crossJoin(F.broadcast(qdf))
    # literal query: stay a plain Project — the array (and its norm) are
    # literal expressions that constant-fold instead of joining
    qcol = F.array(*[F.lit(float(v)) for v in query])
    out = df.withColumn(QVEC, qcol)
    if with_norm:
        out = out.withColumn(QNORM, F.sqrt(qdot(QVEC)))
    return out


def knn_exact(
    df: DataFrame,
    query: DataFrame | Sequence[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    pre_filter: Column | None = None,
    post_filter: Column | None = None,
    metric: str = "sqeuclidean",
    score_decimals: int | None = 6,
    dim: int | None = None,
    norm_col: str | None = None,
) -> DataFrame:
    """Exact top-k by similarity. Returns (id_col, score) ordered desc.

    metric: 'sqeuclidean' → score = 1/(1+d²) (reference parity path);
            'cosine'      → score = cosine similarity;
            'ip'          → score = raw inner product (FAISS IndexFlatIP
                            parity; may be negative, no transform).
    Ties broken by ascending id (deterministic; see SURVEY.md §2.3-5).

    Pass `dim` when known: the distance expands to a codegen'd scalar
    expression instead of the interpreted HOF fold (same summation order,
    bit-identical result — see functions/vector.squared_l2_fixed).
    A literal-list query infers dim automatically.

    `norm_col` (cosine only): name of a precomputed per-row L2-norm column
    on `df`. Halves the per-query reduction work — the analogue of the
    reference storing vectors in its index at add-time so queries pay
    only the query-side dot product (local_db.py:78-80,113).
    """
    if pre_filter is not None:
        df = df.where(pre_filter)
    lit_query = not isinstance(query, DataFrame)
    if dim is None and lit_query:
        dim = len(query)
    if lit_query:
        # Literal query: the whole kernel is ONE parsed SQL expression
        # (single py4j round-trip instead of hundreds — see
        # functions/vector.py literal-kernel note). Bit-identical to the
        # Column forms: same constants, same left-associated fold.
        q = [float(v) for v in query]
        scored = df
        if metric == "sqeuclidean":
            score = l2_to_similarity(squared_l2_lit(vec_col, q))
        elif metric == "ip":
            # max inner product (FAISS IndexFlatIP parity): raw dot
            # product, no similarity transform, may be negative
            score = dot_lit(vec_col, q)
        elif metric == "cosine":
            qn = qnorm_py(q)
            num = dot_lit(vec_col, q)
            na = (
                F.col(norm_col)
                if norm_col is not None
                else F.sqrt(dot_self(vec_col, dim))
            )
            nb = F.lit(qn)
            score = F.when((na > 0) & (nb > 0), num / (na * nb)).otherwise(
                F.lit(0.0)
            )
        else:
            raise ValueError(f"unknown metric {metric!r}")
    else:
        scored = with_query_vector(
            df, query, with_norm=(metric == "cosine"), dim=dim
        )
        if metric == "sqeuclidean":
            d2 = (
                squared_l2_fixed(vec_col, QVEC, dim)
                if dim is not None
                else squared_l2(vec_col, QVEC)
            )
            score = l2_to_similarity(d2)
        elif metric == "ip":
            score = (
                dot_fixed(vec_col, QVEC, dim)
                if dim is not None
                else dot(vec_col, QVEC)
            )
        elif metric == "cosine":
            # query norm hoisted to the broadcast side (__qnorm); per corpus
            # row: one dot(a,b) + one dot(a,a). Same arithmetic order as
            # cosine_fixed, so scores are bit-identical to the oracle.
            if norm_col is not None:
                na = F.col(norm_col)
                num = dot_fixed(vec_col, QVEC, dim) if dim is not None else dot(vec_col, QVEC)
            elif dim is not None:
                na = F.sqrt(dot_fixed(vec_col, vec_col, dim))
                num = dot_fixed(vec_col, QVEC, dim)
            else:
                na = F.sqrt(dot(vec_col, vec_col))
                num = dot(vec_col, QVEC)
            nb = F.col(QNORM)
            score = F.when((na > 0) & (nb > 0), num / (na * nb)).otherwise(F.lit(0.0))
        else:
            raise ValueError(f"unknown metric {metric!r}")
    if score_decimals is not None:
        score = F.round(score, score_decimals)
    scored = scored.withColumn("score", score)
    topk = scored.orderBy(F.desc("score"), F.asc(id_col)).limit(k)
    if post_filter is not None:
        # Parity with the reference: post_filter runs on the k results
        # (/root/reference/local_db.py:188-195) and may return < k rows.
        topk = topk.where(post_filter)
    return topk.select(F.col(id_col), F.col("score"))


def knn_batch(
    df: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    qvec_col: str = "qv",
    k: int = 5,
    score_decimals: int = 6,
    max_query_rows: int = 10_000,
) -> DataFrame:
    """Bulk exact k-NN: Q queries × corpus in ONE scan, per-query top-k.

    Returns (query_id, id, score, rn) with rn = 1..k per query, ordered by
    (query_id, rn). Scale shape: the query block (small by definition — it
    is the thing being broadcast) is collected into a numpy matrix and
    shipped inside a mapInPandas kernel; each input partition computes its
    Q×B distance block with BLAS and emits only its LOCAL top-k per query.
    The shuffle after the scan therefore carries Q × num_partitions × k
    candidate rows — never the Q×N scored relation — and the final
    per-query top-k is a cheap window over that candidate set. A window
    straight over the scored crossJoin would shuffle and fully sort all
    Q×N rows: the difference between gigabytes and kilobytes at 100 TB.

    Determinism: scores are rounded to `score_decimals` BEFORE local
    selection, and both local and final selection order by
    (score desc, id asc) — same tie rule as knn_exact (SURVEY.md §2.3-5),
    so the result is reproducible and oracle-checkable.

    (reference: query_vector called per query, local_db.py:137-200; this
    operator is its batch-amortized form.)
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql.window import Window

    # Bounded collect (VERDICT r6 What's-wrong #2): the query block is
    # broadcast state, so it MUST fit on the driver — collect one row
    # past the bound and refuse instead of OOMing on a 10M-row "block".
    qrows = (
        queries.select(query_id_col, qvec_col)
        .limit(max_query_rows + 1)
        .collect()
    )
    if len(qrows) > max_query_rows:
        raise ValueError(
            f"query block exceeds max_query_rows={max_query_rows}; use "
            "knn_batch_chunked (driver-bounded chunks, identical results)"
        )
    if not qrows:
        raise ValueError("empty query block")
    qids = np.array([r[query_id_col] for r in qrows], dtype=np.int64)
    qmat = np.stack([np.asarray(r[qvec_col], dtype=np.float64) for r in qrows])

    id_dtype = "long"
    out_schema = (
        f"{query_id_col} long, {id_col} {id_dtype}, score double"
    )

    def local_topk(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            A = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)  # B×D
            ids = pdf[id_col].to_numpy()
            # B×Q×D diff block; chunk over B if Q×D grows — at B=10k,
            # Q=16, D=1k this is ~1.2 GB: keep batches bounded via
            # spark.sql.execution.arrow.maxRecordsPerBatch at wide dims.
            d = ((A[:, None, :] - qmat[None, :, :]) ** 2).sum(axis=2)
            scores = np.round(1.0 / (1.0 + d), score_decimals)
            kk = min(k, len(ids))
            # vectorized per-query local top-k: argpartition bounds the
            # sort to kk rows per query, and ONE frame per input batch
            # leaves the kernel (a per-query yield costs Q pandas/Arrow
            # round-trips — at Q=500 that dominated the whole plan).
            # Selection law unchanged: (score desc, id asc).
            out_q, out_i, out_s = [], [], []
            for j in range(len(qids)):
                sj = scores[:, j]
                if kk < len(ids):
                    part = np.argpartition(-sj, kk - 1)[:kk]
                    cut = sj[part].min()
                    if (sj == cut).sum() > 1 and (sj >= cut).sum() > kk:
                        # ties AT the boundary score straddle the
                        # partition: only the full lexsort applies the
                        # id law among them
                        order = np.lexsort((ids, -sj))[:kk]
                    else:
                        # every tie group above the cut is entirely
                        # inside the partition (argpartition includes
                        # all elements > cut), so an in-partition
                        # lexsort reproduces the (score desc, id asc)
                        # law exactly
                        order = part[np.lexsort((ids[part], -sj[part]))]
                else:
                    order = np.lexsort((ids, -sj))[:kk]
                out_q.append(np.full(kk, qids[j]))
                out_i.append(ids[order])
                out_s.append(sj[order])
            yield pd.DataFrame(
                {
                    query_id_col: np.concatenate(out_q),
                    id_col: np.concatenate(out_i),
                    "score": np.concatenate(out_s),
                }
            )

    cand = df.select(id_col, vec_col).mapInPandas(local_topk, out_schema)
    w = Window.partitionBy(query_id_col).orderBy(F.desc("score"), F.asc(id_col))
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .orderBy(query_id_col, "rn")
    )


def knn_batch_chunked(
    df: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    qvec_col: str = "qv",
    k: int = 5,
    score_decimals: int = 6,
    max_query_rows: int = 10_000,
) -> DataFrame:
    """knn_batch for query blocks larger than the driver bound: split the
    block into ≤max_query_rows chunks by query-id hash and union the
    per-chunk results. Each chunk is an independent knn_batch — per-query
    top-k only ever depends on that query's own rows, so the union equals
    the unbounded computation exactly (pytest-pinned). Driver memory is
    bounded by ONE chunk; the corpus is scanned once per chunk, which is
    the honest trade — at 100 TB you size max_query_rows so the chunk
    count stays small, or go fully distributed via a broadcast-join
    variant when Q itself is huge."""
    import math

    from functools import reduce

    n = queries.count()
    if n == 0:
        raise ValueError("empty query block")
    # target half-full chunks so hash imbalance never trips the guard
    n_chunks = max(1, math.ceil(n / max(1, max_query_rows // 2)))
    parts = []
    for c in range(n_chunks):
        qc = queries.where(
            F.pmod(F.xxhash64(F.col(query_id_col)), F.lit(n_chunks)) == c
        )
        if qc.limit(1).count() == 0:
            continue
        parts.append(
            knn_batch(
                df,
                qc,
                id_col=id_col,
                vec_col=vec_col,
                query_id_col=query_id_col,
                qvec_col=qvec_col,
                k=k,
                score_decimals=score_decimals,
                max_query_rows=max_query_rows,
            )
        )
    return reduce(DataFrame.unionByName, parts).orderBy(query_id_col, "rn")


def _tile_topk_frame(cdf, qdf, k, score_decimals, query_id_col, id_col):
    """Shared exact tile kernel for knn_join / knn_join_ivf: local top-k
    of one (corpus-slice × query-slice) tile. Column contract: corpus
    side (__cid, __cvec), query side (__qid, __qvec). The (A - q)²
    elementwise form matches knn_batch / knn_exact bit-for-bit (a GEMM
    expansion would differ in last ulps and could flip a 6dp rounding);
    the query axis is chunked so the (B, qc, D) broadcast temp stays
    bounded."""
    import numpy as np
    import pandas as pd

    if len(cdf) == 0 or len(qdf) == 0:
        return pd.DataFrame(
            {
                query_id_col: np.array([], dtype=np.int64),
                id_col: np.array([], dtype=np.int64),
                "score": np.array([], dtype=np.float64),
            }
        )
    ids = cdf["__cid"].to_numpy(dtype=np.int64)
    A = np.stack(cdf["__cvec"].to_numpy()).astype(np.float64)
    qids = qdf["__qid"].to_numpy(dtype=np.int64)
    Qm = np.stack(qdf["__qvec"].to_numpy()).astype(np.float64)
    kk = min(k, len(ids))
    out_q, out_i, out_s = [], [], []
    for lo in range(0, len(qids), 256):
        Qc = Qm[lo : lo + 256]
        d = ((A[:, None, :] - Qc[None, :, :]) ** 2).sum(axis=2)
        scores = np.round(1.0 / (1.0 + d), score_decimals)
        for j in range(Qc.shape[0]):
            sj = scores[:, j]
            order = np.lexsort((ids, -sj))[:kk]
            out_q.append(np.full(kk, qids[lo + j]))
            out_i.append(ids[order])
            out_s.append(sj[order])
    return pd.DataFrame(
        {
            query_id_col: np.concatenate(out_q),
            id_col: np.concatenate(out_i),
            "score": np.concatenate(out_s),
        }
    )


def knn_join(
    df: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    qvec_col: str = "qv",
    k: int = 5,
    score_decimals: int = 6,
    corpus_rows_per_block: int = 100_000,
    query_rows_per_block: int = 100_000,
) -> DataFrame:
    """Fully-distributed exact k-NN JOIN: per-query top-k when BOTH sides
    are DataFrames of arbitrary size — the escape hatch knn_batch_chunked's
    docstring promises for query blocks too large to ever touch the
    driver.

    Block-matrix shape (no driver state at all): the corpus is hashed
    into P = ceil(|corpus| / corpus_rows_per_block) blocks and the query
    side into QB = ceil(|Q| / query_rows_per_block) blocks; each side is
    replicated across the OTHER side's block axis with one generator
    explode, and a cogrouped applyInPandas kernel computes each (cb, qb)
    tile's exact distances with the same chunked BLAS broadcast as
    knn_batch, emitting only the tile-local top-k per query. The final
    per-query top-k is a window over QB-invariant candidates
    (P × |Q| × k rows). Cost trade vs knn_batch_chunked: ONE corpus pass
    shuffled P-ways + a Q×P replicated query shuffle, instead of
    ceil(Q/chunk) repeated corpus scans with the query block held on the
    driver — the right side of the trade exactly when Q is corpus-sized
    (kNN graphs, corpus-vs-corpus decontamination, cross-dataset
    retrieval audits). Block sizes bound executor memory: a tile holds
    corpus_rows_per_block × dim + query_rows_per_block × dim floats.

    Determinism contract — identical to knn_batch, so the two operators
    are interchangeable and share oracles: scores are rounded to
    `score_decimals` BEFORE local selection; local AND global selection
    order by (score desc, id asc); the blocking (P, QB) provably never
    changes the result (each query's global top-k is a function of its
    own candidate rows only; pytest pins blocking invariance).

    (reference: query_vector serves one query at a time,
    local_db.py:137-200; knn_batch amortizes Q queries into one scan;
    this operator removes the last bound — Q itself.)
    """
    import math

    import numpy as np
    import pandas as pd

    from pyspark.sql.window import Window

    n_corpus = df.count()
    n_q = queries.count()
    if n_q == 0:
        raise ValueError("empty query block")
    if n_corpus == 0:
        raise ValueError("empty corpus")
    p = max(1, math.ceil(n_corpus / corpus_rows_per_block))
    qb = max(1, math.ceil(n_q / query_rows_per_block))

    # corpus: one home block + replication across the query-block axis;
    # queries: symmetric. sequence() explode is a generator — the
    # replication never materializes on the driver.
    c_side = df.select(
        F.col(id_col).alias("__cid"), F.col(vec_col).alias("__cvec")
    ).withColumns(
        {
            "__cb": F.pmod(F.xxhash64(F.col("__cid")), F.lit(p)),
            "__qb": F.explode(F.sequence(F.lit(0), F.lit(qb - 1))),
        }
    )
    q_side = queries.select(
        F.col(query_id_col).alias("__qid"), F.col(qvec_col).alias("__qvec")
    ).withColumns(
        {
            "__qb": F.pmod(F.xxhash64(F.col("__qid")), F.lit(qb)),
            "__cb": F.explode(F.sequence(F.lit(0), F.lit(p - 1))),
        }
    )

    def tile_topk(key, cdf: pd.DataFrame, qdf: pd.DataFrame):
        return _tile_topk_frame(cdf, qdf, k, score_decimals, query_id_col, id_col)

    cand = (
        c_side.groupBy("__cb", "__qb")
        .cogroup(q_side.groupBy("__cb", "__qb"))
        .applyInPandas(
            tile_topk, f"{query_id_col} long, {id_col} long, score double"
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("score"), F.asc(id_col))
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .orderBy(query_id_col, "rn")
    )


def _probe_cells(queries, cents, npro, query_id_col, qvec_col):
    """Expand each query row to its `npro` nearest coarse cells — the
    shared probe of knn_join_ivf and knn_join_ivfpq (one Arrow-batched
    mapInPandas over the tiny centroid matrix; the two tiers' probe
    behavior is identical by contract)."""
    import numpy as np
    import pandas as pd

    def probe(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            Qm = np.stack(pdf[qvec_col].to_numpy()).astype(np.float64)
            d2 = ((Qm[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            order = np.argsort(d2, kind="stable", axis=1)[:, :npro]
            yield pd.DataFrame(
                {
                    "__qid": np.repeat(
                        pdf[query_id_col].to_numpy(dtype=np.int64), npro
                    ),
                    "__qvec": np.repeat(pdf[qvec_col].to_numpy(), npro),
                    "__cell": order.ravel().astype(np.int32),
                }
            )

    return queries.mapInPandas(
        probe, schema="__qid long, __qvec array<float>, __cell int"
    )


def _split_hot_cells(c_side, q_cells, max_cell_rows):
    """Exactness-preserving hot-cell sub-sharding for the cell-cogrouped
    joins: a skewed cell above `max_cell_rows` concentrates its whole
    tile in one cogroup task (the skew note both IVF joins carry).
    Corpus rows in an oversized cell hash into ceil(rows/cap) sub-shards
    and every query probing that cell replicates across them — each
    (query, corpus-row) pair still meets exactly once, so results are
    BIT-IDENTICAL to the unsplit plan (pytest pins the invariance) while
    the per-task tile width is bounded by the cap. The per-cell count is
    one nlist-sized agg (bounded driver state, same class as the
    centroid matrix); the corpus-side relation is persisted FIRST so the
    count probe materializes the assign/encode pipeline once and the
    downstream cogroup reads the cache instead of recomputing it."""
    import math

    from homemade_vector_db_spark.session import track_persist

    c_side = track_persist(c_side)
    counts = {
        r["__cell"]: r["n"]
        for r in c_side.groupBy("__cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    splits = {
        c: math.ceil(n / max_cell_rows)
        for c, n in counts.items()
        if n > max_cell_rows
    }
    if not splits:
        return c_side, q_cells, ["__cell"]
    pairs = []
    for c, s in sorted(splits.items()):
        pairs += [F.lit(int(c)), F.lit(int(s))]
    subs = F.coalesce(
        F.element_at(F.create_map(*pairs), F.col("__cell")), F.lit(1)
    )
    c2 = c_side.withColumn(
        "__sub", F.pmod(F.xxhash64(F.col("__cid")), subs).cast("int")
    )
    q2 = q_cells.withColumn(
        "__sub", F.explode(F.sequence(F.lit(0), subs - F.lit(1)))
    )
    return c2, q2, ["__cell", "__sub"]


def knn_join_ivf(
    df: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    qvec_col: str = "qv",
    k: int = 5,
    nlist: int = 100,
    nprobe: int | None = None,
    score_decimals: int = 6,
    max_cell_rows: int = 100_000,
    ivf_index: "object | None" = None,
) -> DataFrame:
    """IVF-accelerated k-NN JOIN — the ANN tier of `knn_join` for when
    even one full corpus pass per tile row is too much: both sides are
    DataFrames, but each query is scored only against the corpus rows
    in its `nprobe` nearest coarse cells.

    Plan: train the coarse quantizer on a bounded sample (ann.build_ivf
    — O(1) in corpus size), assign corpus rows to cells distributed
    (vectorized argmin, zero shuffle), expand each query to its nprobe
    nearest cells with one Arrow-batched mapInPandas over the tiny
    centroid matrix, then cogroup corpus×queries BY CELL and run the
    SAME exact tile kernel as knn_join (identical arithmetic + tie law,
    so the two tiers' results are directly comparable). Per-query cost
    is the probed cells' row count — E[nprobe/nlist · |corpus|] — vs
    knn_join's full |corpus|; total shuffle is one corpus pass hashed
    by cell plus Q×nprobe replicated query rows. Skew: cells above
    `max_cell_rows` are sub-sharded (`_split_hot_cells` — the
    hot-bucket-cap pattern made real): corpus rows hash into
    ceil(rows/cap) sub-shards, probing queries replicate across them,
    results provably unchanged, per-task tile width bounded.

    Recall contract: approximate by construction (a true neighbor in an
    unprobed cell is missed); queries may return < k rows when probed
    cells hold < k corpus rows. Gated against the exact join by
    q_knn_join_ivf_recall, the knn_graph_recall pattern.

    `ivf_index` (ann.IVFIndex, optional): a prebuilt coarse quantizer —
    tune_nprobe passes one so every ladder rung shares a single fit.
    When provided, the `nlist` argument is IGNORED (the index's own cell
    count governs) and the index MUST have been built over the same
    df/id_col/vec_col; mismatched columns fail downstream, not here."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.window import Window

    from homemade_vector_db_spark.operators.ann import build_ivf

    idx = (
        build_ivf(df, id_col=id_col, vec_col=vec_col, nlist=nlist, cache=False)
        if ivf_index is None
        else ivf_index
    )
    npro = max(1, idx.nlist // 10) if nprobe is None else max(1, min(nprobe, idx.nlist))
    cents = np.asarray(idx.centroids, dtype=np.float64)
    q_cells = _probe_cells(queries, cents, npro, query_id_col, qvec_col)
    c_side = idx.assignments.select(
        F.col(id_col).alias("__cid"),
        F.col(vec_col).alias("__cvec"),
        F.col("cluster").cast("int").alias("__cell"),
    )

    c_side, q_cells, keys = _split_hot_cells(c_side, q_cells, max_cell_rows)

    def cell_topk(key, cdf: pd.DataFrame, qdf: pd.DataFrame):
        return _tile_topk_frame(cdf, qdf, k, score_decimals, query_id_col, id_col)

    cand = (
        c_side.groupBy(*keys)
        .cogroup(q_cells.groupBy(*keys))
        .applyInPandas(
            cell_topk, f"{query_id_col} long, {id_col} long, score double"
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("score"), F.asc(id_col))
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .orderBy(query_id_col, "rn")
    )


def knn_join_ivfpq(
    df: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    qvec_col: str = "qv",
    k: int = 5,
    nlist: int = 100,
    nprobe: int | None = None,
    m: int = 8,
    codebook_size: int = 64,
    overfetch: int = 4,
    score_decimals: int = 6,
    max_cell_rows: int = 1_000_000,
) -> DataFrame:
    """IVF-PQ tier of the distributed k-NN JOIN — the shape that actually
    fits a 100-TB corpus: the corpus rows shuffled into the cell cogroup
    carry m-byte PQ codes instead of dim×4-byte float vectors (m=8 on
    dim=64 floats = a 32× shuffle-width cut; production dims cut 100×+),
    ADC (asymmetric distance computation, Jégou et al. 2011, the layout
    faiss IndexIVFPQ wraps — /root/reference/local_db.py:49-52) shortlists
    candidates per probed cell from one (m × codebook_size) lookup table
    per query, and only the tiny shortlist ever touches full-precision
    vectors again in an exact rerank.

    Plan, stage by stage:
    1. coarse quantizer + residual codebooks train on bounded samples
       (ann.build_ivf / pq.build_ivfpq — O(1) in corpus size); ONE
       distributed encode pass writes (id, codes, cell).
    2. queries expand to their nprobe nearest cells (Arrow-batched
       mapInPandas over the tiny centroid matrix — same probe as
       knn_join_ivf).
    3. cogroup codes×queries BY CELL: the kernel builds each query's
       per-cell residual LUT (codebooks vs q − centroid[cell]) and takes
       the per-cell ADC top-(k·overfetch) shortlist — (query_id, id)
       pairs only, no vectors in the output.
    4. exact rerank: the shortlist (≤ nprobe·k·overfetch rows per query)
       joins back to full vectors on id and to the query block on
       query_id (both plain shuffle joins of shortlist-sized relations;
       AQE broadcasts when one side is small), then a per-query grouped
       kernel recomputes the EXACT (A − q)² law with the same rounding
       and (score desc, id asc) tie law as `_tile_topk_frame` — so every
       returned score is bit-identical to what the exact join would
       return for that pair, and misses are pure shortlist effects.

    Exactness envelope (pytest-pinned): with nprobe = nlist and
    k·overfetch ≥ the largest cell, the shortlist is the whole corpus and
    the result is bit-for-bit `knn_join`. Gated for registration by
    q_knn_join_ivfpq_recall (the knn_join_ivf_recall pattern)."""
    import numpy as np
    import pandas as pd

    from homemade_vector_db_spark.operators.ann import build_ivf
    from homemade_vector_db_spark.operators.pq import build_ivfpq

    idx = build_ivf(df, id_col=id_col, vec_col=vec_col, nlist=nlist, cache=False)
    npro = max(1, idx.nlist // 10) if nprobe is None else max(1, min(nprobe, idx.nlist))
    ivfpq = build_ivfpq(
        idx, m=m, codebook_size=codebook_size, cache=False
    )
    cents = np.asarray(idx.centroids, dtype=np.float64)
    # (m, codebook_size, dim/m) — small enough to ship in the closure
    cbooks = np.asarray(ivfpq.codebooks, dtype=np.float64)
    sub = cbooks.shape[2]
    pool = k * max(1, overfetch)
    q_cells = _probe_cells(queries, cents, npro, query_id_col, qvec_col)
    c_codes = ivfpq.codes.select(
        F.col(id_col).alias("__cid"),
        F.col("codes").alias("__codes"),
        F.col("cluster").cast("int").alias("__cell"),
    )

    def cell_shortlist(key, cdf: pd.DataFrame, qdf: pd.DataFrame):
        empty = pd.DataFrame(
            {
                "__qid": np.array([], dtype=np.int64),
                "__cid": np.array([], dtype=np.int64),
            }
        )
        if len(cdf) == 0 or len(qdf) == 0:
            return empty
        cell = int(key[0])
        ids = cdf["__cid"].to_numpy(dtype=np.int64)
        C = np.stack(cdf["__codes"].to_numpy()).astype(np.int64)  # (B, m)
        take = min(pool, len(ids))
        sub_idx = np.arange(m)[None, :]
        qids = qdf["__qid"].to_numpy(dtype=np.int64)
        Qm = np.stack(qdf["__qvec"].to_numpy()).astype(np.float64)
        out_q, out_i = [], []
        for j in range(len(qids)):
            resid = (Qm[j] - cents[cell]).reshape(m, sub)
            # LUT[s, c] = ||codebooks[s, c] − resid[s]||²
            lut = ((cbooks - resid[:, None, :]) ** 2).sum(axis=2)
            d = lut[sub_idx, C].sum(axis=1)
            order = np.lexsort((ids, d))[:take]
            out_q.append(np.full(take, qids[j]))
            out_i.append(ids[order])
        return pd.DataFrame(
            {
                "__qid": np.concatenate(out_q),
                "__cid": np.concatenate(out_i),
            }
        )

    # hot-cell sub-sharding (the knn_join_ivf skew law; cap is higher
    # here because a tile row is m bytes, not dim×4). The ADC shortlist
    # becomes per-SUB-shard, so splitting can only WIDEN the rerank pool
    # (a superset of candidates — recall never drops), and the exact
    # rerank keeps returned scores bit-identical either way.
    c_codes, q_cells, keys = _split_hot_cells(c_codes, q_cells, max_cell_rows)

    shortlist = (
        c_codes.groupBy(*keys)
        .cogroup(q_cells.groupBy(*keys))
        .applyInPandas(cell_shortlist, "__qid long, __cid long")
    )
    # rerank pool: shortlist-sized joins back to full precision
    pool_df = (
        shortlist.join(
            df.select(
                F.col(id_col).alias("__cid"), F.col(vec_col).alias("__cvec")
            ),
            "__cid",
        ).join(
            queries.select(
                F.col(query_id_col).alias("__qid"),
                F.col(qvec_col).alias("__qvec"),
            ),
            "__qid",
        )
    )

    def rerank(pdf: pd.DataFrame) -> pd.DataFrame:
        qdf = pdf.iloc[:1][["__qid", "__qvec"]]
        return _tile_topk_frame(
            pdf[["__cid", "__cvec"]], qdf, k, score_decimals, query_id_col, id_col
        )

    from pyspark.sql.window import Window

    out = pool_df.groupBy("__qid").applyInPandas(
        rerank, f"{query_id_col} long, {id_col} long, score double"
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("score"), F.asc(id_col))
    return (
        out.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .orderBy(query_id_col, "rn")
    )


def tune_nprobe(
    df: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    qvec_col: str = "qv",
    k: int = 5,
    nlist: int = 100,
    target_recall: float = 0.9,
    score_decimals: int = 6,
) -> tuple[int, float]:
    """Recall-targeted nprobe auto-tuning (the faiss AutoTune /
    vector-DB ef-search-tuner shape): walk a doubling ladder
    nprobe ∈ {1, 2, 4, …, nlist} and return the SMALLEST probe width
    whose aggregate top-k recall over a bounded sample query block
    clears `target_recall`, plus the achieved recall. Recall is weakly
    monotone in nprobe (more probed cells ⇒ candidate superset ⇒ a true
    top-k member can only be displaced by another true top-k member —
    pytest pins the ladder law), so first-hit IS the minimum.

    Cost shape: one exact reference join (knn_join), ONE quantizer fit
    shared by every rung (cached assignments), and at most
    ceil(log2 nlist)+1 IVF joins, each a bounded distributed job; driver
    state is one (hits, total) pair per rung. The tuned value is what a
    serving deployment pins next to its index (the ef_search→nprobe
    mapping the db facade exposes)."""
    if not 0.0 <= target_recall <= 1.0:
        raise ValueError(f"target_recall must be in [0, 1], got {target_recall}")
    exact = knn_join(
        df, queries, id_col=id_col, vec_col=vec_col,
        query_id_col=query_id_col, qvec_col=qvec_col, k=k,
        score_decimals=score_decimals,
    ).select(query_id_col, id_col)
    from homemade_vector_db_spark.session import track_persist

    exact = track_persist(exact)
    total = exact.count()
    if total == 0:
        raise ValueError("exact reference join returned no rows")
    from homemade_vector_db_spark.operators.ann import build_ivf

    idx = build_ivf(df, id_col=id_col, vec_col=vec_col, nlist=nlist, cache=False)
    # one materialization shared by every rung, released with the
    # session's other transients (never a leaked bare .cache())
    idx.assignments = track_persist(idx.assignments)
    ladder, npro = [], 1
    while npro < idx.nlist:
        ladder.append(npro)
        npro *= 2
    ladder.append(idx.nlist)
    achieved = 0.0
    for npro in ladder:
        approx = knn_join_ivf(
            df, queries, id_col=id_col, vec_col=vec_col,
            query_id_col=query_id_col, qvec_col=qvec_col, k=k,
            nlist=nlist, nprobe=npro, score_decimals=score_decimals,
            ivf_index=idx,
        ).select(query_id_col, id_col)
        hits = approx.join(exact, [query_id_col, id_col]).count()
        achieved = hits / total
        if achieved >= target_recall:
            return npro, achieved
    return ladder[-1], achieved


def knn_join_auto(
    df: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    qvec_col: str = "qv",
    k: int = 5,
    exact_threshold: int = 10_000,
    pq_threshold: int = 1_000_000,
    score_decimals: int = 6,
    nlist: int = 100,
    nprobe: int | None = None,
    m: int = 8,
    codebook_size: int = 64,
    overfetch: int = 8,
    **join_kwargs,
) -> DataFrame:
    """Tiered kNN-join dispatch — the entry a user should call (same
    count-probe pattern as nndescent.knn_graph_auto), three tiers by
    corpus size: below `exact_threshold` rows the exact block-matrix
    join wins (one corpus pass; the IVF tier pays quantizer training +
    an extra probe expansion for cells that would mostly all be probed
    anyway) and stays hash-checkable against the relational oracle;
    between the thresholds each query scans only its nprobe nearest
    cells at full precision (knn_join_ivf, gated by
    q_knn_join_ivf_recall); above `pq_threshold` the full vectors are
    too wide to shuffle into the cells at all, so corpus rows travel as
    m-byte PQ codes with an exact rerank of the ADC shortlist
    (knn_join_ivfpq, gated by q_knn_join_ivfpq_recall). The count probe
    is one O(1)-output job against the corpus scan."""
    n = df.count()
    if n <= exact_threshold:
        return knn_join(
            df,
            queries,
            id_col=id_col,
            vec_col=vec_col,
            query_id_col=query_id_col,
            qvec_col=qvec_col,
            k=k,
            score_decimals=score_decimals,
            **join_kwargs,
        )
    if n <= pq_threshold:
        return knn_join_ivf(
            df,
            queries,
            id_col=id_col,
            vec_col=vec_col,
            query_id_col=query_id_col,
            qvec_col=qvec_col,
            k=k,
            nlist=nlist,
            nprobe=nprobe,
            score_decimals=score_decimals,
        )
    return knn_join_ivfpq(
        df,
        queries,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
        qvec_col=qvec_col,
        k=k,
        nlist=nlist,
        nprobe=nprobe,
        m=m,
        codebook_size=codebook_size,
        overfetch=overfetch,
        score_decimals=score_decimals,
    )


def mmr_rerank(
    df: DataFrame,
    query: Sequence[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    candidates: int = 20,
    lam: float = 0.5,
    score_decimals: int = 6,
) -> "list[tuple[int, float]]":
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998):
    greedily pick argmax over remaining candidates of
        lam * sim(q, d)  -  (1 - lam) * max_{s in selected} sim(d, s)
    using cosine similarity, seeded with the most query-similar candidate.

    Scale shape: the DISTRIBUTED part is candidate generation — exact
    cosine top-`candidates` via knn_exact (one scan, TakeOrderedAndProject,
    no shuffle). The greedy loop is inherently sequential in k and runs on
    the driver over the tiny candidate block (candidates × dim floats) —
    the same bounded-collect strategy as knn_batch's query block and the
    PQ training sample. Never call it with `candidates` at corpus scale.

    Determinism: similarities are rounded to `score_decimals` before any
    comparison; argmax ties break on lowest candidate id (np.argmax
    first-maximum on an id-ascending array). Returns [(id, mmr_score)]
    in selection order.

    (reference has no reranker; this extends its retrieval surface the
    way hybrid_search extends BM25 — a fusion step over scored results,
    local_db.py:323-401.)
    """
    import numpy as np

    topc = knn_exact(
        df, query, id_col=id_col, vec_col=vec_col, k=candidates,
        metric="cosine", score_decimals=score_decimals,
    )
    # candidate block: ≤ `candidates` rows by construction
    rows = (
        df.join(topc.select(id_col), id_col, "left_semi")
        .select(id_col, vec_col)
        .orderBy(id_col)
        .collect()
    )
    ids = np.array([r[id_col] for r in rows], dtype=np.int64)
    X = np.stack([np.asarray(r[vec_col], dtype=np.float64) for r in rows])
    q = np.asarray(list(query), dtype=np.float64)
    nX = np.linalg.norm(X, axis=1)
    nq = np.linalg.norm(q)
    qsim = np.round(np.where((nX > 0) & (nq > 0), X @ q / (nX * nq), 0.0),
                    score_decimals)
    S = X @ X.T / np.outer(nX, nX)
    S = np.round(np.where(np.outer(nX > 0, nX > 0), S, 0.0), score_decimals)
    selected: list[int] = []
    out: list[tuple[int, float]] = []
    remaining = np.ones(len(ids), dtype=bool)
    for _ in range(min(k, len(ids))):
        if selected:
            redundancy = S[:, selected].max(axis=1)
        else:
            redundancy = np.zeros(len(ids))
        mmr = np.round(lam * qsim - (1.0 - lam) * redundancy, score_decimals)
        mmr_masked = np.where(remaining, mmr, -np.inf)
        pick = int(np.argmax(mmr_masked))
        selected.append(pick)
        remaining[pick] = False
        out.append((int(ids[pick]), float(mmr_masked[pick])))
    return out


def radius_search(
    df: DataFrame,
    query: Sequence[float],
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_decimals: int | None = 6,
    dim: int | None = None,
) -> DataFrame:
    """All vectors with similarity ≥ threshold — FAISS `range_search`
    parity (the one query mode of the reference's flat tier it never
    exposes, local_db.py:137-200 is k-NN only). Same squared-L2
    similarity transform as knn_exact (1/(1+d²)), same literal-query
    constant folding; the predicate is a scan-side codegen filter, so the
    plan is scan → project → filter → sort with no join and no shuffle
    before the (small, radius-bounded) result sort."""
    q = [float(x) for x in query]
    if dim is None:
        dim = len(q)
    score = l2_to_similarity(squared_l2_lit(vec_col, q))
    if score_decimals is not None:
        score = F.round(score, score_decimals)
    return (
        df.withColumn("score", score)
        .where(F.col("score") >= float(threshold))
        .orderBy(F.desc("score"), F.asc(id_col))
        .select(F.col(id_col), F.col("score"))
    )


def maxsim_search(
    df: DataFrame,
    query: Sequence[float],
    k: int = 10,
    parts: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_decimals: int | None = 6,
    dim: int | None = None,
) -> DataFrame:
    """Late-interaction (ColBERT-style MaxSim, Khattab & Zaharia 2020)
    retrieval: both query and document carry `parts` sub-vectors and
    score = Σ_p max_d dot(q_p, doc_d). Here the sub-vectors are
    equal-width slices of the stored embedding — a deterministic stand-in
    for per-token embeddings (no embedding model ships in this
    container); the operator shape is the real deliverable.

    For a FIXED small part count the whole score is one codegen scalar
    expression (parts² literal-query dot products + greatest() per query
    part): scan → project → TakeOrderedAndProject, zero shuffles, no
    explode. With variable-length token vectors the same semantics
    decompose as posexplode → per-(doc, query-part) max → groupBy(doc)
    sum — one shuffle on doc_id; use that form when parts is data-driven.
    """
    q = [float(x) for x in query]
    if dim is None:
        dim = len(q)
    if dim % parts != 0:
        raise ValueError(f"dim {dim} not divisible by parts {parts}")
    w = dim // parts

    # One parsed SQL string (see functions/vector.py literal-kernel note):
    # parts² sub-vector dot products + greatest() per query part.
    from homemade_vector_db_spark.functions.vector import _elem_d, _lit_d

    def dot_sql(p_off: int, d_off: int) -> str:
        return " + ".join(
            f"{_elem_d(vec_col, d_off + i + 1)} * {_lit_d(q[p_off + i])}"
            for i in range(w)
        )

    per_part = [
        "greatest("
        + ", ".join(f"({dot_sql(p * w, d * w)})" for d in range(parts))
        + ")"
        for p in range(parts)
    ]
    score = F.expr(" + ".join(per_part))
    if score_decimals is not None:
        score = F.round(score, score_decimals)
    return (
        df.select(F.col(id_col), score.alias("score"))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def hard_negatives(
    df: DataFrame,
    anchors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    anchor_id_col: str = "anchor_id",
    k: int = 3,
    score_decimals: int = 6,
    max_anchor_rows: int = 10_000,
    same_label: bool = False,
) -> DataFrame:
    """Hard-negative mining for contrastive training data: for each
    anchor vector, the k most-cosine-similar corpus rows whose label
    DIFFERS from the anchor's — the negatives a contrastive loss
    learns most from (the trivially-dissimilar ones contribute ~zero
    gradient). Returns (anchor_id, rn, vec_id, neg_label, score) with
    rn = 1..k per anchor, ordered by (anchor_id, rn).

    Scale shape = knn_batch's: the anchor block (bounded, broadcast
    state by definition) ships as a numpy matrix inside a mapInPandas
    kernel; each corpus partition computes its cosine block with BLAS,
    masks same-label candidates, and emits only its LOCAL top-k per
    anchor. The shuffle carries anchors × partitions × k candidate
    rows — never the anchors × N scored relation. Label masking
    happens INSIDE the kernel, so a 99%-same-label corpus (the skew
    case: mining negatives within one dominant domain) never inflates
    the shuffle.

    Determinism: scores round to `score_decimals` BEFORE local
    selection; local and final selection both order by
    (score desc, id asc) — the knn tie rule (SURVEY.md §2.3-5).
    Zero-norm vectors score 0.0, same contract as the cosine metric in
    knn_exact. Anchors themselves can never appear (their own label is
    excluded by construction). No reference analogue — extends O4
    (local_db.py:137-200) toward training-pair generation.

    same_label=True flips the mask to mine hard POSITIVES instead:
    the k most-similar SAME-label rows, excluding the anchor row
    itself (id == anchor_id) — the other half of a triplet. The
    output column is still named neg_label (it is the candidate's
    label either way); alias downstream."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.window import Window

    arows = (
        anchors.select(anchor_id_col, label_col, vec_col)
        .limit(max_anchor_rows + 1)
        .collect()
    )
    if len(arows) > max_anchor_rows:
        raise ValueError(
            f"anchor block exceeds max_anchor_rows={max_anchor_rows}; "
            "chunk the anchor relation (results are per-anchor, so "
            "chunked runs concatenate identically)"
        )
    if not arows:
        raise ValueError("empty anchor block")
    aids = np.array([r[anchor_id_col] for r in arows], dtype=np.int64)
    alabels = np.array([r[label_col] for r in arows], dtype=np.int64)
    amat = np.stack(
        [np.asarray(r[vec_col], dtype=np.float64) for r in arows]
    )
    anorm = np.sqrt((amat * amat).sum(axis=1))

    out_schema = (
        f"{anchor_id_col} long, {id_col} long, neg_label long, "
        "score double"
    )

    def local_topk(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            A = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            ids = pdf[id_col].to_numpy()
            labels = pdf[label_col].to_numpy()
            nrm = np.sqrt((A * A).sum(axis=1))  # B
            denom = nrm[:, None] * anorm[None, :]  # B×Q
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = np.where(denom > 0, (A @ amat.T) / denom, 0.0)
            scores = np.round(cos, score_decimals)
            # mask non-candidates to -inf so they can never enter the
            # local top-k: same-label rows for negatives; different-label
            # rows plus the anchor row itself for positives
            if same_label:
                mask = (labels[:, None] != alabels[None, :]) | (
                    ids[:, None] == aids[None, :]
                )
            else:
                mask = labels[:, None] == alabels[None, :]
            scores = np.where(mask, -np.inf, scores)
            for j in range(len(aids)):
                sj = scores[:, j]
                ok = np.isfinite(sj)
                if not ok.any():
                    continue
                idx = np.flatnonzero(ok)
                kk = min(k, len(idx))
                order = idx[np.lexsort((ids[idx], -sj[idx]))[:kk]]
                yield pd.DataFrame(
                    {
                        anchor_id_col: np.full(kk, aids[j]),
                        id_col: ids[order],
                        "neg_label": labels[order],
                        "score": sj[order],
                    }
                )

    cand = df.select(id_col, vec_col, label_col).mapInPandas(
        local_topk, out_schema
    )
    w = Window.partitionBy(anchor_id_col).orderBy(
        F.desc("score"), F.asc(id_col)
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select(anchor_id_col, "rn", id_col, "neg_label", "score")
        .orderBy(anchor_id_col, "rn")
    )
