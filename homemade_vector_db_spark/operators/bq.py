"""Binary (sign-bit) quantization — the 1-bit compression tier beside
SQ8 (operators/sq.py) and PQ/IVF-PQ (operators/pq.py). The reference's
only quantized tier is FAISS IVF-PQ (/root/reference/local_db.py:49-52);
BQ is the modern complement every production vector store now ships
(32× compression at float32, Hamming distance in a handful of XOR+popcount
instructions) used as a cheap first-pass shortlist before exact rerank.

Spark-first decomposition:
- TRAIN: per-dimension MIDRANGE thresholds t_i = (min_i + max_i) / 2 via
  ONE distributed agg. Midrange — not the textbook mean — is deliberate:
  min/max are exact order-independent float comparisons, so the trained
  geometry is bit-identical regardless of partitioning/AQE, queries are
  reproducible run-to-run, and an external engine (the DuckDB oracle)
  derives the *same* bits from the same parquet. A mean threshold is
  fp-summation-order-dependent — fine for recall, wrong for a
  hash-checked contract. (Same determinism reasoning as SQ8's exact
  [min,max] range coding, sq.py:13-16.)
- ENCODE: dim sign bits (x_i > t_i) packed into ceil(dim/64) longs as a
  pure codegen expression — shiftleft/bitwiseOR chain per word, no UDF.
- QUERY: the query packs driver-side into word literals; Hamming =
  Σ_w bit_count(code_w XOR q_w) — whole-stage codegen, zero shuffle,
  TakeOrderedAndProject for top-k (hamming ASC, id ASC).
- RERANK: Hamming shortlist → exact full-precision k-NN (tier.rerank),
  the production BQ pipeline; quality gated by recall vs exact
  (queries.q_bq_recall), the same stance as the other approximate tiers.

At 100 TB the codes relation is 1/32 the vector bytes (64-dim float32 →
one long per row), scans stay columnar + codegen, and the only shuffle in
the whole path is the final k-row top-k merge.
"""

from __future__ import annotations

from dataclasses import dataclass, replace
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from homemade_vector_db_spark.operators.sq import dim_ranges
from homemade_vector_db_spark.operators.tier import vector_dim

WORD = 64  # bits per packed code word (LongType)


def _n_words(dim: int) -> int:
    return (dim + WORD - 1) // WORD


@dataclass
class BQIndex:
    codes: DataFrame  # original id col + `words ARRAY<BIGINT>`
    thresholds: list[float]  # per-dim midrange split points
    dim: int
    id_col: str
    vec_col: str


def pack_bits_expr(vec_col: str, thresholds: Sequence[float], dim: int):
    """ARRAY<BIGINT> of packed sign bits: bit j of word w is set iff
    vec[w*64+j] > thresholds[w*64+j]. shiftleft handles j=63 correctly
    (fills the sign bit) where a Python `1 << 63` literal would overflow
    LongType."""
    words = []
    for w in range(_n_words(dim)):
        acc = F.lit(0).cast("long")
        for j in range(WORD):
            i = w * WORD + j
            if i >= dim:
                break
            bit = F.when(
                F.element_at(F.col(vec_col), i + 1).cast("double")
                > F.lit(float(thresholds[i])),
                F.shiftleft(F.lit(1).cast("long"), j),
            ).otherwise(F.lit(0).cast("long"))
            acc = acc.bitwiseOR(bit)
        words.append(acc)
    return F.array(*words)


def pack_query(query: Sequence[float], thresholds: Sequence[float]) -> list[int]:
    """Driver-side twin of pack_bits_expr for the query vector: signed
    64-bit word values (two's complement) matching LongType."""
    dim = len(thresholds)
    words = []
    for w in range(_n_words(dim)):
        acc = 0
        for j in range(WORD):
            i = w * WORD + j
            if i >= dim:
                break
            if float(query[i]) > float(thresholds[i]):
                acc |= 1 << j
        if acc >= 1 << 63:
            acc -= 1 << 64
        words.append(acc)
    return words


def _fit_thresholds(df: DataFrame, vec_col: str, dim: int) -> list[float]:
    """Per-dimension midrange split points via one distributed agg."""
    mins, maxs = dim_ranges(df, vec_col, dim)
    return [(mn + mx) / 2.0 for mn, mx in zip(mins, maxs)]


def build_bq(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    cache: bool = True,
) -> BQIndex:
    """Fit midrange thresholds (one distributed agg) and encode."""
    dim = vector_dim(df, vec_col, dim)

    thresholds = _fit_thresholds(df, vec_col, dim)
    codes = df.select(
        F.col(id_col), pack_bits_expr(vec_col, thresholds, dim).alias("words")
    )
    if cache:
        codes = codes.cache()
    return BQIndex(codes, thresholds, dim, id_col, vec_col)


def hamming_expr(words_col: str, query_words: Sequence[int]):
    """Σ_w bit_count(words[w] XOR q_w) as a BIGINT codegen expression."""
    expr = None
    for w, qw in enumerate(query_words):
        term = F.bit_count(
            F.element_at(F.col(words_col), w + 1).bitwiseXOR(
                F.lit(int(qw)).cast("long")
            )
        )
        expr = term if expr is None else expr + term
    return expr.cast("long")


def bq_search(index: BQIndex, query: Sequence[float], k: int = 10) -> DataFrame:
    """Hamming top-k over the packed codes: (id, hamming), hamming ASC,
    id ASC ties — fully deterministic (midrange thresholds), so this is
    hash-checkable against an external oracle, unlike the other
    approximate tiers."""
    return _hamming_topk(index, index.codes, query, k)


def _hamming_topk(index, codes: DataFrame, query, k: int) -> DataFrame:
    q = [float(x) for x in query]
    if len(q) != index.dim:
        raise ValueError(f"query dim {len(q)} != {index.dim}")
    qwords = pack_query(q, index.thresholds)
    return (
        codes.select(
            F.col(index.id_col), hamming_expr("words", qwords).alias("hamming")
        )
        .orderBy(F.asc("hamming"), F.asc(index.id_col))
        .limit(k)
    )


@dataclass
class IVFBQIndex:
    """Combined coarse cells + binary codes: the two-level pruning the
    big vector stores run at scale — IVF cells prune the SCAN (probe a
    few clusters), binary codes prune the ARITHMETIC (Hamming shortlist
    before exact rerank). Codes carry the cluster id, so probing is a
    pure filter (partition-prunable when persisted cluster-partitioned
    by tier.save_index) — no join on the query path."""

    codes: DataFrame  # id + cluster INT + words ARRAY<BIGINT>
    thresholds: list[float]
    centroids: list[list[float]]  # nlist × dim (driver-side, tiny)
    dim: int
    id_col: str
    vec_col: str


def build_ivfbq(ivf_index, dim: int | None = None, cache: bool = True) -> IVFBQIndex:
    """Pack sign bits over an existing IVF index's assignments,
    retaining the cluster column. Thresholds are fit on the FULL table
    (global geometry — per-cell thresholds would make Hamming distances
    incomparable across probed cells)."""
    df = ivf_index.assignments
    dim = vector_dim(df, ivf_index.vec_col, dim)
    thresholds = _fit_thresholds(df, ivf_index.vec_col, dim)
    codes = df.select(
        F.col(ivf_index.id_col),
        F.col("cluster"),
        pack_bits_expr(ivf_index.vec_col, thresholds, dim).alias("words"),
    )
    if cache:
        codes = codes.cache()
    return IVFBQIndex(
        codes, thresholds, ivf_index.centroids, dim,
        ivf_index.id_col, ivf_index.vec_col,
    )


def ivfbq_search(
    index: IVFBQIndex,
    query: Sequence[float],
    k: int = 10,
    nprobe: int | None = None,
) -> DataFrame:
    """Hamming top-k within the nprobe nearest cells (ann.nearest_cells):
    (id, hamming). The cluster filter prunes the code scan to the probed
    cells."""
    from homemade_vector_db_spark.operators.ann import nearest_cells

    probe = nearest_cells(index.centroids, query, nprobe)
    return _hamming_topk(
        index, index.codes.where(F.col("cluster").isin(probe)), query, k
    )


def bq_add(index: BQIndex | IVFBQIndex, new_df: DataFrame):
    """Encode NEW vectors with the EXISTING trained thresholds (and, for
    IVF-BQ, the EXISTING coarse cells) and union into the codes — FAISS
    add-after-train semantics (no refit), the BQ sibling of ann.ivf_add
    for streaming ingest. The geometry is deliberately frozen:
    re-deriving midrange from the grown corpus would silently re-encode
    nothing (old codes keep old thresholds) and make Hamming distances
    incomparable across ingest generations."""
    cols = [F.col(index.id_col)]
    if isinstance(index, IVFBQIndex):
        from homemade_vector_db_spark.operators.ann import IVFIndex, ivf_assign

        new_df = ivf_assign(
            IVFIndex(None, index.centroids, index.id_col, index.vec_col),
            new_df,
        )
        cols.append(F.col("cluster"))
    new_codes = new_df.select(
        *cols,
        pack_bits_expr(index.vec_col, index.thresholds, index.dim).alias(
            "words"
        ),
    )
    return replace(index, codes=index.codes.unionByName(new_codes))
