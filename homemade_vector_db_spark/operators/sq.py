"""Scalar Quantization (SQ8) — the third compression tier beside PQ and
IVF-PQ. The reference's test suite exercises a FAISS scalar-quantizer
index as its "foreign index" case (/root/reference/test_local_db.py:185:
`faiss.IndexScalarQuantizer(dim, QT_8bit)`); this module provides the
capability as a first-class tier rather than an unrecognized file.

SQ8 maps each dimension independently onto 8 bits over the per-dimension
[min, max] range — 4× compression at float32 with far lower distortion
than PQ at the same budget when dimensions are roughly independent (PQ
wins when budget per vector must go below 1 byte/dim).

Spark-first decomposition:
- TRAIN: per-dimension min/max via ONE distributed aggregate over the
  full table (2·dim scalars — unlike KMeans there is no reason to
  sample: the pass is a cheap codegen scan, and exact bounds mean no
  out-of-range clipping surprises at query time).
- ENCODE: codes ARRAY<INT> of dim entries in [0, 255], computed by a
  fixed-dim codegen projection (element_at arithmetic, no UDF).
- QUERY (ADC): the query stays exact; with r_i = q_i − min_i the
  asymmetric distance is Σᵢ (r_i − codeᵢ·scaleᵢ)² — dim multiply-adds
  per row against literal (constant-folded) r/scale arrays, whole-stage
  codegen, no shuffle, TakeOrderedAndProject top-k.

Recall stance mirrors PQ: gate on shortlist containment vs the exact
operator (tests/test_sq.py, queries.sq_recall), not hash equality.
"""

from __future__ import annotations

from dataclasses import dataclass, replace
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from homemade_vector_db_spark.operators.tier import vector_dim

LEVELS = 255  # 8-bit code points 0..255


@dataclass
class SQIndex:
    codes: DataFrame  # original id col + `codes ARRAY<INT>`
    mins: list[float]
    scales: list[float]  # (max-min)/LEVELS per dim; 0-width dims get 1.0
    dim: int
    id_col: str
    vec_col: str


def build_sq(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    cache: bool = True,
) -> SQIndex:
    """Fit per-dimension ranges (one distributed agg) and encode."""
    dim = vector_dim(df, vec_col, dim)
    mins, maxs = dim_ranges(df, vec_col, dim)
    scales = [(mx - mn) / LEVELS or 1.0 for mn, mx in zip(mins, maxs)]

    codes = df.select(F.col(id_col), _codes_expr(vec_col, mins, scales))
    if cache:
        codes = codes.cache()
    return SQIndex(codes, mins, scales, dim, id_col, vec_col)


def dim_ranges(
    df: DataFrame, vec_col: str, dim: int
) -> tuple[list[float], list[float]]:
    """Per-dimension (mins, maxs) via one distributed agg — exact,
    order-independent float comparisons, so the geometry is the same
    under any partitioning."""
    aggs = []
    for i in range(1, dim + 1):
        e = F.element_at(F.col(vec_col), i)
        aggs.append(F.min(e).alias(f"mn{i}"))
        aggs.append(F.max(e).alias(f"mx{i}"))
    row = df.agg(*aggs).first()
    return (
        [float(row[f"mn{i}"]) for i in range(1, dim + 1)],
        [float(row[f"mx{i}"]) for i in range(1, dim + 1)],
    )


def _codes_expr(vec_col: str, mins: list[float], scales: list[float]):
    """`codes`: each dimension mapped linearly onto its trained range."""
    return F.array(*[
        F.round(
            (F.element_at(F.col(vec_col), i + 1).cast("double") - mn) / sc
        ).cast("int")
        for i, (mn, sc) in enumerate(zip(mins, scales))
    ]).alias("codes")


def sq_search(
    index: SQIndex,
    query: Sequence[float],
    k: int = 10,
    score_decimals: int | None = 6,
) -> DataFrame:
    """ADC top-k over the codes: (id, score) with score = 1/(1+d̂²),
    matching the reference's squared-L2 similarity transform. Ties break
    by ascending id (same contract as knn_exact)."""
    q = [float(x) for x in query]
    if len(q) != index.dim:
        raise ValueError(f"query dim {len(q)} != {index.dim}")
    r = [q[i] - index.mins[i] for i in range(index.dim)]
    # ONE parsed SQL string (single py4j round-trip; bit-identical to the
    # Column fold — see functions/vector.py literal-kernel note)
    from homemade_vector_db_spark.functions.vector import _lit_d

    terms = []
    for i in range(index.dim):
        d = (
            f"({_lit_d(r[i])} - CAST(element_at(codes, {i + 1}) AS DOUBLE)"
            f" * {_lit_d(index.scales[i])})"
        )
        terms.append(f"{d} * {d}")
    score = 1.0 / (1.0 + F.expr(" + ".join(terms)))
    if score_decimals is not None:
        score = F.round(score, score_decimals)
    return (
        index.codes.select(F.col(index.id_col), score.alias("score"))
        .orderBy(F.desc("score"), F.asc(index.id_col))
        .limit(k)
    )


def sq_add(index: SQIndex, new_df: DataFrame) -> SQIndex:
    """Encode NEW vectors with the EXISTING [min,max] range geometry and
    union into the codes — FAISS add-after-train semantics (no refit),
    the SQ sibling of ann.ivf_add / bq.bq_add. Out-of-range values in
    the new batch produce codes outside [0, 255] (the linear map is not
    clamped); ADC stays well-defined and exact re-encoding on the next
    full rebuild restores the tight range."""
    new_codes = new_df.select(
        F.col(index.id_col),
        _codes_expr(index.vec_col, index.mins, index.scales),
    )
    return replace(index, codes=index.codes.unionByName(new_codes))
