"""SQ8 scalar-quantization tier: recall vs the exact operator — same
stance as PQ/ANN (reference test_local_db.py:155-157)."""

import pytest
from pyspark.sql import functions as F

from homemade_vector_db_spark.operators import sq, tier
from homemade_vector_db_spark.operators.knn import knn_exact
from homemade_vector_db_spark.sources.tables import load_embeddings
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def embs(spark):
    return load_embeddings(spark, SF_SMOKE).cache()


@pytest.fixture(scope="module")
def qvec(embs):
    return list(embs.where(F.col("vec_id") == 0).first().embedding)


def test_sq_adc_recall(spark, embs, qvec):
    idx = sq.build_sq(embs, dim=64)
    got = [r.vec_id for r in sq.sq_search(idx, qvec, k=10).collect()]
    exact = [r.vec_id for r in knn_exact(embs, qvec, k=10, dim=64).collect()]
    assert len(got) == 10
    # 8 bits/dim over the true range: distortion is tiny, recall high
    assert len(set(got) & set(exact)) / 10 >= 0.8


def test_sq_rerank_equals_exact_on_contained_pool(spark, embs, qvec):
    """With the exact top-k inside the ADC pool (holds at 8-bit
    distortion), the reranked result equals the exact result."""
    idx = sq.build_sq(embs, dim=64)
    pool = {r.vec_id for r in sq.sq_search(idx, qvec, k=100).collect()}
    exact = [
        (r.vec_id, r.score) for r in knn_exact(embs, qvec, k=10, dim=64).collect()
    ]
    assert {v for v, _ in exact} <= pool
    got = [
        (r.vec_id, r.score)
        for r in tier.rerank(
            sq.sq_search(idx, qvec, k=100, score_decimals=None), embs, qvec, 10
        ).collect()
    ]
    assert got == exact


def test_sq_codes_in_range(spark, embs):
    idx = sq.build_sq(embs, dim=64)
    mm = idx.codes.select(
        F.min(F.array_min("codes")).alias("lo"),
        F.max(F.array_max("codes")).alias("hi"),
    ).first()
    assert 0 <= mm.lo and mm.hi <= sq.LEVELS


def test_sq_guards(spark, embs):
    idx = sq.build_sq(embs, dim=64)
    with pytest.raises(ValueError, match="dim"):
        sq.sq_search(idx, [0.0] * 3)
    empty = embs.where("vec_id < 0")
    with pytest.raises(ValueError, match="empty"):
        sq.build_sq(empty)


def test_sq_constant_dimension(spark):
    """A zero-width dimension (max == min) must encode without a
    divide-by-zero and decode back to the constant."""
    df = spark.createDataFrame(
        [(0, [1.0, 5.0]), (1, [2.0, 5.0]), (2, [3.0, 5.0])],
        "vec_id LONG, embedding ARRAY<FLOAT>",
    )
    idx = sq.build_sq(df, dim=2)
    assert idx.scales[1] == 1.0
    got = [r.vec_id for r in sq.sq_search(idx, [2.0, 5.0], k=1).collect()]
    assert got == [1]


def test_sq_save_load_roundtrip(spark, embs, qvec, tmp_path):
    idx = sq.build_sq(embs, dim=64)
    want = [(r.vec_id, r.score) for r in sq.sq_search(idx, qvec, k=10).collect()]
    tier.save_index(idx, str(tmp_path / "sqidx"))
    idx2 = tier.load_index(spark, str(tmp_path / "sqidx"))
    assert idx2.mins == idx.mins and idx2.scales == idx.scales
    got = [(r.vec_id, r.score) for r in sq.sq_search(idx2, qvec, k=10).collect()]
    assert got == want


def test_sq_add_after_train(spark, embs, qvec):
    """sq_add encodes new rows with the FROZEN [min,max] geometry; the
    grown index contains every row once and rerank still finds the
    exact self-match."""
    half = embs.where(F.col("vec_id") < 250)
    rest = embs.where(F.col("vec_id") >= 250)
    idx = sq.build_sq(half, dim=64, cache=False)
    grown = sq.sq_add(idx, rest)
    assert grown.mins == idx.mins and grown.scales == idx.scales
    assert grown.codes.count() == embs.count()
    shortlist = sq.sq_search(grown, qvec, k=100, score_decimals=None)
    top = tier.rerank(shortlist, embs, qvec, 1).collect()[0]
    assert top.vec_id == 0 and top.score == 1.0
