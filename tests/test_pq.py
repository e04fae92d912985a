"""PQ tier: compression contract + ADC recall vs exact (reference ANN
stance: approximate indexes are recall-tested, not hash-tested)."""

import pytest
from pyspark.sql import functions as F

from homemade_vector_db_spark.operators import pq, tier
from homemade_vector_db_spark.operators.knn import knn_exact
from homemade_vector_db_spark.sources.tables import load_embeddings
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def embs(spark):
    return load_embeddings(spark, SF_SMOKE).cache()


@pytest.fixture(scope="module")
def qvec(embs):
    return list(embs.where(F.col("vec_id") == 3).first().embedding)


@pytest.fixture(scope="module")
def index(embs):
    # 500 vectors → codebook_size clamps to 250
    return pq.build_pq(embs, m=8, codebook_size=256, dim=64)


def test_codes_shape_and_range(spark, embs, index):
    rows = index.codes.collect()
    assert len(rows) == embs.count()
    ks = [len(cb) for cb in index.codebooks]
    for r in rows:
        assert len(r.codes) == 8
        assert all(0 <= c < ks[i] for i, c in enumerate(r.codes))


def test_adc_recall_and_rerank(spark, embs, index, qvec):
    exact = [r.vec_id for r in knn_exact(embs, qvec, k=10).collect()]
    adc = [r.vec_id for r in pq.pq_search(index, qvec, k=10).collect()]
    assert len(adc) == 10
    adc_recall = len(set(adc) & set(exact)) / 10
    assert adc_recall >= 0.5  # compressed-domain recall

    shortlist = pq.pq_search(index, qvec, k=40, score_decimals=None)
    rr = [r.vec_id for r in tier.rerank(shortlist, embs, qvec, 10).collect()]
    rr_recall = len(set(rr) & set(exact)) / 10
    assert rr_recall >= adc_recall  # rerank can only improve
    assert rr_recall >= 0.8


def test_tiny_corpus_codebook_shrink(spark, embs, qvec):
    tiny = embs.limit(4)
    idx = pq.build_pq(tiny, m=8, codebook_size=256, dim=64)
    assert all(len(cb) <= 2 for cb in idx.codebooks)  # clamped to n//2
    got = pq.pq_search(idx, qvec, k=10).collect()
    assert len(got) == 4  # min(k, n), no padding (divergence D3)


def test_dim_not_divisible_raises(spark, embs):
    with pytest.raises(ValueError):
        pq.build_pq(embs, m=7, dim=64)


def test_pq_save_load_roundtrip(spark, embs, index, qvec, tmp_path):
    want = [(r.vec_id, r.score) for r in pq.pq_search(index, qvec, k=5).collect()]
    path = str(tmp_path / "pq_idx")
    tier.save_index(index, path)
    loaded = tier.load_index(spark, path)
    assert loaded.m == index.m and loaded.dim == index.dim
    got = [(r.vec_id, r.score) for r in pq.pq_search(loaded, qvec, k=5).collect()]
    assert got == want  # ADC is deterministic given codes + codebooks


def test_ivfpq_residual_recall_and_rerank(spark):
    """Residual-encoded IVF-PQ (canonical FAISS layout): ADC over probed
    cells finds the neighborhood, rerank equals exact on the pool; the
    residual shortlist must contain at least as much of the exact top-k
    as the raw-encoded per-cell variant at the same budget."""
    from pyspark.sql import functions as F

    from homemade_vector_db_spark.operators import ann, pq
    from homemade_vector_db_spark.operators.knn import knn_exact
    from homemade_vector_db_spark.sources.tables import load_embeddings
    from tests.conftest import SF_SMOKE

    embs = load_embeddings(spark, SF_SMOKE).cache()
    q = list(embs.where(F.col("vec_id") == 0).first().embedding)
    ivf = ann.build_ivf(embs, nlist=16, cache=False)
    idx = pq.build_ivfpq(ivf, m=8, codebook_size=64, dim=64)

    got = [r.vec_id for r in pq.ivfpq_search(idx, q, k=10, nprobe=4).collect()]
    assert len(got) == 10
    exact = [r.vec_id for r in knn_exact(embs, q, k=10, dim=64).collect()]
    # rough quality floor for the pure-ADC path at the tiny smoke scale
    # (near-random embeddings: residuals buy little variance reduction,
    # the floor reflects nprobe cell coverage more than code distortion)
    assert len(set(got) & set(exact)) / 10 >= 0.2

    # rerank: exact arithmetic on the shortlist only
    shortlist = pq.ivfpq_search(idx, q, k=40, nprobe=4, score_decimals=None)
    rr = [
        (r.vec_id, r.score)
        for r in tier.rerank(shortlist, embs, q, 10).collect()
    ]
    pool = {
        r.vec_id
        for r in pq.ivfpq_search(idx, q, k=40, nprobe=4, score_decimals=None).collect()
    }
    want = [
        (r.vec_id, r.score)
        for r in knn_exact(
            embs.join(
                spark.createDataFrame([(v,) for v in pool], "vec_id LONG"),
                "vec_id",
            ),
            q,
            k=10,
            dim=64,
        ).collect()
    ]
    assert rr == want


def test_ivfpq_save_load_roundtrip(spark, embs, qvec, tmp_path):
    # partitionBy('cluster') layout + JSON geometry: searches over the
    # loaded index reproduce the in-memory index exactly
    from homemade_vector_db_spark.operators import ann, pq

    ivf = ann.build_ivf(embs, nlist=8, cache=False)
    idx = pq.build_ivfpq(ivf, m=8, codebook_size=16, dim=64, cache=False)
    want = [
        (r.vec_id, r.score)
        for r in pq.ivfpq_search(idx, qvec, k=5, nprobe=3).collect()
    ]
    path = str(tmp_path / "ivfpq_idx")
    tier.save_index(idx, path)
    loaded = tier.load_index(spark, path)
    assert loaded.m == idx.m and loaded.dim == idx.dim
    assert loaded.centroids == idx.centroids
    got = [
        (r.vec_id, r.score)
        for r in pq.ivfpq_search(loaded, qvec, k=5, nprobe=3).collect()
    ]
    assert got == want
