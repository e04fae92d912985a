"""Binary (sign-bit) quantization tier: pack correctness vs a numpy
model, Hamming equivalence to the unpacked sign-disagreement count,
rerank recall vs the exact operator, determinism under repartitioning
(midrange thresholds are order-independent — the property the
hash-checked bq_topk oracle depends on), and save/load round-trip."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from homemade_vector_db_spark.operators import bq, tier
from homemade_vector_db_spark.operators.knn import knn_exact
from homemade_vector_db_spark.sources.tables import load_embeddings
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def embs(spark):
    return load_embeddings(spark, SF_SMOKE).cache()


@pytest.fixture(scope="module")
def qvec(embs):
    return list(embs.where(F.col("vec_id") == 0).first().embedding)


@pytest.fixture(scope="module")
def idx(embs):
    return bq.build_bq(embs, dim=64)


def _numpy_model(embs, thresholds):
    """(ids, bit matrix) from the raw vectors — the unpacked truth."""
    rows = embs.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    return ids, mat > np.asarray(thresholds)[None, :]


def test_thresholds_are_midrange(embs, idx):
    mat = np.array(
        [r.embedding for r in embs.select("embedding").collect()],
        dtype=np.float64,
    )
    expect = (mat.min(axis=0) + mat.max(axis=0)) / 2.0
    assert np.allclose(idx.thresholds, expect, rtol=0, atol=0)


def test_packed_bits_match_numpy(embs, idx):
    ids, bits = _numpy_model(embs, idx.thresholds)
    by_id = {int(i): b for i, b in zip(ids, bits)}
    for r in idx.codes.collect():
        want = 0
        for j, bset in enumerate(by_id[r.vec_id]):
            if bset:
                want |= 1 << j
        if want >= 1 << 63:
            want -= 1 << 64
        assert r.words == [want], f"vec {r.vec_id} packed wrong"


def test_hamming_equals_sign_disagreement(embs, idx, qvec):
    ids, bits = _numpy_model(embs, idx.thresholds)
    qbits = np.asarray(qvec, dtype=np.float64) > np.asarray(idx.thresholds)
    truth = {int(i): int((b != qbits).sum()) for i, b in zip(ids, bits)}
    got = bq.bq_search(idx, qvec, k=len(truth)).collect()
    assert len(got) == len(truth)
    for r in got:
        assert truth[r.vec_id] == r.hamming


def test_rerank_recall(embs, idx, qvec):
    approx = [
        r.vec_id
        for r in tier.rerank(bq.bq_search(idx, qvec, k=100), embs, qvec, 10)
        .collect()
    ]
    exact = [r.vec_id for r in knn_exact(embs, qvec, k=10, dim=64).collect()]
    assert len(set(approx) & set(exact)) / 10 >= 0.5


def test_build_invariant_under_repartition(embs, qvec, idx):
    """min/max thresholds and the packed bits are exact float comparisons
    — shuffling the input must not change a single code word (the
    reproducibility contract the external oracle relies on)."""
    idx2 = bq.build_bq(embs.repartition(7), dim=64, cache=False)
    assert idx2.thresholds == idx.thresholds
    a = {r.vec_id: r.words for r in idx.codes.collect()}
    b = {r.vec_id: r.words for r in idx2.codes.collect()}
    assert a == b


def test_save_load_roundtrip(tmp_path, spark, embs, idx, qvec):
    tier.save_index(idx, str(tmp_path))
    loaded = tier.load_index(spark, str(tmp_path))
    want = [(r.vec_id, r.hamming) for r in bq.bq_search(idx, qvec, k=10).collect()]
    got = [(r.vec_id, r.hamming) for r in bq.bq_search(loaded, qvec, k=10).collect()]
    assert want == got


def test_ivfbq_probe_recall_and_probe_containment(spark, embs, qvec):
    """IVF-BQ two-level pipeline: results come only from probed cells,
    and with a wide probe + contained pool the pipeline recovers the
    exact top-k restricted to those cells."""
    from homemade_vector_db_spark.operators import ann
    from homemade_vector_db_spark.operators.knn import knn_exact

    ivf = ann.build_ivf(embs, nlist=4)
    idx = bq.build_ivfbq(ivf, dim=64)
    n = embs.count()
    got = tier.rerank(
        bq.ivfbq_search(idx, qvec, k=n, nprobe=4), embs, qvec, 10
    ).collect()
    # probing ALL cells + pool >= n means exact equality with flat knn
    exact = knn_exact(embs, qvec, k=10, dim=64).collect()
    assert [(r.vec_id, r.score) for r in got] == [
        (r.vec_id, r.score) for r in exact
    ]
    # narrow probe: every result id must come from the probed cells
    import numpy as np

    cents = np.asarray(idx.centroids, dtype="float64")
    d2 = ((cents - np.asarray(qvec)) ** 2).sum(axis=1)
    probe = set(np.argsort(d2, kind="stable")[:1].tolist())
    narrow = tier.rerank(
        bq.ivfbq_search(idx, qvec, k=50, nprobe=1), embs, qvec, 10
    ).collect()
    cells = {
        r.vec_id: r.cluster
        for r in ivf.assignments.select("vec_id", "cluster").collect()
    }
    assert all(cells[r.vec_id] in probe for r in narrow)


def test_bq_add_after_train(spark, embs, qvec):
    """bq_add encodes new rows with the FROZEN thresholds: the grown
    index equals a pack of the union under the ORIGINAL geometry, and a
    planted duplicate of the query becomes the Hamming-0 co-winner."""
    half = embs.where(F.col("vec_id") < 250)
    rest = embs.where(F.col("vec_id") >= 250)
    idx = bq.build_bq(half, dim=64, cache=False)
    grown = bq.bq_add(idx, rest)
    assert grown.thresholds == idx.thresholds  # frozen geometry
    # every original + added row present exactly once
    got = {r.vec_id: r.words for r in grown.codes.collect()}
    assert len(got) == embs.count()
    # added rows encode identically to a fresh pack under old thresholds
    repack = {
        r.vec_id: r.words
        for r in rest.select(
            "vec_id",
            bq.pack_bits_expr("embedding", idx.thresholds, 64).alias("words"),
        ).collect()
    }
    for vid, words in repack.items():
        assert got[vid] == words
    # search over the grown index still self-matches at Hamming 0
    top = bq.bq_search(grown, qvec, k=1).collect()[0]
    assert top.vec_id == 0 and top.hamming == 0
