"""OPQ (rotated PQ, Ge et al. CVPR 2013 parametric variant) laws:
rotation orthogonality, L2 invariance, balanced allocation, and
ADC-equals-PQ-on-rotated composition. Reference parity note: the
reference delegates quantization to FAISS (local_db.py:49-52); OPQ is
the compression-tier extension FAISS ships as OPQMatrix."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from homemade_vector_db_spark.operators import opq, pq, tier
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def embs(spark):
    from homemade_vector_db_spark.sources.tables import load_embeddings

    return load_embeddings(spark, SF_SMOKE).cache()


def test_balanced_allocation_laws():
    # 8 directions, 4 subspaces of 2: pairing largest with smallest
    # balances log-variance products (greedy achieves the snake order)
    variances = [256.0, 64.0, 16.0, 4.0, 2.0, 1.0, 0.5, 0.25]
    assign = opq.balanced_allocation(variances, 4)
    groups = {}
    for i, j in enumerate(assign):
        groups.setdefault(j, []).append(variances[i])
    assert all(len(v) == 2 for v in groups.values())
    prods = sorted(np.prod(v) for v in groups.values())
    # greedy balance: max/min product ratio far below the naive
    # contiguous split ([256,64]=16384 vs [0.5,0.25]=0.125 -> 131072x)
    assert prods[-1] / prods[0] <= 64
    # determinism
    assert assign == opq.balanced_allocation(variances, 4)
    with pytest.raises(ValueError):
        opq.balanced_allocation(variances, 3)  # 8 % 3 != 0


def test_opq_rotation_orthogonal_and_l2_invariant(spark, embs):
    idx = opq.build_opq(embs, m=8, codebook_size=16, dim=64)
    R = idx.rotation
    assert R.shape == (64, 64)
    assert np.allclose(R @ R.T, np.eye(64), atol=1e-9)
    # squared-L2 between two corpus vectors is invariant under R
    rows = embs.where(F.col("vec_id") < 2).orderBy("vec_id").collect()
    a = np.asarray(rows[0].embedding, dtype="float64")
    b = np.asarray(rows[1].embedding, dtype="float64")
    d0 = ((a - b) ** 2).sum()
    d1 = ((R @ (a - idx.mean) - R @ (b - idx.mean)) ** 2).sum()
    assert abs(d0 - d1) < 1e-9


def test_opq_search_equals_pq_on_rotated(spark, embs):
    """Composition contract: rotated_search(index, q) must equal running
    the plain PQ ADC kernel on the driver-rotated query over the inner
    rotated-frame index — OPQ adds exactly one gemv, nothing else."""
    idx = opq.build_opq(embs, m=8, codebook_size=16, dim=64)
    q = [float(x) for x in embs.where(F.col("vec_id") == 0).first().embedding]
    got = opq.rotated_search(idx, q, k=10).collect()
    qr = idx.rotation @ (np.asarray(q) - idx.mean)
    want = pq.pq_search(idx.inner, qr.tolist(), k=10).collect()
    assert [(r.vec_id, r.score) for r in got] == [
        (r.vec_id, r.score) for r in want
    ]
    assert len(got) == 10


def test_opq_recall_gate_green(spark):
    import homemade_vector_db_spark.queries as Q

    row = Q.q_opq_recall(spark, SF_SMOKE).collect()[0]
    assert row.k == 10 and row.full_shortlist and row.recall_ok


def test_db_opq_facade_roundtrip(spark, tmp_path):
    """'opq' as a first-class facade index_type: search parity with the
    exact flat tier on an easy margin, add-after-train encodes with the
    frozen rotation/codebooks, delete filters the rotated-frame code
    relation, and save/load round-trips the rotation geometry."""
    import random

    from homemade_vector_db_spark.db import VectorDatabase

    rng = random.Random(7)
    mk = lambda: [rng.random() for _ in range(8)]
    db = VectorDatabase(spark, dim=8, index_type="opq", pq_code_size=4)
    docs = [f"doc {i}" for i in range(120)]
    vecs = [mk() for _ in range(120)]
    db.add(docs, vecs)
    q = vecs[5]
    got = db.query_vector(q, top_k=3)
    assert got[0] == 5  # the exact duplicate survives ADC + rerank

    # add-after-train: a planted near-duplicate of q becomes findable
    db.add(["late twin"], [list(q)])
    got2 = db.query_vector(q, top_k=2)
    assert set(got2) == {5, 120}

    # delete filters the code relation without rebuilding
    db.delete([5])
    got3 = db.query_vector(q, top_k=2)
    assert 5 not in got3 and 120 in got3

    # save/load round-trips rotation + codes
    path = str(tmp_path / "opqdb")
    db.save(path)
    db2 = VectorDatabase.load(spark, path)
    assert db2.query_vector(q, top_k=2) == got3


def test_build_opq_rejects_rank_deficient_sample(spark):
    """Fewer sample rows than dim ⇒ PCA returns a rectangular basis that
    would silently break the PQ subspace slicing — build_opq must fail
    loud with the full-rank message (ADVICE r12)."""
    import numpy as np

    rng = np.random.default_rng(7)
    rows = [(i, [float(x) for x in rng.normal(size=64)]) for i in range(16)]
    tiny = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="full-rank OPQ rotation"):
        opq.build_opq(tiny, m=8, codebook_size=4, dim=64)


def test_ivfopq_add_equals_full_encode(spark, embs):
    """Add-after-train law for the IVF-OPQ stack: encoding an appended
    block with the FROZEN rotation/cells/codebooks equals a full
    re-encode of the union under the same geometry (rotation and
    codebooks never depended on individual rows)."""
    from homemade_vector_db_spark.operators import pq as pqmod

    base = embs.where(F.col("vec_id") < 300)
    late = embs.where(F.col("vec_id") >= 300)
    idx = opq.build_ivfopq(base, nlist=8, m=8, codebook_size=16, dim=64)
    added = opq.rotated_add(idx, late)

    rotated_all = opq.rotate(embs, idx.mean, idx.rotation)
    want = {
        (r.vec_id, tuple(r.codes), r.cluster)
        for r in pqmod.encode_with_geometry(
            rotated_all, idx.inner.centroids, idx.inner.codebooks,
            64, "vec_id", "__rot",
        ).collect()
    }
    got = {
        (r.vec_id, tuple(r.codes), r.cluster)
        for r in added.inner.codes.collect()
    }
    assert got == want and len(got) == embs.count()


def test_ivfopq_rerank_recall_and_roundtrip(spark, embs, tmp_path):
    """Full-stack recall of probe → rotated-ADC → exact original-frame
    rerank vs global exact top-k, and save/load identity."""
    from homemade_vector_db_spark.operators.knn import knn_exact

    idx = opq.build_ivfopq(embs, nlist=8, m=8, codebook_size=16, dim=64)
    q = [float(x) for x in embs.where(F.col("vec_id") == 0).first().embedding]
    shortlist = opq.rotated_search(
        idx, q, k=80, nprobe=8, score_decimals=None
    )
    approx = {r.vec_id for r in tier.rerank(shortlist, embs, q, 10).collect()}
    exact = {r.vec_id for r in knn_exact(embs, q, k=10, dim=64).collect()}
    assert len(approx & exact) >= 5  # the shared 0.5 gate floor

    path = str(tmp_path / "ivfopq")
    tier.save_index(idx, path)
    loaded = tier.load_index(spark, path)
    s1 = sorted(
        (r.vec_id, r.score)
        for r in opq.rotated_search(idx, q, k=10, nprobe=8).collect()
    )
    s2 = sorted(
        (r.vec_id, r.score)
        for r in opq.rotated_search(loaded, q, k=10, nprobe=8).collect()
    )
    assert s1 == s2


def test_ivfopq_recall_gate_green(spark):
    import homemade_vector_db_spark.queries as Q

    row = Q.q_ivfopq_recall(spark, SF_SMOKE).collect()[0]
    assert row.k == 10 and row.full_k and row.recall_ok


def test_db_ivfopq_facade_roundtrip(spark, tmp_path):
    """'ivfopq' as a first-class facade index_type — the same contract
    battery as the opq tier: exact-duplicate retrieval through ADC +
    rerank, add-after-train, delete without rebuild, save/load."""
    import random

    from homemade_vector_db_spark.db import VectorDatabase

    rng = random.Random(11)
    mk = lambda: [rng.random() for _ in range(8)]
    db = VectorDatabase(spark, dim=8, index_type="ivfopq", pq_code_size=4)
    docs = [f"doc {i}" for i in range(120)]
    vecs = [mk() for _ in range(120)]
    db.add(docs, vecs)
    q = vecs[5]
    got = db.query_vector(q, top_k=3)
    assert got[0] == 5

    db.add(["late twin"], [list(q)])
    got2 = db.query_vector(q, top_k=2)
    assert set(got2) == {5, 120}

    db.delete([5])
    got3 = db.query_vector(q, top_k=2)
    assert 5 not in got3 and 120 in got3

    path = str(tmp_path / "ivfopqdb")
    db.save(path)
    db2 = VectorDatabase.load(spark, path)
    assert db2.query_vector(q, top_k=2) == got3


def test_opq_beats_pq_on_anisotropic_data(spark):
    """The tier's raison d'être, demonstrated rather than argued: on a
    corpus with strong covariance structure (per-coordinate scales
    spanning 3 orders of magnitude, which a contiguous-slice PQ cannot
    balance), the eigenvalue-balanced rotation must yield strictly
    lower total quantization error than plain PQ with the identical
    code budget. On the near-isotropic fixture OPQ ≈ PQ by construction
    (docstring claim); this is the other half of that claim."""
    import numpy as np

    from homemade_vector_db_spark.functions.vector import squared_l2_fixed

    rng = np.random.default_rng(3)
    n, dim, m, cb = 512, 16, 4, 16
    # anisotropic: coordinate j has scale 10**(-(j % 8) / 2), arranged
    # so every contiguous PQ slice mixes large and tiny scales badly
    scales = np.array([10.0 ** (-(j % 8) / 2) for j in range(dim)])
    X = rng.normal(size=(n, dim)) * scales
    df = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    ).cache()

    def recon_err(codes_df, codebooks, rot=None, mean=None):
        ids = {r.vec_id: list(r.codes) for r in codes_df.collect()}
        cb_arr = [np.asarray(c, dtype="float64") for c in codebooks]
        sub = dim // m
        err = 0.0
        for i in range(n):
            x = X[i].astype("float64")
            if rot is not None:
                x = rot @ (x - mean)
            rec = np.concatenate(
                [cb_arr[j][ids[i][j]] for j in range(m)]
            )
            err += float(((x - rec) ** 2).sum())
        return err

    pidx = pq.build_pq(df, m=m, codebook_size=cb, dim=dim, cache=False)
    oidx = opq.build_opq(df, m=m, codebook_size=cb, dim=dim, cache=False)
    e_pq = recon_err(pidx.codes, pidx.codebooks)
    # rotated-frame reconstruction error IS original-frame error
    # (orthogonal invariance), so the comparison is apples-to-apples
    e_opq = recon_err(
        oidx.inner.codes, oidx.inner.codebooks,
        rot=oidx.rotation, mean=oidx.mean,
    )
    assert e_opq < e_pq * 0.8, (e_opq, e_pq)
