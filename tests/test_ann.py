"""ANN tier: recall@k against the exact operator — mirrors the reference's
'flat is exact, HNSW/IVFPQ may vary' stance (test_local_db.py:155-157)."""

import pytest
from pyspark.sql import functions as F

from homemade_vector_db_spark.operators import ann, tier
from homemade_vector_db_spark.operators.knn import knn_exact
from homemade_vector_db_spark.sources.tables import load_embeddings
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def embs(spark):
    return load_embeddings(spark, SF_SMOKE).cache()


@pytest.fixture(scope="module")
def qvec(embs):
    return list(embs.where(F.col("vec_id") == 7).first().embedding)


def recall(approx_ids, exact_ids):
    return len(set(approx_ids) & set(exact_ids)) / len(exact_ids)


def test_ivf_recall(spark, embs, qvec):
    exact = [r.vec_id for r in knn_exact(embs, qvec, k=10).collect()]
    idx = ann.build_ivf(embs, nlist=16)
    got = [r.vec_id for r in ann.ivf_search(idx, qvec, k=10, nprobe=4).collect()]
    assert len(got) == 10
    # embeddings are label-clustered; 4/16 cells must recover most of top-10
    assert recall(got, exact) >= 0.5
    # full probe == exact
    got_all = [r.vec_id for r in ann.ivf_search(idx, qvec, k=10, nprobe=16).collect()]
    assert got_all == exact


def test_ivf_tiny_corpus_shrink(spark, embs, qvec):
    # O2a parity: nlist shrinks instead of failing on tiny corpora
    tiny = embs.limit(3)
    idx = ann.build_ivf(tiny, nlist=100)
    assert idx.nlist <= 1 or idx.nlist <= 3 // 2
    got = ann.ivf_search(idx, qvec, k=5).collect()
    assert 0 < len(got) <= 3


def test_ivf_empty_raises(spark, embs):
    with pytest.raises(ValueError):
        ann.build_ivf(embs.where(F.lit(False)))


def test_lsh_recall(spark, embs, qvec):
    exact = [r.vec_id for r in knn_exact(embs, qvec, k=10).collect()]
    idx = ann.build_lsh(embs, bucket_length=2.0, num_hash_tables=3)
    got = [r.vec_id for r in ann.lsh_search(idx, qvec, k=10).collect()]
    assert len(got) == 10
    assert recall(got, exact) >= 0.5
    scores = [r.score for r in ann.lsh_search(idx, qvec, k=10).collect()]
    assert all(0.0 <= s <= 1.0 for s in scores)


def test_lsh_similarity_join_finds_near_pairs(spark, embs):
    idx = ann.build_lsh(embs, bucket_length=2.0, num_hash_tables=3)
    pairs = ann.lsh_similarity_join(idx, max_l2=1.2).collect()
    # all returned pairs respect the distance bound and ordering contract
    for r in pairs:
        assert r.a_id < r.b_id
        assert r.l2_dist <= 1.2


def test_ivf_save_load_roundtrip(spark, embs, qvec, tmp_path):
    idx = ann.build_ivf(embs, nlist=16)
    want = [(r.vec_id, r.score) for r in ann.ivf_search(idx, qvec, k=5).collect()]
    path = str(tmp_path / "ivf_idx")
    tier.save_index(idx, path)
    idx2 = tier.load_index(spark, path)
    assert idx2.nlist == idx.nlist
    got = [(r.vec_id, r.score) for r in ann.ivf_search(idx2, qvec, k=5).collect()]
    assert got == want
    # cluster-partitioned layout: probe filter is partition pruning on disk
    import glob

    assert glob.glob(path + "/assignments/cluster=*"), "expected partitioned layout"


def test_lsh_planes_depend_only_on_seed_and_dim(spark, embs, qvec):
    """Why the lsh tier is rebuilt rather than saved: the fitted planes
    are a function of (seed, dim), so a rebuild over the same corpus is
    the same index, whatever corpus the first fit saw."""
    idx = ann.build_lsh(embs)
    other = ann.build_lsh(embs.where(F.col("vec_id") < 50))
    rehashed = other.model.transform(idx.hashed.drop("__hashes"))
    want = {r.vec_id: r["__hashes"] for r in idx.hashed.collect()}
    assert {r.vec_id: r["__hashes"] for r in rehashed.collect()} == want
    again = ann.build_lsh(embs)
    want = [(r.vec_id, r.score) for r in ann.lsh_search(idx, qvec, k=5).collect()]
    got = [(r.vec_id, r.score) for r in ann.lsh_search(again, qvec, k=5).collect()]
    assert got == want


def test_ivf_add_assigns_nearest_cell(spark, embs):
    import numpy as np

    base = embs.where("vec_id < 150")
    new = embs.where("vec_id >= 150")
    idx = ann.build_ivf(base, nlist=8)
    extended = ann.ivf_add(idx, new)
    # same centroids, more rows
    assert extended.centroids == idx.centroids
    assert extended.assignments.count() == embs.count()
    # every new row landed in its true nearest cell
    cents = np.asarray(idx.centroids)
    got = extended.assignments.where("vec_id >= 150").collect()
    assert len(got) > 0
    for r in got:
        x = np.asarray(r.embedding, dtype="float64")
        want = int(np.argmin(((cents - x) ** 2).sum(axis=1)))
        assert r.cluster == want
    # a query for an added vector finds it via the extended index
    target = new.orderBy("vec_id").first()
    hits = ann.ivf_search(extended, list(target.embedding), k=1, nprobe=2).collect()
    assert hits and hits[0].vec_id == target.vec_id


def test_lsh_batch_search_recall_vs_exact(spark, embs):
    from homemade_vector_db_spark.operators.knn import knn_batch

    qs = embs.where("vec_id < 5").selectExpr(
        "vec_id AS query_id", "embedding AS qv"
    )
    idx = ann.build_lsh(embs, bucket_length=2.0, num_hash_tables=3)
    approx = ann.lsh_batch_search(idx, qs, k=5, max_l2=3.0).collect()
    exact = knn_batch(embs, qs, k=5).collect()

    by_q = lambda rows: {
        q: {r.vec_id for r in rows if r.query_id == q} for q in range(5)
    }
    a, e = by_q(approx), by_q(exact)
    # per-query shape contract
    for q in range(5):
        assert len(a[q]) <= 5
        # the self-match (distance 0) must always be found
        assert q in a[q]
    # aggregate recall across queries
    hits = sum(len(a[q] & e[q]) for q in range(5))
    total = sum(len(e[q]) for q in range(5))
    assert hits / total >= 0.5, (hits, total)


def test_ivf_assign_handles_empty_input(spark, embs):
    idx = ann.build_ivf(embs.where("vec_id < 50"), nlist=4)
    empty = embs.where("vec_id < 0")  # zero rows, same schema
    out = ann.ivf_assign(idx, empty)
    assert out.count() == 0
    assert "cluster" in out.columns


def test_pca_projection_matches_numpy(spark):
    """Distributed codegen projection ≡ numpy (X - mean) @ C.T, and the
    fitted components are orthonormal."""
    import numpy as np

    from homemade_vector_db_spark.operators import pca as pcamod

    rng = np.random.default_rng(7)
    X = rng.normal(size=(200, 8)).astype("float64")
    rows = [(i, [float(v) for v in X[i]]) for i in range(len(X))]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    mean, comps = pcamod.fit_pca(df, 8, 3)
    assert np.allclose(comps @ comps.T, np.eye(3), atol=1e-9)
    got = {
        r["vec_id"]: np.array(r["proj"])
        for r in pcamod.project(df, mean, comps).select("vec_id", "proj").collect()
    }
    want = (X - mean) @ comps.T
    for i in range(len(X)):
        assert np.allclose(got[i], want[i], atol=1e-9)


def test_pca_recovers_low_rank_subspace(spark):
    """Data generated in a 2-D subspace of R^8: a 2-component PCA must
    capture (essentially) all variance."""
    import numpy as np

    from homemade_vector_db_spark.operators import pca as pcamod

    rng = np.random.default_rng(11)
    basis = rng.normal(size=(2, 8))
    coef = rng.normal(size=(300, 2))
    X = coef @ basis
    rows = [(i, [float(v) for v in X[i]]) for i in range(len(X))]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    mean, comps = pcamod.fit_pca(df, 8, 2)
    proj = pcamod.project(df, mean, comps)
    import pyspark.sql.functions as F
    from homemade_vector_db_spark.functions.vector import (
        dot_fixed,
        squared_l2_fixed,
    )

    mean_lit = F.array(*[F.lit(float(v)) for v in mean])
    r = proj.agg(
        F.avg(squared_l2_fixed("embedding", mean_lit, 8)).alias("vt"),
        F.avg(dot_fixed("proj", "proj", 2)).alias("vk"),
    ).collect()[0]
    assert r["vk"] / r["vt"] > 0.999


def test_nsw_multi_shard_recall_and_determinism(spark, embs, qvec):
    """Sharded NSW: force several shards, recall@10 vs exact must clear
    0.8 and rebuilds are bit-identical (hash sharding + id-ascending
    insertion + id tie-breaks)."""
    from homemade_vector_db_spark.operators import nsw
    from homemade_vector_db_spark.operators.knn import knn_exact

    idx = nsw.build_nsw(embs, rows_per_shard=150)  # 500 rows → 4 shards
    assert idx.graph.select("shard").distinct().count() >= 3
    got = [r.vec_id for r in nsw.nsw_search(idx, qvec, k=10, ef_search=50).collect()]
    exact = [r.vec_id for r in knn_exact(embs, qvec, k=10, dim=64).collect()]
    assert len(set(got) & set(exact)) / 10 >= 0.8
    idx2 = nsw.build_nsw(embs, rows_per_shard=150)
    got2 = [r.vec_id for r in nsw.nsw_search(idx2, qvec, k=10, ef_search=50).collect()]
    assert got == got2


def test_nsw_finds_planted_duplicate(spark, embs):
    """A vector identical to vec 7 must return 7 first with score 0."""
    from pyspark.sql import functions as F

    from homemade_vector_db_spark.operators import nsw

    target = list(
        embs.where(F.col("vec_id") == 7).first().embedding
    )
    idx = nsw.build_nsw(embs, rows_per_shard=200)
    top = nsw.nsw_search(idx, target, k=3, ef_search=50).collect()
    assert top[0].vec_id == 7
    assert top[0].score == 1.0  # 1/(1+d2) at d2=0


def test_hnsw_hierarchy_structure():
    """The layered build obeys the HNSW invariants: levels follow the
    deterministic id-hash geometric law, every node carries exactly
    level+1 adjacency lists, upper-layer links only reach nodes whose
    level is >= that layer, and layer-0 degree is bounded by 2M (M
    above). Pure-numpy check, no Spark."""
    import numpy as np

    from homemade_vector_db_spark.operators import nsw

    rng = np.random.RandomState(5)
    ids = np.arange(300, dtype=np.int64)
    X = rng.rand(300, 8).astype(np.float64)
    m, ef = 6, 24
    levels, adj = nsw._hnsw_insertions(X, ids, m, ef)
    import math

    m_l = 1.0 / math.log(m)
    assert levels == [nsw._level_of(int(i), m_l) for i in ids]
    assert max(levels) >= 1  # 300 draws at mL=1/ln 6: P(all zero) ~ 1e-39
    for p in range(300):
        assert len(adj[p]) == levels[p] + 1
        for lvl in range(levels[p] + 1):
            cap = 2 * m if lvl == 0 else m
            assert len(adj[p][lvl]) <= cap
            assert all(levels[v] >= lvl for v in adj[p][lvl])
    # deterministic rebuild
    levels2, adj2 = nsw._hnsw_insertions(X, ids, m, ef)
    assert levels2 == levels and adj2 == adj


def test_nsw_add_incremental_equals_rebuild_recall(spark, embs, qvec):
    """nsw_add (hnswlib add_items parity): inserting the last 20% after
    building on the first 80% must (a) route every row to the shard the
    full-build hash law picks, (b) keep all ids searchable, and (c)
    match the fresh full rebuild's recall@10 against exact search."""
    from homemade_vector_db_spark.operators import nsw
    from homemade_vector_db_spark.operators.knn import knn_exact

    old = embs.where(F.col("vec_id") < 400)
    new = embs.where(F.col("vec_id") >= 400)
    idx = nsw.build_nsw(old, rows_per_shard=150)
    n_shards = idx.shard_count()
    added = nsw.nsw_add(idx, new)
    assert added.shard_count() == n_shards  # shard law is index identity
    rows = added.graph.select("shard", "id").collect()
    assert len(rows) == 500
    import numpy as _np

    # shard == pmod(xxhash64(id), n_shards) for every row, old and new
    check = added.graph.where(
        F.col("shard") != F.pmod(F.xxhash64(F.col("id")), F.lit(n_shards))
    ).count()
    assert check == 0
    got = [
        r.vec_id
        for r in nsw.nsw_search(added, qvec, k=10, ef_search=50).collect()
    ]
    rebuilt = nsw.build_nsw(embs, rows_per_shard=150)
    # NOTE: rebuild shard count differs (500 vs 400 rows) — compare
    # recall against exact, not graphs
    got_rebuild = [
        r.vec_id
        for r in nsw.nsw_search(rebuilt, qvec, k=10, ef_search=50).collect()
    ]
    exact = [r.vec_id for r in knn_exact(embs, qvec, k=10, dim=64).collect()]
    rec_add = len(set(got) & set(exact)) / 10
    rec_rebuild = len(set(got_rebuild) & set(exact)) / 10
    assert rec_add >= rec_rebuild - 0.1
    assert rec_add >= 0.8


def test_nsw_add_untouched_shards_pass_through(spark, embs):
    """An add touching one shard must leave every other shard's rows
    byte-identical (no Arrow rewrite of the rest of the graph)."""
    from homemade_vector_db_spark.operators import nsw

    old = embs.where(F.col("vec_id") < 400)
    idx = nsw.build_nsw(old, rows_per_shard=150)
    one = embs.where(F.col("vec_id") == 450)
    added = nsw.nsw_add(idx, one)
    target_shard = added.graph.where(F.col("id") == 450).first().shard
    before = {
        r.id: (r.level, tuple(map(tuple, r.neighbors)))
        for r in idx.graph.where(F.col("shard") != target_shard).collect()
    }
    after = {
        r.id: (r.level, tuple(map(tuple, r.neighbors)))
        for r in added.graph.where(F.col("shard") != target_shard).collect()
    }
    assert before == after


def test_nsw_add_save_load_roundtrip(spark, embs, qvec, tmp_path):
    """n_shards persists in the manifest; a loaded incremental index
    searches identically and accepts further adds."""
    from homemade_vector_db_spark.operators import nsw

    idx = nsw.build_nsw(embs.where(F.col("vec_id") < 450), rows_per_shard=150)
    added = nsw.nsw_add(idx, embs.where(F.col("vec_id") >= 450))
    tier.save_index(added, str(tmp_path / "g"))
    loaded = tier.load_index(spark, str(tmp_path / "g"))
    assert loaded.n_shards == added.shard_count()
    a = [(r.vec_id, r.score) for r in nsw.nsw_search(added, qvec, k=5).collect()]
    b = [(r.vec_id, r.score) for r in nsw.nsw_search(loaded, qvec, k=5).collect()]
    assert a == b


def test_nsw_batch_search_matches_point_search(spark, embs):
    """Batch graph search ≡ running nsw_search per query (same shards,
    same beam, same tie rule), and self-match ranks first."""
    from homemade_vector_db_spark.operators import nsw

    idx = nsw.build_nsw(embs, rows_per_shard=150)
    qdf = embs.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    batch = nsw.nsw_batch_search(idx, qdf, k=5, ef_search=50).collect()
    by_q = {}
    for r in batch:
        by_q.setdefault(r.query_id, []).append((r.vec_id, r.score, r.rn))
    assert set(by_q) == {0, 1, 2, 3}
    for qid in range(4):
        got = [(v, s) for v, s, _ in sorted(by_q[qid], key=lambda t: t[2])]
        qv = list(embs.where(F.col("vec_id") == qid).first().embedding)
        want = [
            (r.vec_id, r.score)
            for r in nsw.nsw_search(idx, qv, k=5, ef_search=50).collect()
        ]
        assert got == want
        assert got[0] == (qid, 1.0)  # exact self-match first


def test_nsw_batch_drop_in_for_knn_server(spark, embs, tmp_path):
    """The graph tier plugs into the streaming server via answer_fn —
    same output shape as the flat/LSH paths, self-match rank-1."""
    from homemade_vector_db_spark.operators import nsw
    from homemade_vector_db_spark.streaming.serving import KnnServer

    idx = nsw.build_nsw(embs, rows_per_shard=200)
    srv = KnnServer(
        spark, embs, str(tmp_path / "ans"), k=3,
        answer_fn=lambda corpus, queries, k: nsw.nsw_batch_search(
            idx, queries, k=k, ef_search=50
        ),
    )
    q = embs.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    srv.answer_batch(q, 0)
    ans = srv.answers()
    assert {"query_id", "vec_id", "score", "rn"} <= set(ans.columns)
    top1 = {r.query_id: r.vec_id for r in ans.where(F.col("rn") == 1).collect()}
    assert top1 == {i: i for i in range(3)}


def test_nsw_rebalance_after_growth(spark, embs, qvec):
    """Rebalance re-derives the shard count from the grown corpus and
    preserves search quality; node levels are invariant (pure id-hash
    law), only shard membership changes."""
    from homemade_vector_db_spark.operators import nsw
    from homemade_vector_db_spark.operators.knn import knn_exact

    idx = nsw.build_nsw(embs.where(F.col("vec_id") < 100), rows_per_shard=100)
    grown = nsw.nsw_add(idx, embs.where(F.col("vec_id") >= 100))
    assert grown.shard_count() == idx.shard_count()  # adds never reshard
    # read before rebalancing: rebalance releases the graph it supersedes
    lv_a = {r.id: r.level for r in grown.graph.select("id", "level").collect()}
    reb = nsw.nsw_rebalance(grown, rows_per_shard=100)
    assert reb.shard_count() == 5  # 500 rows / 100
    assert reb.graph.count() == 500
    # levels invariant under resharding
    lv_b = {r.id: r.level for r in reb.graph.select("id", "level").collect()}
    assert lv_a == lv_b
    exact = [r.vec_id for r in knn_exact(embs, qvec, k=10, dim=64).collect()]
    got = [r.vec_id for r in nsw.nsw_search(reb, qvec, k=10, ef_search=50).collect()]
    assert len(set(got) & set(exact)) / 10 >= 0.8


def test_nsw_add_refuses_unknown_shard_count(spark, embs):
    """Legacy manifests without n_shards: max(shard)+1 is a lower bound
    (trailing shards can be hash-empty), so nsw_add must refuse rather
    than silently change the id->shard law (ADVICE r4)."""
    from dataclasses import replace

    from homemade_vector_db_spark.operators import nsw

    idx = nsw.build_nsw(embs.where(F.col("vec_id") < 200), rows_per_shard=100)
    legacy = replace(idx, n_shards=0)
    one = embs.where(F.col("vec_id") == 400)
    with pytest.raises(ValueError, match="shard count unknown"):
        nsw.nsw_add(legacy, one)
    # search still works on a legacy index, and rebalance repairs it
    dim = len(embs.first().embedding)
    assert nsw.nsw_search(legacy, [0.0] * dim, k=3).count() == 3
    repaired = nsw.nsw_rebalance(legacy, rows_per_shard=100)
    assert repaired.n_shards > 0
    nsw.nsw_add(repaired, one)  # no raise


def test_nsw_add_unpersists_superseded_graph(spark, embs, stored_rdds):
    """A long add stream must not accumulate orphaned graphs in executor
    storage: nsw_add materializes the successor then releases its input
    (ADVICE r4). Counted from storage itself, because a local checkpoint
    holds blocks without the `persist()` flag."""
    from homemade_vector_db_spark.operators import nsw

    embs.count()  # the fixture's own cache is not part of the count
    base = stored_rdds()
    idx = nsw.build_nsw(embs.where(F.col("vec_id") < 300), rows_per_shard=150)
    step1 = nsw.nsw_add(idx, embs.where(F.col("vec_id") == 301))
    assert len(stored_rdds() - base) == 1
    step2 = nsw.nsw_add(step1, embs.where(F.col("vec_id") == 302))
    assert len(stored_rdds() - base) == 1
    # rebalance follows the same supersede discipline
    reb = nsw.nsw_rebalance(step2, rows_per_shard=150)
    assert stored_rdds() - base == {
        reb.graph._jdf.queryExecution().logical().rdd().id()
    }
    assert reb.graph.count() == 302


def test_db_add_stream_triggers_rebalance(spark):
    """Facade maintenance policy (hnswlib resize analogue): when a
    add stream pushes mean shard size to >=4x the build target, db.add
    auto-runs nsw_rebalance — shard count grows, recall floor holds."""
    import numpy as np

    from homemade_vector_db_spark.db import VectorDatabase

    rng = np.random.default_rng(11)
    dim = 8
    db = VectorDatabase(spark, dim=dim, index_type="hnsw")
    db._nsw_rows_per_shard = 8
    vecs = rng.normal(size=(16, dim)).astype(float)
    db.add([f"d{i}" for i in range(16)], [list(v) for v in vecs])
    db.query_vector(list(vecs[0]), top_k=3)  # builds the graph index
    n0 = db._ann_index.shard_count()
    more = rng.normal(size=(60, dim)).astype(float)
    for lo in range(0, 60, 20):
        batch = more[lo : lo + 20]
        db.add(
            [f"e{lo + i}" for i in range(len(batch))],
            [list(v) for v in batch],
        )
    assert db._ann_index.shard_count() > n0  # rebalance fired
    assert db._ann_index.graph.is_cached
    # recall floor vs the exact tier on the same corpus
    target = list(vecs[3])
    got = db.query_vector(target, top_k=3)
    assert got[0] == 3  # the exact stored vector is its own 1-NN


def test_nsw_batch_search_bounded_and_chunked_fallback(spark, embs):
    """VERDICT r6 What's-wrong #2 for the graph tier: bounded collect +
    refusal, and nsw_batch_search_chunked ≡ the bounded path."""
    from homemade_vector_db_spark.operators import nsw

    idx = nsw.build_nsw(embs, rows_per_shard=150)
    qdf = embs.where(F.col("vec_id") < 9).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    with pytest.raises(ValueError, match="max_query_rows"):
        nsw.nsw_batch_search(idx, qdf, k=4, max_query_rows=4)
    want = nsw.nsw_batch_search(idx, qdf, k=4, ef_search=50).collect()
    got = nsw.nsw_batch_search_chunked(
        idx, qdf, k=4, ef_search=50, max_query_rows=4
    ).collect()
    assert sorted(got) == sorted(want)


def test_ivf_filtered_full_probe_equals_exact_filtered(spark, embs):
    # widen to the full cell set: filtered ANN must reproduce the exact
    # flat search over the filtered corpus bit-for-bit (same knn_exact
    # law downstream), pinning that the predicate only prunes the scan
    from homemade_vector_db_spark.operators.ann import build_ivf, ivf_search_filtered
    from homemade_vector_db_spark.operators.knn import knn_exact

    q = list(embs.where(F.col("vec_id") == 0).first().embedding)
    pred = F.col("label") == 2
    idx = build_ivf(embs, nlist=8, cache=False)
    a = ivf_search_filtered(idx, q, pred, k=5, nprobe=8, widen=1).collect()
    e = knn_exact(embs.where(pred), q, k=5).collect()
    assert [(r.vec_id, r.score) for r in a] == [(r.vec_id, r.score) for r in e]


def test_ivf_filtered_respects_predicate_under_narrow_probe(spark, embs):
    # every returned row satisfies the predicate even when probing is
    # partial, and the result is a subset of the filtered corpus ids
    from homemade_vector_db_spark.operators.ann import build_ivf, ivf_search_filtered

    q = list(embs.where(F.col("vec_id") == 0).first().embedding)
    idx = build_ivf(embs, nlist=8, cache=False)
    rows = ivf_search_filtered(
        idx, q, F.col("label") == 2, k=5, nprobe=2, widen=1
    ).collect()
    assert rows, "narrow probe returned nothing"
    allowed = {r.vec_id for r in embs.where(F.col("label") == 2).collect()}
    assert {r.vec_id for r in rows} <= allowed


def test_nsw_mark_delete_and_gc(spark, embs, qvec):
    """nsw_delete (hnswlib mark_deleted parity, round 11): tombstoned
    ids vanish from results while the graph keeps routing through
    them (k live results still come back); nsw_add after a delete
    preserves the tombstone flags; nsw_rebalance physically GCs the
    marked rows; and the db graph tier mark-deletes instead of
    dropping the index."""
    from pyspark.sql import functions as F

    from homemade_vector_db_spark.operators import nsw

    idx = nsw.build_nsw(embs.where(F.col("vec_id") < 480),
                        rows_per_shard=150)
    before = [r.vec_id for r in
              nsw.nsw_search(idx, qvec, k=10, ef_search=60).collect()]
    dead = before[:2]
    idx2 = nsw.nsw_delete(idx, dead)
    after = [r.vec_id for r in
             nsw.nsw_search(idx2, qvec, k=10, ef_search=60).collect()]
    assert not set(dead) & set(after)
    assert len(after) == 10  # beam fills k from live nodes
    assert set(after) >= set(before[2:])  # survivors keep their ranks

    # add-after-delete: flags ride through the insert kernel
    late = embs.where(F.col("vec_id") >= 480)
    idx3 = nsw.nsw_add(idx2, late)
    again = [r.vec_id for r in
             nsw.nsw_search(idx3, qvec, k=10, ef_search=60).collect()]
    assert not set(dead) & set(again)
    n_marked = idx3.graph.where("deleted").count()
    assert n_marked == len(dead)

    # rebalance = GC: tombstones physically dropped, search unchanged
    # (idx3 is counted first: rebalance releases the graph it supersedes)
    n_idx3 = idx3.graph.count()
    idx4 = nsw.nsw_rebalance(idx3, rows_per_shard=150)
    assert "deleted" not in [c for c in idx4.graph.columns] or (
        idx4.graph.where("deleted").count() == 0
    )
    assert idx4.graph.count() == n_idx3 - len(dead)
    gc = [r.vec_id for r in
          nsw.nsw_search(idx4, qvec, k=10, ef_search=60).collect()]
    assert not set(dead) & set(gc)


def test_db_graph_tier_mark_delete(spark):
    """db.delete on the graph tier keeps the index alive (mark-delete)
    and excludes the id from results; db.update still rebuilds
    lazily (tombstone/insert collision)."""
    import random

    from homemade_vector_db_spark.db import VectorDatabase

    rng = random.Random(23)
    mk = lambda: [rng.random() for _ in range(8)]
    db = VectorDatabase(spark, dim=8, index_type="hnsw")
    vecs = [mk() for _ in range(30)]
    db.add([f"doc {i}" for i in range(30)], vecs)
    db.query_vector(mk(), top_k=3)  # force index build
    assert db._ann_index is not None
    assert db.delete([4]) == 1
    assert db._ann_index is not None  # mark-delete, not a drop
    got = db.query_vector(vecs[4], top_k=29)
    assert 4 not in got
    target = [5.0 + x for x in mk()]
    assert db.update([7], vectors=[target]) == 1
    assert db.query_vector(target, top_k=1) == [7]


def test_nsw_heavy_delete_still_fills_k(spark, embs, qvec):
    """ADVICE r11 item 3: tombstones are filtered after the layer-0
    beam, so under heavy delete load a fixed beam width starved the
    result set below k with no signal. The beam now inflates by the
    shard's tombstone fraction (ef/(1-f), shard-size-bounded): 80% of
    ids deleted, small ef_search, k live results must still come back.
    Zero-delete shards keep the exact requested ef (bit-identical
    undeleted behavior — pinned by the recall/determinism tests)."""
    import numpy as np

    from homemade_vector_db_spark.operators import nsw
    from homemade_vector_db_spark.operators.nsw import _ef_for_tombstones

    # unit law: no deletes -> unchanged; f=0.8 -> 5x; full -> shard size
    assert _ef_for_tombstones(20, np.zeros(100, dtype=bool)) == 20
    mostly = np.ones(100, dtype=bool); mostly[:20] = False
    assert _ef_for_tombstones(20, mostly) == 100
    assert _ef_for_tombstones(20, np.ones(50, dtype=bool)) == 50

    idx = nsw.build_nsw(
        embs.where(F.col("vec_id") < 480), rows_per_shard=150
    )
    dead = [
        r.vec_id
        for r in embs.where(
            (F.col("vec_id") < 480) & (F.col("vec_id") % 5 != 0)
        ).select("vec_id").collect()
    ]
    idx2 = nsw.nsw_delete(idx, dead)
    got = nsw.nsw_search(idx2, qvec, k=10, ef_search=12).collect()
    assert len(got) == 10  # beam inflated past the tombstone wall
    assert not set(dead) & {r.vec_id for r in got}
