"""VectorDatabase facade — mirrors the reference test suite's categories
(/root/reference/test_local_db.py): construction, operator behavior,
persistence round-trip, empty-db edges, return-shape contracts."""

import pytest

from homemade_vector_db_spark.db import VectorDatabase

DOCS = [
    "meeting scheduled with the team tomorrow",
    "invoice for services rendered",
    "project proposal deadline next week",
    "system alert critical error",
    "quarterly report financial summary",
]
VECS = [
    [0.1, 0.2, 0.3, 0.4],
    [0.9, 0.8, 0.7, 0.6],
    [0.2, 0.2, 0.3, 0.5],
    [0.5, 0.5, 0.5, 0.5],
    [0.3, 0.1, 0.4, 0.2],
]
METAS = [
    {"type": "meeting", "priority": "high", "sender": "alice"},
    {"type": "invoice", "priority": "medium", "amount": 1250.75},
    {"type": "proposal", "priority": "high", "deadline": "2025-06-01"},
    {"type": "system", "priority": "low"},
    {"type": "report", "priority": "medium"},
]


@pytest.fixture(scope="module")
def db(spark):
    d = VectorDatabase(spark, dim=4)
    d.add(DOCS, VECS, METAS)
    return d


def test_init_invalid_index_type(spark):
    with pytest.raises(ValueError):
        VectorDatabase(spark, dim=4, index_type="bogus")


def test_len_and_repr(db):
    assert len(db) == 5
    assert "n=5" in repr(db)


def test_query_text_shapes(db):
    ids = db.query_text("meeting team", top_k=3)
    assert len(ids) == 3 and all(isinstance(i, int) for i in ids)
    scored = db.query_text("meeting team", top_k=3, return_scores=True)
    assert all(0.0 <= s for _, s in scored)
    assert scored[0][0] == 0  # doc 0 has both terms


def test_query_vector_scores_in_unit_interval(db):
    scored = db.query_vector([0.1, 0.2, 0.3, 0.4], top_k=5, return_scores=True)
    assert scored[0] == (0, 1.0)  # exact match → squared-L2 0 → score 1
    assert all(0.0 <= s <= 1.0 for _, s in scored)


def test_query_vector_filters(db):
    ids = db.query_vector(
        [0.1, 0.2, 0.3, 0.4], top_k=5,
        pre_filter=lambda m: m.get("priority") == "high",
    )
    assert set(ids) == {0, 2}
    ids2 = db.query_vector(
        [0.1, 0.2, 0.3, 0.4], top_k=2,
        post_filter=lambda m: m.get("type") != "meeting",
    )
    assert 0 not in ids2 and len(ids2) <= 2


def test_query_metadata_modes(db):
    assert db.query_metadata(conditions={"priority": "high"}) == [0, 2]
    # conditions shadows filter_func (parity local_db.py:306-312)
    assert db.query_metadata(
        conditions={"priority": "high"},
        filter_func=lambda m: False,
    ) == [0, 2]
    assert db.query_metadata(filter_func=lambda m: "amount" in m) == [1]
    # positional top_k (parity local_db.py:317-319)
    assert db.query_metadata(top_k=2) == [0, 1]
    assert db.query_metadata() == [0, 1, 2, 3, 4]


def test_query_metadata_collect_cap_and_dataframe_escape(db):
    """The unbounded no-filter/no-top_k collect is capped (billion-row
    safety); as_dataframe=True is the distributed escape hatch and
    returns the same ids without a driver collect."""
    sdf = db.query_metadata(as_dataframe=True)
    assert [r[0] for r in sdf.collect()] == [0, 1, 2, 3, 4]
    old = db.UNBOUNDED_COLLECT_CAP
    try:
        db.UNBOUNDED_COLLECT_CAP = 2
        with pytest.raises(ValueError, match="as_dataframe"):
            db.query_metadata()
        # top_k-bounded collect stays allowed under the cap
        assert db.query_metadata(top_k=2) == [0, 1]
        assert db.query_metadata(
            conditions={"priority": "high"}, as_dataframe=True
        ).count() == 2
    finally:
        db.UNBOUNDED_COLLECT_CAP = old


def test_hybrid_weights(db):
    r_vec = db.hybrid_search("meeting", VECS[1], top_k=1, vector_weight=1.0)
    assert r_vec == [1]
    r_txt = db.hybrid_search("invoice services", VECS[0], top_k=1, vector_weight=0.0)
    assert r_txt == [1]


def test_point_lookup(db):
    assert db.get_document(2) == DOCS[2]
    assert db.get_metadata(1)["amount"] == "1250.75"  # stringified map
    with pytest.raises(IndexError):
        db.get_document(99)


def test_save_load_roundtrip(db, spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("dbsave"))
    db.save(path)
    db2 = VectorDatabase.load(spark, path)
    assert len(db2) == len(db)
    assert db2.get_document(0) == DOCS[0]
    # flat index is deterministic → exact result equality
    # (parity test_local_db.py:152-162)
    assert db2.query_text("meeting team", top_k=3) == db.query_text(
        "meeting team", top_k=3
    )
    assert db2.query_vector([0.5, 0.5, 0.5, 0.5], top_k=3) == db.query_vector(
        [0.5, 0.5, 0.5, 0.5], top_k=3
    )


def test_empty_db_edges(spark):
    empty = VectorDatabase(spark, dim=4)
    assert empty.query_vector([0, 0, 0, 0]) == []
    assert empty.query_metadata(conditions={"a": "b"}) == []
    assert empty.hybrid_search("x", [0, 0, 0, 0]) == []
    with pytest.raises(RuntimeError):
        empty.query_text("x")
    assert len(empty) == 0


def test_add_validates_dim(spark):
    d = VectorDatabase(spark, dim=4)
    with pytest.raises(ValueError):
        d.add(["x"], [[1.0, 2.0]])
    with pytest.raises(ValueError):
        d.add(["x", "y"], [[1.0, 2.0, 3.0, 4.0]])


def test_incremental_add(spark):
    d = VectorDatabase(spark, dim=2)
    d.add(["first doc"], [[0.0, 0.0]])
    d.add(["second doc"], [[1.0, 1.0]])
    assert len(d) == 2
    assert d.query_vector([0.9, 0.9], top_k=1) == [1]
    assert d.get_document(1) == "second doc"


@pytest.mark.parametrize("index_type", ["flat", "lsh", "ivf", "sq8", "bq", "ivfbq"])
def test_query_vector_all_index_types(spark, index_type):
    # reference test style: parametrize over index types
    # (/root/reference/test_local_db.py:47); exact match must surface for
    # all of them on a tiny corpus
    d = VectorDatabase(spark, dim=4, index_type=index_type)
    d.add(DOCS, VECS, METAS)
    ids = d.query_vector(VECS[2], top_k=3)
    assert ids[0] == 2  # self-match first
    assert len(ids) <= 3
    scored = d.query_vector(VECS[2], top_k=3, return_scores=True)
    assert all(0.0 <= s <= 1.0 for _, s in scored)


def test_save_load_with_bm25_stats(db, spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("dbsave_idx"))
    db.query_text("meeting", top_k=2)  # forces stats build
    db.save(path)
    import json, os
    with open(os.path.join(path, "manifest.json")) as f:
        assert json.load(f)["has_bm25_stats"] is True
    db2 = VectorDatabase.load(spark, path)
    assert db2._stats is not None  # reloaded, not rebuilt
    assert db2.query_text("meeting team", top_k=3, return_scores=True) == \
        db.query_text("meeting team", top_k=3, return_scores=True)


def test_ndv_sketch_accuracy(spark):
    """HLL++ estimate within 5% of exact count-distinct per group
    (q_ndv_sketch is rows-only at the driver gate, so accuracy is
    pinned here instead)."""
    from homemade_vector_db_spark import queries as Q

    sf = "/root/testdata/sf0.01"
    approx = {
        r["event_type"]: r["n_users_approx"]
        for r in Q.q_ndv_sketch(spark, sf).collect()
    }
    exact = {
        r["event_type"]: r["n_users"]
        for r in Q.q_distinct_users_per_type(spark, sf).collect()
    }
    assert set(approx) == set(exact)
    for t, n in exact.items():
        assert abs(approx[t] - n) <= max(1, 0.05 * n)


@pytest.mark.parametrize(
    "index_type",
    ["lsh", "ivf", "ivfpq", "hnsw", "sq8", "bq", "ivfbq", "opq", "ivfopq"],
)
def test_save_load_with_ann_index(spark, tmp_path_factory, index_type):
    """A saved index reloads with its frozen geometry: after the same add
    and delete, the loaded db answers exactly like the never-saved one.
    The corpus outgrows the rerank pool and the probed cells, so the
    answers depend on the reloaded codes, cells and codebooks."""
    import json, os, random

    rng = random.Random(13)
    mk = lambda: [rng.uniform(-1, 1) for _ in range(8)]
    vecs = [mk() for _ in range(240)]
    d = VectorDatabase(spark, dim=8, index_type=index_type)
    d.add([f"doc {i}" for i in range(240)], vecs)
    q = vecs[17]
    before = d.query_vector(q, top_k=3, return_scores=True)  # builds index
    path = str(tmp_path_factory.mktemp(f"dbsave_{index_type}"))
    d.save(path)
    d2 = VectorDatabase.load(spark, path)
    if index_type != "lsh":  # lsh is rebuilt from the corpus, not saved
        with open(os.path.join(path, "manifest.json")) as f:
            assert json.load(f)["has_ann_index"] is True
        assert d2._ann_index is not None  # reloaded, not rebuilt lazily
    assert d2.query_vector(q, top_k=3, return_scores=True) == before
    late = [mk() for _ in range(6)]
    for x in (d, d2):
        x.add([f"late {i}" for i in range(6)], late)
        x.delete([17, 241])
    for v in (q, vecs[90], late[0], late[3]):
        assert d2.query_vector(v, top_k=3, return_scores=True) == \
            d.query_vector(v, top_k=3, return_scores=True)


def test_load_v2_folder_rebuilds_index_lazily(spark, tmp_path):
    """A format_version 2 folder keeps its documents and BM25 stats; its
    ann/ dir (the per-tier layout older versions wrote) is ignored and
    the index rebuilds lazily from the loaded corpus."""
    import json, os

    d = VectorDatabase(spark, dim=4, index_type="ivf")
    d.add(DOCS, VECS, METAS)
    d.query_text("meeting", top_k=2)  # builds the stats
    want = d.query_vector(VECS[2], top_k=3, return_scores=True)
    path = str(tmp_path / "v2")
    d.save(path)
    # the v2 ivf layout: cluster-partitioned assignments + ivf.json
    os.remove(os.path.join(path, "ann", "index.json"))
    with open(os.path.join(path, "ann", "ivf.json"), "w") as f:
        json.dump({"centroids": d._ann_index.centroids, "id_col": "doc_id",
                   "vec_col": "embedding"}, f)
    with open(os.path.join(path, "manifest.json")) as f:
        manifest = json.load(f)
    manifest["format_version"] = 2
    with open(os.path.join(path, "manifest.json"), "w") as f:
        json.dump(manifest, f)

    d2 = VectorDatabase.load(spark, path)
    assert d2._stats is not None
    assert d2._ann_index is None
    assert d2.query_vector(VECS[2], top_k=3, return_scores=True) == want
    assert d2._ann_index is not None  # rebuilt from the loaded corpus
    assert d2.query_text("meeting team", top_k=3) == d.query_text(
        "meeting team", top_k=3
    )

    manifest["format_version"] = 4
    with open(os.path.join(path, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    with pytest.raises(ValueError, match="format_version"):
        VectorDatabase.load(spark, path)


def test_incremental_add_extends_ivf_without_refit(spark):
    import random

    rng = random.Random(7)
    mk = lambda: [rng.random() for _ in range(8)]
    db = VectorDatabase(spark, dim=8, index_type="ivf")
    db.add([f"doc {i}" for i in range(20)], [mk() for _ in range(20)])
    db.query_vector(mk(), top_k=3)  # force index build
    idx_before = db._ann_index
    assert idx_before is not None
    target = mk()
    db.add(["late arrival"], [target])
    # same centroids object — assign-only, no refit
    assert db._ann_index is not None
    assert db._ann_index.centroids is idx_before.centroids
    got = db.query_vector(target, top_k=1)
    assert got == [20]


def test_delete_update_maintain_ivf_index_without_rebuild(spark):
    """Round 11 (VERDICT r10 Next #7): delete filters the code relation
    against FROZEN geometry (same centroids object — no refit, no lazy
    rebuild), and update = incremental delete + add-after-train encode.
    Search results reflect the mutation exactly."""
    import random

    rng = random.Random(11)
    mk = lambda: [rng.random() for _ in range(8)]
    db = VectorDatabase(spark, dim=8, index_type="ivf")
    vecs = [mk() for _ in range(20)]
    db.add([f"doc {i}" for i in range(20)], vecs)
    db.query_vector(mk(), top_k=3)  # force index build
    idx_before = db._ann_index
    assert idx_before is not None

    # delete: index survives (not None), geometry frozen, row gone
    assert db.delete([5]) == 1
    assert db._ann_index is not None
    assert db._ann_index.centroids is idx_before.centroids
    got = db.query_vector(vecs[5], top_k=20)
    assert 5 not in got

    # update: id 7 moves to a distinct region; the maintained index
    # must rank it first for its own new vector, geometry still frozen
    target = [10.0 + x for x in mk()]
    assert db.update([7], vectors=[target]) == 1
    assert db._ann_index is not None
    assert db._ann_index.centroids is idx_before.centroids
    assert db.query_vector(target, top_k=1) == [7]


@pytest.mark.parametrize("ref_name,ours", [("hnsw", "nsw"), ("ivfpq", "ivfpq")])
def test_reference_index_type_aliases(spark, ref_name, ours):
    # round 9: 'ivfpq' is no longer an alias for plain IVF — it is the
    # real residual-encoded IVF-PQ tier (operators/pq.build_ivfpq)
    d = VectorDatabase(spark, dim=4, index_type=ref_name)
    assert d.index_type == ours


def test_reference_constructor_signature_ports(spark):
    # the reference's full kwarg surface (local_db.py:21-33) must construct
    d = VectorDatabase(
        spark, dim=4, index_type="hnsw", ef_construction=100, M=8,
        ivf_clusters=4, pq_code_size=8, ef_search=20, init_index=True,
    )
    assert d.index_type == "nsw" and d.ivf_clusters == 4
    import random

    rng = random.Random(3)
    mk = lambda: [rng.random() for _ in range(4)]
    d2 = VectorDatabase(spark, dim=4, index_type="ivfpq", ivf_clusters=4, ef_search=20)
    d2.add([f"d{i}" for i in range(12)], [mk() for _ in range(12)])
    got = d2.query_vector(mk(), top_k=3)
    assert len(got) == 3


def test_delete_removes_and_invalidates(spark):
    import random

    rng = random.Random(11)
    mk = lambda: [rng.random() for _ in range(4)]
    db = VectorDatabase(spark, dim=4)
    vecs = [mk() for _ in range(6)]
    db.add([f"doc word{i}" for i in range(6)], vecs)
    assert db.query_text("word2", top_k=1) == [2]
    removed = db.delete([2, 4])
    assert removed == 2 and len(db) == 4
    # deleted ids never come back from any query surface
    assert 2 not in db.query_text("word2 doc", top_k=4)
    assert 2 not in db.query_vector(vecs[2], top_k=4)
    # remaining ids are unchanged (stable-id contract)
    assert db.get_document(5) == "doc word5"


def test_add_after_delete_never_reuses_ids(spark):
    """Id high-water mark survives delete: add 6 (ids 0-5), delete [0,1],
    then add 1 more — the new doc must get id 6, not 4 (which would collide
    with the live doc 4)."""
    import random

    rng = random.Random(12)
    mk = lambda: [rng.random() for _ in range(4)]
    db = VectorDatabase(spark, dim=4)
    db.add([f"doc word{i}" for i in range(6)], [mk() for _ in range(6)])
    db.delete([0, 1])
    db.add(["doc fresh"], [mk()])
    assert len(db) == 5
    assert db.get_document(6) == "doc fresh"
    assert db.get_document(4) == "doc word4"
    ids = db.query_metadata()
    assert ids == [2, 3, 4, 5, 6] and len(ids) == len(set(ids))


def test_update_in_place_keeps_ids(spark):
    import random

    rng = random.Random(21)
    mk = lambda: [rng.random() for _ in range(4)]
    db = VectorDatabase(spark, dim=4)
    vecs = [mk() for _ in range(4)]
    db.add(
        [f"doc word{i}" for i in range(4)], vecs,
        [{"lang": "en"} for _ in range(4)],
    )
    n = db.update([1], docs=["doc replaced"], metas=[{"lang": "de"}])
    assert n == 1 and len(db) == 4
    assert db.get_document(1) == "doc replaced"
    assert db.get_metadata(1) == {"lang": "de"}
    # untouched fields/rows stay; id set unchanged
    assert db.query_metadata() == [0, 1, 2, 3]
    assert db.query_vector(vecs[1], top_k=1) == [1]  # vector kept
    assert db.query_text("replaced", top_k=1) == [1]  # BM25 state rebuilt
    # next add still continues after the high-water mark
    db.add(["doc new"], [mk()])
    assert db.query_metadata() == [0, 1, 2, 3, 4]


def test_update_unknown_or_bad_args(spark):
    import pytest as _pytest
    import random

    rng = random.Random(22)
    mk = lambda: [rng.random() for _ in range(4)]
    db = VectorDatabase(spark, dim=4)
    db.add(["doc a", "doc b"], [mk(), mk()])
    with _pytest.raises(IndexError, match="not found"):
        db.update([5], docs=["x"])
    with _pytest.raises(ValueError, match="duplicate"):
        db.update([0, 0], docs=["x", "y"])
    with _pytest.raises(ValueError, match="dim"):
        db.update([0], vectors=[[1.0]])


def test_attach_then_add_continues_from_max_id(spark):
    import random

    rng = random.Random(13)
    mk = lambda: [rng.random() for _ in range(4)]
    db = VectorDatabase(spark, dim=4)
    db.add([f"doc word{i}" for i in range(3)], [mk() for _ in range(3)])
    db2 = VectorDatabase(spark, dim=4).attach(db._df)
    db2.add(["doc new"], [mk()])
    assert db2.query_metadata() == [0, 1, 2, 3]


def test_hnsw_routes_to_graph_tier_and_roundtrips(spark, tmp_path):
    """index_type='hnsw' now builds the sharded NSW GRAPH (reference
    kwargs M/ef_construction/ef_search live, local_db.py:41-47); search
    finds a planted duplicate, and save/load round-trips the graph."""
    import numpy as np

    from homemade_vector_db_spark.db import VectorDatabase
    from homemade_vector_db_spark.operators.nsw import NSWIndex

    rng = np.random.default_rng(5)
    n, dim = 80, 8
    vecs = [[float(x) for x in rng.normal(size=dim)] for _ in range(n)]
    db = VectorDatabase(spark, dim=dim, index_type="hnsw", M=6, ef_search=40)
    db.add([f"doc {i}" for i in range(n)], vecs)
    got = db.query_vector(vecs[17], top_k=3)
    assert got[0] == 17
    assert isinstance(db._ann_index, NSWIndex)
    p = str(tmp_path / "hnsw_db")
    db.save(p)
    back = VectorDatabase.load(spark, p)
    assert back.index_type == "nsw"
    assert back._ann_index is not None  # manifest restored the graph
    assert back.query_vector(vecs[17], top_k=3)[0] == 17


@pytest.mark.parametrize("itype", ["sq8", "bq"])
def test_incremental_add_extends_compressed_tiers_without_retrain(spark, itype):
    """add() after an sq8/bq index is built routes through sq_add/bq_add
    (frozen trained geometry, FAISS add-after-train semantics) instead of
    discarding the index and rebuilding on the next query."""
    import random

    rng = random.Random(11)
    mk = lambda: [rng.random() for _ in range(8)]
    db = VectorDatabase(spark, dim=8, index_type=itype)
    db.add([f"doc {i}" for i in range(30)], [mk() for _ in range(30)])
    db.query_vector(mk(), top_k=3)  # force index build
    idx_before = db._ann_index
    assert idx_before is not None
    target = mk()
    db.add(["late arrival"], [target])
    assert db._ann_index is not None
    if itype == "sq8":
        assert db._ann_index.mins is idx_before.mins
        assert db._ann_index.scales is idx_before.scales
    else:
        assert db._ann_index.thresholds is idx_before.thresholds
    # new doc is searchable through the maintained index (self-match)
    got = db.query_vector(target, top_k=1)
    assert got == [30]


def _write_reference_layout(tmp_path, docs, metas, vectors, index_file=None):
    """Write the reference engine's on-disk layout (local_db.py:210-222):
    data.pkl + vectors.npy + optionally a (fake-signature) index file."""
    import pickle

    import numpy as np

    folder = tmp_path / "refdb"
    folder.mkdir()
    with open(folder / "data.pkl", "wb") as f:
        pickle.dump({"docs": docs, "metas": metas}, f)
    np.save(folder / "vectors.npy", np.asarray(vectors, dtype="float32"))
    if index_file is not None:
        name, payload = index_file
        (folder / name).write_bytes(payload)
    return str(folder)


def test_import_reference_round_trips_data_and_flat_search(spark, tmp_path):
    """Mirror of the reference's own save/load equality test
    (test_local_db.py:152-157): importing a reference-layout folder
    reproduces docs/metas/vectors exactly, and flat-index text+vector
    search equals a db built by add() directly."""
    import numpy as np

    rng = np.random.RandomState(3)
    docs = [f"alpha beta doc {i}" for i in range(8)]
    metas = [{"team": "eng" if i % 2 else "ops", "amount": 1250.75 + i} for i in range(8)]
    vectors = rng.rand(8, 6).astype("float32")
    folder = _write_reference_layout(tmp_path, docs, metas, vectors)

    db = VectorDatabase.import_reference(spark, folder)
    assert db.index_type == "flat" and db.dim == 6 and len(db) == 8
    rows = {r["doc_id"]: r for r in db._df.collect()}
    for i in range(8):
        assert rows[i]["text"] == docs[i]
        assert rows[i]["meta"] == {k: str(v) for k, v in metas[i].items()}
        assert np.allclose(rows[i]["embedding"], vectors[i])

    twin = VectorDatabase(spark, dim=6, index_type="flat")
    twin.add(docs, vectors.tolist(), metas)
    q = vectors[3] + 0.01
    assert db.query_vector(q, top_k=3, return_scores=True) == \
        twin.query_vector(q, top_k=3, return_scores=True)
    assert db.query_text("alpha doc", top_k=3, return_scores=True) == \
        twin.query_text("alpha doc", top_k=3, return_scores=True)


def test_import_reference_detects_index_type(spark, tmp_path):
    """hnsw.idx routes to the graph tier; faiss.idx with the IVFPQ fourcc
    routes to the REAL ivfpq tier (round 9 — no longer aliased to plain
    ivf); an unrecognized faiss payload defaults to flat — the
    reference's own fallback (local_db.py:246-248)."""
    import numpy as np

    docs, metas = ["a b"], [{}]
    vectors = np.ones((1, 4), dtype="float32")
    cases = [
        (("hnsw.idx", b"\x00"), "nsw"),  # 'hnsw' alias → NSW graph tier
        (("faiss.idx", b"IwPQ" + b"\x00" * 16), "ivfpq"),  # IVFPQ fourcc
        (("faiss.idx", b"IxF2" + b"\x00" * 16), "flat"),  # IndexFlatL2
        (("faiss.idx", b"????" + b"\x00" * 16), "flat"),  # unknown → flat
    ]
    for i, (index_file, want) in enumerate(cases):
        sub = tmp_path / f"case{i}"
        sub.mkdir()
        folder = _write_reference_layout(sub, docs, metas, vectors, index_file)
        assert VectorDatabase.import_reference(spark, folder).index_type == want


def test_import_reference_rejects_inconsistent_folder(spark, tmp_path):
    import numpy as np

    folder = _write_reference_layout(
        tmp_path, ["one", "two"], [{}], np.ones((3, 4), dtype="float32")
    )
    with pytest.raises(ValueError, match="inconsistent"):
        VectorDatabase.import_reference(spark, folder)


def test_import_reference_allows_datetime_and_numpy_metadata(spark, tmp_path):
    """ADVICE r4 item 2: legitimate reference exports pickle metadata
    values like datetime.now() or numpy scalars; the restricted
    unpickler must admit those inert constructors (they become str()'d
    meta values, same as every other add() path)."""
    import datetime

    import numpy as np

    docs = ["with rich meta", "plain"]
    metas = [
        {
            "added": datetime.datetime(2026, 8, 14, 12, 30, 0),
            "day": datetime.date(2026, 8, 14),
            "score": np.float32(0.25),
            "rank": np.int64(7),
        },
        {"k": "v"},
    ]
    vectors = np.ones((2, 4), dtype="float32")
    folder = _write_reference_layout(tmp_path, docs, metas, vectors)
    db = VectorDatabase.import_reference(spark, folder)
    rows = {r["doc_id"]: r for r in db._df.collect()}
    assert rows[0]["meta"]["added"] == "2026-08-14 12:30:00"
    assert rows[0]["meta"]["day"] == "2026-08-14"
    assert float(rows[0]["meta"]["score"]) == 0.25
    assert int(rows[0]["meta"]["rank"]) == 7
    assert rows[1]["meta"] == {"k": "v"}


def test_import_reference_rejects_code_execution_pickle(spark, tmp_path):
    """Any global outside the datetime/numpy allowlist — the arbitrary-
    code-execution vector — still raises instead of executing."""
    import pickle

    import numpy as np

    class Evil:
        def __reduce__(self):
            import os

            return (os.system, ("echo pwned",))

    folder = tmp_path / "evil"
    folder.mkdir()
    with open(folder / "data.pkl", "wb") as f:
        pickle.dump({"docs": ["x"], "metas": [{"payload": Evil()}]}, f)
    np.save(folder / "vectors.npy", np.ones((1, 4), dtype="float32"))
    with pytest.raises(pickle.UnpicklingError, match="refusing to unpickle"):
        VectorDatabase.import_reference(spark, str(folder))


def test_incremental_add_extends_hnsw_graph_without_rebuild(spark):
    """add() after the graph tier is built routes through nsw_add
    (hnswlib add_items semantics) instead of discarding the index; new
    docs are immediately searchable and the graph object is extended,
    not reset."""
    import numpy as np

    from homemade_vector_db_spark.db import VectorDatabase
    from homemade_vector_db_spark.operators.nsw import NSWIndex

    rng = np.random.default_rng(9)
    dim = 8
    mk = lambda: [float(x) for x in rng.normal(size=dim)]
    db = VectorDatabase(spark, dim=dim, index_type="hnsw", M=6, ef_search=40)
    db.add([f"doc {i}" for i in range(60)], [mk() for _ in range(60)])
    db.query_vector(mk(), top_k=3)  # force graph build
    built = db._ann_index
    assert isinstance(built, NSWIndex)
    planted = mk()
    db.add(["planted needle"], [planted])
    assert isinstance(db._ann_index, NSWIndex)  # NOT invalidated
    assert db._ann_index.graph.count() == 61
    assert db.query_vector(planted, top_k=1) == [60]


def test_merge_equals_concatenated_build(spark):
    # merging two independently built dbs == one db built from the
    # concatenation: same ids, same BM25 ranking, same vector scores
    a = VectorDatabase(spark, dim=4)
    a.add(DOCS[:3], VECS[:3], METAS[:3])
    b = VectorDatabase(spark, dim=4)
    b.add(DOCS[3:], VECS[3:], METAS[3:])
    a.merge(b)

    ref = VectorDatabase(spark, dim=4)
    ref.add(DOCS, VECS, METAS)

    assert len(a) == len(ref) == 5
    got = a.query_text("report financial", top_k=3, return_scores=True)
    want = ref.query_text("report financial", top_k=3, return_scores=True)
    assert [(i, round(s, 6)) for i, s in got] == [
        (i, round(s, 6)) for i, s in want
    ]
    gv = a.query_vector([0.5, 0.5, 0.5, 0.5], top_k=2, return_scores=True)
    wv = ref.query_vector([0.5, 0.5, 0.5, 0.5], top_k=2, return_scores=True)
    assert [(i, round(s, 6)) for i, s in gv] == [
        (i, round(s, 6)) for i, s in wv
    ]
    # other is not mutated; later adds to the merged db do not collide
    assert len(b) == 2
    a.add(["extra doc after merge"], [[0.0, 0.1, 0.0, 0.1]])
    assert len(a) == 6
    assert a.query_vector([0.0, 0.1, 0.0, 0.1], top_k=1) == [5]


def test_merge_refusals(spark):
    a = VectorDatabase(spark, dim=4)
    a.add(DOCS[:2], VECS[:2])
    with pytest.raises(ValueError, match="itself"):
        a.merge(a)
    c = VectorDatabase(spark, dim=3)
    c.add(["x"], [[1.0, 0.0, 0.0]])
    with pytest.raises(ValueError, match="dim mismatch"):
        a.merge(c)


def test_merge_maintains_trained_ivf_index(spark):
    import random

    rng = random.Random(7)
    mk = lambda n: [[rng.uniform(-1, 1) for _ in range(4)] for _ in range(n)]
    a = VectorDatabase(spark, dim=4, index_type="ivf", ivf_clusters=2)
    va = mk(12)
    a.add([f"doc {i}" for i in range(12)], va)
    a.query_vector(va[0], top_k=1)  # force index build
    assert a._ann_index is not None
    b = VectorDatabase(spark, dim=4)
    target = [0.99, -0.99, 0.99, -0.99]
    b.add(["merged needle"], [target])
    a.merge(b)
    # a later mutation of `other` releases its corpus; the merged index
    # must not read it
    b.add(["later doc"], [[0.0, 0.0, 0.0, 0.0]])
    # the trained index absorbed the shifted block: the needle's id (12)
    # must surface for its own vector through the IVF path
    assert a.query_vector(target, top_k=1) == [12]


def test_ivfpq_tier_end_to_end(spark, tmp_path):
    # real residual IVF-PQ behind the reference spelling: query works,
    # add is add-after-train (same centroids AND codebooks objects),
    # save/load reproduces the query
    import random

    rng = random.Random(7)
    mk = lambda: [rng.random() for _ in range(8)]
    db = VectorDatabase(
        spark, dim=8, index_type="ivfpq", ivf_clusters=4,
        pq_code_size=4, ef_search=40,
    )
    db.add([f"d{i}" for i in range(20)], [mk() for _ in range(20)])
    q = mk()
    got = db.query_vector(q, top_k=3)
    assert len(got) == 3
    idx_before = db._ann_index
    db.add(["late"], [mk()])
    assert db._ann_index.centroids is idx_before.centroids
    assert db._ann_index.codebooks is idx_before.codebooks
    assert db._ann_index.codes.count() == 21
    path = str(tmp_path / "ivfpq_db")
    db.save(path)
    loaded = VectorDatabase.load(spark, path)
    assert loaded.index_type == "ivfpq"
    assert loaded._ann_index is not None
    assert loaded.query_vector(q, top_k=3) == db.query_vector(q, top_k=3)


def _rdd_id(df) -> int:
    """Id of the RDD behind a materialized (local-checkpointed) frame."""
    return df._jdf.queryExecution().logical().rdd().id()


def _batch(rng, n, dim=4):
    words = ["alpha", "beta", "gamma", "delta", "omega", "sigma"]
    docs = [" ".join(rng.choice(words) for _ in range(5)) for _ in range(n)]
    return docs, [[rng.random() for _ in range(dim)] for _ in range(n)]


@pytest.mark.parametrize("index_type", ["hnsw", "ivfpq", "sq8"])
def test_facade_storage_constant_across_add_cycles(
    spark, stored_rdds, index_type
):
    """Each add supersedes the corpus, the index relations and the BM25
    stats: over add + query cycles executor storage holds exactly one
    corpus, one copy of each index relation and at most one stats set
    (four cached relations), instead of one more per cycle."""
    import random

    from pyspark.sql import DataFrame

    rng = random.Random(5)
    base = stored_rdds()
    db = VectorDatabase(spark, dim=4, index_type=index_type)
    db.add(*_batch(rng, 12))
    q = [0.5, 0.5, 0.5, 0.5]
    db.query_vector(q, top_k=3)  # builds the index
    sizes = []
    for _ in range(3):
        db.add(*_batch(rng, 4))
        assert db.query_text("alpha gamma", top_k=3)
        assert db.query_vector(q, top_k=3)
        sizes.append(len(stored_rdds() - base))
    assert sizes[0] == sizes[1] == sizes[2]
    held = stored_rdds() - base
    index = {
        _rdd_id(v) for v in vars(db._ann_index).values()
        if isinstance(v, DataFrame)
    }
    corpus = _rdd_id(db._df)
    assert {corpus} | index <= held
    assert len(held - {corpus} - index) <= 4


def _last_plan_nodes(monkeypatch, call) -> int:
    """Analysed-plan node count of the last DataFrame `call` collects."""
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    seen = []
    collect = ClassicDataFrame.collect

    def counting_collect(df):
        seen.append(df._jdf.queryExecution().analyzed().treeString().count("\n"))
        return collect(df)

    with monkeypatch.context() as m:
        m.setattr(ClassicDataFrame, "collect", counting_collect)
        call()
    return seen[-1]


@pytest.mark.parametrize("index_type", ["flat", "hnsw"])
def test_read_plans_stay_bounded_across_adds(spark, monkeypatch, index_type):
    """Reads scan the materialized corpus and graph, so their plans do
    not grow with the number of adds behind them."""
    import random

    rng = random.Random(9)
    db = VectorDatabase(spark, dim=4, index_type=index_type)
    q = [0.2, 0.4, 0.6, 0.8]

    def plan_sizes():
        return (
            _last_plan_nodes(monkeypatch, lambda: db.query_vector(q, top_k=3)),
            _last_plan_nodes(monkeypatch, lambda: db.query_text("beta", top_k=3)),
        )

    db.add(*_batch(rng, 12))
    after_one = plan_sizes()
    for _ in range(3):
        db.add(*_batch(rng, 4))
    assert plan_sizes() == after_one
