"""The reference's own test suite, ported scenario-by-scenario onto the
Spark `VectorDatabase` facade — the most direct parity evidence available.

Source: /root/reference/test_local_db.py (2 classes, 19 test methods).
Each test cites the reference method it twins. Deliberate adaptations:

- the reference's unseeded `np.random` fixtures are seeded here
  (test_local_db.py:21,30) — determinism over incidental parity;
- metadata values are stringified by our documented data model
  (MAP<STRING,STRING>, SURVEY.md §1.1), so numeric filters cast:
  `float(meta.get("amount", 0))` instead of `meta.get("amount", 0)`
  (test_local_db.py:274);
- the two FAISS-file-surgery tests (test_local_db.py:164-220) map onto
  our manifest-based persistence: unrecognized manifest index types and
  missing/corrupt state must fail loudly, defaulting/erroring analogous
  to the reference's sniffing behavior;
- index types use the reference spellings through the alias table
  ('hnsw'→nsw alias; 'ivfpq' is the REAL residual IVF-PQ tier), so call sites port
  verbatim.
"""

import json
import os
import random

import pytest

from homemade_vector_db_spark.db import VectorDatabase

TEST_DIM = 128
TEST_DOCS = [
    "email about meeting tomorrow",
    "invoice from supplier for recent order",
    "request for proposal deadline extension",
    "notification of system maintenance",
    "quarterly report summary",
]
TEST_METAS = [
    {"type": "meeting", "priority": "high", "sender": "boss@company.com"},
    {"type": "invoice", "priority": "medium", "amount": 1250.75},
    {"type": "proposal", "priority": "high", "deadline": "2025-06-01"},
    {"type": "system", "priority": "low", "maintenance_window": "2025-05-15 02:00-04:00"},
    {"type": "report", "priority": "medium", "quarter": "Q1"},
]
TEST_QUERY = "meeting with team"

_rng = random.Random(128)
TEST_VECTORS = [
    [_rng.random() for _ in range(TEST_DIM)] for _ in TEST_DOCS
]
TEST_QUERY_VECTOR = [_rng.random() for _ in range(TEST_DIM)]

INDEX_TYPES = ["hnsw", "flat", "ivfpq"]  # reference spellings


def make_db(spark, index_type="flat", **kw):
    db = VectorDatabase(spark, dim=TEST_DIM, index_type=index_type, **kw)
    db.add(TEST_DOCS, TEST_VECTORS, TEST_METAS)
    return db


# --------------------------------------------------- TestVectorDatabase

@pytest.mark.parametrize("index_type", INDEX_TYPES)
def test_init(spark, index_type):
    """test_local_db.py:48-72 — construction across index types + params."""
    db = VectorDatabase(spark, dim=TEST_DIM, index_type=index_type)
    assert db.dim == TEST_DIM
    assert len(db) == 0
    if index_type == "hnsw":
        db = VectorDatabase(
            spark, dim=TEST_DIM, index_type=index_type,
            ef_construction=300, M=24, ef_search=100,
        )
        assert db.ef_search == 100
    elif index_type == "ivfpq":
        VectorDatabase(
            spark, dim=TEST_DIM, index_type=index_type,
            ivf_clusters=200, pq_code_size=8,
        )


def test_init_invalid_index_type(spark):
    """test_local_db.py:74-77."""
    with pytest.raises(ValueError):
        VectorDatabase(spark, dim=TEST_DIM, index_type="invalid_type")


@pytest.mark.parametrize("index_type", INDEX_TYPES)
def test_query_text(spark, index_type):
    """test_local_db.py:79-96 — default/custom top_k counts, empty raises."""
    db = make_db(spark, index_type)
    results = db.query_text(TEST_QUERY)
    assert len(results) == min(5, len(TEST_DOCS))
    results = db.query_text(TEST_QUERY, top_k=3)
    assert len(results) == min(3, len(TEST_DOCS))
    empty_db = VectorDatabase(spark, dim=TEST_DIM)
    with pytest.raises(RuntimeError):
        empty_db.query_text(TEST_QUERY)


@pytest.mark.parametrize("index_type", INDEX_TYPES)
def test_query_vector_with_filters(spark, index_type):
    """test_local_db.py:98-125 — every result satisfies the predicate."""
    db = make_db(spark, index_type)
    pre_filter = lambda meta: meta.get("priority") == "high"
    results = db.query_vector(TEST_QUERY_VECTOR, pre_filter=pre_filter)
    assert results
    for idx in results:
        assert db.get_metadata(idx).get("priority") == "high"
    post_filter = lambda meta: meta.get("type") != "system"
    results = db.query_vector(TEST_QUERY_VECTOR, post_filter=post_filter)
    assert results
    for idx in results:
        assert db.get_metadata(idx).get("type") != "system"
    results = db.query_vector(
        TEST_QUERY_VECTOR, pre_filter=pre_filter, post_filter=post_filter
    )
    for idx in results:
        meta = db.get_metadata(idx)
        assert meta.get("priority") == "high"
        assert meta.get("type") != "system"


@pytest.mark.slow
@pytest.mark.parametrize("index_type", INDEX_TYPES)
def test_save_load(spark, index_type, tmp_path):
    """test_local_db.py:127-162 — round-trip properties, docs/metas,
    flat-exact search equality, text-search equality always."""
    path = str(tmp_path / "db")
    original = make_db(spark, index_type)
    original.save(path)
    assert os.path.exists(path)

    loaded = VectorDatabase.load(spark, path)
    assert loaded.dim == original.dim
    assert loaded.index_type == original.index_type
    assert len(loaded) == len(original)
    for i in range(len(original)):
        assert loaded.get_document(i) == original.get_document(i)
        assert loaded.get_metadata(i) == original.get_metadata(i)

    if index_type == "flat":  # ANN tiers may vary (reference :155-157)
        assert original.query_vector(TEST_QUERY_VECTOR) == loaded.query_vector(
            TEST_QUERY_VECTOR
        )
    assert original.query_text(TEST_QUERY) == loaded.query_text(TEST_QUERY)


def test_load_unrecognized_index_type_in_manifest(spark, tmp_path):
    """Twin of test_load_different_faiss_index_types (test_local_db.py:
    164-198): the reference defaults foreign FAISS index files to 'flat';
    our manifest-based load has no sniffing ambiguity, so a manifest
    naming an unknown type must fail loudly instead of guessing."""
    path = str(tmp_path / "db")
    make_db(spark, "flat").save(path)
    loaded = VectorDatabase.load(spark, path)
    assert loaded.index_type == "flat"
    with open(os.path.join(path, "manifest.json")) as f:
        manifest = json.load(f)
    manifest["index_type"] = "scalar_quantizer"  # foreign type
    with open(os.path.join(path, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    with pytest.raises(ValueError):
        VectorDatabase.load(spark, path)


def test_load_missing_state_files(spark, tmp_path):
    """Twin of test_load_no_index_files (test_local_db.py:200-220):
    loading a folder without the persisted state must raise with the
    missing piece identifiable, not limp along."""
    path = tmp_path / "db"
    path.mkdir()
    with pytest.raises(FileNotFoundError):
        VectorDatabase.load(spark, str(path))  # no manifest at all
    # manifest present but documents dir missing
    (path / "manifest.json").write_text(
        json.dumps(
            {
                "dim": TEST_DIM, "index_type": "flat", "n": 3,
                "id_col": "doc_id", "text_col": "text",
                "vec_col": "embedding", "format_version": 2,
            }
        )
    )
    with pytest.raises(Exception) as excinfo:
        db = VectorDatabase.load(spark, str(path))
        db.query_vector(TEST_QUERY_VECTOR)
    assert "documents" in str(excinfo.value) or "PATH_NOT_FOUND" in str(
        excinfo.value
    )


def test_repr(spark):
    """test_local_db.py:222-230 — repr carries dim, index type, count."""
    db = VectorDatabase(spark, dim=TEST_DIM, index_type="hnsw")
    db.add(TEST_DOCS, TEST_VECTORS)
    rep = repr(db)
    assert str(TEST_DIM) in rep
    assert db.index_type in rep  # 'hnsw' aliases to the nsw graph tier
    assert str(len(TEST_DOCS)) in rep


@pytest.mark.parametrize("index_type", INDEX_TYPES)
def test_query_metadata_exact_match(spark, index_type):
    """test_local_db.py:232-258 — conditions dict, multi-key, no-match."""
    db = make_db(spark, index_type)
    results = db.query_metadata(conditions={"priority": "high"})
    assert len(results) == 2
    for idx in results:
        assert db.get_metadata(idx)["priority"] == "high"
    results = db.query_metadata(conditions={"type": "invoice"})
    assert len(results) == 1
    assert db.get_metadata(results[0])["type"] == "invoice"
    results = db.query_metadata(
        conditions={"priority": "high", "type": "proposal"}
    )
    assert len(results) == 1
    meta = db.get_metadata(results[0])
    assert meta["priority"] == "high" and meta["type"] == "proposal"
    assert db.query_metadata(conditions={"priority": "critical"}) == []


@pytest.mark.parametrize("index_type", INDEX_TYPES)
def test_query_metadata_custom_filter(spark, index_type):
    """test_local_db.py:260-282 — arbitrary Python predicates (stringified
    metadata per our data model, hence the float() cast)."""
    db = make_db(spark, index_type)
    results = db.query_metadata(filter_func=lambda meta: "amount" in meta)
    assert len(results) == 1
    assert "amount" in db.get_metadata(results[0])
    is_important = lambda meta: meta.get("priority") == "high" or (
        meta.get("type") == "invoice" and float(meta.get("amount", 0)) > 1000
    )
    assert len(db.query_metadata(filter_func=is_important)) == 3
    assert db.query_metadata(filter_func=lambda meta: False) == []


@pytest.mark.parametrize("index_type", INDEX_TYPES)
def test_query_metadata_top_k(spark, index_type):
    """test_local_db.py:284-307 — positional top_k semantics."""
    db = make_db(spark, index_type)
    assert len(db.query_metadata()) == len(TEST_DOCS)
    assert len(db.query_metadata(top_k=2)) == 2
    assert len(db.query_metadata(top_k=10)) == len(TEST_DOCS)
    assert len(
        db.query_metadata(conditions={"priority": "high"}, top_k=1)
    ) == 1


@pytest.mark.parametrize("index_type", INDEX_TYPES)
def test_hybrid_search(spark, index_type):
    """test_local_db.py:309-352 — top_k bounds, weights change ordering,
    filtered results satisfy the predicate."""
    db = make_db(spark, index_type)
    assert len(db.hybrid_search(TEST_QUERY, TEST_QUERY_VECTOR)) <= 5
    assert len(db.hybrid_search(TEST_QUERY, TEST_QUERY_VECTOR, top_k=3)) <= 3
    vector_only = db.hybrid_search(
        TEST_QUERY, TEST_QUERY_VECTOR, vector_weight=1.0
    )
    text_only = db.hybrid_search(
        TEST_QUERY, TEST_QUERY_VECTOR, vector_weight=0.0
    )
    assert vector_only != text_only
    filtered = db.hybrid_search(
        TEST_QUERY,
        TEST_QUERY_VECTOR,
        filter_func=lambda meta: meta.get("priority") == "high",
    )
    for idx in filtered:
        assert db.get_metadata(idx)["priority"] == "high"


@pytest.mark.parametrize("index_type", INDEX_TYPES)
def test_add_then_search(spark, index_type):
    """test_local_db.py:354-367 (test_add_empty_then_add)."""
    db = VectorDatabase(spark, dim=TEST_DIM, index_type=index_type)
    db.add(TEST_DOCS, TEST_VECTORS, TEST_METAS)
    assert len(db) == len(TEST_DOCS)
    assert db.query_vector(TEST_QUERY_VECTOR)
    assert db.query_text(TEST_QUERY)


@pytest.mark.parametrize("index_type", ["flat", "ivfpq"])
def test_ivfpq_small_dataset_fallback(spark, index_type):
    """test_local_db.py:369-383 — 2-doc corpus must not break training."""
    db = VectorDatabase(spark, dim=TEST_DIM, index_type=index_type)
    db.add(TEST_DOCS[:2], TEST_VECTORS[:2], TEST_METAS[:2])
    assert db.query_vector(TEST_QUERY_VECTOR)


@pytest.mark.parametrize("index_type", INDEX_TYPES)
def test_empty_database_behavior(spark, index_type):
    """test_local_db.py:385-405 — per-operator empty-DB contracts."""
    db = VectorDatabase(spark, dim=TEST_DIM, index_type=index_type)
    assert db.query_vector(TEST_QUERY_VECTOR) == []
    with pytest.raises(RuntimeError):
        db.query_text(TEST_QUERY)
    assert db.query_metadata(conditions={"priority": "high"}) == []
    assert db.hybrid_search(TEST_QUERY, TEST_QUERY_VECTOR) == []


# ------------------------------------------ TestReturnScoresFunctionality

@pytest.mark.parametrize("index_type", INDEX_TYPES)
def test_query_text_with_scores(spark, index_type):
    """test_local_db.py:411-432."""
    db = make_db(spark, index_type)
    results = db.query_text(TEST_QUERY)
    assert isinstance(results, list)
    assert all(isinstance(i, int) for i in results)
    with_scores = db.query_text(TEST_QUERY, return_scores=True)
    assert with_scores
    for item in with_scores:
        assert isinstance(item, tuple) and len(item) == 2
        assert isinstance(item[0], int) and isinstance(item[1], float)


@pytest.mark.parametrize("index_type", INDEX_TYPES)
def test_query_vector_with_scores(spark, index_type):
    """test_local_db.py:434-457 — incl. score ∈ [0, 1]."""
    db = make_db(spark, index_type)
    results = db.query_vector(TEST_QUERY_VECTOR)
    assert all(isinstance(i, int) for i in results)
    with_scores = db.query_vector(TEST_QUERY_VECTOR, return_scores=True)
    assert with_scores
    for idx, score in with_scores:
        assert isinstance(idx, int) and isinstance(score, float)
        assert 0 <= score <= 1.0


@pytest.mark.parametrize("index_type", INDEX_TYPES)
def test_query_vector_with_filters_and_scores(spark, index_type):
    """test_local_db.py:459-501."""
    db = make_db(spark, index_type)
    pre_filter = lambda meta: meta.get("priority") == "high"
    post_filter = lambda meta: meta.get("type") != "system"
    results = db.query_vector(
        TEST_QUERY_VECTOR, pre_filter=pre_filter, return_scores=True
    )
    assert results
    for idx, score in results:
        assert db.get_metadata(idx).get("priority") == "high"
        assert 0 <= score <= 1.0
    results = db.query_vector(
        TEST_QUERY_VECTOR, post_filter=post_filter, return_scores=True
    )
    assert results
    for idx, score in results:
        assert db.get_metadata(idx).get("type") != "system"
        assert 0 <= score <= 1.0
    results = db.query_vector(
        TEST_QUERY_VECTOR,
        pre_filter=pre_filter,
        post_filter=post_filter,
        return_scores=True,
    )
    for idx, score in results:
        assert db.get_metadata(idx).get("priority") == "high"
        assert db.get_metadata(idx).get("type") != "system"
        assert 0 <= score <= 1.0


@pytest.mark.parametrize("index_type", INDEX_TYPES)
def test_hybrid_search_with_scores(spark, index_type):
    """test_local_db.py:503-523 — fused scores normalized to [0, 1]."""
    db = make_db(spark, index_type)
    results = db.hybrid_search(
        TEST_QUERY, TEST_QUERY_VECTOR, return_scores=True
    )
    assert results
    for item in results:
        assert isinstance(item, tuple) and len(item) == 2
        assert isinstance(item[0], int) and isinstance(item[1], float)
        assert 0 <= item[1] <= 1
