"""Streaming ingest: incremental BM25 state must equal a from-scratch batch
build over the same corpus (the invariant the reference violates by
rebuilding, local_db.py:73-75)."""

import time

import pytest
from pyspark.sql import functions as F

from homemade_vector_db_spark.operators import bm25
from homemade_vector_db_spark.streaming.ingest import (
    IncrementalCorpus,
    windowed_event_counts,
)

BATCH1 = [(0, "alpha beta gamma"), (1, "beta gamma delta")]
# incl. an empty and a whitespace-only doc: zero tokens, no postings rows —
# they must still count in N/avgdl (the corpus scalars, not postings,
# carry doc counts)
BATCH2 = [(2, "gamma delta epsilon"), (3, "alpha zeta"), (4, ""), (5, "   ")]


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id LONG, text STRING")


def test_incremental_equals_batch_rebuild(spark, tmp_path):
    corpus = IncrementalCorpus(spark, str(tmp_path / "corpus"))
    corpus.ingest_batch(_df(spark, BATCH1), 0)
    corpus.ingest_batch(_df(spark, BATCH2), 1)

    all_docs = _df(spark, BATCH1 + BATCH2)
    batch_stats = bm25.build_bm25_stats(all_docs)

    inc_ts = {r.term: (r.df, round(r.idf, 9)) for r in corpus.term_stats().collect()}
    bat_ts = {
        r.term: (r.df, round(r.idf, 9)) for r in batch_stats.term_stats.collect()
    }
    assert inc_ts == bat_ts

    inc_c = corpus.corpus_stats().first()
    bat_c = batch_stats.corpus_stats.first()
    assert inc_c.N == bat_c.N == len(BATCH1) + len(BATCH2)
    assert inc_c.avgdl == pytest.approx(bat_c.avgdl)

    # end-to-end: scoring through the incremental stats matches batch
    q_inc = bm25.query_text(
        spark, all_docs, "gamma delta", top_k=4, stats=corpus.bm25_stats()
    ).collect()
    q_bat = bm25.query_text(
        spark, all_docs, "gamma delta", top_k=4, stats=batch_stats
    ).collect()
    assert [(r.doc_id, r.score) for r in q_inc] == [
        (r.doc_id, r.score) for r in q_bat
    ]


def test_replayed_batch_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: re-running a micro-batch with the
    same batch_id must leave every derived relation unchanged."""
    corpus = IncrementalCorpus(spark, str(tmp_path / "corpus"))
    corpus.ingest_batch(_df(spark, BATCH1), 0)
    corpus.ingest_batch(_df(spark, BATCH2), 1)
    before_ts = sorted(
        (r.term, r.df) for r in corpus.term_stats().collect()
    )
    before_c = corpus.corpus_stats().first()
    corpus.ingest_batch(_df(spark, BATCH2), 1)  # replay
    after_ts = sorted((r.term, r.df) for r in corpus.term_stats().collect())
    after_c = corpus.corpus_stats().first()
    assert after_ts == before_ts
    assert (after_c.N, after_c.avgdl) == (before_c.N, before_c.avgdl)
    docs = spark.read.parquet(corpus.docs_path)
    assert docs.count() == len(BATCH1) + len(BATCH2)


def test_adhoc_ingest_gets_fresh_batch_ids(spark, tmp_path):
    """Direct calls without a batch_id must not overwrite earlier batches,
    even across a new IncrementalCorpus instance (restart)."""
    root = str(tmp_path / "corpus")
    corpus = IncrementalCorpus(spark, root)
    corpus.ingest_batch(_df(spark, BATCH1))
    corpus2 = IncrementalCorpus(spark, root)  # simulated restart
    corpus2.ingest_batch(_df(spark, BATCH2))
    docs = spark.read.parquet(corpus2.docs_path)
    assert docs.count() == len(BATCH1) + len(BATCH2)


def test_streaming_file_source_foreachbatch(spark, tmp_path):
    src = tmp_path / "stream_src"
    src.mkdir()
    corpus = IncrementalCorpus(spark, str(tmp_path / "scorpus"))

    stream = (
        spark.readStream.schema("doc_id LONG, text STRING")
        .parquet(str(src))
    )
    q = corpus.attach_stream(stream, checkpoint=str(tmp_path / "ckpt"))
    try:
        _df(spark, BATCH1).write.mode("append").parquet(str(src))
        q.processAllAvailable()
        _df(spark, BATCH2).write.mode("append").parquet(str(src))
        q.processAllAvailable()
    finally:
        q.stop()

    docs = spark.read.parquet(corpus.docs_path)
    assert docs.count() == len(BATCH1) + len(BATCH2)
    ts = {r.term: r.df for r in corpus.term_stats().collect()}
    assert ts["gamma"] == 3 and ts["zeta"] == 1


def test_windowed_event_counts_streaming(spark, tmp_path):
    src = tmp_path / "ev_src"
    src.mkdir()
    rows = [
        ("2026-01-01 10:05:00", "click", 1.0),
        ("2026-01-01 10:45:00", "click", 2.0),
        ("2026-01-01 11:05:00", "view", 3.0),
    ]
    df = spark.createDataFrame(rows, "ts_s STRING, event_type STRING, value DOUBLE").select(
        F.to_timestamp("ts_s").alias("ts"), "event_type", "value"
    )
    df.write.mode("append").parquet(str(src))

    stream = spark.readStream.schema("ts TIMESTAMP, event_type STRING, value DOUBLE").parquet(str(src))
    out = windowed_event_counts(stream, window="1 hour", watermark="2 hours")
    q = (
        out.writeStream.format("memory")
        .queryName("wincounts")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ev_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.window_start, r.event_type): (r.n, r.total)
            for r in spark.sql("SELECT * FROM wincounts").collect()
        }
    finally:
        q.stop()
    assert got[("2026-01-01 10:00:00", "click")] == (2, 3.0)
    assert got[("2026-01-01 11:00:00", "view")] == (1, 3.0)


def test_streaming_exact_dedup(spark, tmp_path):
    from homemade_vector_db_spark.streaming.dedup import dedup_exact_stream

    src = tmp_path / "dd_src"
    src.mkdir()
    rows1 = [(0, "alpha beta", "2026-01-01 10:00:00"),
             (1, "alpha beta", "2026-01-01 10:00:10"),   # dup of 0
             (2, "gamma delta", "2026-01-01 10:00:20")]
    df1 = spark.createDataFrame(rows1, "doc_id LONG, text STRING, ts_s STRING").select(
        "doc_id", "text", F.to_timestamp("ts_s").alias("ts")
    )
    df1.write.mode("append").parquet(str(src))

    stream = spark.readStream.schema("doc_id LONG, text STRING, ts TIMESTAMP").parquet(str(src))
    out = dedup_exact_stream(stream, key_cols=["text"], watermark="1 hour")
    q = (
        out.writeStream.format("memory").queryName("dd_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "dd_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        # second batch: one more dup and one new doc
        rows2 = [(3, "alpha beta", "2026-01-01 10:05:00"),  # dup across batches
                 (4, "epsilon", "2026-01-01 10:06:00")]
        spark.createDataFrame(rows2, "doc_id LONG, text STRING, ts_s STRING").select(
            "doc_id", "text", F.to_timestamp("ts_s").alias("ts")
        ).write.mode("append").parquet(str(src))
        q.processAllAvailable()
        got = sorted(r.doc_id for r in spark.sql("SELECT * FROM dd_out").collect())
    finally:
        q.stop()
    # exactly one of the same-batch dups {0,1} survives (representative is
    # arbitrary within a batch); cross-batch dup 3 is always dropped
    assert len(got) == 3
    assert len({0, 1} & set(got)) == 1
    assert 2 in got and 4 in got and 3 not in got


def _ts_events(spark, rows):
    return spark.createDataFrame(
        rows, "user_id LONG, ts_s STRING"
    ).select("user_id", F.to_timestamp("ts_s").alias("ts"))


def test_session_window_agg_streaming(spark, tmp_path):
    from homemade_vector_db_spark.streaming.sessions import session_window_agg

    src = tmp_path / "sess_src"
    src.mkdir()
    rows1 = [
        (1, "2026-01-01 10:00:00"),
        (1, "2026-01-01 10:10:00"),   # same session (gap 10m < 30m)
        (1, "2026-01-01 11:30:00"),   # new session (gap 80m)
        (2, "2026-01-01 10:00:00"),
    ]
    _ts_events(spark, rows1).write.mode("append").parquet(str(src))

    stream = spark.readStream.schema("user_id LONG, ts TIMESTAMP").parquet(str(src))
    out = session_window_agg(stream, gap="30 minutes", watermark="1 hour")
    q = (
        out.writeStream.format("memory").queryName("sess_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        # advance the watermark far past all sessions so they close
        _ts_events(spark, [(9, "2026-01-02 00:00:00")]).write.mode("append").parquet(str(src))
        q.processAllAvailable()
        got = {
            (r.user_id, str(r.session_start), r.n_events)
            for r in spark.sql("SELECT * FROM sess_out").collect()
        }
    finally:
        q.stop()
    assert (1, "2026-01-01 10:00:00", 2) in got
    assert (1, "2026-01-01 11:30:00", 1) in got
    assert (2, "2026-01-01 10:00:00", 1) in got


def test_sessionize_stateful_streaming(spark, tmp_path):
    from homemade_vector_db_spark.streaming.sessions import sessionize_stateful

    src = tmp_path / "st_src"
    src.mkdir()
    rows1 = [
        (1, "2026-01-01 10:00:00"),
        (1, "2026-01-01 10:10:00"),
        (1, "2026-01-01 11:30:00"),   # closes session 1 in-batch (gap 80m)
    ]
    _ts_events(spark, rows1).write.mode("append").parquet(str(src))

    stream = spark.readStream.schema("user_id LONG, ts TIMESTAMP").parquet(str(src))
    out = sessionize_stateful(stream, gap_s=1800, watermark="1 hour")
    q = (
        out.writeStream.format("memory").queryName("st_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "st_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        # watermark moves past 11:30 + gap -> timeout closes the open session
        _ts_events(spark, [(9, "2026-01-02 00:00:00")]).write.mode("append").parquet(str(src))
        q.processAllAvailable()
        _ts_events(spark, [(9, "2026-01-03 00:00:00")]).write.mode("append").parquet(str(src))
        q.processAllAvailable()
        got = {
            (r.user_id, str(r.session_start), str(r.session_end), r.n_events)
            for r in spark.sql("SELECT * FROM st_out").collect()
        }
    finally:
        q.stop()
    assert (1, "2026-01-01 10:00:00", "2026-01-01 10:10:00", 2) in got
    assert (1, "2026-01-01 11:30:00", "2026-01-01 11:30:00", 1) in got


def test_stream_stream_join(spark, tmp_path):
    from homemade_vector_db_spark.streaming.joins import clicks_to_purchases_stream

    csrc, psrc = tmp_path / "cl_src", tmp_path / "pu_src"
    csrc.mkdir(); psrc.mkdir()

    def ev(rows):
        return spark.createDataFrame(
            rows, "user_id LONG, event_id LONG, ts_s STRING"
        ).select("user_id", "event_id", F.to_timestamp("ts_s").alias("ts"))

    ev([(1, 10, "2026-01-01 10:00:00"),
        (1, 11, "2026-01-01 10:50:00"),
        (2, 12, "2026-01-01 08:00:00")]).write.mode("append").parquet(str(csrc))
    ev([(1, 20, "2026-01-01 10:55:00"),     # joins clicks 10 (55m) and 11 (5m)? 10 is 55m <= 1h yes
        (2, 21, "2026-01-01 09:30:00")]).write.mode("append").parquet(str(psrc))  # click 12 is 90m before -> out of range

    schema = "user_id LONG, event_id LONG, ts TIMESTAMP"
    clicks = spark.readStream.schema(schema).parquet(str(csrc))
    purchases = spark.readStream.schema(schema).parquet(str(psrc))
    out = clicks_to_purchases_stream(clicks, purchases, within="1 hour", watermark="2 hours")
    q = (
        out.writeStream.format("memory").queryName("ssj_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ssj_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = {(r.purchase_id, r.click_id) for r in spark.sql("SELECT * FROM ssj_out").collect()}
    finally:
        q.stop()
    assert got == {(20, 10), (20, 11)}


def test_sliding_window_counts_streaming(spark, tmp_path):
    src = tmp_path / "ev_src_slide"
    src.mkdir()
    rows = [
        ("2026-01-01 10:05:00", "click", 1.0),
        ("2026-01-01 10:45:00", "click", 2.0),
    ]
    df = spark.createDataFrame(
        rows, "ts_s STRING, event_type STRING, value DOUBLE"
    ).select(F.to_timestamp("ts_s").alias("ts"), "event_type", "value")
    df.write.mode("append").parquet(str(src))

    stream = spark.readStream.schema(
        "ts TIMESTAMP, event_type STRING, value DOUBLE"
    ).parquet(str(src))
    out = windowed_event_counts(
        stream, window="1 hour", watermark="2 hours", slide="30 minutes"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("slidecounts")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ev_slide_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.window_start, r.event_type): (r.n, r.total)
            for r in spark.sql("SELECT * FROM slidecounts").collect()
        }
    finally:
        q.stop()
    # 10:05 → windows [09:30,10:30) and [10:00,11:00); 10:45 → [10:30,11:30)
    # and [10:00,11:00): the [10:00,11:00) window sees both events.
    assert got[("2026-01-01 09:30:00", "click")] == (1, 1.0)
    assert got[("2026-01-01 10:00:00", "click")] == (2, 3.0)
    assert got[("2026-01-01 10:30:00", "click")] == (1, 2.0)


def test_compact_batched_state_preserves_stats(spark, tmp_path):
    """Folding per-batch state dirs into one must not change any derived
    relation, and ingest must keep working afterwards."""
    import os

    corpus = IncrementalCorpus(spark, str(tmp_path / "corpus"))
    corpus.ingest_batch(_df(spark, BATCH1), 0)
    corpus.ingest_batch(_df(spark, BATCH2), 1)
    before_ts = sorted((r.term, r.df) for r in corpus.term_stats().collect())
    before_c = corpus.corpus_stats().first()

    corpus.compact()
    dirs = [d for d in os.listdir(corpus.postings_path) if d.startswith("batch=")]
    assert dirs == ["batch=compacted"]
    assert sorted(
        (r.term, r.df) for r in corpus.term_stats().collect()
    ) == before_ts
    after_c = corpus.corpus_stats().first()
    assert (after_c.N, after_c.avgdl) == (before_c.N, before_c.avgdl)

    # ingest continues post-compaction, ids/stats still correct
    corpus.ingest_batch(
        _df(spark, [(6, "omega alpha")]), 2
    )
    ts = {r.term: r.df for r in corpus.term_stats().collect()}
    assert ts["omega"] == 1 and ts["alpha"] == 3
    assert corpus.corpus_stats().first().N == len(BATCH1) + len(BATCH2) + 1


def test_compact_vector_index_keeps_cluster_pruning(spark, tmp_path):
    import os

    from homemade_vector_db_spark.sources.tables import load_embeddings
    from homemade_vector_db_spark.streaming.ingest import IncrementalVectorIndex
    from tests.conftest import SF_SMOKE

    embs = load_embeddings(spark, SF_SMOKE)
    ivi = IncrementalVectorIndex.bootstrap(
        embs.where("vec_id < 100"), str(tmp_path / "vidx"), nlist=8
    )
    ivi.ingest_batch(embs.where("vec_id >= 100 AND vec_id < 140"), 0)
    target = embs.where("vec_id = 120").first()
    before = [r.vec_id for r in ivi.search(list(target.embedding), k=3, nprobe=8).collect()]

    ivi.compact()
    root = tmp_path / "vidx" / "assignments"
    assert [d.name for d in root.iterdir() if d.is_dir()] == ["batch=compacted"]
    assert any(
        c.name.startswith("cluster=")
        for c in (root / "batch=compacted").iterdir()
        if c.is_dir()
    )
    after = [r.vec_id for r in ivi.search(list(target.embedding), k=3, nprobe=8).collect()]
    assert after == before


def test_streaming_neardup_gate(spark, tmp_path):
    """IncrementalNearDup: near-identical docs arriving later are dropped
    against band-bucket state; fresh docs and unshingleable (short) docs
    pass; replays are idempotent."""
    from homemade_vector_db_spark.streaming.dedup import IncrementalNearDup

    base = "the quick brown fox jumps over the lazy dog again and again " * 5
    other = "completely different content about spark shuffles and joins " * 5
    nd = IncrementalNearDup(spark, str(tmp_path / "nd"))

    b1 = spark.createDataFrame(
        [(0, base), (1, other), (2, "too short")],
        "doc_id LONG, text STRING",
    )
    nd.ingest_batch(b1, 0)
    assert {r.doc_id for r in nd.kept().collect()} == {0, 1, 2}

    # batch 2: exact repeat of doc 0, near-dup of doc 1 (one word changed),
    # and a genuinely new doc
    near = other.replace("shuffles", "exchanges", 1)
    b2 = spark.createDataFrame(
        [(10, base), (11, near), (12, "fresh unrelated text about parquet row groups and pruning " * 5)],
        "doc_id LONG, text STRING",
    )
    nd.ingest_batch(b2, 1)
    kept = {r.doc_id for r in nd.kept().collect()}
    assert 10 not in kept  # exact repeat dropped
    assert 11 not in kept  # near-dup dropped (high jaccard, band collision)
    assert 12 in kept

    # replay of batch 1 (at-least-once): state unchanged
    before = {(r.doc_id) for r in nd.kept().collect()}
    nd.ingest_batch(b2, 1)
    assert {(r.doc_id) for r in nd.kept().collect()} == before


def test_streaming_neardup_within_batch_winner(spark, tmp_path):
    """Within one batch the lowest doc_id among colliding docs survives."""
    from homemade_vector_db_spark.streaming.dedup import IncrementalNearDup

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    nd = IncrementalNearDup(spark, str(tmp_path / "nd2"))
    b = spark.createDataFrame(
        [(5, text), (3, text), (9, text)], "doc_id LONG, text STRING"
    )
    nd.ingest_batch(b, 0)
    assert {r.doc_id for r in nd.kept().collect()} == {3}


def test_streaming_neardup_unreadable_state_raises(spark, tmp_path):
    """Band-bucket state that exists but cannot be read must fail the
    batch, not pass as "no state yet": that reading would admit an exact
    duplicate of a kept doc."""
    from homemade_vector_db_spark.streaming.dedup import IncrementalNearDup

    text = "the quick brown fox jumps over the lazy dog again and again " * 5
    nd = IncrementalNearDup(spark, str(tmp_path / "nd_bad"))
    nd.ingest_batch(
        spark.createDataFrame([(1, text)], "doc_id LONG, text STRING"), 0
    )
    parts = list((tmp_path / "nd_bad" / "band_buckets").rglob("*.parquet"))
    assert parts
    for p in parts:
        p.write_bytes(b"not a parquet file")
    dup = spark.createDataFrame([(2, text)], "doc_id LONG, text STRING")
    with pytest.raises(Exception):
        nd.ingest_batch(dup, 1)


def test_streaming_neardup_on_stream(spark, tmp_path):
    """End-to-end through a real readStream + foreachBatch."""
    from homemade_vector_db_spark.streaming.dedup import IncrementalNearDup

    src = tmp_path / "nd_src"
    src.mkdir()
    nd = IncrementalNearDup(spark, str(tmp_path / "nd3"))
    stream = spark.readStream.schema("doc_id LONG, text STRING").parquet(str(src))
    q = nd.attach_stream(stream, checkpoint=str(tmp_path / "nd_ckpt"))
    doc = "structured streaming keeps incremental state across batches " * 5
    try:
        spark.createDataFrame([(0, doc)], "doc_id LONG, text STRING").write.mode(
            "append"
        ).parquet(str(src))
        q.processAllAvailable()
        spark.createDataFrame(
            [(1, doc), (2, "novel text with nothing shared at all " * 5)],
            "doc_id LONG, text STRING",
        ).write.mode("append").parquet(str(src))
        q.processAllAvailable()
    finally:
        q.stop()
    assert {r.doc_id for r in nd.kept().collect()} == {0, 2}


def test_streaming_vector_ingest_incremental_ivf(spark, tmp_path):
    from homemade_vector_db_spark.sources.tables import load_embeddings
    from homemade_vector_db_spark.streaming.ingest import IncrementalVectorIndex
    from tests.conftest import SF_SMOKE

    embs = load_embeddings(spark, SF_SMOKE)
    seed = embs.where("vec_id < 100")
    late = embs.where("vec_id >= 100 AND vec_id < 140")

    ivi = IncrementalVectorIndex.bootstrap(seed, str(tmp_path / "vidx"), nlist=8)
    src = tmp_path / "vec_src"
    src.mkdir()
    stream = spark.readStream.schema(
        "vec_id LONG, embedding ARRAY<FLOAT>, label LONG"
    ).parquet(str(src))
    q = ivi.attach_stream(stream, checkpoint=str(tmp_path / "vckpt"))
    try:
        late.write.mode("append").parquet(str(src))
        q.processAllAvailable()
    finally:
        q.stop()

    idx = ivi.index()
    assert idx.assignments.count() == 140
    # cluster-partitioned layout on disk (nested under per-batch dirs for
    # replay idempotency) → nprobe probes prune partitions
    batch_dirs = [
        p for p in (tmp_path / "vidx" / "assignments").iterdir() if p.is_dir()
    ]
    assert any(p.name.startswith("batch=") for p in batch_dirs)
    assert any(
        c.name.startswith("cluster=")
        for b in batch_dirs
        for c in b.iterdir()
        if c.is_dir()
    )
    # a streamed-in vector is findable
    target = late.orderBy("vec_id").first()
    hits = ivi.search(list(target.embedding), k=1, nprobe=8).collect()
    assert hits and hits[0].vec_id == target.vec_id


def test_streaming_clean_filter_scrubs_and_drops(spark, tmp_path):
    from homemade_vector_db_spark.streaming.filters import (
        attach_clean_stream,
        clean_docs,
    )

    rows = [
        (0, "write to admin@corp.example or ping 10.1.2.3 for access"),
        (1, "spam spam spam spam spam spam spam spam spam one"),  # degenerate
        (2, "ok"),  # too short
        (3, "a perfectly ordinary sentence about spark joins"),
    ]
    src = tmp_path / "clean_src"
    src.mkdir()
    out = str(tmp_path / "clean_out")
    stream = spark.readStream.schema("doc_id LONG, text STRING").parquet(str(src))
    q = attach_clean_stream(stream, out, str(tmp_path / "clean_ckpt"))
    try:
        spark.createDataFrame(rows, ["doc_id", "text"]).write.mode(
            "append"
        ).parquet(str(src))
        q.processAllAvailable()
    finally:
        q.stop()

    got = {r.doc_id: r for r in spark.read.parquet(out).collect()}
    assert set(got) == {0, 3}  # degenerate + too-short dropped
    assert "admin@corp.example" not in got[0].text
    assert "10.1.2.3" not in got[0].text
    assert got[0].text.count("[PII]") == 2
    assert got[3].text == rows[3][1]
    # streaming result == batch result of the same transform
    batch = clean_docs(spark.createDataFrame(rows, ["doc_id", "text"]))
    assert {r.doc_id: r.text for r in batch.collect()} == {
        k: v.text for k, v in got.items()
    }


def test_decontam_gate_batch_semantics(spark, tmp_path):
    from homemade_vector_db_spark.streaming.filters import (
        DecontamGate,
        benchmark_shingles,
        decontaminate,
    )

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id LONG, text STRING",
    )
    bsh = benchmark_shingles(bench, n=5)
    docs = spark.createDataFrame(
        [
            (0, "totally clean text about spark and parquet files here"),
            (1, "prefix quick brown fox jumps over suffix words"),  # leaks a 5-gram
            (2, "tiny doc"),  # too short to shingle: passes
        ],
        "doc_id LONG, text STRING",
    )
    kept = decontaminate(docs, bsh)
    assert sorted(r.doc_id for r in kept.collect()) == [0, 2]

    gate = DecontamGate(spark, str(tmp_path / "dc"), bsh)
    gate.ingest_batch(docs, 0)
    assert sorted(r.doc_id for r in gate.kept().collect()) == [0, 2]
    # replay idempotency: re-running the same batch must not duplicate
    gate.ingest_batch(docs, 0)
    assert sorted(r.doc_id for r in gate.kept().collect()) == [0, 2]


def test_decontam_gate_on_stream(spark, tmp_path):
    from homemade_vector_db_spark.streaming.filters import (
        DecontamGate,
        benchmark_shingles,
    )

    bench = spark.createDataFrame(
        [(100, "one two three four five six seven")], "doc_id LONG, text STRING"
    )
    bsh = benchmark_shingles(bench, n=5)
    src = tmp_path / "src"
    spark.createDataFrame(
        [
            (0, "clean document with no benchmark overlap at all indeed"),
            (1, "xx one two three four five yy"),  # contaminated
        ],
        "doc_id LONG, text STRING",
    ).write.parquet(str(src))
    stream = spark.readStream.schema("doc_id LONG, text STRING").parquet(str(src))
    gate = DecontamGate(spark, str(tmp_path / "dcs"), bsh)
    q = gate.attach_stream(stream, checkpoint=str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert [r.doc_id for r in gate.kept().collect()] == [0]


def test_transform_with_state_running_totals(spark, tmp_path):
    """Spark-4 transformWithState runtime needs protobuf for its state
    server; absent in this container (documented gate in
    streaming/stateful.py) — the test runs wherever the dependency
    exists."""
    pytest.importorskip("google.protobuf")
    from homemade_vector_db_spark.streaming.stateful import (
        user_running_totals_stream,
    )

    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame(
        [(1, 10.0), (1, 5.0), (2, 1.0)], "user_id LONG, value DOUBLE"
    ).write.mode("append").parquet(str(src))
    stream = spark.readStream.schema("user_id LONG, value DOUBLE").parquet(
        str(src)
    )
    q = (
        user_running_totals_stream(stream)
        .writeStream.format("memory")
        .queryName("tws_totals")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame(
            [(1, 2.0), (3, 7.0)], "user_id LONG, value DOUBLE"
        ).write.mode("append").parquet(str(src))
        q.processAllAvailable()
    finally:
        q.stop()
    rows = {
        (r.user_id, r.n_events, r.total_value)
        for r in spark.sql(
            "SELECT user_id, n_events, total_value FROM tws_totals"
        ).collect()
    }
    # update mode emits once per touched key per batch; the memory sink
    # accumulates all emissions — assert the cumulative second-batch rows
    assert (1, 3, 17.0) in rows  # state persisted across micro-batches
    assert (3, 1, 7.0) in rows
    assert (2, 1, 1.0) in rows


def test_incremental_scd2_equals_batch(spark, tmp_path):
    """Chunked (3 micro-batches, event-time ordered) SCD2 maintenance must
    reproduce the batch operator's dimension exactly."""
    from tests.conftest import SF_SMOKE
    from homemade_vector_db_spark.queries import q_user_state_scd2, SCD2_MAX_USER
    from homemade_vector_db_spark.sources.tables import load_table
    from homemade_vector_db_spark.streaming.scd2 import IncrementalSCD2

    sf = SF_SMOKE
    ev = (
        load_table(spark, sf, "events")
        .where(F.col("user_id") < SCD2_MAX_USER)
        .select("user_id", "event_type", "ts", "event_id")
        .orderBy("ts", "event_id")
    )
    rows = ev.collect()
    third = len(rows) // 3
    chunks = [rows[:third], rows[third : 2 * third], rows[2 * third :]]
    inc = IncrementalSCD2(str(tmp_path / "scd2"))
    for i, chunk in enumerate(chunks):
        inc.ingest_batch(spark.createDataFrame(chunk, ev.schema), batch_id=i)
    got = [tuple(r) for r in inc.dimension(spark).collect()]
    want = [tuple(r) for r in q_user_state_scd2(spark, sf).collect()]
    assert got == want


def test_incremental_scd2_replay_idempotent(spark, tmp_path):
    from tests.conftest import SF_SMOKE
    from homemade_vector_db_spark.queries import SCD2_MAX_USER
    from homemade_vector_db_spark.sources.tables import load_table
    from homemade_vector_db_spark.streaming.scd2 import IncrementalSCD2

    ev = (
        load_table(spark, SF_SMOKE, "events")
        .where(F.col("user_id") < SCD2_MAX_USER)
        .select("user_id", "event_type", "ts", "event_id")
    )
    inc = IncrementalSCD2(str(tmp_path / "scd2"))
    inc.ingest_batch(ev, batch_id=0)
    once = [tuple(r) for r in inc.dimension(spark).collect()]
    inc.ingest_batch(ev, batch_id=0)  # at-least-once replay
    twice = [tuple(r) for r in inc.dimension(spark).collect()]
    assert once == twice


def test_incremental_scd2_on_stream(spark, tmp_path):
    """End-to-end through readStream + foreachBatch(availableNow)."""
    from tests.conftest import SF_SMOKE
    from homemade_vector_db_spark.queries import SCD2_MAX_USER
    from homemade_vector_db_spark.sources.tables import load_table
    from homemade_vector_db_spark.streaming.scd2 import IncrementalSCD2

    ev = (
        load_table(spark, SF_SMOKE, "events")
        .where(F.col("user_id") < SCD2_MAX_USER)
        .select("user_id", "event_type", "ts", "event_id")
    )
    src = tmp_path / "src"
    ev.write.parquet(str(src))
    stream = spark.readStream.schema(
        "user_id LONG, event_type STRING, ts TIMESTAMP, event_id LONG"
    ).parquet(str(src))
    inc = IncrementalSCD2(str(tmp_path / "scd2"))
    q = inc.attach(stream, checkpoint=str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    dim = inc.dimension(spark)
    direct = IncrementalSCD2(str(tmp_path / "direct"))
    direct.ingest_batch(ev, batch_id=0)
    assert [tuple(r) for r in dim.collect()] == [
        tuple(r) for r in direct.dimension(spark).collect()
    ]


def test_stream_static_enrichment_join(spark, tmp_path):
    """Stream-STATIC join (dimension enrichment inside the streaming
    plan, not foreachBatch): events stream broadcast-joined to a static
    user dimension; the static side re-resolves per micro-batch."""
    src = tmp_path / "ss_src"
    src.mkdir()
    dim = spark.createDataFrame(
        [(0, "gold"), (1, "silver")], "user_id LONG, tier STRING"
    )
    spark.createDataFrame(
        [(0, 10.0), (1, 5.0), (2, 1.0), (0, 2.5)], "user_id LONG, value DOUBLE"
    ).write.mode("append").parquet(str(src))
    stream = spark.readStream.schema("user_id LONG, value DOUBLE").parquet(str(src))
    enriched = stream.join(F.broadcast(dim), "user_id", "left").withColumn(
        "tier", F.coalesce("tier", F.lit("none"))
    )
    q = (
        enriched.writeStream.format("memory").queryName("ss_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ss_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.user_id, r.value): r.tier
            for r in spark.sql("SELECT * FROM ss_out").collect()
        }
    finally:
        q.stop()
    assert got == {
        (0, 10.0): "gold",
        (0, 2.5): "gold",
        (1, 5.0): "silver",
        (2, 1.0): "none",
    }


def test_knn_server_chunked_equals_batch(spark, tmp_path):
    """Streaming k-NN serving: answering queries in two micro-batches
    gives exactly the batch knn_batch result for the union — chunk
    boundaries are invisible (each query is answered independently
    against the full static corpus)."""
    from homemade_vector_db_spark.operators.knn import knn_batch
    from homemade_vector_db_spark.sources.tables import load_embeddings
    from homemade_vector_db_spark.streaming.serving import KnnServer
    from tests.conftest import SF_SMOKE

    embs = load_embeddings(spark, SF_SMOKE).cache()
    qall = embs.where(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    srv = KnnServer(spark, embs, str(tmp_path / "ans"), k=5)
    srv.answer_batch(qall.where(F.col("query_id") < 3), 0)
    srv.answer_batch(qall.where(F.col("query_id") >= 3), 1)
    got = {
        (r.query_id, r.vec_id, r.score, r.rn) for r in srv.answers().collect()
    }
    want = {
        (r.query_id, r.vec_id, r.score, r.rn)
        for r in knn_batch(embs, qall, k=5).collect()
    }
    assert got == want


def test_knn_server_replay_idempotent(spark, tmp_path):
    """At-least-once replay of a micro-batch rewrites its own batch dir
    instead of duplicating answers."""
    from homemade_vector_db_spark.sources.tables import load_embeddings
    from homemade_vector_db_spark.streaming.serving import KnnServer
    from tests.conftest import SF_SMOKE

    embs = load_embeddings(spark, SF_SMOKE).cache()
    q = embs.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    srv = KnnServer(spark, embs, str(tmp_path / "ans"), k=5)
    srv.answer_batch(q, 0)
    before = sorted(
        (r.query_id, r.vec_id, r.rn) for r in srv.answers().collect()
    )
    srv.answer_batch(q, 0)  # replay
    after = sorted(
        (r.query_id, r.vec_id, r.rn) for r in srv.answers().collect()
    )
    assert after == before
    assert len(after) == 5


def test_knn_server_end_to_end_readstream(spark, tmp_path):
    """Real readStream → foreachBatch → answer log."""
    from homemade_vector_db_spark.sources.tables import load_embeddings
    from homemade_vector_db_spark.streaming.serving import KnnServer
    from tests.conftest import SF_SMOKE

    embs = load_embeddings(spark, SF_SMOKE).cache()
    src = tmp_path / "qsrc"
    embs.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    ).write.parquet(str(src))
    stream = spark.readStream.schema(
        "query_id LONG, qv ARRAY<FLOAT>"
    ).parquet(str(src))
    srv = KnnServer(spark, embs, str(tmp_path / "ans"), k=3)
    q = srv.attach_stream(stream, checkpoint=str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    ans = srv.answers()
    assert ans.select("query_id").distinct().count() == 4
    # each query's rank-1 hit is itself (exact self-match)
    top1 = {r.query_id: r.vec_id for r in ans.where(F.col("rn") == 1).collect()}
    assert top1 == {i: i for i in range(4)}


def test_knn_server_ann_drop_in(spark, tmp_path):
    """The serving path with the LSH batch operator swapped in via
    answer_fn: same output shape, self-match still rank-1."""
    from homemade_vector_db_spark.operators import ann
    from homemade_vector_db_spark.sources.tables import load_embeddings
    from homemade_vector_db_spark.streaming.serving import KnnServer
    from tests.conftest import SF_SMOKE

    embs = load_embeddings(spark, SF_SMOKE).cache()
    idx = ann.build_lsh(embs, bucket_length=2.0, num_hash_tables=3)
    srv = KnnServer(
        spark, embs, str(tmp_path / "ans"), k=3,
        answer_fn=lambda corpus, queries, k: ann.lsh_batch_search(
            idx, queries, k=k, max_l2=20.0
        ),
    )
    q = embs.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    srv.answer_batch(q, 0)
    ans = srv.answers()
    assert {"query_id", "vec_id", "score", "rn"} <= set(ans.columns)
    top1 = {r.query_id: r.vec_id for r in ans.where(F.col("rn") == 1).collect()}
    assert top1 == {i: i for i in range(3)}  # exact self-match at dist 0


def test_knn_server_answers_empty_before_any_batch(spark, tmp_path):
    """answers() before any non-empty micro-batch returns an empty frame
    with the answer schema instead of raising PATH_NOT_FOUND (a stream
    that only saw empty triggers is a normal cold start)."""
    from homemade_vector_db_spark.sources.tables import load_embeddings
    from homemade_vector_db_spark.streaming.serving import KnnServer
    from tests.conftest import SF_SMOKE

    embs = load_embeddings(spark, SF_SMOKE)
    srv = KnnServer(spark, embs, str(tmp_path / "ans"), k=3)
    empty = embs.where(F.lit(False)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    srv.answer_batch(empty, 0)  # empty trigger: no batch dir written
    got = srv.answers()
    assert got.count() == 0
    assert {"query_id", "vec_id", "score", "rn", "batch"} <= set(got.columns)


def test_knn_server_cold_start_schema_matches_post_batch(spark, tmp_path):
    """The before-first-batch empty frame must carry the SAME dtypes as
    the parquet-read path after a batch lands (ADVICE r3: hardcoded
    types made the two states union-incompatible)."""
    from homemade_vector_db_spark.sources.tables import load_embeddings
    from homemade_vector_db_spark.streaming.serving import KnnServer
    from tests.conftest import SF_SMOKE

    embs = load_embeddings(spark, SF_SMOKE).cache()
    srv = KnnServer(spark, embs, str(tmp_path / "ans"), k=3)
    cold = srv.answers()
    q = embs.where(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    srv.answer_batch(q, 0)
    warm = srv.answers()
    cold_types = {f.name: f.dataType for f in cold.schema.fields}
    warm_types = {f.name: f.dataType for f in warm.schema.fields}
    assert cold_types == warm_types
    # unionByName across the two states must plan cleanly
    assert cold.unionByName(warm).count() == warm.count()


def test_incremental_bpe_counts_equal_batch_twin(spark, tmp_path):
    """The streamed BPE token counts (postings ⋈ additive vocab, no
    re-tokenize) equal encoding every doc directly with the Python
    encoder — including the zero-token docs reported as 0."""
    from homemade_vector_db_spark.functions.text import (
        bpe_encode,
        load_bpe_merges,
    )

    corpus = IncrementalCorpus(spark, str(tmp_path / "corpus"))
    corpus.ingest_batch(_df(spark, BATCH1), 0)
    corpus.ingest_batch(_df(spark, BATCH2), 1)
    got = {r.doc_id: r.n_bpe_tokens for r in corpus.bpe_token_counts().collect()}
    merges = load_bpe_merges()
    ranks = {m: i for i, m in enumerate(merges)}
    want = {
        did: sum(len(bpe_encode(w, ranks, merges)) for w in text.split())
        for did, text in BATCH1 + BATCH2
    }
    assert got == want
    assert got[4] == 0 and got[5] == 0  # zero-token docs present as 0


def test_incremental_bpe_vocab_replay_idempotent(spark, tmp_path):
    """Replaying a micro-batch rewrites its vocab batch dir; the distinct
    reader view and the derived counts are unchanged."""
    corpus = IncrementalCorpus(spark, str(tmp_path / "corpus"))
    corpus.ingest_batch(_df(spark, BATCH1), 0)
    before_vocab = sorted(
        (r.word, r.n_pieces) for r in corpus.bpe_vocab().collect()
    )
    before = sorted(
        (r.doc_id, r.n_bpe_tokens) for r in corpus.bpe_token_counts().collect()
    )
    corpus.ingest_batch(_df(spark, BATCH1), 0)  # replay
    assert sorted(
        (r.word, r.n_pieces) for r in corpus.bpe_vocab().collect()
    ) == before_vocab
    assert sorted(
        (r.doc_id, r.n_bpe_tokens) for r in corpus.bpe_token_counts().collect()
    ) == before


def test_split_decontam_gate_chunked_equals_batch(spark, tmp_path):
    """Round-7 streaming twin of split_decontam: ingesting the documents
    table in 3 chunks yields the SAME counts/dropped set as the batch
    operator over the whole table — including retroactive drops (an eval
    doc arriving before its train near-copy is disqualified once the
    train copy lands). Replay of a batch is idempotent."""
    from homemade_vector_db_spark import queries as Q
    from homemade_vector_db_spark.streaming.filters import SplitDecontamGate

    from tests.conftest import SF_SMOKE
    docs = Q.load_documents(spark, SF_SMOKE).persist()
    want_counts = [
        tuple(r) for r in Q.split_decontam_counts(docs).collect()
    ]
    want_dropped = sorted(
        tuple(r) for r in Q.split_decontam_dropped(docs).collect()
    )

    gate = SplitDecontamGate(spark, str(tmp_path / "sdg"))
    # descending chunks: later chunks hold the SMALLEST doc_ids, so any
    # train copy with a small id arrives after its eval near-copies
    chunks = [
        docs.where("doc_id % 3 = 2"),
        docs.where("doc_id % 3 = 1"),
        docs.where("doc_id % 3 = 0"),
    ]
    for i, ch in enumerate(chunks):
        gate.ingest_batch(ch, i)
    got_counts = [tuple(r) for r in gate.counts().collect()]
    got_dropped = sorted(tuple(r) for r in gate.dropped_eval().collect())
    assert got_counts == want_counts
    assert got_dropped == want_dropped
    # replay: re-run the middle batch; nothing changes
    gate.ingest_batch(chunks[1], 1)
    assert [tuple(r) for r in gate.counts().collect()] == want_counts
    docs.unpersist()


def test_split_decontam_gate_retroactive_drop(spark, tmp_path):
    """An eval doc ingested BEFORE its train near-copy is kept at first,
    then retroactively dropped when the train copy arrives — the property
    that distinguishes the cross-split gate from the static-benchmark
    DecontamGate."""
    from homemade_vector_db_spark import queries as Q
    from homemade_vector_db_spark.streaming.filters import SplitDecontamGate
    from pyspark.sql import functions as F

    ids = spark.range(0, 400).select(F.col("id").alias("doc_id"))
    b = Q._md5_bucket(F.col("doc_id"), Q.SPLIT_HEX_OFF)
    buckets = {r.doc_id: r.b for r in ids.select("doc_id", b.alias("b")).collect()}
    train_id = next(i for i, v in buckets.items() if v < 90)
    eval_id = next(i for i, v in buckets.items() if v >= 90)
    text = "shared near copy text"
    schema = "doc_id long, text string"
    gate = SplitDecontamGate(spark, str(tmp_path / "retro"))
    gate.ingest_batch(spark.createDataFrame([(eval_id, text)], schema), 0)
    assert [r.doc_id for r in gate.kept_eval().collect()] == [eval_id]
    gate.ingest_batch(
        spark.createDataFrame([(train_id, text.upper() + "!")], schema), 1
    )  # same normalized fingerprint, different surface form
    assert gate.kept_eval().count() == 0
    assert [r.doc_id for r in gate.dropped_eval().collect()] == [eval_id]


def _phash_media_rows(ids):
    """Cluster law from q_image_phash_neardup: clusters of 3 brightness
    variants share a pHash; distinct noise patterns sit >= 12 bits apart."""
    import numpy as np

    from homemade_vector_db_spark.functions import imagecodec as ic

    rows = []
    for did in ids:
        cl, off = did // 3, (did % 3) * 7
        y, x = np.meshgrid(np.arange(32), np.arange(32), indexing="ij")
        img = (
            ((cl * 2654435761 + y * 97 + x * 31) * 40503) % 200 + off
        ).astype(np.uint8)
        rows.append((did, ic.encode_ppm(img)))
    return rows


def test_streaming_phash_dedup_chunked_equals_batch(spark, tmp_path):
    """IncrementalPhashDedup over 3 chunks == the batch law (kept =
    all - id_b side of phash_neardup pairs), regardless of chunking."""
    from homemade_vector_db_spark.operators import multimodal
    from homemade_vector_db_spark.streaming.dedup import IncrementalPhashDedup

    all_rows = _phash_media_rows(range(12))  # 4 clusters x 3 variants
    schema = "media_id long, content binary"
    ph = IncrementalPhashDedup(spark, str(tmp_path / "ph"))
    for lo, hi in ((0, 5), (5, 6), (6, 12)):  # uneven chunks split clusters
        ph.ingest_batch(
            spark.createDataFrame(all_rows[lo:hi], schema), batch_id=lo
        )
    kept_stream = sorted(r.media_id for r in ph.kept().collect())

    full = spark.createDataFrame(all_rows, schema)
    pairs = multimodal.phash_neardup(multimodal.phash_images(full))
    losers = {r.id_b for r in pairs.collect()}
    kept_batch = sorted(i for i in range(12) if i not in losers)
    assert kept_stream == kept_batch == [0, 3, 6, 9]  # cluster heads


def test_streaming_phash_dedup_replay_idempotent(spark, tmp_path):
    from homemade_vector_db_spark.streaming.dedup import IncrementalPhashDedup

    rows = _phash_media_rows(range(6))
    schema = "media_id long, content binary"
    ph = IncrementalPhashDedup(spark, str(tmp_path / "ph2"))
    ph.ingest_batch(spark.createDataFrame(rows[:3], schema), batch_id=0)
    ph.ingest_batch(spark.createDataFrame(rows[3:], schema), batch_id=1)
    before = sorted(r.media_id for r in ph.kept().collect())
    # replay batch 1 (e.g. after a crash between state write and commit)
    ph.ingest_batch(spark.createDataFrame(rows[3:], schema), batch_id=1)
    after = sorted(r.media_id for r in ph.kept().collect())
    assert before == after == [0, 3]


def _video_media_rows(ids):
    import numpy as np

    from homemade_vector_db_spark.functions import avicodec as av
    from homemade_vector_db_spark.functions import jpegcodec as jc

    def grating_jpegs(cl, nf=4, side=32):
        frames = []
        for f in range(nf):
            pid = cl * nf + f
            fx, fy = 1 + pid % 6, 1 + pid // 6
            y, x = np.meshgrid(
                np.arange(side), np.arange(side), indexing="ij"
            )
            img = (
                100.0 + 80.0 * np.sin(2.0 * np.pi * (fx * x + fy * y) / side)
            ).astype(np.uint8)
            frames.append(
                jc.encode_jpeg(np.stack([img] * 3, axis=-1), quality=95)
            )
        return frames

    rows = []
    for i in ids:
        cl, var = i // 3, i % 3
        fr = grating_jpegs(cl)
        if var == 1:
            fr = fr[::-1]
        elif var == 2:
            fr = fr + fr[:2]
        rows.append((i, av.encode_mjpeg_avi(fr, 32, 32)))
    return rows


def test_streaming_video_dedup_chunks_equal_batch(spark, tmp_path):
    """IncrementalVideoDedup over 3 uneven chunks == the batch law
    (kept = all - id_b side of video_neardup pairs)."""
    from homemade_vector_db_spark.operators import multimodal
    from homemade_vector_db_spark.streaming.dedup import IncrementalVideoDedup

    all_rows = _video_media_rows(range(9))  # 3 clusters x 3 edit variants
    schema = "media_id long, content binary"
    vd = IncrementalVideoDedup(spark, str(tmp_path / "vd"), min_jaccard=0.8)
    for lo, hi in ((0, 4), (4, 5), (5, 9)):  # chunks split clusters
        vd.ingest_batch(
            spark.createDataFrame(all_rows[lo:hi], schema), batch_id=lo
        )
    kept_stream = sorted(r.media_id for r in vd.kept().collect())

    full = spark.createDataFrame(all_rows, schema)
    pairs = multimodal.video_neardup(
        multimodal.video_frame_phashes(full), min_jaccard=0.8
    )
    losers = {r.id_b for r in pairs.collect()}
    kept_batch = sorted(i for i in range(9) if i not in losers)
    assert kept_stream == kept_batch == [0, 3, 6]  # cluster heads


def test_streaming_video_dedup_replay_idempotent(spark, tmp_path):
    from homemade_vector_db_spark.streaming.dedup import IncrementalVideoDedup

    rows = _video_media_rows(range(6))
    schema = "media_id long, content binary"
    vd = IncrementalVideoDedup(spark, str(tmp_path / "vd2"), min_jaccard=0.8)
    vd.ingest_batch(spark.createDataFrame(rows[:3], schema), batch_id=0)
    vd.ingest_batch(spark.createDataFrame(rows[3:], schema), batch_id=1)
    before = sorted(r.media_id for r in vd.kept().collect())
    vd.ingest_batch(spark.createDataFrame(rows[3:], schema), batch_id=1)
    after = sorted(r.media_id for r in vd.kept().collect())
    assert before == after == [0, 3]


def test_incremental_pq_index_twin_laws(spark, tmp_path):
    """IncrementalPQIndex: per-batch codes under the FIXED geometry equal
    pq.ivfpq_add's codes for the same rows (twin law); replayed batches
    overwrite their own dir (idempotency); search reranks exactly."""
    from homemade_vector_db_spark.operators import pq
    from homemade_vector_db_spark.sources.tables import load_embeddings
    from homemade_vector_db_spark.streaming.ingest import IncrementalPQIndex
    from tests.conftest import SF_SMOKE

    embs = load_embeddings(spark, SF_SMOKE).cache()
    seed = embs.where("vec_id < 100")
    late = embs.where("vec_id >= 100 AND vec_id < 140")
    ipq = IncrementalPQIndex.bootstrap(
        seed, str(tmp_path / "pqidx"), nlist=8, m=8, codebook_size=16
    )
    ipq.ingest_batch(late, 0)

    # twin law: the full streamed state (seed dir + batch dir, through
    # the partitioned parquet roundtrip) equals the batch-mode operator
    # merge ivfpq_add(seed_index, late) row for row
    seed_codes = spark.read.parquet(str(tmp_path / "pqidx/codes/batch=seed"))
    merged = pq.ivfpq_add(ipq._index(seed_codes), late)
    want = {
        (r.vec_id, tuple(r.codes), r.cluster)
        for r in merged.codes.collect()
    }
    got = {
        (r.vec_id, tuple(r.codes), r.cluster)
        for r in ipq.index().codes.collect()
    }
    assert got == want and len(got) == 140

    # replay idempotency: re-delivering batch 0 leaves one copy
    ipq.ingest_batch(late, 0)
    assert ipq.index().codes.count() == 140

    # search: exact rerank against the caller's vector table — an exact
    # self-match must surface with score 1.0 under a full probe
    target = embs.where("vec_id = 120").first()
    rows = ipq.search(embs, list(target.embedding), k=3, nprobe=8).collect()
    assert rows[0].vec_id == 120 and rows[0].score == 1.0


def test_incremental_opq_index_twin_laws(spark, tmp_path):
    """IncrementalOPQIndex (round 13): per-batch codes under the FROZEN
    rotation + geometry equal opq.rotated_add's codes for the same rows
    (twin law); replayed batches overwrite their own dir (idempotency);
    search reranks exactly in the original frame."""
    from homemade_vector_db_spark.operators import opq
    from homemade_vector_db_spark.sources.tables import load_embeddings
    from homemade_vector_db_spark.streaming.ingest import IncrementalOPQIndex
    from tests.conftest import SF_SMOKE

    embs = load_embeddings(spark, SF_SMOKE).cache()
    seed = embs.where("vec_id < 100")
    late = embs.where("vec_id >= 100 AND vec_id < 140")
    iopq = IncrementalOPQIndex.bootstrap(
        seed, str(tmp_path / "opqidx"), nlist=8, m=8, codebook_size=16
    )
    iopq.ingest_batch(late, 0)

    # twin law: streamed state (seed dir + batch dir, through the
    # partitioned parquet roundtrip) == batch-mode rotated_add merge
    seed_codes = spark.read.parquet(
        str(tmp_path / "opqidx/codes/batch=seed")
    )
    merged = opq.rotated_add(iopq._index(seed_codes), late)
    want = {
        (r.vec_id, tuple(r.codes), r.cluster)
        for r in merged.inner.codes.collect()
    }
    got = {
        (r.vec_id, tuple(r.codes), r.cluster)
        for r in iopq.index().inner.codes.collect()
    }
    assert got == want and len(got) == 140

    # replay idempotency
    iopq.ingest_batch(late, 0)
    assert iopq.index().inner.codes.count() == 140

    # search: exact original-frame rerank — a self-match surfaces at 1.0
    target = embs.where("vec_id = 120").first()
    rows = iopq.search(embs, list(target.embedding), k=3, nprobe=8).collect()
    assert rows[0].vec_id == 120 and rows[0].score == 1.0


def test_incremental_corpus_as_of_snapshot(spark, tmp_path):
    """as_of(b) reproduces the exact state a fresh corpus with only
    batches <= b would hold — the training-reproducibility law — and
    refuses after compact() destroys the per-batch history."""
    import pytest as _pytest

    corpus = IncrementalCorpus(spark, str(tmp_path / "corpus"))
    corpus.ingest_batch(_df(spark, BATCH1), 0)
    only_b1 = IncrementalCorpus(spark, str(tmp_path / "only_b1"))
    only_b1.ingest_batch(_df(spark, BATCH1), 0)
    corpus.ingest_batch(_df(spark, BATCH2), 1)

    snap = corpus.as_of(0)
    assert snap.corpus_stats().first().N == len(BATCH1)
    want = sorted(map(tuple, only_b1.term_stats().collect()))
    got = sorted(map(tuple, snap.term_stats().collect()))
    assert got == want  # identical df AND eps-floored idf at the snapshot
    # the live view still sees everything
    assert corpus.corpus_stats().first().N == len(BATCH1) + len(BATCH2)

    corpus.compact()
    with _pytest.raises(ValueError, match="compact"):
        corpus.as_of(0)
    # a handle taken BEFORE compact must also fail loudly at read time,
    # never return silently-empty state
    with _pytest.raises(ValueError, match="compact"):
        snap.corpus_stats().first()
    # and an empty corpus gives a clear error, not FileNotFoundError
    empty = IncrementalCorpus(spark, str(tmp_path / "nothing"))
    with _pytest.raises(ValueError, match="no ingested batches"):
        empty.as_of(0)


def test_incremental_dup_rate_matches_batch_entry(spark, tmp_path):
    """IncrementalDupRate fed the SAME id-range batches as
    q_dedup_rate_by_batch reproduces its (n_docs, n_cross_dups, dup_rate)
    rows exactly — the streaming/batch twin law."""
    from homemade_vector_db_spark.streaming.dedup import IncrementalDupRate
    import homemade_vector_db_spark.queries as Qm
    from homemade_vector_db_spark.sources.tables import load_documents
    from tests.conftest import SF_SMOKE

    docs = load_documents(spark, SF_SMOKE).select("doc_id", "text")
    mx = docs.agg(F.max("doc_id").alias("m")).collect()[0]["m"]
    want = {
        r.batch: (r.n_docs, r.n_cross_dups, r.dup_rate)
        for r in Qm.q_dedup_rate_by_batch(spark, SF_SMOKE).collect()
    }

    dr = IncrementalDupRate(spark, str(tmp_path / "dr"))
    nb = Qm.DEDUP_BATCHES
    for b in range(nb):
        chunk = docs.where(
            F.expr(f"doc_id * {nb} div ({mx} + 1)") == b
        )
        dr.ingest_batch(chunk, batch_id=b)
    got = {
        r.batch: (r.n_docs, r.n_cross_dups, r.dup_rate)
        for r in dr.stats().collect()
    }
    assert got == want


def test_incremental_dup_rate_replay_idempotent(spark, tmp_path):
    """Replaying a micro-batch (same batch_id) leaves state and stats
    unchanged — the foreachBatch at-least-once contract."""
    from homemade_vector_db_spark.streaming.dedup import IncrementalDupRate

    d1 = spark.createDataFrame(
        [(1, "alpha beta"), (2, "alpha beta"), (3, "gamma")],
        "doc_id long, text string",
    )
    d2 = spark.createDataFrame(
        [(4, "Alpha, beta!"), (5, "delta")], "doc_id long, text string"
    )
    dr = IncrementalDupRate(spark, str(tmp_path / "dr2"))
    dr.ingest_batch(d1, batch_id=0)
    dr.ingest_batch(d2, batch_id=1)
    before = sorted(
        (r.batch, r.n_docs, r.n_cross_dups) for r in dr.stats().collect()
    )
    # batch 1 sees 'Alpha, beta!' normalize into batch 0's 'alpha beta'
    assert before == [(0, 3, 0), (1, 2, 1)]
    dr.ingest_batch(d2, batch_id=1)  # replay
    after = sorted(
        (r.batch, r.n_docs, r.n_cross_dups) for r in dr.stats().collect()
    )
    assert after == before


def test_incremental_attribution_time_chunks_equal_batch(spark, tmp_path):
    """IncrementalAttribution over time-ordered chunks == the batch
    last-touch entry (state carries the backward view across cuts)."""
    from homemade_vector_db_spark.streaming.sessions import (
        IncrementalAttribution,
    )
    import homemade_vector_db_spark.queries as Qm
    from homemade_vector_db_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    ev = load_table(spark, SF_SMOKE, "events")
    want = {
        r.channel: (r.n_purchases, r.revenue_micro)
        for r in Qm.q_attribution_last_touch(spark, SF_SMOKE).collect()
    }
    # three time-ordered chunks split at day boundaries
    bounds = ["2024-01-08", "2024-01-20"]
    at = IncrementalAttribution(spark, str(tmp_path / "attr"))
    at.ingest_batch(ev.where(F.col("ts") < bounds[0]), batch_id=0)
    at.ingest_batch(
        ev.where((F.col("ts") >= bounds[0]) & (F.col("ts") < bounds[1])),
        batch_id=1,
    )
    at.ingest_batch(ev.where(F.col("ts") >= bounds[1]), batch_id=2)
    got = {
        r.channel: (r.n_purchases, r.revenue_micro)
        for r in at.stats().collect()
    }
    assert got == want


def test_incremental_attribution_replay_idempotent(spark, tmp_path):
    """Replaying a micro-batch leaves summed stats unchanged."""
    import datetime as dt

    from homemade_vector_db_spark.streaming.sessions import (
        IncrementalAttribution,
    )

    t = lambda d, h=0: dt.datetime(2024, 1, d, h)
    b0 = spark.createDataFrame(
        [(1, t(1), 1, "click", 0.0, "{}")],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    b1 = spark.createDataFrame(
        [(2, t(2), 1, "purchase", 10.0, "{}"),
         (3, t(2, 1), 2, "purchase", 5.0, "{}")],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    at = IncrementalAttribution(spark, str(tmp_path / "attr2"))
    at.ingest_batch(b0, batch_id=0)
    at.ingest_batch(b1, batch_id=1)
    want = {(r.channel, r.n_purchases, r.revenue_micro)
            for r in at.stats().collect()}
    assert want == {("click", 1, 10_000_000), ("direct", 1, 5_000_000)}
    at.ingest_batch(b1, batch_id=1)  # replay
    got = {(r.channel, r.n_purchases, r.revenue_micro)
           for r in at.stats().collect()}
    assert got == want


def test_incremental_attribution_out_of_order_batch(spark, tmp_path):
    """A batch carrying a touch OLDER than the state's latest touch
    must not steal the attribution (ADVICE r9 #3): the effective touch
    is the (ts, event_id)-max of in-batch and state, so the day-5 view
    in state beats the day-1 click that arrives late in batch 1."""
    import datetime as dt

    from homemade_vector_db_spark.streaming.sessions import (
        IncrementalAttribution,
    )

    t = lambda d, h=0: dt.datetime(2024, 1, d, h)
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )
    b0 = spark.createDataFrame(
        [(1, t(5), 1, "view", 0.0, "{}")], schema
    )
    b1 = spark.createDataFrame(
        [(2, t(1), 1, "click", 0.0, "{}"),  # older than state touch
         (3, t(6), 1, "purchase", 10.0, "{}")],
        schema,
    )
    at = IncrementalAttribution(spark, str(tmp_path / "attr3"))
    at.ingest_batch(b0, batch_id=0)
    at.ingest_batch(b1, batch_id=1)
    got = {(r.channel, r.n_purchases, r.revenue_micro)
           for r in at.stats().collect()}
    assert got == {("view", 1, 10_000_000)}


def test_incremental_attribution_late_purchase(spark, tmp_path):
    """A batch carrying a purchase OLDER than the state's latest touch
    must not be attributed to that future touch (ADVICE r10 #1): the
    batch law only looks backward, so a state touch is eligible only
    if it precedes the purchase in (ts, event_id) order. User 1: the
    day-5 state view is in the future of the day-3 late purchase, but
    the in-batch day-2 click precedes it → click. User 2: no backward
    candidate at all (only the day-5 future view) → direct."""
    import datetime as dt

    from homemade_vector_db_spark.streaming.sessions import (
        IncrementalAttribution,
    )

    t = lambda d, h=0: dt.datetime(2024, 1, d, h)
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )
    b0 = spark.createDataFrame(
        [(10, t(5), 1, "view", 0.0, "{}"),
         (11, t(5), 2, "view", 0.0, "{}")],
        schema,
    )
    b1 = spark.createDataFrame(
        [(12, t(2), 1, "click", 0.0, "{}"),
         (13, t(3), 1, "purchase", 10.0, "{}"),
         (14, t(3), 2, "purchase", 5.0, "{}")],
        schema,
    )
    at = IncrementalAttribution(spark, str(tmp_path / "attr4"))
    at.ingest_batch(b0, batch_id=0)
    at.ingest_batch(b1, batch_id=1)
    got = {(r.channel, r.n_purchases, r.revenue_micro)
           for r in at.stats().collect()}
    assert got == {("click", 1, 10_000_000), ("direct", 1, 5_000_000)}


def test_incremental_novelty_matches_batch_entry(spark, tmp_path):
    """IncrementalNovelty fed the SAME id-range batches as
    q_ngram_novelty_curve reproduces its (n_shingles, n_novel,
    novelty_rate) rows exactly — the streaming/batch twin law."""
    from homemade_vector_db_spark.streaming.dedup import IncrementalNovelty
    import homemade_vector_db_spark.queries as Qm
    from homemade_vector_db_spark.sources.tables import load_documents
    from tests.conftest import SF_SMOKE

    docs = load_documents(spark, SF_SMOKE).select("doc_id", "text")
    mx = docs.agg(F.max("doc_id").alias("m")).collect()[0]["m"]
    want = {
        r.batch: (r.n_shingles, r.n_novel, r.novelty_rate)
        for r in Qm.q_ngram_novelty_curve(spark, SF_SMOKE).collect()
    }
    nv = IncrementalNovelty(spark, str(tmp_path / "nv"))
    nb = Qm.DEDUP_BATCHES
    for b in range(nb):
        chunk = docs.where(
            F.expr(f"doc_id * {nb} div ({mx} + 1)") == b
        )
        nv.ingest_batch(chunk, batch_id=b)
    got = {
        r.batch: (r.n_shingles, r.n_novel, r.novelty_rate)
        for r in nv.stats().collect()
    }
    assert got == want


def test_incremental_novelty_replay_idempotent(spark, tmp_path):
    from homemade_vector_db_spark.streaming.dedup import IncrementalNovelty

    d1 = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c")], "doc_id long, text string"
    )
    d2 = spark.createDataFrame(
        [(3, "b c d e"), (4, "x y z")], "doc_id long, text string"
    )
    nv = IncrementalNovelty(spark, str(tmp_path / "nv2"))
    nv.ingest_batch(d1, batch_id=0)
    nv.ingest_batch(d2, batch_id=1)
    want = sorted(
        (r.batch, r.n_shingles, r.n_novel) for r in nv.stats().collect()
    )
    # d1: shingles {abc,bcd,abc(dup within doc2? no: 'a b c' -> abc)}
    # batch0 distinct = {abc, bcd} both novel; batch1 = {bcd, cde, xyz}
    # novel = {cde, xyz}
    assert want == [(0, 2, 2), (1, 3, 2)]
    nv.ingest_batch(d2, batch_id=1)  # replay
    got = sorted(
        (r.batch, r.n_shingles, r.n_novel) for r in nv.stats().collect()
    )
    assert got == want
