"""The benchmark workloads. Each is closed loop with one client thread,
builds its inputs from the seed, times only calls into the engine's
public functions, and checks every output against an oracle outside its
timed window."""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd

import data
import oracles
from oracle_sql import ORACLE_SQL
from spans import median

# the facade read kinds, in the order one round of the query mix issues them
FACADE_OPS = ("vector", "text", "filtered", "hybrid", "metadata")
# fixed entry list (the registry keys), in run order
ENTRIES = (
    "dedup_cluster_sample", "neardup_components", "chunk_bm25_topk",
    "minhash_neardup", "knn_join_topk", "regional_supplier_volume",
)
TOP_K = 10


class Outcome:
    """What a workload hands back to the runner."""

    def __init__(self):
        self.setup_s = 0.0
        self.lat: dict[str, list[float]] = {}
        # query_ms averages the medians of these kinds; round_s adds up
        # count x median over the kinds of one round of the workload
        self.query_kinds: tuple[str, ...] = ()
        self.round_kinds: dict[str, int] = {}
        self.attempted = 0
        self.failures: list[str] = []
        self.report: dict[str, tuple[float, str, int]] = {}
        # traced runs only: traced vs untraced wall time, and the op ids of
        # the vector reads after each micro-batch
        self.overhead_frac = 0.0
        self.vector_ops: list[list[int]] = []

    def time(self, kind: str, seconds: float) -> None:
        self.lat.setdefault(kind, []).append(seconds)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(what)


def _ranked_ok(got, want, score_of: dict) -> bool:
    """Scores agree position by position with the oracle's top-k and every
    returned id carries the score the oracle gives it; this accepts any
    order among exactly tied scores."""
    return (len(got) == len(want)
            and all(abs(g[1] - w[1]) <= oracles.TOL for g, w in zip(got, want))
            and oracles.scores_match(got, score_of))


def _terms(rng) -> str:
    return " ".join(rng.choice(data.VOCAB, size=2, replace=False))


def _query_round(rng) -> list[tuple]:
    """Every query type once, in FACADE_OPS order."""
    vec = data.unit_vectors(rng, 3)
    return [
        ("vector", vec[0]),
        ("text", _terms(rng)),
        ("filtered", vec[1], str(rng.choice(data.LANGS))),
        ("hybrid", _terms(rng), vec[2]),
        ("metadata", {"lang": str(rng.choice(data.LANGS)),
                      "source": f"src{int(rng.integers(data.N_SOURCES))}"}),
    ]


def _facade_call(db, spec):
    from pyspark.sql import functions as F

    kind = spec[0]
    if kind == "text":
        return db.query_text(spec[1], top_k=TOP_K, return_scores=True)
    if kind == "vector":
        return db.query_vector(spec[1].tolist(), top_k=TOP_K, return_scores=True)
    if kind == "filtered":
        return db.query_vector(spec[1].tolist(), top_k=TOP_K,
                               pre_filter=F.col("meta")["lang"] == spec[2],
                               return_scores=True)
    if kind == "hybrid":
        return db.hybrid_search(spec[1], spec[2].tolist(), top_k=TOP_K,
                                return_scores=True)
    return db.query_metadata(conditions=spec[1])


def _facade_ok(corpus: oracles.Corpus, spec, got) -> tuple[bool, float | None]:
    """(correct, recall@10 for an approximate vector answer)."""
    kind = spec[0]
    if kind == "metadata":
        return list(got) == corpus.metadata(spec[1]), None
    got = [(int(i), float(s)) for i, s in got]
    if kind == "text":
        s = np.round(corpus.bm25(spec[1]), 6)
        return _ranked_ok(got, corpus.text_topk(spec[1], TOP_K),
                          dict(zip(corpus.ids, s))), None
    if kind == "hybrid":
        return _ranked_ok(got, corpus.hybrid_topk(spec[1], spec[2], TOP_K),
                          corpus.hybrid_scores(spec[1], spec[2])), None
    s = dict(zip(corpus.ids, np.round(corpus.vec_scores(spec[1]), 6)))
    if kind == "filtered":
        mask = np.asarray(corpus.meta["lang"]) == spec[2]
        want = corpus.knn(spec[1], TOP_K, mask)
        return _ranked_ok(got, want, {i: s[i] for i in np.asarray(corpus.ids)[mask]}), None
    # the hnsw tier is approximate: every returned id must carry its exact
    # score, and recall against the exact top-10 must stay usable
    exact = {i for i, _ in corpus.knn(spec[1], TOP_K)}
    recall = len(exact & {i for i, _ in got}) / TOP_K
    ok = (len({i for i, _ in got}) == len(got) == TOP_K
          and oracles.scores_match(got, s) and recall >= 0.5)
    return ok, recall


def _timed_call(ctx, out: Outcome, db, spec, step: int):
    """One facade call as one op; an exception is returned as the answer."""
    with ctx.op(spec[0]):
        t = time.perf_counter()
        try:
            got = _facade_call(db, spec)
        except Exception as e:  # a failed call is a failed op
            got = e
        dt = time.perf_counter() - t
    out.time(spec[0], dt)
    out.time(f"{spec[0]}.{step}", dt)
    if step > 0:
        out.time(f"{spec[0]}.batch", dt)
    return got


def _check_answers(out: Outcome, corpus, answers, recalls: list, where: str) -> None:
    for spec, got in answers:
        ok, recall = (False, None) if isinstance(got, Exception) else \
            _facade_ok(corpus, spec, got)
        if recall is not None:
            recalls.append(recall)
        out.check(ok, f"{spec[0]} {where}: {got!r}"[:200])


def _kept_ids(spark, gate, batch_id: int) -> list[int]:
    path = os.path.join(gate.kept_path, f"batch={batch_id}")
    return sorted(int(r[0]) for r in spark.read.parquet(path).select("doc_id").collect())


# ------------------------------------------------------------------ serve
N_BASE, N_BATCHES, BATCH_DOCS, BATCH_QUERIES, STATIC_ROUNDS = 100, 3, 24, 2, 4


def ingest_serve(ctx) -> Outcome:
    """Writes beside reads on the reference's default tier (hnsw, M=16,
    efC=200, ef=50). The base corpus passes the near-dup gate and the kept
    docs are attached from parquet. First, reads only: STATIC_ROUNDS
    rounds of the interactive query mix. Then, per micro-batch: the gate,
    `add` of the kept docs, and vector queries. Last, save/load. Fixed
    work: nothing here depends on the clock."""
    out = Outcome()
    out.query_kinds = tuple(f"{k}.0" for k in FACADE_OPS)  # the reads-only rounds
    out.round_kinds = {"gate": 1, "add": 1, "vector.batch": BATCH_QUERIES}
    rng = np.random.default_rng([ctx.seed, 2])
    t = time.perf_counter()
    texts, dups = data.doc_texts(rng, N_BASE)
    for _ in range(N_BATCHES):
        bt, bd = data.doc_texts(rng, BATCH_DOCS, dup_frac=0.2, prior=texts)
        texts, dups = texts + bt, dups + bd
    n_all = len(texts)
    vecs = data.unit_vectors(rng, n_all)
    langs = list(rng.choice(data.LANGS, size=n_all, p=data.LANG_P))
    sources = [f"src{i % data.N_SOURCES}" for i in range(n_all)]
    base = pd.DataFrame({
        "doc_id": np.arange(N_BASE, dtype=np.int64), "text": texts[:N_BASE],
        "lang": langs[:N_BASE], "source": sources[:N_BASE]})
    emb = pd.DataFrame({"vec_id": np.arange(N_BASE, dtype=np.int64),
                        "embedding": list(vecs[:N_BASE])})
    data.write_tables(ctx.data_dir, {"documents": base, "embeddings": emb})
    warm = _query_round(rng)
    static = [_query_round(rng) for _ in range(STATIC_ROUNDS)]
    reads = [[("vector", q) for q in data.unit_vectors(rng, BATCH_QUERIES)]
             for _ in range(N_BATCHES)]
    persist_q = data.unit_vectors(rng, 1)[0]
    ctx.bench_s += time.perf_counter() - t

    spark = ctx.start_session()
    from pyspark.sql import functions as F

    from homemade_vector_db_spark import VectorDatabase
    from homemade_vector_db_spark.streaming.dedup import IncrementalNearDup

    # set-up: gate the base corpus, attach the kept docs with their
    # embeddings, and warm every query path (graph index, BM25 stats)
    t = time.perf_counter()
    gate = IncrementalNearDup(spark, os.path.join(ctx.run_dir, "gate"))
    docs = spark.read.parquet(os.path.join(ctx.data_dir, "documents.parquet"))
    gate.ingest_batch(docs, 0)
    kept = _kept_ids(spark, gate, 0)
    embs = spark.read.parquet(os.path.join(ctx.data_dir, "embeddings.parquet"))
    frame = (docs.where(F.col("doc_id").isin(kept))
             .join(embs, F.col("doc_id") == F.col("vec_id"))
             .select("doc_id", "text", "embedding",
                     F.create_map(F.lit("lang"), F.col("lang"),
                                  F.lit("source"), F.col("source")).alias("meta")))
    db = VectorDatabase(spark, data.DIM, index_type="hnsw").attach(frame)
    for spec in warm:
        _facade_call(db, spec)
    out.setup_s = ctx.session_s + (time.perf_counter() - t)
    ctx.mark("setup")

    out.check(kept == [i for i in range(N_BASE) if not dups[i]], "gate batch 0")
    corpus = oracles.Corpus()
    corpus.extend(kept, [texts[k] for k in kept], vecs[kept],
                  {"lang": [langs[k] for k in kept], "source": [sources[k] for k in kept]})
    rec = ctx.rec
    recalls: list[float] = []
    # a traced run traces every other reads-only round and takes the
    # tracing overhead from their wall times
    overhead: dict[bool, list[float]] = {True: [], False: []}
    for i, spec_round in enumerate(static):
        if rec is not None:
            rec.active = i % 2 == 0
        t0 = time.perf_counter()
        answers = [(spec, _timed_call(ctx, out, db, spec, 0)) for spec in spec_round]
        if rec is not None:
            overhead[rec.active].append(time.perf_counter() - t0)
        _check_answers(out, corpus, answers, recalls, "static")
    if rec is not None:
        rec.active = True
    for b in range(1, N_BATCHES + 1):
        ids = list(range(N_BASE + (b - 1) * BATCH_DOCS, N_BASE + b * BATCH_DOCS))
        batch_df = spark.createDataFrame(pd.DataFrame(
            {"doc_id": np.asarray(ids, dtype=np.int64), "text": [texts[i] for i in ids]}))
        t0 = time.perf_counter()
        with ctx.op("gate"):
            gate.ingest_batch(batch_df, b)
        out.time("gate", time.perf_counter() - t0)
        kept = _kept_ids(spark, gate, b)
        t0 = time.perf_counter()
        with ctx.op("add"):
            db.add([texts[k] for k in kept], vecs[kept].tolist(),
                   [{"lang": langs[k], "source": sources[k]} for k in kept])
        out.time("add", time.perf_counter() - t0)
        n_ops = len(rec.ops) if rec is not None else 0
        answers = [(spec, _timed_call(ctx, out, db, spec, b)) for spec in reads[b - 1]]
        if rec is not None:
            out.vector_ops.append([op.sid for op in rec.ops[n_ops:] if op.name == "vector"])
        # checks, outside the timed window, against the corpus as of now;
        # `add` numbers new docs after the largest id it holds
        out.check(kept == [i for i in ids if not dups[i]], f"gate batch {b}: {kept}")
        start = max(corpus.ids) + 1
        corpus.extend(range(start, start + len(kept)), [texts[k] for k in kept],
                      vecs[kept], {"lang": [langs[k] for k in kept],
                                   "source": [sources[k] for k in kept]})
        _check_answers(out, corpus, answers, recalls, f"batch {b}")
    ctx.mark("timed")

    before = db.query_vector(persist_q.tolist(), top_k=TOP_K)
    save_dir = os.path.join(ctx.run_dir, "saved")
    with ctx.op("persist"):
        t = time.perf_counter()
        db.save(save_dir)
        loaded = VectorDatabase.load(spark, save_dir)
        after = loaded.query_vector(persist_q.tolist(), top_k=TOP_K)
        out.time("persist", time.perf_counter() - t)
    out.check(after == before, f"persist: {before} -> {after}")

    out.report["recall_at_10"] = (float(np.mean(recalls)), "frac", len(recalls))
    out.report["gate.state_dirs"] = (float(len([
        d for d in os.listdir(gate.buckets_path) if d.startswith("batch=")])),
        "count", 1)
    for tag, b in (("first", 1), ("last", N_BATCHES)):
        xs = out.lat[f"vector.{b}"]
        out.report[f"vector_p50_{tag}_batch_ms"] = (median(xs) * 1e3, "ms", len(xs))
    if rec is not None:
        rec.active = False
        out.overhead_frac = median(overhead[True]) / median(overhead[False]) - 1.0
    return out


# -------------------------------------------------------------- analytics
MIN_PASSES = 2


def analytics_batch(ctx) -> Outcome:
    """Fixed registry entries, one untimed pre-build pass, then timed
    passes until the run's seconds are spent (at least MIN_PASSES)."""
    out = Outcome()
    out.query_kinds = tuple(f"entry.{name}" for name in ENTRIES)
    out.round_kinds = {k: 1 for k in out.query_kinds}
    rng = np.random.default_rng([ctx.seed, 3])
    t = time.perf_counter()
    tables = data.relational(rng, 1.0)
    tables["documents"] = data.documents(rng, 500)
    tables["embeddings"] = data.embeddings(rng, 500)
    data.write_tables(ctx.data_dir, tables)
    ctx.bench_s += time.perf_counter() - t

    spark = ctx.start_session()
    from homemade_vector_db_spark import queries
    from homemade_vector_db_spark.session import release_transient

    registry = queries.registry()
    fns = {name: registry[name] for name in ENTRIES}
    if ctx.rec is not None:
        fns = ctx.rec.wrap_registry(fns)

    def one_pass(tag: str) -> tuple[float, dict]:
        hashes, total = {}, 0.0
        for name in ENTRIES:
            with ctx.op(f"entry:{name}"):
                t = time.perf_counter()
                try:
                    pdf = fns[name](spark, ctx.data_dir).toPandas()
                except Exception as e:  # a failed call is a failed op
                    pdf = e
                dt = time.perf_counter() - t
            total += dt
            if tag == "timed":
                out.time(f"entry.{name}", dt)
            release_transient()
            hashes[name] = pdf if isinstance(pdf, Exception) else oracles.frame_hash(pdf)
        return total, hashes

    t = time.perf_counter()
    _, prebuild = one_pass("prebuild")
    out.setup_s = ctx.session_s + (time.perf_counter() - t)
    ctx.mark("setup")

    derived = ctx.derived_root
    before = set(os.listdir(derived)) if os.path.isdir(derived) else set()
    rec = ctx.rec
    passes, totals, pass_t, pass_u = [], [], [], []
    t_end = time.perf_counter() + ctx.seconds
    while len(passes) < MIN_PASSES or time.perf_counter() < t_end:
        if rec is not None:
            rec.active = len(passes) % 2 == 0
        total, hashes = one_pass("timed")
        passes.append(hashes)
        totals.append(total)
        if rec is not None:
            (pass_t if rec.active else pass_u).append(total)
    ctx.mark("timed")
    after = set(os.listdir(derived)) if os.path.isdir(derived) else set()
    out.report["pass.derived_builds"] = (
        float(len([d for d in after - before if ".tmp." not in d])), "count", 1)
    out.report["pass_s"] = (median(totals), "s", len(totals))
    for name in ENTRIES:
        xs = out.lat[f"entry.{name}"]
        out.report[f"{name}_ms"] = (median(xs) * 1e3, "ms", len(xs))
    if rec is not None:
        rec.active = False
        out.overhead_frac = median(pass_t) / median(pass_u) - 1.0

    import duckdb

    con = duckdb.connect()
    try:
        for name in tables:
            path = os.path.join(ctx.data_dir, f"{name}.parquet")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
        for name in ENTRIES:
            want = oracles.frame_hash(con.execute(ORACLE_SQL[name]).df())
            for i, hashes in enumerate([prebuild] + passes):
                got = hashes[name]
                out.check(got == want, f"{name} pass {i}: {got!r} != {want}"[:200])
    finally:
        con.close()
    return out
