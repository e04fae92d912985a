"""BM25 lexical search — reference `query_text` + BM25Okapi statistics.

Reference (/root/reference/local_db.py:73-75,115-135): whitespace-tokenized
corpus fed to rank_bm25's BM25Okapi with library defaults k1=1.5, b=0.75,
epsilon=0.25; `query_text` whitespace-tokenizes the query, scores ALL docs,
and takes top-k — returning exactly k rows even when scores are 0
(np.argsort slice, local_db.py:130), tie-broken highest-doc_id-first.

BM25Okapi scoring (published rank_bm25 semantics):
    idf_raw(t) = ln((N - df(t) + 0.5) / (df(t) + 0.5))
    idf(t)     = idf_raw(t) if idf_raw(t) >= 0 else epsilon * mean(idf_raw over vocab)
    score(q,d) = Σ_{t∈q} idf(t) · tf(t,d)·(k1+1) / (tf(t,d) + k1·(1 - b + b·dl(d)/avgdl))
(query tokens contribute once per occurrence — duplicates in the query
multiply the term's contribution.)

Spark-first design — the stats are three tiny derived relations, the exact
analogue of the reference's `_bm25` object being derived state:
    postings(doc_id, term, tf)   — one shuffle: groupBy(doc_id, term) with
                                   map-side partial aggregation
    term_stats(term, df, idf)    — groupBy(term), then the epsilon floor via
                                   one broadcast global avg
    corpus_stats(N, avgdl)       — single global agg, broadcast
Scoring a query is then: broadcast the (few) query terms against postings
(broadcast hash join — no shuffle of the corpus), groupBy(doc_id) partial
sum, top-k via TakeOrderedAndProject. At 100 TB the only big shuffle is the
one-time postings build, which is the unavoidable inverted-index
construction; per-query cost is a broadcast-join scan of the postings for
the query's terms only (parquet predicate pushdown on `term` makes this a
tiny fraction of the index when postings are stored term-partitioned).

Unlike the reference, the stats do NOT need a full rebuild per append
(README.md:152) — see streaming/ingest.py for incremental maintenance.
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from homemade_vector_db_spark.functions.text import py_tokenize, tokenize

K1 = 1.5
B = 0.75
EPSILON = 0.25


@dataclass
class BM25Stats:
    """Derived index state (the Spark analogue of local_db.py:38 `_bm25`)."""

    postings: DataFrame  # (doc_id, term, tf)
    doc_len: DataFrame  # (doc_id, dl)
    term_stats: DataFrame  # (term, df, idf)  — idf already epsilon-floored
    corpus_stats: DataFrame  # (N, avgdl) — 1 row
    _scalars: "tuple[float, float] | None" = None  # collected (N, avgdl)

    def cache(self) -> "BM25Stats":
        self.postings.cache()
        self.doc_len.cache()
        self.term_stats.cache()
        self.corpus_stats.cache()
        return self

    def unpersist(self) -> None:
        """Release what `cache` holds (a no-op for uncached relations)."""
        for df in (self.postings, self.doc_len, self.term_stats, self.corpus_stats):
            df.unpersist()

    def scalars(self) -> "tuple[float, float]":
        """(N, avgdl) as Python floats, collected once. Two scalars per
        corpus: inlining them as literals saves a broadcast-exchange job
        per scoring query vs crossJoin(broadcast(corpus_stats))."""
        if self._scalars is None:
            row = self.corpus_stats.first()
            self._scalars = (float(row["N"]), float(row["avgdl"]))
        return self._scalars


def build_bm25_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    persist_tokens: bool = False,
) -> BM25Stats:
    """`persist_tokens` persists the tokenized relation (tracked for
    session.release_transient) so a cold ingest that materializes BOTH
    the postings and the doc_len relations tokenizes the corpus ONCE —
    the second write reuses the cached token arrays instead of
    re-running the full corpus pass (ADVICE r12 item 3)."""
    toks = docs.select(F.col(id_col).alias("doc_id"), tokenize(text_col).alias("tokens"))
    if persist_tokens:
        from homemade_vector_db_spark.session import track_persist

        toks = track_persist(toks)
    # dl rides along through the postings groupBy (constant per doc_id) so
    # scoring never needs a second shuffle join against doc_len.
    postings = (
        toks.select(
            "doc_id", F.size("tokens").alias("dl"), F.explode("tokens").alias("term")
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl"))
    )
    # NOTE: zero-token docs carry no postings row, so stats derived from
    # postings alone would miss them in N/avgdl. The reference counts
    # them (BM25Okapi receives the empty token list, local_db.py:74);
    # doc_len therefore comes from the token relation, not postings.
    doc_len = toks.select("doc_id", F.size("tokens").alias("dl"))
    return stats_from_postings(postings, doc_len=doc_len)


def stats_from_postings(
    postings: DataFrame, doc_len: DataFrame | None = None
) -> BM25Stats:
    """BM25Stats from a (doc_id, term, tf, dl) postings relation — the
    single definition of the idf law (rank_bm25 semantics: raw idf
    ln((N−df+0.5)/(df+0.5)), negatives floored to ε·avg_idf), shared by
    the fresh build above and the disk-materialized ingest path
    (queries._bm25_stats reads the postings parquet and re-derives the
    vocabulary-sized stats relations from it — round 12). `doc_len`
    defaults to the distinct (doc_id, dl) projection of postings; pass
    the token-relation form when zero-token docs must count in
    N/avgdl."""
    if doc_len is None:
        doc_len = postings.select("doc_id", "dl").distinct()
    corpus_stats = doc_len.agg(
        F.count(F.lit(1)).alias("N"), F.avg("dl").alias("avgdl")
    )
    term_df = postings.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    raw = term_df.crossJoin(F.broadcast(corpus_stats)).withColumn(
        "raw_idf",
        F.log((F.col("N") - F.col("df") + 0.5) / (F.col("df") + 0.5)),
    )
    avg_idf = raw.agg(F.avg("raw_idf").alias("avg_idf"))
    term_stats = (
        raw.crossJoin(F.broadcast(avg_idf))
        .withColumn(
            "idf",
            F.when(F.col("raw_idf") < 0, F.lit(EPSILON) * F.col("avg_idf")).otherwise(
                F.col("raw_idf")
            ),
        )
        .select("term", "df", "idf")
    )
    return BM25Stats(postings, doc_len, term_stats, corpus_stats)


def bm25_scores(
    spark: SparkSession, stats: BM25Stats, query: str, k1: float = K1, b: float = B
) -> DataFrame:
    """(doc_id, score) for every doc with ≥1 query term; others implicitly 0."""
    qcounts = Counter(py_tokenize(query))
    if not qcounts:
        raise ValueError("empty query")  # parity: local_db.py raises on no tokens
    # The query side is DRIVER LITERALS end-to-end (round 11): the
    # per-term idf is collected from the cached term_stats (a
    # ≤|query|-row read of a vocabulary-sized cached relation — bounded
    # by the query, never the corpus) and premultiplied with qtf into a
    # literal weight map. The scoring job is then ONE stage over the
    # postings cache — an in-scan IN-list filter + literal-map lookup +
    # partial-sum groupBy — where the previous broadcast-join form paid
    # a broadcast-exchange job per query and hash-joined the full
    # postings scan. Bit-identical scores: the collected idf doubles
    # are the same values the join delivered, and (qtf·idf) was already
    # the left-associated first product in the contribution expression.
    # N/avgdl inlined as literals (stats.scalars).
    _, avgdl = stats.scalars()
    qrows = (
        stats.term_stats.where(F.col("term").isin(list(qcounts)))
        .select("term", "idf")
        .collect()
    )
    if not qrows:
        # no query term in the vocabulary: empty scores relation
        return stats.postings.where(F.lit(False)).select(
            "doc_id", F.lit(0.0).alias("score")
        )
    w_map = F.create_map(
        *[
            F.lit(x)
            for r in qrows
            for x in (r["term"], float(qcounts[r["term"]]) * float(r["idf"]))
        ]
    )
    matched = stats.postings.where(
        F.col("term").isin([r["term"] for r in qrows])
    )
    contrib = (
        w_map[F.col("term")]
        * (F.col("tf") * (k1 + 1))
        / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.lit(avgdl)))
    )
    return matched.groupBy("doc_id").agg(F.sum(contrib).alias("score"))


def bm25_scores_batch(
    stats: BM25Stats,
    queries: DataFrame,
    query_id_col: str = "query_id",
    qtext_col: str = "qtext",
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """(query_id, doc_id, score) for every (query, doc) pair sharing ≥1
    term — the raw-score core shared by query_text_batch and the batched
    hybrid fusion. Query tokenization is distributed (explode + groupBy);
    one idf attach, one postings join on term, one partial-sum groupBy."""
    _, avgdl = stats.scalars()
    qterms = (
        queries.select(
            F.col(query_id_col), F.explode(tokenize(qtext_col)).alias("term")
        )
        .groupBy(query_id_col, "term")
        .agg(F.count(F.lit(1)).alias("qtf"))
        .join(stats.term_stats.select("term", "idf"), "term")
    )
    contrib = (
        F.col("qtf")
        * F.col("idf")
        * (F.col("tf") * (k1 + 1))
        / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.lit(avgdl)))
    )
    return (
        stats.postings.join(qterms, "term")
        .groupBy(query_id_col, "doc_id")
        .agg(F.sum(contrib).alias("score"))
    )


def query_text_batch(
    spark: SparkSession,
    docs: DataFrame,
    queries: DataFrame,
    top_k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    qtext_col: str = "qtext",
    stats: BM25Stats | None = None,
    score_decimals: int | None = 6,
    k1: float = K1,
    b: float = B,
    pad_zero: bool = True,
) -> DataFrame:
    """Batch lexical search: Q text queries × corpus in ONE pass — the
    BM25 twin of knn.knn_batch (eval suites and hybrid pipelines run
    hundreds of queries; per-query jobs pay the fixed cost Q times).

    Plan shape: queries tokenize DISTRIBUTED (explode + groupBy — the
    query side is a DataFrame, never driver literals, so Q is unbounded);
    per-term idf attaches with one join against the vocabulary-sized
    term_stats; ONE postings join on `term` scores every (query, doc)
    pair sharing a term; a (query_id, doc_id) partial-sum groupBy and a
    per-query top-k window (WindowGroupLimit) finish. The only scale
    hazard is term-key skew (stopwords shared by every query); the
    mitigation is the same salted-join escape documented for MinHash
    bands — or dropping ubiquitous terms, whose idf ≈ the epsilon floor
    contributes least.

    `pad_zero=True` reproduces the reference law exactly (top_k rows per
    query even when fewer docs match, zero-score pad, ties highest
    doc_id first — local_db.py:130): rank_bm25 itself scores ALL N docs
    per query, so the queries×docs pad IS reference parity. It
    materializes Q×N rank candidates, so flip it off at corpus scale
    where a query matching < top_k docs is the degenerate case.
    """
    if stats is None:
        stats = build_bm25_stats(docs, id_col, text_col)
    from pyspark.sql.window import Window

    scores = bm25_scores_batch(
        stats, queries, query_id_col=query_id_col, qtext_col=qtext_col,
        k1=k1, b=b,
    )
    if pad_zero:
        all_pairs = queries.select(query_id_col).crossJoin(
            docs.select(F.col(id_col).alias("doc_id"))
        )
        scores = all_pairs.join(scores, [query_id_col, "doc_id"], "left")
    score = F.coalesce(F.col("score"), F.lit(0.0))
    if score_decimals is not None:
        score = F.round(score, score_decimals)
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("score"), F.desc("doc_id")
    )
    return (
        scores.select(query_id_col, "doc_id", score.alias("score"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= top_k)
        .orderBy(query_id_col, "rn")
    )


def query_text(
    spark: SparkSession,
    docs: DataFrame,
    query: str,
    top_k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    stats: BM25Stats | None = None,
    score_decimals: int | None = 6,
) -> DataFrame:
    """Top-k (doc_id, score). Parity: returns exactly top_k rows even for
    zero-score docs (local_db.py:130); ties highest-doc_id-first
    (SURVEY.md §2.3-5)."""
    if stats is None:
        stats = build_bm25_stats(docs, id_col, text_col)
    scores = bm25_scores(spark, stats, query)
    all_docs = docs.select(F.col(id_col).alias("doc_id"))
    score = F.coalesce(F.col("score"), F.lit(0.0))
    if score_decimals is not None:
        score = F.round(score, score_decimals)
    return (
        all_docs.join(scores, "doc_id", "left")
        .select("doc_id", score.alias("score"))
        .orderBy(F.desc("score"), F.desc("doc_id"))
        .limit(top_k)
    )
