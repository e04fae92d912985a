"""Structured Streaming ingest — the scale answer to the reference's
rebuild-the-world `add` (/root/reference/local_db.py:73-75, flagged as a
limitation at README.md:152: full BM25 rebuild per append).

Design: documents arrive on a stream; `foreachBatch` appends the raw rows
to the corpus table AND incrementally maintains the BM25 derived state:

    postings   — append-only per batch (new doc_ids never collide: ids are
                 dense and monotonic), so the batch's postings are simply
                 written out; no read-modify-write.
    term_stats — delta-merged: batch term df counts are added to the
                 running (term, df) table via a groupBy over the union of
                 old stats + batch deltas.
    corpus     — (N, avgdl) from per-batch (n_docs, n_tokens) scalar rows
                 summed at read time — O(1) state per batch, and a doc
                 whose text tokenizes to ZERO tokens still counts in N
                 and avgdl (it has no postings rows, so deriving N from
                 postings would silently drop it — batch parity:
                 operators/bm25.py counts it via doc_len).

Exactly-once: foreachBatch is at-least-once — a failed micro-batch is
REPLAYED with the same batch_id. Every per-batch write therefore goes to
a `batch=<id>`-keyed subdirectory with overwrite mode, so a replay
rewrites the same files instead of appending duplicates; readers glob the
root and drop the partition-discovery `batch` column.

idf depends on global N and avg_idf, so it is NOT materialized here — it's
a cheap column expression over term_stats at query time (one broadcast of
the 1-row corpus stats), which keeps the incremental state additive and
therefore exactly mergeable. At 100 TB the same foreachBatch body works
unchanged against partitioned parquet/Delta tables; each micro-batch
shuffles only its own tokens, never the corpus.

Windowed streaming aggregation (watermark + tumbling window) is exposed in
`windowed_event_counts` — the streaming twin of queries.q_events_hourly.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from homemade_vector_db_spark.functions.text import tokenize


class IncrementalCorpus:
    """Parquet-backed corpus + additive BM25 state, maintained per batch."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.docs_path = os.path.join(root, "documents")
        self.postings_path = os.path.join(root, "postings")
        self.termdf_path = os.path.join(root, "term_df")
        self.corpus_path = os.path.join(root, "corpus_scalars")
        self.bpe_vocab_path = os.path.join(root, "bpe_vocab")
        self._as_of: int | None = None

    def as_of(self, batch_id: int) -> "IncrementalCorpus":
        """Snapshot view: every accessor (docs, postings, term_stats,
        corpus_stats, bm25_stats) reads state as of (≤) `batch_id` — the
        training-reproducibility hook: pin the exact corpus an experiment
        saw and recompute identical BM25 scores later, while ingest keeps
        appending. Zero data copies — the additive batch=<id> partition
        dirs ARE the snapshot history, so the filter is partition pruning
        on the batch key, not a scan. Refuses after compact(): folding
        batches into batch=compacted destroys the per-batch history the
        snapshot law needs (keep the raw dirs where time travel matters —
        retention vs reproducibility is a storage policy decision). The
        guard re-runs on EVERY snapshot read, not just here: a compact()
        racing a live snapshot handle must fail loudly, never return
        silently-empty data."""
        self._check_history(self.docs_path)
        snap = IncrementalCorpus(self.spark, self.root)
        snap._as_of = int(batch_id)
        return snap

    @staticmethod
    def _check_history(root: str) -> None:
        import re

        try:
            dirs = os.listdir(root)
        except FileNotFoundError:
            raise ValueError(
                f"no ingested batches under {root!r}; as_of() needs at "
                "least one batch=<id> dir"
            ) from None
        for d in dirs:
            if d.startswith("batch=") and not re.match(r"batch=\d+$", d):
                raise ValueError(
                    f"as_of() needs the per-batch history; found folded dir "
                    f"{d!r} (compact() ran). Snapshot reads require "
                    "uncompacted batch dirs."
                )

    def _write(self, df: DataFrame, root: str, batch_id: int) -> None:
        # idempotent per batch: replays of the same micro-batch overwrite
        # the same batch=<id> subdir instead of appending duplicates
        df.write.mode("overwrite").parquet(
            os.path.join(root, f"batch={batch_id}")
        )

    def _read(self, root: str) -> DataFrame:
        if self._as_of is not None:
            self._check_history(root)
            return (
                self.spark.read.parquet(root)
                .where(F.col("batch") <= F.lit(self._as_of))
                .drop("batch")
            )
        return self.spark.read.parquet(root).drop("batch")

    def _next_adhoc_id(self) -> int:
        """Key for direct (non-streaming) calls without a batch_id: one past
        the highest existing batch dir, so restarts never overwrite earlier
        ad-hoc batches. Local-path listing — streaming callers always pass
        the checkpointed batch_id and never hit this."""
        import re

        try:
            existing = [
                int(m.group(1))
                for d in os.listdir(self.docs_path)
                if (m := re.match(r"batch=(\d+)$", d))
            ]
            return max(existing) + 1 if existing else 0
        except FileNotFoundError:
            return 0

    # -- batch body (called by foreachBatch or directly for batch appends)
    def ingest_batch(self, batch: DataFrame, batch_id: int | None = None) -> None:
        if batch_id is None:
            batch_id = self._next_adhoc_id()
        batch = batch.select("doc_id", "text").cache()
        self._write(batch, self.docs_path, batch_id)

        # (n_docs, n_tokens) scalars BEFORE the explode: a zero-token doc
        # contributes (1, 0) here but no postings rows below
        lens = batch.select(F.size(tokenize("text")).alias("dl"))
        self._write(
            lens.agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.coalesce(F.sum("dl"), F.lit(0)).alias("n_tokens"),
            ),
            self.corpus_path,
            batch_id,
        )

        toks = batch.select(
            "doc_id", F.size(tokenize("text")).alias("dl"), F.explode(tokenize("text")).alias("term")
        )
        postings = toks.groupBy("doc_id", "term").agg(
            F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl")
        )
        self._write(postings, self.postings_path, batch_id)

        # additive term-df delta; df(term) = sum over appended deltas
        self._write(
            postings.groupBy("term").agg(
                F.countDistinct("doc_id").alias("df_delta")
            ),
            self.termdf_path,
            batch_id,
        )

        # incremental BPE vocabulary: encode only the batch's DISTINCT
        # words (vocab-sized Python via Arrow — never per-token), appended
        # additively. n_pieces is a pure function of (word, merges), so
        # cross-batch duplicates agree and the reader view just dedups —
        # the streaming twin of queries._bpe_word_pieces.
        from homemade_vector_db_spark.functions.text import (
            bpe_encode,
            load_bpe_merges,
        )

        merges = load_bpe_merges()
        ranks = {m: i for i, m in enumerate(merges)}

        def _encode(batches):
            import pandas as pd

            for pdf in batches:
                yield pd.DataFrame(
                    {
                        "word": pdf["term"],
                        "n_pieces": [
                            len(bpe_encode(w, ranks, merges))
                            for w in pdf["term"]
                        ],
                    }
                )

        self._write(
            postings.select("term").distinct().mapInPandas(
                _encode, schema="word string, n_pieces long"
            ),
            self.bpe_vocab_path,
            batch_id,
        )
        batch.unpersist()

    def compact(self, target_file_mb: int = 256) -> None:
        """Fold the per-micro-batch state dirs into one consolidated dir
        per relation (documents/postings/term-df/corpus scalars). Run
        offline — see sources.maintenance.compact_batched_state."""
        from homemade_vector_db_spark.sources.maintenance import (
            compact_batched_state,
        )

        for p in (self.docs_path, self.postings_path, self.termdf_path,
                  self.corpus_path, self.bpe_vocab_path):
            compact_batched_state(self.spark, p, target_file_mb=target_file_mb)

    # -- derived views (query-time, cheap)
    def postings(self) -> DataFrame:
        return self._read(self.postings_path)

    def term_stats(self) -> DataFrame:
        """(term, df, idf) with the BM25Okapi epsilon floor — computed from
        the additive df deltas + one global agg, never a full re-tokenize."""
        from homemade_vector_db_spark.operators.bm25 import EPSILON

        df = (
            self._read(self.termdf_path)
            .groupBy("term")
            .agg(F.sum("df_delta").alias("df"))
        )
        corpus = self.corpus_stats()
        raw = df.crossJoin(F.broadcast(corpus)).withColumn(
            "raw_idf", F.log((F.col("N") - F.col("df") + 0.5) / (F.col("df") + 0.5))
        )
        avg = raw.agg(F.avg("raw_idf").alias("avg_idf"))
        return (
            raw.crossJoin(F.broadcast(avg))
            .withColumn(
                "idf",
                F.when(
                    F.col("raw_idf") < 0, F.lit(EPSILON) * F.col("avg_idf")
                ).otherwise(F.col("raw_idf")),
            )
            .select("term", "df", "idf")
        )

    def corpus_stats(self) -> DataFrame:
        """(N, avgdl) from the per-batch scalar rows — counts every ingested
        doc, including zero-token docs that have no postings rows."""
        return self._read(self.corpus_path).agg(
            F.sum("n_docs").alias("N"),
            (
                F.sum("n_tokens").cast("double") / F.sum("n_docs")
            ).alias("avgdl"),
        )

    def bpe_vocab(self) -> DataFrame:
        """(word, n_pieces) — distinct over the additive per-batch
        writes; duplicates across batches carry identical n_pieces (pure
        function of the vendored merges), so distinct() is exact."""
        return self._read(self.bpe_vocab_path).distinct()

    def bpe_token_counts(self) -> DataFrame:
        """Per-doc BPE token counts derived from state already
        maintained at ingest: Σ tf(word)·n_pieces(word) over the
        postings — no re-tokenization, no text read. A zero-token doc
        has no postings rows and is reported with 0 via the doc_len
        side. Matches the batch twin (queries.q_token_count_bpe) row
        for row."""
        p = self.postings()
        counts = (
            p.join(self.bpe_vocab(), p["term"] == F.col("word"))
            .groupBy("doc_id")
            .agg(
                F.sum(F.col("tf") * F.col("n_pieces")).alias("n_bpe_tokens")
            )
        )
        all_docs = self._read(self.docs_path).select("doc_id")
        return (
            all_docs.join(counts, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("n_bpe_tokens", F.lit(0))
                .cast("long")
                .alias("n_bpe_tokens"),
            )
        )

    def bm25_stats(self):
        """Adapter to the batch scorer's BM25Stats contract."""
        from homemade_vector_db_spark.operators.bm25 import BM25Stats

        p = self.postings()
        return BM25Stats(
            postings=p,
            doc_len=p.groupBy("doc_id").agg(F.first("dl").alias("dl")),
            term_stats=self.term_stats(),
            corpus_stats=self.corpus_stats(),
        )

    # -- streaming wiring
    def attach_stream(self, stream: DataFrame, checkpoint: str | None = None):
        """stream must have (doc_id, text); returns the StreamingQuery."""
        return (
            stream.writeStream.foreachBatch(self.ingest_batch)
            .option(
                "checkpointLocation",
                checkpoint or os.path.join(self.root, "_checkpoint"),
            )
            .outputMode("append")
            .start()
        )


class IncrementalVectorIndex:
    """Streaming ANN ingest — the vector twin of IncrementalCorpus.

    Bootstrap fits the IVF coarse quantizer ONCE on a seed corpus; from
    then on every micro-batch is assigned to the fixed cells
    (`ann.ivf_assign`: vectorized numpy argmin inside mapInPandas, zero
    shuffles) and appended to a `partitionBy(cluster)` parquet table —
    so query-time nprobe cell selection is partition PRUNING on disk.
    Centroid refresh is a policy decision (rebuild when drift crosses a
    threshold), not a per-batch cost — vs the reference retraining inside
    `add` (/root/reference/local_db.py:82-111).
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        centroids: list[list[float]],
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ):
        self.spark = spark
        self.root = root
        self.centroids = centroids
        self.id_col, self.vec_col = id_col, vec_col
        self.assign_path = os.path.join(root, "assignments")

    @classmethod
    def bootstrap(
        cls,
        seed_df: DataFrame,
        root: str,
        nlist: int = 100,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> "IncrementalVectorIndex":
        from homemade_vector_db_spark.operators import ann

        idx = ann.build_ivf(
            seed_df, id_col=id_col, vec_col=vec_col, nlist=nlist, cache=False
        )
        out = cls(seed_df.sparkSession, root, idx.centroids, id_col, vec_col)
        idx.assignments.write.mode("overwrite").partitionBy("cluster").parquet(
            os.path.join(out.assign_path, "batch=seed")
        )
        return out

    def _stub_index(self):
        from homemade_vector_db_spark.operators import ann

        return ann.IVFIndex(None, self.centroids, self.id_col, self.vec_col)

    def ingest_batch(self, batch: DataFrame, batch_id: int | None = None) -> None:
        """Idempotent per micro-batch: foreachBatch is at-least-once, so a
        replayed batch overwrites its own batch=<id> subdir instead of
        appending its vectors twice. Cluster partitioning nests inside the
        batch dir — query-time nprobe pruning on `cluster` still prunes
        across all batch dirs."""
        from homemade_vector_db_spark.operators import ann

        assigned = ann.ivf_assign(self._stub_index(), batch)
        sub = "batch=adhoc" if batch_id is None else f"batch={batch_id}"
        mode = "append" if batch_id is None else "overwrite"
        assigned.write.mode(mode).partitionBy("cluster").parquet(
            os.path.join(self.assign_path, sub)
        )

    def compact(self, target_file_mb: int = 256) -> None:
        """Fold per-batch assignment dirs into one, preserving the
        cluster partitioning (query-time nprobe pruning unchanged)."""
        from homemade_vector_db_spark.sources.maintenance import (
            compact_batched_state,
        )

        compact_batched_state(
            self.spark, self.assign_path,
            partition_by="cluster", target_file_mb=target_file_mb,
        )

    def index(self):
        from homemade_vector_db_spark.operators import ann

        return ann.IVFIndex(
            self.spark.read.parquet(self.assign_path).drop("batch"),
            self.centroids,
            self.id_col,
            self.vec_col,
        )

    def search(self, query, k: int = 10, nprobe: int | None = None) -> DataFrame:
        from homemade_vector_db_spark.operators import ann

        return ann.ivf_search(self.index(), query, k=k, nprobe=nprobe)

    def attach_stream(self, stream: DataFrame, checkpoint: str | None = None):
        """stream must have (id_col, vec_col); returns the StreamingQuery."""
        return (
            stream.writeStream.foreachBatch(self.ingest_batch)
            .option(
                "checkpointLocation",
                checkpoint or os.path.join(self.root, "_vec_checkpoint"),
            )
            .outputMode("append")
            .start()
        )


class IncrementalPQIndex:
    """Streaming IVF-PQ ingest — the compressed sibling of
    IncrementalVectorIndex for the round-9 real 'ivfpq' tier.

    Bootstrap trains the coarse quantizer AND the residual codebooks
    ONCE on a seed corpus (both sample-bounded, O(1) in corpus size);
    from then on every micro-batch is assigned to the FIXED cells and
    its residuals encoded with the FIXED codebooks (`pq.ivfpq_add`'s
    encode path — faiss add-after-train semantics), landing as m-byte
    codes in a `batch=<id>/cluster=<c>` parquet layout. Query-time
    nprobe probes are partition pruning on `cluster` across all batch
    dirs; replayed batches overwrite their own batch dir (at-least-once
    foreachBatch → idempotent state), the IncrementalCorpus law.
    Codebook/centroid refresh is a drift-policy rebuild, never a
    per-batch cost."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        centroids: list[list[float]],
        codebooks: list[list[list[float]]],
        dim: int,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ):
        self.spark = spark
        self.root = root
        self.centroids = centroids
        self.codebooks = codebooks
        self.dim = dim
        self.id_col, self.vec_col = id_col, vec_col
        self.codes_path = os.path.join(root, "codes")

    @classmethod
    def bootstrap(
        cls,
        seed_df: DataFrame,
        root: str,
        nlist: int = 100,
        m: int = 8,
        codebook_size: int = 256,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> "IncrementalPQIndex":
        from homemade_vector_db_spark.operators import ann, pq

        ivf = ann.build_ivf(
            seed_df, id_col=id_col, vec_col=vec_col, nlist=nlist, cache=False
        )
        idx = pq.build_ivfpq(
            ivf, m=m, codebook_size=codebook_size, cache=False
        )
        out = cls(
            seed_df.sparkSession, root, idx.centroids, idx.codebooks,
            idx.dim, id_col, vec_col,
        )
        idx.codes.write.mode("overwrite").partitionBy("cluster").parquet(
            os.path.join(out.codes_path, "batch=seed")
        )
        return out

    def _index(self, codes: DataFrame):
        from homemade_vector_db_spark.operators.pq import IVFPQIndex

        return IVFPQIndex(
            codes, self.codebooks, self.centroids, len(self.codebooks),
            self.dim, self.id_col, self.vec_col,
        )

    def encode_batch(self, batch: DataFrame) -> DataFrame:
        """(id, codes, cluster) for one batch under the FIXED geometry —
        exactly pq.ivfpq_add's encode path (shared
        pq.encode_with_geometry definition), exposed for the twin law."""
        from homemade_vector_db_spark.operators import pq

        return pq.encode_with_geometry(
            batch, self.centroids, self.codebooks, self.dim,
            self.id_col, self.vec_col,
        )

    def ingest_batch(self, batch: DataFrame, batch_id: int | None = None) -> None:
        sub = "batch=adhoc" if batch_id is None else f"batch={batch_id}"
        mode = "append" if batch_id is None else "overwrite"
        self.encode_batch(batch).write.mode(mode).partitionBy(
            "cluster"
        ).parquet(os.path.join(self.codes_path, sub))

    def compact(self, target_file_mb: int = 256) -> None:
        from homemade_vector_db_spark.sources.maintenance import (
            compact_batched_state,
        )

        compact_batched_state(
            self.spark, self.codes_path,
            partition_by="cluster", target_file_mb=target_file_mb,
        )

    def index(self):
        return self._index(
            self.spark.read.parquet(self.codes_path).drop("batch")
        )

    def search(
        self, df: DataFrame, query, k: int = 10, nprobe: int = 4,
        overfetch: int = 4,
    ) -> DataFrame:
        """ADC shortlist over probed cells + exact rerank against the
        caller's vector table (codes never store raw vectors)."""
        from homemade_vector_db_spark.operators import pq, tier

        shortlist = pq.ivfpq_search(
            self.index(), query, k=k * overfetch, nprobe=nprobe,
            score_decimals=None,
        )
        return tier.rerank(shortlist, df, query, k, self.id_col, self.vec_col)

    def attach_stream(self, stream: DataFrame, checkpoint: str | None = None):
        return (
            stream.writeStream.foreachBatch(self.ingest_batch)
            .option(
                "checkpointLocation",
                checkpoint or os.path.join(self.root, "_pq_checkpoint"),
            )
            .outputMode("append")
            .start()
        )


class IncrementalOPQIndex(IncrementalPQIndex):
    """Streaming IVF-OPQ ingest — the rotated subclass of
    IncrementalPQIndex, completing the OPQ tier's lifecycle parity
    (VERDICT r12 Next #2b).

    Everything batch-mechanical is INHERITED (batch-keyed
    `batch=<id>/cluster=<c>` parquet layout, replay-idempotent
    overwrite, compaction, partition-pruned probes, attach_stream);
    the subclass changes exactly what OPQ changes: bootstrap learns the
    rotation + geometry once via opq.build_ivfopq; encode_batch ROTATES
    each micro-batch with the frozen orthogonal matrix (one distributed
    gemv/codegen pass, opq.rotate) before the shared
    pq.encode_with_geometry path — the same single encode definition
    behind opq.rotated_add; search reranks exactly in the ORIGINAL frame
    via tier.rerank. Rotation / codebook refresh stays a
    drift-policy rebuild, never a per-batch cost."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        mean,
        rotation,
        centroids: list[list[float]],
        codebooks: list[list[list[float]]],
        dim: int,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ):
        import numpy as np

        super().__init__(
            spark, root, centroids, codebooks, dim, id_col, vec_col
        )
        self.mean = np.asarray(mean, dtype="float64")
        self.rotation = np.asarray(rotation, dtype="float64")

    @classmethod
    def bootstrap(
        cls,
        seed_df: DataFrame,
        root: str,
        nlist: int = 100,
        m: int = 8,
        codebook_size: int = 256,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> "IncrementalOPQIndex":
        from homemade_vector_db_spark.operators import opq

        idx = opq.build_ivfopq(
            seed_df, id_col=id_col, vec_col=vec_col, nlist=nlist, m=m,
            codebook_size=codebook_size, cache=False,
        )
        out = cls(
            seed_df.sparkSession, root, idx.mean, idx.rotation,
            idx.inner.centroids, idx.inner.codebooks, idx.dim,
            id_col, vec_col,
        )
        idx.inner.codes.write.mode("overwrite").partitionBy("cluster").parquet(
            os.path.join(out.codes_path, "batch=seed")
        )
        return out

    def _index(self, codes: DataFrame):
        from dataclasses import replace

        from homemade_vector_db_spark.operators.opq import Rotated

        inner = replace(super()._index(codes), vec_col="__rot")
        return Rotated(inner, self.mean, self.rotation, self.vec_col)

    def encode_batch(self, batch: DataFrame) -> DataFrame:
        """(id, codes, cluster) for one batch under the FIXED geometry —
        rotate with the frozen OPQ matrix, then exactly rotated_add's
        encode path (shared pq.encode_with_geometry definition)."""
        from homemade_vector_db_spark.operators import opq, pq

        rotated = opq.rotate(
            batch, self.mean, self.rotation, self.id_col, self.vec_col
        )
        return pq.encode_with_geometry(
            rotated, self.centroids, self.codebooks, self.dim,
            self.id_col, "__rot",
        )

    def search(
        self, df: DataFrame, query, k: int = 10, nprobe: int = 4,
        overfetch: int = 4,
    ) -> DataFrame:
        """Rotated-frame ADC shortlist over probed cells + exact rerank
        against the caller's RAW vector table in the original frame."""
        from homemade_vector_db_spark.operators import opq, tier

        shortlist = opq.rotated_search(
            self.index(), query, k=k * overfetch, nprobe=nprobe,
            score_decimals=None,
        )
        return tier.rerank(shortlist, df, query, k, self.id_col, self.vec_col)


def windowed_event_counts(
    events_stream: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    slide: str | None = None,
) -> DataFrame:
    """Streaming windowed aggregation with late-data handling — apply to a
    readStream of the events schema. Default is tumbling (same result
    shape as batch q_events_hourly); pass `slide` for hopping windows
    (twin of q_events_sliding) — state grows by window/slide entries per
    key, still bounded by the watermark horizon."""
    w = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(w.alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 6).alias("total"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "total",
        )
    )
