"""Streaming deduplication — drop repeated documents as they arrive.

Two tiers:

- exact (`dedup_exact_stream`): `dropDuplicatesWithinWatermark` on a
  content hash via Structured Streaming's managed state. State is one
  hash per doc bounded by the watermark horizon — the streaming analogue
  of the batch exact_dedup groupBy, with the same 8-byte-key trick
  (xxhash64 of the dedup key, never the document body, in state).
- near-dup (`IncrementalNearDup`): MinHash band buckets maintained as
  an append-only parquet state table inside foreachBatch — a document
  sharing ANY band bucket with a previously-kept document is dropped on
  arrival (candidate probability 1-(1-j^r)^b, the same banding math as
  the batch minhash_lsh_pairs; a batch verification pass refines
  offline). foreachBatch rather than managed state because the keep/drop
  decision aggregates over a document's b band rows — a chained
  stateful-op pipeline — while a per-batch anti-join against the bucket
  table is one shuffle, replay-idempotent, and leaves the state
  queryable as a plain table. Shuffles carry only (band, bucket, doc_id)
  longs; state grows O(kept docs × bands).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def dedup_exact_stream(
    stream: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Keep one row per key within the watermark horizon.

    Across micro-batches the earliest batch wins (later arrivals are
    dropped against state); within a single micro-batch the surviving
    representative is arbitrary — callers needing a deterministic winner
    should pre-aggregate the batch (min_by) before the sink.
    """
    hashed = stream.withColumn("__key_hash", F.xxhash64(*key_cols))
    return (
        hashed.withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["__key_hash"])
        .drop("__key_hash")
    )


def _has_committed_batch(root: str) -> bool:
    """True when `root` holds a `batch=<id>` dir whose write committed
    (Spark's `_SUCCESS` marker). Local-filesystem paths, like the other
    batch-dir scans in this package."""
    if not os.path.isdir(root):
        return False
    return any(
        d.startswith("batch=")
        and os.path.exists(os.path.join(root, d, "_SUCCESS"))
        for d in os.listdir(root)
    )


class IncrementalNearDup:
    """Streaming near-dup gate: per micro-batch, drop documents whose
    MinHash band buckets collide with state (or with an earlier doc in
    the same batch — min doc_id wins, deterministic), keep the rest and
    append their buckets to state. All writes are per-batch idempotent
    (batch=<id> subdirs with overwrite, same contract as
    ingest.IncrementalCorpus)."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        text_col: str = "text",
        n: int = 3,
        num_hashes: int = 32,
        bands: int = 8,
        seed: int = 42,
    ):
        self.spark = spark
        self.root = root
        self.text_col = text_col
        self.n, self.num_hashes, self.bands, self.seed = n, num_hashes, bands, seed
        self.buckets_path = os.path.join(root, "band_buckets")
        self.kept_path = os.path.join(root, "kept_docs")

    def _state(self, exclude_batch: int) -> DataFrame | None:
        """Band buckets from every batch EXCEPT `exclude_batch`: a replayed
        micro-batch must not collide with the buckets its own previous
        attempt wrote (partition pruning on the batch dir, not a scan).
        None only when no batch has committed state yet; state that exists
        but cannot be read raises — treating it as "first batch" would
        admit duplicates silently."""
        if not _has_committed_batch(self.buckets_path):
            return None  # first batch: no state yet
        return (
            self.spark.read.parquet(self.buckets_path)
            .where(F.col("batch").cast("string") != str(exclude_batch))
            .drop("batch")
        )

    def ingest_batch(self, batch: DataFrame, batch_id: int | None = None) -> None:
        from homemade_vector_db_spark.operators import dedup as bdedup

        if batch_id is None:
            batch_id = 0
        batch = batch.select("doc_id", self.text_col).persist()
        sig = bdedup.minhash_signatures(
            batch, id_col="doc_id", text_col=self.text_col,
            n=self.n, num_hashes=self.num_hashes, seed=self.seed,
        )
        banded = bdedup.band_buckets(sig, self.num_hashes, self.bands).persist()

        seen = self._state(exclude_batch=batch_id)
        if seen is not None:
            prior_hits = (
                banded.join(seen, ["band", "bucket"], "left_semi")
                .select("doc_id")
                .distinct()
            )
            fresh = banded.join(prior_hits, "doc_id", "left_anti")
        else:
            prior_hits = None
            fresh = banded
        # within-batch: per colliding bucket the lowest doc_id survives;
        # a doc loses if ANY of its buckets has a smaller-id holder
        bucket_min = fresh.groupBy("band", "bucket").agg(
            F.min("doc_id").alias("keeper")
        )
        losers = (
            fresh.join(bucket_min, ["band", "bucket"])
            .where(F.col("doc_id") > F.col("keeper"))
            .select("doc_id")
            .distinct()
        )
        kept_banded = fresh.join(losers, "doc_id", "left_anti")

        # kept = batch − dropped, NOT the band-row survivors: a doc too
        # short to shingle has no band rows at all and must pass through
        dropped = losers if prior_hits is None else prior_hits.union(losers)
        kept_docs = batch.join(dropped, "doc_id", "left_anti")
        kept_docs.write.mode("overwrite").parquet(
            os.path.join(self.kept_path, f"batch={batch_id}")
        )
        kept_banded.select("band", "bucket").distinct().write.mode(
            "overwrite"
        ).parquet(os.path.join(self.buckets_path, f"batch={batch_id}"))
        banded.unpersist()
        batch.unpersist()

    def compact(self, target_file_mb: int = 256) -> None:
        """Fold per-batch bucket/kept dirs into one consolidated dir each
        (offline; see sources.maintenance.compact_batched_state)."""
        from homemade_vector_db_spark.sources.maintenance import (
            compact_batched_state,
        )

        for p in (self.buckets_path, self.kept_path):
            compact_batched_state(self.spark, p, target_file_mb=target_file_mb)

    def kept(self) -> DataFrame:
        return self.spark.read.parquet(self.kept_path).drop("batch")

    def attach_stream(self, stream: DataFrame, checkpoint: str | None = None):
        """stream must have (doc_id, text_col); returns the StreamingQuery."""
        return (
            stream.writeStream.foreachBatch(self.ingest_batch)
            .option(
                "checkpointLocation",
                checkpoint or os.path.join(self.root, "_nd_checkpoint"),
            )
            .outputMode("append")
            .start()
        )


class IncrementalPhashDedup:
    """Streaming perceptual-hash image dedup — the media twin of
    IncrementalNearDup, with two deliberate upgrades the 64-bit hash
    makes affordable:

    - EXACT verification: band-bucket collisions only nominate
      candidates; a new image is dropped only when a previously-seen
      SMALLER-id image sits within `max_hamming` bits (JVM
      bit_count(XOR) verify), so there is no candidate over-drop.
    - CHUNK-INVARIANT law: an image is kept iff NO smaller-id image in
      the whole seen universe (kept or dropped) is within the
      threshold. Because the law never depends on whether the earlier
      neighbor itself survived, any partition of the input into
      micro-batches yields exactly the batch result: kept =
      all − {id_b | (id_a, id_b) ∈ phash_neardup(all)}. State
      therefore stores EVERY seen hash's band rows (a long and two
      ints per band), not just the kept ones.

    Writes are per-batch idempotent (batch=<id> subdirs with
    overwrite; a replayed batch excludes its own previous attempt from
    the state read), matching the IncrementalCorpus contract. Shuffles
    carry only (band_idx, band_val, media_id, phash) longs; the heavy
    binary column is consumed once by the Arrow-batched phash scan."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        max_hamming: int = 3,
        n_bands: int = 4,
    ):
        from homemade_vector_db_spark.operators.multimodal import phash_neardup

        if max_hamming >= n_bands:  # same exactness guard as the batch op
            phash_neardup(None, max_hamming=max_hamming, n_bands=n_bands)
        self.spark = spark
        self.root = root
        self.max_hamming, self.n_bands = max_hamming, n_bands
        self.bands_path = os.path.join(root, "phash_bands")
        self.kept_path = os.path.join(root, "kept_media")

    def _band_rows(self, hashes: DataFrame) -> DataFrame:
        width = 64 // self.n_bands
        mask = (1 << width) - 1
        return hashes.select(
            "media_id",
            "phash",
            F.posexplode(
                F.array(
                    *[
                        F.shiftrightunsigned(F.col("phash"), i * width)
                        .bitwiseAND(F.lit(mask))
                        for i in range(self.n_bands)
                    ]
                )
            ).alias("band_idx", "band_val"),
        )

    def _state(self, exclude_batch: int) -> DataFrame | None:
        try:
            return (
                self.spark.read.parquet(self.bands_path)
                .where(F.col("batch").cast("string") != str(exclude_batch))
                .drop("batch")
            )
        except Exception:
            return None  # first batch

    def ingest_batch(self, batch: DataFrame, batch_id: int | None = None) -> None:
        from homemade_vector_db_spark.operators.multimodal import phash_images

        if batch_id is None:
            batch_id = 0
        batch = batch.persist()
        bands = self._band_rows(phash_images(batch)).persist()

        def losers_vs(other: DataFrame) -> DataFrame:
            cand = bands.alias("new").join(
                other.alias("old"),
                on=[
                    F.col("new.band_idx") == F.col("old.band_idx"),
                    F.col("new.band_val") == F.col("old.band_val"),
                    F.col("old.media_id") < F.col("new.media_id"),
                ],
            )
            return (
                cand.where(
                    F.bit_count(
                        F.col("new.phash").bitwiseXOR(F.col("old.phash"))
                    )
                    <= self.max_hamming
                )
                .select(F.col("new.media_id").alias("media_id"))
                .distinct()
            )

        seen = self._state(exclude_batch=batch_id)
        dropped = losers_vs(bands)  # within-batch, smaller id wins
        if seen is not None:
            dropped = dropped.union(losers_vs(seen)).distinct()
        kept = batch.join(dropped, "media_id", "left_anti")
        kept.select("media_id").write.mode("overwrite").parquet(
            os.path.join(self.kept_path, f"batch={batch_id}")
        )
        # ALL seen hashes enter state — chunk invariance needs dropped
        # images' hashes as future comparison anchors too
        bands.write.mode("overwrite").parquet(
            os.path.join(self.bands_path, f"batch={batch_id}")
        )
        bands.unpersist()
        batch.unpersist()

    def kept(self) -> DataFrame:
        return self.spark.read.parquet(self.kept_path).drop("batch")

    def attach_stream(self, stream: DataFrame, checkpoint: str | None = None):
        """stream must have (media_id, content); returns the query."""
        return (
            stream.writeStream.foreachBatch(self.ingest_batch)
            .option(
                "checkpointLocation",
                checkpoint or os.path.join(self.root, "_ph_checkpoint"),
            )
            .outputMode("append")
            .start()
        )


class IncrementalVideoDedup:
    """Streaming video dedup — the set-Jaccard sibling of
    IncrementalPhashDedup for the third modality. A video is kept iff
    NO smaller-id video in the whole seen universe (kept or dropped)
    has Jaccard ≥ `min_jaccard` between their DISTINCT frame-pHash
    sets. The law never depends on whether the earlier neighbor itself
    survived, so any micro-batch partition of the input yields exactly
    the batch result: kept = all − {id_b | (id_a, id_b) ∈
    video_neardup(all frame hashes)} — the chunk-invariance contract
    shared by every streaming dedup twin in this module.

    State stores EVERY seen video's distinct (media_id, phash) rows
    (dropped videos' frames stay as future comparison anchors).
    Candidate pairs come from equality buckets on the frame hash —
    never all-pairs — and per-pair Jaccard uses set sizes recomputed
    from the combined state relation, so a replayed batch (excluded
    from its own state read, batch=<id> overwrite) is idempotent."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        min_jaccard: float = 0.8,
    ):
        self.spark = spark
        self.root = root
        self.min_jaccard = min_jaccard
        self.frames_path = os.path.join(root, "video_frames")
        self.kept_path = os.path.join(root, "kept_videos")

    def _state(self, exclude_batch: int) -> DataFrame | None:
        try:
            return (
                self.spark.read.parquet(self.frames_path)
                .where(F.col("batch").cast("string") != str(exclude_batch))
                .drop("batch")
            )
        except Exception:
            return None  # first batch

    def ingest_batch(self, batch: DataFrame, batch_id: int | None = None) -> None:
        from homemade_vector_db_spark.operators.multimodal import (
            video_frame_phashes,
        )

        if batch_id is None:
            batch_id = 0
        batch = batch.persist()
        sets = (
            video_frame_phashes(batch)
            .select("media_id", "phash")
            .distinct()
            .persist()
        )
        seen = self._state(exclude_batch=batch_id)
        combined = sets if seen is None else sets.unionByName(seen)
        sizes = combined.groupBy("media_id").agg(
            F.count(F.lit(1)).alias("n")
        )
        matches = (
            sets.alias("new")
            .join(
                combined.alias("old"),
                on=[
                    F.col("new.phash") == F.col("old.phash"),
                    F.col("old.media_id") < F.col("new.media_id"),
                ],
            )
            .groupBy(
                F.col("old.media_id").alias("id_a"),
                F.col("new.media_id").alias("id_b"),
            )
            .agg(F.count(F.lit(1)).alias("n_match"))
        )
        dropped = (
            matches.join(
                sizes.select(F.col("media_id").alias("id_a"), F.col("n").alias("na")),
                "id_a",
            )
            .join(
                sizes.select(F.col("media_id").alias("id_b"), F.col("n").alias("nb")),
                "id_b",
            )
            .where(
                F.col("n_match")
                / (F.col("na") + F.col("nb") - F.col("n_match"))
                >= F.lit(self.min_jaccard)
            )
            .select(F.col("id_b").alias("media_id"))
            .distinct()
        )
        kept = batch.join(dropped, "media_id", "left_anti")
        kept.select("media_id").write.mode("overwrite").parquet(
            os.path.join(self.kept_path, f"batch={batch_id}")
        )
        sets.write.mode("overwrite").parquet(
            os.path.join(self.frames_path, f"batch={batch_id}")
        )
        sets.unpersist()
        batch.unpersist()

    def kept(self) -> DataFrame:
        return self.spark.read.parquet(self.kept_path).drop("batch")

    def attach_stream(self, stream: DataFrame, checkpoint: str | None = None):
        """stream must have (media_id, content) MJPEG-AVI rows."""
        return (
            stream.writeStream.foreachBatch(self.ingest_batch)
            .option(
                "checkpointLocation",
                checkpoint or os.path.join(self.root, "_vid_checkpoint"),
            )
            .outputMode("append")
            .start()
        )


class IncrementalDupRate:
    """Streaming ingest-batch dup-rate monitor — the streaming twin of
    queries.q_dedup_rate_by_batch: per micro-batch, how many arriving
    docs are normalization-insensitive duplicates (C4-normalized md5,
    the same nfp law) of a doc seen in an EARLIER batch. The
    marginal-novelty gauge a continuously-ingesting pipeline alarms on.

    State = the distinct nfp set, append-only under batch=<id> subdirs
    (the IncrementalCorpus idempotency contract: a replayed batch
    excludes its own previous attempt from the state read, and both its
    writes are overwrite-by-batch-dir). Per batch the monitor writes
    one stats row (batch, n_docs, n_cross_dups) — dup_rate is derived
    at read time so the stored state stays integer-only. Stats align
    with the batch entry when micro-batches mirror its id-range batch
    split (pinned in test_streaming); state shuffles carry 32-char nfp
    strings, never document text."""

    def __init__(self, spark: SparkSession, root: str, text_col: str = "text"):
        self.spark = spark
        self.root = root
        self.text_col = text_col
        self.nfp_path = os.path.join(root, "seen_nfp")
        self.stats_path = os.path.join(root, "batch_stats")

    @staticmethod
    def _nfp(col: str) -> F.Column:
        return F.md5(
            F.trim(
                F.regexp_replace(
                    F.regexp_replace(F.lower(col), "[^a-z0-9 ]", " "),
                    " +",
                    " ",
                )
            )
        )

    def _seen(self, exclude_batch: int) -> DataFrame | None:
        try:
            return (
                self.spark.read.parquet(self.nfp_path)
                .where(F.col("batch").cast("string") != str(exclude_batch))
                .drop("batch")
            )
        except Exception:
            return None  # first batch

    def ingest_batch(self, batch: DataFrame, batch_id: int | None = None) -> None:
        if batch_id is None:
            batch_id = 0
        nfps = batch.select(self._nfp(self.text_col).alias("nfp")).persist()
        seen = self._seen(exclude_batch=batch_id)
        n_docs = nfps.count()
        if seen is not None:
            n_dups = nfps.join(seen, "nfp", "left_semi").count()
        else:
            n_dups = 0
        # batch id comes back as the partition column at read time —
        # storing it in the file too would collide with discovery
        self.spark.createDataFrame(
            [(n_docs, n_dups)], "n_docs long, n_cross_dups long"
        ).write.mode("overwrite").parquet(
            os.path.join(self.stats_path, f"batch={batch_id}")
        )
        new_nfps = nfps.distinct()
        if seen is not None:
            new_nfps = new_nfps.join(seen, "nfp", "left_anti")
        new_nfps.write.mode("overwrite").parquet(
            os.path.join(self.nfp_path, f"batch={batch_id}")
        )
        nfps.unpersist()

    def stats(self) -> DataFrame:
        return (
            self.spark.read.parquet(self.stats_path)
            .select(
                F.col("batch").cast("long").alias("batch"),
                "n_docs",
                "n_cross_dups",
            )
            .withColumn(
                "dup_rate",
                F.round(F.col("n_cross_dups") / F.col("n_docs"), 6),
            )
        )

    def attach_stream(self, stream: DataFrame, checkpoint: str | None = None):
        return (
            stream.writeStream.foreachBatch(self.ingest_batch)
            .option(
                "checkpointLocation",
                checkpoint or os.path.join(self.root, "_dr_checkpoint"),
            )
            .outputMode("append")
            .start()
        )


class IncrementalNovelty:
    """Streaming n-gram novelty monitor — the streaming twin of
    queries.q_ngram_novelty_curve: per micro-batch, how many DISTINCT
    word 3-gram shingles arrive and what fraction are NOVEL (never
    seen in an earlier batch) — the marginal-novelty decay gauge a
    continuously-ingesting pipeline reads to decide when a source is
    exhausted (the n-gram-level sibling of IncrementalDupRate's
    doc-level dup rate).

    State = the distinct shingle xxhash64 set, append-only under
    batch=<id> subdirs (the IncrementalCorpus idempotency contract:
    a replayed batch excludes its own previous attempt from the state
    read; both writes are overwrite-by-batch-dir). Stats rows stay
    integer-only (batch, n_shingles, n_novel); novelty_rate derives at
    read time. CHUNK LAW: when micro-batches mirror the batch entry's
    id-range split in order, summed stats equal q_ngram_novelty_curve
    exactly — novelty only ever looks backward, and the state set is
    precisely the backward view (pinned in test_streaming). Shuffles
    carry 8-byte shingle hashes, never document text."""

    NGRAM = 3  # queries.NOVELTY_NGRAM twin

    def __init__(self, spark: SparkSession, root: str, text_col: str = "text"):
        self.spark = spark
        self.root = root
        self.text_col = text_col
        self.seen_path = os.path.join(root, "seen_shingles")
        self.stats_path = os.path.join(root, "batch_stats")

    def _shingles(self, batch: DataFrame) -> DataFrame:
        from homemade_vector_db_spark.operators import dedup as _d

        return (
            batch.select(
                F.explode(
                    _d.shingles(self.text_col, self.NGRAM)
                ).alias("s")
            )
            .select(F.xxhash64("s").alias("shingle"))
            .distinct()
        )

    def _seen(self, exclude_batch: int) -> DataFrame | None:
        try:
            return (
                self.spark.read.parquet(self.seen_path)
                .where(F.col("batch").cast("string") != str(exclude_batch))
                .drop("batch")
            )
        except Exception:
            return None  # first batch

    def ingest_batch(self, batch: DataFrame, batch_id: int | None = None) -> None:
        if batch_id is None:
            batch_id = 0
        sh = self._shingles(batch).persist()
        seen = self._seen(exclude_batch=batch_id)
        n_shingles = sh.count()
        if seen is not None:
            novel = sh.join(seen, "shingle", "left_anti").persist()
        else:
            novel = sh
        n_novel = novel.count()
        self.spark.createDataFrame(
            [(n_shingles, n_novel)], "n_shingles long, n_novel long"
        ).write.mode("overwrite").parquet(
            os.path.join(self.stats_path, f"batch={batch_id}")
        )
        novel.write.mode("overwrite").parquet(
            os.path.join(self.seen_path, f"batch={batch_id}")
        )
        # ADVICE r10 #2: unpersist BOTH cached frames — in a
        # long-running stream leaking one cached DataFrame per
        # micro-batch grows executor storage unboundedly (guard the
        # first-batch novel-is-sh aliasing against double-unpersist)
        if novel is not sh:
            novel.unpersist()
        sh.unpersist()

    def stats(self) -> DataFrame:
        return (
            self.spark.read.parquet(self.stats_path)
            .select(
                F.col("batch").cast("long").alias("batch"),
                "n_shingles",
                "n_novel",
            )
            .withColumn(
                "novelty_rate",
                F.round(F.col("n_novel") / F.col("n_shingles"), 6),
            )
        )

    def attach_stream(self, stream: DataFrame, checkpoint: str | None = None):
        return (
            stream.writeStream.foreachBatch(self.ingest_batch)
            .option(
                "checkpointLocation",
                checkpoint or os.path.join(self.root, "_nv_checkpoint"),
            )
            .outputMode("append")
            .start()
        )
