"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` but every default here is
chosen to survive a 1000-executor cluster:

- AQE on (runtime shuffle-partition coalescing + skew-join splitting).
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real cluster
  AQE re-derives parallelism from data size, so the static number matters less.
- Arrow enabled so any pandas_udf path is batch-columnar, never per-row.
- Session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle byte-for-byte.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "homemade-vector-db-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # testdata parquet writes TIMESTAMP(NANOS); Spark reads them as
        # BIGINT nanos with this flag, loaders convert to timestamp (µs).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Python DataSource API (sources/generator.py): allow sources to
        # handle their own predicates (off by default in Spark 4)
        .config("spark.sql.python.filterPushdown.enabled", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


# --------------------------------------------------------------------------
# Transient-persist tracking. Several operators persist() an intermediate
# relation that both sides of a downstream self-join/verification read (the
# persist is load-bearing there, not an optimization). The returned result
# is lazy, so the operator itself can never unpersist — but over a long
# sweep (149 registry queries in one session) those blocks accumulate in
# executor storage memory. Spark's unified memory manager evicts them LRU
# under pressure, so this is hygiene rather than an OOM risk; still, sweep
# drivers (scripts/check_correctness.py, scripts/run_all.py, bench.py) call
# release_transient() after consuming each query's result. Long-lived
# session caches (corpus, index state, BM25 stats) are deliberately NOT
# tracked here.

_TRANSIENT: list = []


def track_persist(df):
    """persist() a DataFrame and register it for release_transient()."""
    df = df.persist()
    _TRANSIENT.append(df)
    return df


def release_transient() -> int:
    """Unpersist every tracked transient DataFrame; returns count."""
    n = 0
    while _TRANSIENT:
        df = _TRANSIENT.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass  # session already stopped — nothing to release
    return n


# --------------------------------------------------------------------------
# Materialize-and-supersede. Long-lived state that every mutation derives
# from its predecessor (the facade's corpus, the HNSW graph) is held as an
# eager local checkpoint: one RDD scan stored MEMORY_AND_DISK, so a read's
# plan stays the same size however many mutations came before, and no read
# re-runs the mutation history. A persist() would keep the data but not
# the plan size. Two consequences callers must respect:
# - a local checkpoint has no lineage: blocks lost with an executor cannot
#   be recomputed (the read fails loudly), so this is session state, not
#   durable state — `save` is the durable form;
# - the superseded frame is released for good: reading it afterwards
#   fails with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND.


def materialize(df, supersedes=None):
    """Eagerly local-checkpoint `df`, then release `supersedes` (the frame
    it replaces, which `df` may read). The result reports `is_cached`
    like a persisted frame, so `release` can tell it apart."""
    out = df.localCheckpoint(eager=True)
    out.is_cached = True
    if supersedes is not None:
        release(supersedes)
    return out


def release(df) -> None:
    """Free the executor storage behind a persisted or materialized frame;
    a frame that holds none (a plain parquet read) is left alone."""
    if not df.is_cached:
        return
    df.unpersist()
    plan = df._jdf.queryExecution().logical()
    if plan.getClass().getSimpleName() == "LogicalRDD":
        # a local checkpoint's blocks belong to its RDD, not the cache
        # manager, so unpersist() alone leaves them in storage
        plan.rdd().unpersist(True)
