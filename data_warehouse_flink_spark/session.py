"""SparkSession factory with scale-aware defaults.

Local testing runs on ``local[N]`` (one JVM), but every config here is chosen
to also make sense on a large multi-executor cluster: AQE for runtime
re-planning (skew joins, partition coalescing), UTC session timezone for
deterministic event-time windows, Arrow for the Python boundary.

Everything a session remembers between queries (footer schemas, checkpointed
shared intermediates, trained quantizer models, the registry's analyzed
plans) lives in one memo (``memo``), freed by one ``release``. ``stop``
ends a session without leaving the state-store maintenance thread behind.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Hashable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# The memo of the live SparkContext, and the application that filled it.
# One SparkContext lives per process, so entries of a stopped application
# are dead and go at the next call from a new one. Kept at module level,
# not on a session object: PySpark hands out several wrappers for one JVM
# session (getActiveSession(), a foreachBatch frame's sparkSession).
_memo: dict[Hashable, Any] = {}
_memo_app: str | None = None


def _entries(spark: SparkSession) -> dict[Hashable, Any]:
    global _memo_app
    app = spark.sparkContext.applicationId
    if app != _memo_app:
        _memo.clear()
        _memo_app = app
    return _memo


def memo(spark: SparkSession, key: Hashable, build: Callable[[], Any]) -> Any:
    """The value memoized under `key` for `spark`'s application, built by
    `build()` on the first call and after every ``release``.

    The key must name everything the value depends on besides the
    application (table directory, fit variant, data-file signature). A
    frame value must be a ``localCheckpoint``, so ``release`` can free it.
    A memoized frame must not be used after ``release``: its blocks are gone,
    and the next call rebuilds it. Not synchronized: the engine calls it
    from one driver thread at a time (a foreachBatch body runs while the
    starting thread waits on the query).
    """
    entries = _entries(spark)
    if key not in entries:
        entries[key] = build()
    return entries[key]


def release(spark: SparkSession) -> None:
    """Unpersist the checkpointed RDD behind every memoized frame and
    empty the memo. Frames handed out before the call are invalid after
    it; the next ``memo`` call builds a fresh one."""
    entries = _entries(spark)
    for value in entries.values():
        if isinstance(value, DataFrame):
            value._jdf.queryExecution().logical().rdd().unpersist(True)
    entries.clear()


def stop(spark: SparkSession) -> None:
    """Stop the JVM's state-store maintenance task, then `spark`. The task
    outlives ``spark.stop()`` after a stateful stream and logs
    ``RpcEnvStoppedException`` at its next run."""
    spark._jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    spark.stop()


def get_spark(
    app_name: str = "data_warehouse_flink_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    At cluster scale the same settings apply; only ``master`` and memory
    sizing change (supplied by spark-submit, not hard-coded here).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    mem = os.environ.get("SPARK_GRAFT_MEM", "64g")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # local mode = single JVM: driver memory is the only memory knob.
        .config("spark.driver.memory", mem)
        # A long analytics session compiles thousands of whole-stage-codegen
        # classes; the JVM's default 240 MB reserved code cache fills after
        # ~80-90 distinct queries, the JIT silently stops compiling, and
        # late-session queries degrade 4-10x (measured: the same query 1.6 s
        # early in a bench session, 17.8 s at position ~100). A 1 GB code
        # cache removes the cliff on any long-lived driver/executor.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g",
        )
        # Shuffle parallelism ~ cores locally; AQE coalesces small partitions
        # at runtime so an over-estimate is cheap on a real cluster.
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Runtime row-level filtering: inject Bloom filters from selective
        # join sides into the other side's scan (shuffle-volume reducer at
        # scale; no-op when the planner deems it unprofitable).
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # Deterministic event-time semantics; DuckDB timestamps are UTC-naive.
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for all pandas_udf / applyInPandas boundaries.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # Back-compat: early testdata rounds stored events.ts as
        # TIMESTAMP(NANOS), which Spark can only read as an epoch-nano
        # LongType under this conf. Current testdata is timestamp[us] NTZ —
        # io.normalize_time_columns() handles both encodings; the conf just
        # keeps a legacy nanos file from erroring at scan time.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
