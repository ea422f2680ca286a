"""Streaming job assembly: the one availableNow runner (SURVEY.md §4.2).

Every batch operator in ``operators/windows.py`` runs unchanged on a
streaming DataFrame: a stream plus ``withWatermark`` (the reference's
assignAscendingTimestamps / BoundedOutOfOrdernessTimestampExtractor,
SURVEY.md §2.2 P7) gets the same windowed aggregate from Catalyst, with a
state store behind it. The helpers here add the streaming-only pieces: the
runner every availableNow query in the package starts through
(`run_foreach_batch` / `run_stream_to_table`, which also own the stateful
width scope), the session-window count, the committed-data check for
parquet state tables (`has_committed_data`) and the one dynamic partition
overwrite (`overwrite_touched_partitions`). The foreachBatch sinks built on
them, the top-N ranker included, live in ``streaming/mart.py``.
"""

from __future__ import annotations

import contextlib
import math
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery


_SIZE_UNITS = {
    "": 1, "b": 1,
    "k": 1 << 10, "kb": 1 << 10,
    "m": 1 << 20, "mb": 1 << 20,
    "g": 1 << 30, "gb": 1 << 30,
    "t": 1 << 40, "tb": 1 << 40,
}
_DEFAULT_ADVISORY_BYTES = 64 << 20


def _parse_size_bytes(text: str) -> int:
    """Spark size-conf string ('64m', '64MB', '67108864b', '67108864')
    to bytes. Any other string ('0.5g', '1p', '1pb', '0') falls back to
    the 64 MB advisory default: an odd conf value only costs the width
    derivation its precision, never the stream."""
    s = text.strip().lower()
    digits = s.rstrip("kmgtb")
    try:
        size = int(digits) * _SIZE_UNITS[s[len(digits):]]
    except (ValueError, KeyError):
        return _DEFAULT_ADVISORY_BYTES
    return size if size > 0 else _DEFAULT_ADVISORY_BYTES


def adaptive_stateful_width(spark: SparkSession, input_bytes: int) -> int:
    """Shuffle-partition count for a STATEFUL streaming query, derived the
    way AQE sizes a batch exchange (guide §2.2/§2.5): one partition per
    advisory-size chunk of the replayed input, clamped to [1, the session
    default].

    Why this exists: AQE cannot touch a streaming plan, and the state-store
    partition count is frozen at the query's first checkpoint — so a
    stateful micro-batch always runs `spark.sql.shuffle.partitions` state
    tasks (one store open + delta-file commit EACH, every micro-batch)
    regardless of data volume. Under a dimension-sized state that fixed
    per-partition overhead IS the query's floor. The clamp keeps the rule
    scale-adaptive rather than local-tuned: at 100 TB the input-derived
    count exceeds any session default and the cluster width wins; at the
    local tiers the width follows the data like a coalesced batch
    exchange would."""
    default = int(spark.conf.get("spark.sql.shuffle.partitions"))
    advisory = _parse_size_bytes(
        spark.conf.get(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB"
        )
    )
    return max(1, min(default, math.ceil(max(0, input_bytes) / advisory)))


@contextlib.contextmanager
def scoped_shuffle_partitions(spark: SparkSession, n: int | None):
    """Set spark.sql.shuffle.partitions around a streaming query's
    ``.start()`` call and restore it after: ``start()`` clones the session
    conf into the query, so the stream keeps the narrow stateful width
    while batch queries keep the default + AQE coalescing. No-op when n is
    None."""
    if n is None:
        yield
        return
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(int(n)))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


# Streams started so far by `_run_available_now`, the package's one start
# site. The registry reads it around a query build: a build that started a
# stream ran it, so its frame is a result and must not be reused as a plan.
streams_started = 0


def _run_available_now(
    writer: DataStreamWriter, spark: SparkSession, input_bytes: int | None
) -> StreamingQuery:
    """Start `writer` with the availableNow trigger and wait until it has
    processed everything. When `input_bytes` is given, the stateful shuffle
    width comes from `adaptive_stateful_width`, scoped to ``start()``."""
    global streams_started
    streams_started += 1
    width = (
        adaptive_stateful_width(spark, input_bytes)
        if input_bytes is not None
        else None
    )
    with scoped_shuffle_partitions(spark, width):
        q = writer.trigger(availableNow=True).start()
    q.awaitTermination()
    return q


def run_foreach_batch(
    df: DataFrame,
    per_batch: Callable[[DataFrame, int], None],
    output_mode: str = "update",
    input_bytes: int | None = None,
) -> StreamingQuery:
    """Run a streaming DataFrame to completion through a foreachBatch sink
    and return the finished query (its ``recentProgress`` stays readable;
    ``awaitTermination()`` on it returns at once).

    This is the one place an availableNow foreachBatch query is started.
    `input_bytes` (optional): the replayed source's on-disk size; when
    given, the stateful shuffle width is right-sized via
    `adaptive_stateful_width`, scoped to ``start()`` like
    `run_stream_to_table`."""
    return _run_available_now(
        df.writeStream.outputMode(output_mode).foreachBatch(per_batch),
        df.sparkSession,
        input_bytes,
    )


def run_stream_to_table(
    df: DataFrame,
    spark: SparkSession,
    output_mode: str = "complete",
    input_bytes: int | None = None,
) -> DataFrame:
    """Run a streaming DataFrame to completion into a memory sink and return
    the materialized result as a batch DataFrame.

    Uses availableNow semantics (process everything, then stop): the local
    stand-in for a continuously running job; tests and the correctness gate
    compare this output against the batch plan on the same data.

    Release contract: the memory sink's temp view is dropped before this
    returns, also on failure, so no ``stream_out_*`` table is left in the
    session; the returned DataFrame's analyzed plan holds the sink itself.

    `input_bytes` (optional): the replayed source's on-disk size; when
    given, the query's stateful shuffle width is right-sized via
    `adaptive_stateful_width` (scoped to ``start()``) — the returned batch
    table and everything after it keep the session default. Results are
    unchanged (an aggregation's output does not depend on its partition
    count)."""
    table = f"stream_out_{uuid.uuid4().hex[:12]}"
    try:
        _run_available_now(
            df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(table),
            spark,
            input_bytes,
        )
        return spark.table(table)
    finally:
        spark.catalog.dropTempView(table)


def has_committed_data(spark: SparkSession, path: str) -> bool:
    """True if `path` exists and holds an entry not prefixed with ``_`` or
    ``.`` (a part file or a partition directory), probed through the Hadoop
    FileSystem API so the path may live on any supported filesystem.

    "Committed" is the point: a write killed between directory creation and
    its first committed file leaves an empty or ``_temporary``-only
    directory, which must read as "no table yet" — a bare existence test
    would make every replay fail on schema inference. Dynamic-overwrite
    commits write no root ``_SUCCESS``, so partition directories count."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs.exists(hpath) and any(
        not st.getPath().getName().startswith(("_", "."))
        for st in fs.listStatus(hpath)
    )


def overwrite_touched_partitions(
    batch_df: DataFrame, path: str, partition_cols: list[str]
) -> None:
    """Dynamic-partition overwrite of only the partitions present in
    `batch_df` (the foreachBatch upsert primitive; see streaming/mart.py for
    the correctness constraint on partition granularity). The mode is a
    per-write option, so the session conf is never touched."""
    (
        batch_df.repartition(*partition_cols)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def streaming_session_count(
    stream: DataFrame,
    ts_col: str,
    gap: str,
    keys: list[str],
) -> DataFrame:
    """Sessionization on a stream: `F.session_window` merges events within
    `gap` of each other per key (batch twin: operators.detection.sessionize).
    """
    wm = stream.withWatermark(ts_col, "0 seconds")
    agg = wm.groupBy(
        F.session_window(F.col(ts_col), gap), *[F.col(k) for k in keys]
    ).agg(F.count("*").alias("n_events"))
    return agg.select(
        F.unix_micros("session_window.start").alias("session_start_us"),
        F.unix_micros("session_window.end").alias("session_end_us"),
        *keys,
        "n_events",
    )
