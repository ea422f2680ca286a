"""Streaming job assembly: watermarked windowed aggregations, run helpers,
and the foreachBatch top-N idiom (SURVEY.md §4.2).

Every batch operator in ``operators/windows.py`` runs unchanged on a
streaming DataFrame — Catalyst plans the same windowed aggregate with a
state store behind it. The helpers here add the streaming-only pieces:
watermark assignment (the reference's assignAscendingTimestamps /
BoundedOutOfOrdernessTimestampExtractor, SURVEY.md §2.2 P7), sink wiring,
and the two-query top-N idiom (rank-after-streaming-agg is not allowed in a
single continuous query, exactly like the reference's second keyBy).
"""

from __future__ import annotations

import contextlib
import math
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_warehouse_flink_spark.operators.topn import top_n_per_group


def with_watermark(df: DataFrame, ts_col: str, delay: str) -> DataFrame:
    """P7: bounded-out-of-orderness watermark (ascending sources use '0
    seconds', mirroring assignAscendingTimestamps)."""
    return df.withWatermark(ts_col, delay)


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
    """Set spark.sql.shuffle.partitions for the duration of a streaming
    query's start→awaitTermination span and restore it after, so the
    narrow stateful width never leaks into the session's batch queries
    (those keep the default + AQE coalescing). No-op when n is None."""
    if n is None:
        yield
        return
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(int(n)))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def run_stream_to_table(
    df: DataFrame,
    spark: SparkSession,
    output_mode: str = "complete",
    name: str | None = None,
    input_bytes: int | None = None,
) -> DataFrame:
    """Run a streaming DataFrame to completion into a memory sink and return
    the materialized result as a batch DataFrame.

    Uses availableNow semantics (process everything, then stop): the local
    stand-in for a continuously running job; tests and the correctness gate
    compare this output against the batch plan on the same data.

    `input_bytes` (optional, r15): the replayed source's on-disk size; when
    given, the query's stateful shuffle width is right-sized via
    `adaptive_stateful_width` for the start→awaitTermination span only —
    the returned batch table and everything after it keep the session
    default. Results are unchanged (an aggregation's output does not
    depend on its partition count)."""
    table = name or f"stream_out_{uuid.uuid4().hex[:12]}"
    width = (
        adaptive_stateful_width(spark, input_bytes)
        if input_bytes is not None
        else None
    )
    with scoped_shuffle_partitions(spark, width):
        q = (
            df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(table)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(table)


def streaming_windowed_count(
    stream: DataFrame,
    ts_col: str,
    size: str,
    slide: str | None = None,
    keys: list[str] | None = None,
    watermark: str = "0 seconds",
    count_alias: str = "cnt",
) -> DataFrame:
    """W1/W2 on a stream: watermarked sliding/tumbling count.

    Same shape as operators.windows.windowed_count; update/complete output
    mode reproduces the reference's per-pane emission (W10 FIRE_AND_PURGE
    becomes update-mode emit-on-change for free).
    """
    keys = keys or []
    wm = with_watermark(stream, ts_col, watermark)
    win = F.window(ts_col, size, slide) if slide else F.window(ts_col, size)
    agg = wm.groupBy(win, *[F.col(k) for k in keys]).agg(
        F.count("*").alias(count_alias)
    )
    return agg.select(
        F.unix_timestamp("window.start").alias("window_start_sec"),
        F.unix_timestamp("window.end").alias("window_end_sec"),
        *keys,
        count_alias,
    )


def overwrite_touched_partitions(
    batch_df: DataFrame, path: str, partition_cols: list[str]
) -> None:
    """Dynamic-partition overwrite of only the partitions present in
    `batch_df` (the foreachBatch upsert primitive; see streaming/mart.py for
    the correctness constraint on partition granularity)."""
    spark = batch_df.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            batch_df.repartition(*partition_cols)
            .write.mode("overwrite")
            .partitionBy(*partition_cols)
            .parquet(path)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def streaming_topn_foreachbatch(
    counts: DataFrame,
    partition_cols: list[str],
    order_col: str,
    n: int,
    tiebreak_cols: list[str],
    sink: Callable[[DataFrame, int], None],
    state_path: str | None = None,
) -> "object":
    """T1/T2 streaming idiom: windowed counts → foreachBatch → rank → sink.

    Spark disallows row_number over a streaming aggregate in one continuous
    query (same reason the reference needs its second keyBy + ListState
    buffer: ranking needs the window's full membership). Update mode emits
    only the CHANGED (group, key) rows per micro-batch, so ranking a batch
    alone would crown whatever happened to change.

    The accumulator is therefore a *partitioned parquet state table* (the
    engine-side analogue of the reference's ListState/MapState buffer,
    DW-Flink HotItemsAnalysis app/HotItems.scala:82-134): each micro-batch

    1. reads the state rows of only the window partitions the batch touched
       (partition pruning — untouched windows are never scanned),
    2. anti-joins away the keys the batch re-emitted, unions the batch rows,
       and dynamic-partition-overwrites only those touched partitions,
    3. ranks the merged counts (a Spark job) and hands the sink the
       corrected top-N for the touched windows.

    Nothing pre-rank ever reaches the driver: state volume lives in the
    table, and the driver only moves ≤ n × touched-windows ranked rows per
    batch (plus one tiny distinct() of touched window values). At 1000
    executors the state table is just another partitioned dataset.
    """
    import os
    import tempfile

    state_path = state_path or os.path.join(
        tempfile.mkdtemp(prefix="topn_state_"), "counts"
    )

    def per_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        cols = list(batch_df.columns)
        upsert_keys = [c for c in cols if c != order_col]
        batch_df = batch_df.localCheckpoint(eager=True)
        touched = batch_df.select(*partition_cols).distinct()
        # dynamic-overwrite commits write no root _SUCCESS; state exists iff
        # partition directories do (cluster deployments would ask the Hadoop FS)
        has_state = os.path.isdir(state_path) and any(
            not e.startswith(("_", ".")) for e in os.listdir(state_path)
        )
        if has_state:
            prev = (
                spark.read.parquet(state_path)
                .join(touched, on=partition_cols, how="left_semi")
            )
            carried = prev.join(
                batch_df.select(*upsert_keys), on=upsert_keys, how="left_anti"
            )
            merged = batch_df.select(*cols).unionByName(
                carried.select(
                    *[F.col(c).cast(batch_df.schema[c].dataType) for c in cols]
                )
            )
        else:
            merged = batch_df.select(*cols)
        # materialize BEFORE overwriting the partitions it was read from
        merged = merged.localCheckpoint(eager=True)
        overwrite_touched_partitions(merged, state_path, partition_cols)
        ranked = top_n_per_group(
            merged, partition_cols, order_col, n, tiebreak_cols
        )
        sink(ranked, epoch_id)

    return (
        counts.writeStream.outputMode("update")
        .foreachBatch(per_batch)
        .trigger(availableNow=True)
        .start()
    )


def streaming_session_count(
    stream: DataFrame,
    ts_col: str,
    gap: str,
    keys: list[str],
    watermark: str = "0 seconds",
    count_alias: str = "n_events",
) -> DataFrame:
    """Sessionization on a stream: `F.session_window` merges events within
    `gap` of each other per key (batch twin: operators.detection.sessionize).
    """
    wm = stream.withWatermark(ts_col, watermark)
    agg = wm.groupBy(
        F.session_window(F.col(ts_col), gap), *[F.col(k) for k in keys]
    ).agg(F.count("*").alias(count_alias))
    return agg.select(
        F.unix_micros("session_window.start").alias("session_start_us"),
        F.unix_micros("session_window.end").alias("session_end_us"),
        *keys,
        count_alias,
    )
