"""Streaming → warehouse mart maintenance.

The missing piece between the reference's print-sink demos and a real
warehouse: a continuously maintained, partitioned, queryable mart fed by an
update-mode streaming aggregate through foreachBatch.

``merge_upsert_foreachbatch`` (and the top-N ranker on top of it,
``streaming_topn_foreachbatch``) is the bucketed MERGE, the one path for
parquet streaming state. It is exact at a bucket key COARSER than the merge
key (a fixed ``pmod(xxhash64(key), n)`` bucket count, or a time range of a
window column), because every touched bucket is rewritten from its carried
rows re-merged with the batch — unchanged groups are read back and written
again, never dropped. What a later batch costs is the size of the buckets
it touches: a hashed key spreads a batch of a few times n keys over
nearly every bucket, a time-range bucket confines a batch of recent
windows to the latest one or two ranges.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from data_warehouse_flink_spark.operators.topn import top_n_per_group
from data_warehouse_flink_spark.streaming.jobs import (
    has_committed_data,
    overwrite_touched_partitions,
    run_foreach_batch,
)

# Time range of one top-N state bucket on the window column (3 days). A
# stream's later batches carry recent windows, so each touches only the
# latest one or two ranges; hashed window buckets have no locality and a
# later batch rewrote all 16 of them. Measured on hot_items' counts, 4
# cores, sf0.1 views replayed as 10 time-ordered 3-day batches, median
# addBatch per later batch: one partition per window 12.5 s (6.6 s growing
# to 15.8 s with history), 16 hashed buckets 3.6-4.5 s (16 touched), 1-day
# ranges 2.7 s (4), 3-day 2.7-3.5 s (2), 7-day 3.1 s (1-2), the stateful
# aggregate alone 1.3 s; sf0.01 as 30 daily batches ranks them the same.
# One data batch (streaming_hot_items_topn, sf0.01, warm): 16 hashed 4.6 s,
# 1 day 4.7 s, 3 days 4.3 s, 7 days 4.0 s. A wider range writes fewer
# directories but rewrites more carried windows per later batch.
_TOPN_BUCKET_SPAN_S = 259_200


def merge_into_buckets(
    batch_df: DataFrame,
    path: str,
    key_cols: list[str],
    bucket: Column,
) -> DataFrame | None:
    """MERGE one update-mode micro-batch into the bucketed parquet state
    table at `path` and return the merged rows of every bucket it touched.

    The table is partitioned by ``bucket``, the value of the `bucket`
    expression over the batch's columns. It must depend on `key_cols` only
    (a hash of the key, or a time range of its window column), so one key
    never spans two buckets. A batch row replaces the stored row with the
    same `key_cols`; every other row of a touched bucket is carried over
    unchanged.

    - No committed data yet (first batch, or a torn first write): nothing
      reads the table, so the bucketed batch is written with ONE dynamic
      overwrite and no other Spark job. The check is explicit, never a
      caught read failure: a transient error reading an existing table
      must fail the batch, not rewrite its buckets from the batch alone.
    - Otherwise: the batch is materialized once (eager localCheckpoint —
      foreachBatch re-executes the stateful plan behind `batch_df` on
      every action, and persist() breaks its attribute rebinding), its
      touched buckets are collected (a few small ints: STATIC partition
      pruning on the read-back; an empty collect ends the batch), the
      stored rows of those buckets minus the batch's keys are unioned
      with the batch, staged through a ``<path>__staging`` sibling (the
      merge reads the path its overwrite rewrites; staging breaks that
      cycle without leaking a cached block per batch), and the touched
      buckets are overwritten from the stage.

    Every read uses the schema already known from the batch, never footer
    inference. Returns the merged touched buckets (with their ``bucket``
    column) read back from parquet, valid until the next call on `path`;
    None when the batch carried no rows. A later batch reads and rewrites
    every row of the buckets it touches, so its cost follows how many
    buckets its keys spread over (see the module docstring).
    """
    spark = batch_df.sparkSession
    if not has_committed_data(spark, path):
        new = batch_df.withColumn("bucket", bucket)
        overwrite_touched_partitions(new, path, partition_cols=["bucket"])
        if not has_committed_data(spark, path):
            return None  # an empty batch commits no part file
        return spark.read.schema(new.schema).parquet(path)
    new = batch_df.localCheckpoint(eager=True).withColumn("bucket", bucket)
    touched = [r["bucket"] for r in new.select("bucket").distinct().collect()]
    if not touched:
        return None
    carried = (
        spark.read.schema(new.schema)
        .parquet(path)
        .filter(F.col("bucket").isin(touched))
        .join(new.select(*key_cols).distinct(), key_cols, "left_anti")
    )
    staging = path.rstrip("/") + "__staging"
    carried.unionByName(new).write.mode("overwrite").parquet(staging)
    merged = spark.read.schema(new.schema).parquet(staging)
    overwrite_touched_partitions(merged, path, partition_cols=["bucket"])
    return merged


def merge_upsert_foreachbatch(
    agg: DataFrame,
    path: str,
    key_cols: list[str],
    n_buckets: int = 64,
    input_bytes: int | None = None,
) -> StreamingQuery:
    """MERGE-style keyed upsert for update-mode streaming aggregates whose
    grouping key is too fine to be a partition column (e.g. a per-user CDC
    snapshot: one partition per user would mean millions of directories).

    Each micro-batch goes through `merge_into_buckets`: the table holds a
    FIXED number of ``pmod(xxhash64(key), n_buckets)`` bucket partitions,
    independent of key cardinality, and a batch rewrites only the buckets
    it touched, re-merged with their carried rows. The first batch is one
    write. A hashed key has no locality: a later batch of k distinct keys
    touches about ``n_buckets·(1 − (1 − 1/n_buckets)^k)`` buckets, so a
    batch of a few hundred keys rewrites nearly the whole table — O(state)
    per later batch, like a complete-mode re-emission; what the MERGE
    saves over complete mode is the stateful operator re-emitting every
    group, not the table rewrite.

    Without an ACID table format this is the classic parquet MERGE idiom;
    with Delta/Iceberg available the body becomes a single ``MERGE INTO``
    with identical semantics.

    `input_bytes` is forwarded to `run_foreach_batch` (stateful width from
    the replayed input's size, scoped to ``start()``). Returns the finished
    query.
    """

    def per_batch(batch_df: DataFrame, epoch_id: int) -> None:
        merge_into_buckets(
            batch_df,
            path,
            key_cols,
            F.pmod(F.xxhash64(*key_cols), F.lit(n_buckets)),
        )

    return run_foreach_batch(agg, per_batch, input_bytes=input_bytes)


def streaming_topn_foreachbatch(
    counts: DataFrame,
    partition_cols: list[str],
    order_col: str,
    n: int,
    tiebreak_cols: list[str],
    sink: Callable[[DataFrame, int], None],
    state_path: str,
    input_bytes: int | None = None,
) -> StreamingQuery:
    """T1/T2 streaming idiom: windowed counts → foreachBatch → rank → sink.

    Spark disallows row_number over a streaming aggregate in one continuous
    query (same reason the reference needs its second keyBy + ListState
    buffer: ranking needs the window's full membership). Update mode emits
    only the CHANGED (group, key) rows per micro-batch, so ranking a batch
    alone would crown whatever happened to change.

    The accumulator is therefore the bucketed MERGE state table at
    `state_path` (the engine-side analogue of the reference's ListState
    buffer, DW-Flink HotItemsAnalysis app/HotItems.scala:82-134): merge key
    = every column but `order_col`, bucket = the time range of
    ``partition_cols[0]`` (the window's epoch seconds, as
    `windowed_count` emits) in `_TOPN_BUCKET_SPAN_S` steps, so a
    window's counts never span two buckets and a batch of recent windows
    touches only the latest one or two ranges, never older history. Each
    micro-batch `merge_into_buckets` returns the merged counts of the
    touched buckets; they are ranked, and `sink` receives the top-`n` of
    EVERY window in the touched buckets (not only the windows the batch
    changed), with their ``bucket`` column so the sink can store them
    bucketed the same way. The sink is not called for a batch without
    rows.

    Nothing pre-rank ever reaches the driver. `state_path` is required: the
    caller owns the state table and removes it (e.g. a
    ``tempfile.TemporaryDirectory`` around query and read-back).
    `input_bytes` is forwarded to `run_foreach_batch` (stateful width from
    the replayed source's size). Returns the finished query (see
    `run_foreach_batch`).
    """

    order = [F.desc(order_col), *map(F.asc, tiebreak_cols)]

    def per_batch(batch_df: DataFrame, epoch_id: int) -> None:
        merged = merge_into_buckets(
            batch_df,
            state_path,
            [c for c in batch_df.columns if c != order_col],
            F.floor(F.col(partition_cols[0]) / _TOPN_BUCKET_SPAN_S),
        )
        if merged is not None:
            sink(top_n_per_group(merged, partition_cols, order, n), epoch_id)

    return run_foreach_batch(counts, per_batch, input_bytes=input_bytes)
