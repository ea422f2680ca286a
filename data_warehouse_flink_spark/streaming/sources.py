"""Streaming sources (SURVEY.md §2.1, S1-S4).

- S1 Kafka: config builder only — the Kafka connector jar ships with real
  clusters; here the reader is constructed lazily and gated so local tests
  don't need a broker.
- S2 file replay: the testdata parquet replayed as a stream — the local
  stand-in for any append-only source, used by all streaming tests — and
  `ordered_replay`, the one stager of an ordered N-micro-batch replay.
- S3 generator: the reference's SimulatedEventSource
  (DW-Flink/MarketAnalysis/.../source/SimulatedEventSource.scala:17-41)
  re-expressed over the `rate` source with deterministic column synthesis.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_warehouse_flink_spark.io import data_files


def source_bytes(path: str) -> int:
    """On-disk size of a replayed source, a single-file table or a
    directory of part files: the input-volume proxy the streaming runner's
    ``input_bytes`` sizes a stateful stream's shuffle width from."""
    return sum(os.path.getsize(f) for f in data_files(path))


def ordered_replay(
    df: DataFrame, batch_col: str, order: Sequence, replay_dir: str
) -> DataFrame:
    """Stage `df` as an ordered file replay, one micro-batch per
    `batch_col` value, and return the ``maxFilesPerTrigger=1`` stream over
    it (schema: `df` without `batch_col`).

    ONE partitioned write stages every batch: a hash repartition on
    `batch_col` puts each value's rows in one task, so each value directory
    holds one part file. Each file then moves into `replay_dir` under a
    strictly increasing pinned mtime in `order`'s sequence — the file
    source orders by mtime, and equal filesystem timestamps would leave the
    order of an order-dependent stream to the directory listing.

    A value of `order` with no rows is skipped (no file, no batch; the
    others keep their order). A value with more than one part file, or
    rows whose value is not in `order`, raise: either would silently
    reorder or drop batches. Values must render as plain path names
    (ints, ISO dates). Staging goes to the sibling ``<replay_dir>__staged``
    and the files move with ``os.rename``, so the replay is local-disk
    only; the caller owns (and removes) both directories.
    """
    staged = replay_dir.rstrip("/") + "__staged"
    (
        df.repartition(max(1, len(order)), batch_col)
        .write.partitionBy(batch_col)
        .parquet(staged)
    )
    dirs = {f"{batch_col}={v}": i for i, v in enumerate(order)}
    unknown = sorted(
        d for d in os.listdir(staged) if "=" in d and d not in dirs
    )
    if unknown:
        raise ValueError(f"rows outside the replay order: {unknown}")
    os.makedirs(replay_dir, exist_ok=True)
    for name, i in dirs.items():
        part_dir = os.path.join(staged, name)
        if not os.path.isdir(part_dir):
            continue  # no rows for this value: no batch
        parts = data_files(part_dir)
        if len(parts) != 1:
            raise RuntimeError(f"expected one part file in {name}: {parts}")
        dst = os.path.join(replay_dir, f"batch{i}.parquet")
        os.rename(parts[0], dst)
        os.utime(dst, (1_000_000_000 + i,) * 2)
    return (
        df.sparkSession.readStream.schema(df.drop(batch_col).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(replay_dir)
    )


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2: replay the events table as a file stream.

    The raw schema comes from the parquet footer, resolved once per session
    by the batch reader's ``io.resolve_schema``, and the time columns go
    through the *same* normalization as the batch reader
    (``io.normalize_time_columns``), so the stream and
    ``io.table(spark, sf_dir, "events")`` can never disagree on ``ts``
    encoding again — tests assert schema equality between the two.
    """
    from data_warehouse_flink_spark.io import (
        normalize_time_columns,
        pin_session_conf,
        resolve_schema,
    )

    pin_session_conf(spark)
    raw_schema = resolve_schema(spark, f"{sf_dir}/events.parquet")
    # The file stream source requires a directory; glob-filter to the one
    # table file inside the sf dir.
    raw = (
        spark.readStream.schema(raw_schema)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    return normalize_time_columns(raw)


def kafka_source_options(
    bootstrap: str, topic: str, starting_offsets: str = "latest"
) -> dict[str, str]:
    """S1 option map, mirroring the reference's consumer properties
    (DW-Flink HotItemsAnalysis app/HotItems.scala:37-48):

    - ``bootstrap.servers``    → ``kafka.bootstrap.servers``
    - topic ``hotitems``       → ``subscribe``
    - ``auto.offset.reset=latest`` → ``startingOffsets=latest``

    ``group.id`` and the key/value deserializers have no user-facing
    equivalent: Spark manages its own consumer group offsets via
    checkpointing and always hands back binary key/value columns.
    """
    return {
        "kafka.bootstrap.servers": bootstrap,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
    }


def kafka_events(
    spark: SparkSession,
    bootstrap: str,
    topic: str,
    starting_offsets: str = "latest",
) -> DataFrame:
    """S1: Kafka source (DW-Flink HotItemsAnalysis app/HotItems.scala:37-48).

    Returns value as string, matching the reference's SimpleStringSchema;
    callers parse with `parse_csv_events` or from_json. Requires the
    spark-sql-kafka package on the classpath (present on real clusters).
    """
    reader = spark.readStream.format("kafka")
    for k, v in kafka_source_options(bootstrap, topic, starting_offsets).items():
        reader = reader.option(k, v)
    return reader.load().selectExpr(
        "CAST(value AS STRING) AS value", "timestamp"
    )


def simulated_marketing_source(
    spark: SparkSession, rows_per_second: int = 100
) -> DataFrame:
    """S3: deterministic rate-source synthesis of MarketingUserBehavior.

    The reference draws random channel/behavior per event; here the draw is a
    hash of the monotonically increasing rate `value`, which is deterministic
    and replayable (same offsets → same rows).
    """
    channels = ["AppStore", "HuaweiStore", "XiaomiStore", "weibo", "wechat"]
    behaviors = ["CLICK", "DOWNLOAD", "UPDATE", "INSTALL", "UNINSTALL"]
    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", str(rows_per_second))
        .load()
    )
    ch = F.element_at(
        F.array(*[F.lit(c) for c in channels]),
        (F.pmod(F.xxhash64("value", F.lit(1)), F.lit(len(channels))) + 1).cast(
            "int"
        ),
    )
    bh = F.element_at(
        F.array(*[F.lit(b) for b in behaviors]),
        (F.pmod(F.xxhash64("value", F.lit(2)), F.lit(len(behaviors))) + 1).cast(
            "int"
        ),
    )
    return rate.select(
        F.sha1(F.concat(F.lit("uid-"), F.col("value").cast("string"))).alias(
            "user_id"
        ),
        bh.alias("behavior"),
        ch.alias("channel"),
        F.col("timestamp").alias("ts"),
    )
