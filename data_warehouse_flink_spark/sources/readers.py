"""Readers for the reference's input formats (SURVEY.md §2.1 S2, §2.2 P1/P2).

The reference parses everything by hand (`line.split(",")` + positional
casts, e.g. DW-Flink HotItemsAnalysis app/HotItems.scala:49-52; apache log
via `split(" ")` + SimpleDateFormat, NetworkFlowAnalysis
app/NetworkFlow.scala:38-43). Here each format is a schema'd `spark.read.csv`
— scan-level parsing, no Python, no inference — plus a derived proper
TimestampType `ts` column (the reference multiplies epoch seconds by 1000 at
watermark time; we keep the raw column AND the typed one, SURVEY.md §1.4).

`apache_log` and `documents_jsonl` also read as a file stream (pass
streaming=True) — same schema, same columns — which is the batch/stream
duality contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_warehouse_flink_spark import schemas


def _read(spark: SparkSession, path: str, schema) -> DataFrame:
    return spark.read.schema(schema).csv(path)


def user_behavior(spark: SparkSession, path: str) -> DataFrame:
    """UserBehavior.csv: userId,itemId,categoryId,behavior,ts(sec)."""
    df = _read(spark, path, schemas.USER_BEHAVIOR)
    return df.withColumn("ts", F.timestamp_seconds("ts_sec"))


def ad_click_log(spark: SparkSession, path: str) -> DataFrame:
    """AdClickLog.csv: userId,adId,province,city,ts(sec)."""
    df = _read(spark, path, schemas.AD_CLICK_LOG)
    return df.withColumn("ts", F.timestamp_seconds("ts_sec"))


def login_log(spark: SparkSession, path: str) -> DataFrame:
    """LoginLog.csv: userId,ip,status,ts(sec)."""
    df = _read(spark, path, schemas.LOGIN_EVENT)
    return df.withColumn("ts", F.timestamp_seconds("ts_sec"))


def order_log(spark: SparkSession, path: str) -> DataFrame:
    """OrderLog.csv: orderId,eventType,txId(may be empty),ts(sec).

    Empty txId arrives as NULL from the CSV reader; normalize to the
    reference's empty-string sentinel (OrderLog.csv:1, TxMatch.scala:33).
    """
    df = _read(spark, path, schemas.ORDER_EVENT)
    return df.withColumn("tx_id", F.coalesce("tx_id", F.lit(""))).withColumn(
        "ts", F.timestamp_seconds("ts_sec")
    )


def receipt_log(spark: SparkSession, path: str) -> DataFrame:
    """ReceiptLog.csv: txId,payChannel,ts(sec)."""
    df = _read(spark, path, schemas.RECEIPT_EVENT)
    return df.withColumn("ts", F.timestamp_seconds("ts_sec"))


def apache_log(spark: SparkSession, path: str, streaming: bool = False) -> DataFrame:
    """apache.log: `ip - - dd/MM/yyyy:HH:mm:ss +0000 METHOD url` (space-sep).

    The reference takes 0-indexed fields 0,2,3,5,6 of split(" ")
    (NetworkFlow.scala:38-43). Expressed as one schema'd read of the raw line
    + JVM-side split/cast — stays in whole-stage codegen.
    """
    reader = spark.readStream if streaming else spark.read
    raw = reader.schema("line string").text(path)
    parts = F.split(F.col("line"), " ")
    return raw.select(
        parts.getItem(0).alias("ip"),
        parts.getItem(2).alias("user_id"),
        F.to_timestamp(parts.getItem(3), "dd/MM/yyyy:HH:mm:ss").alias(
            "event_time"
        ),
        parts.getItem(5).alias("method"),
        parts.getItem(6).alias("url"),
    )


def parse_csv_user_behavior(values: DataFrame) -> DataFrame:
    """P1 over a Kafka-style string column: split + positional casts into the
    UserBehavior shape (the reference's map() after FlinkKafkaConsumer,
    HotItems.scala:49-52). JVM split/cast — usable on both batch and
    streaming DataFrames (e.g. the output of kafka_events)."""
    parts = F.split(F.col("value"), ",")
    return values.select(
        parts.getItem(0).cast("long").alias("user_id"),
        parts.getItem(1).cast("long").alias("item_id"),
        parts.getItem(2).cast("int").alias("category_id"),
        parts.getItem(3).alias("behavior"),
        parts.getItem(4).cast("long").alias("ts_sec"),
    ).withColumn("ts", F.timestamp_seconds("ts_sec"))


def documents_jsonl(
    spark: SparkSession, path: str, streaming: bool = False
) -> DataFrame:
    """JSONL document corpus reader — the interchange format every
    training-data toolchain emits. Explicit schema (never inferSchema: a
    schema-inference pass over 100 TB is a full extra scan, and drifting
    inferred types break downstream plans); works batch or as a file
    stream for continuous ingest."""
    schema = (
        "doc_id long, text string, lang string, source string, n_chars long"
    )
    reader = (
        spark.readStream if streaming else spark.read
    )
    return reader.schema(schema).json(path)


def read_table(
    spark: SparkSession, path: str, format: str = "parquet"
) -> DataFrame:
    """Generic columnar-table reader (parquet / orc / json), time columns
    normalized through the same ingestion discipline as `io.table`."""
    from data_warehouse_flink_spark.io import normalize_time_columns

    return normalize_time_columns(spark.read.format(format).load(path))
