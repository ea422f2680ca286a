"""Table loading for the driver testdata directories."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_warehouse_flink_spark.schemas import TESTDATA_TABLES
from data_warehouse_flink_spark.session import memo


def normalize_time_columns(df: DataFrame) -> DataFrame:
    """Normalize every time-valued column to a session-TZ TimestampType.

    The driver's testdata has shipped two on-disk encodings across rounds,
    and downstream operators (``F.unix_micros``, ``F.window``, interval
    joins) require plain TIMESTAMP, so both are normalized here:

    - parquet ``timestamp[us]`` with isAdjustedToUTC=false → Spark reads
      TIMESTAMP_NTZ. Cast to TIMESTAMP: the session timezone is pinned to
      UTC (session.py), so the cast is instant-preserving and agrees with
      DuckDB's naive-UTC read of the same file.
    - legacy TIMESTAMP(NANOS) → under ``spark.sql.legacy.parquet.nanosAsLong``
      Spark reads an epoch-nano LongType named ``ts``; truncate to micros
      (matching DuckDB's ns→µs behavior) and convert.

    Applied uniformly to every table so a future re-encode of
    ``o_orderdate``/``l_shipdate`` can never diverge from ``events.ts``
    handling. Column-level casts keep parquet pushdown/pruning intact —
    Catalyst still prunes unreferenced columns and pushes comparisons on the
    cast column down to the scan where the types allow.
    """
    for field in df.schema.fields:
        if isinstance(field.dataType, T.TimestampNTZType):
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
        elif field.name == "ts" and isinstance(field.dataType, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def data_files(path: str) -> list[str]:
    """The data files behind a table path: the path itself for a single-file
    table, else every file under the directory except Spark's ``_``/``.``
    metadata and checksum files."""
    if not os.path.isdir(path):
        return [path]
    return sorted(
        os.path.join(root, f)
        for root, _, files in os.walk(path)
        for f in files
        if not f.startswith(("_", "."))
    )


def data_signature(path: str) -> tuple[tuple[str, int, int], ...]:
    """The (path, mtime_ns, size) of every file ``data_files(path)`` lists:
    the part of a memo key that changes when a table is rewritten in place.
    Raises OSError when a file cannot be stat'ed (missing, or not local)."""
    return tuple(
        (f, st.st_mtime_ns, st.st_size)
        for f in data_files(path)
        for st in (os.stat(f),)
    )


def resolve_schema(spark: SparkSession, path: str) -> T.StructType:
    """The raw on-disk schema of a parquet table, inferred from its footer
    (a Spark job) once per session and path.

    The schema is memoized (``session.memo``) under the table's data-file
    (path, mtime, size) signature, so a table rewritten in place
    re-resolves. Only the schema is kept: callers still build a fresh
    relation per read, so self-joins get distinct expression IDs. A path
    that cannot be stat'ed (missing, or not local) is never memoized and
    fails in Spark's own read, as an uncached read would.
    """
    try:
        sig = data_signature(path)
    except OSError:
        return spark.read.parquet(path).schema
    return memo(
        spark, ("schema", path, sig), lambda: spark.read.parquet(path).schema
    )


def pin_session_conf(spark: SparkSession) -> None:
    """Set the two session confs every testdata read relies on:

    - UTC: the NTZ→TIMESTAMP cast in normalize_time_columns interprets
      wall-clock values in the session TZ; only UTC preserves the instant
      and matches DuckDB's naive-UTC read (registry determinism contract).
    - nanosAsLong: keeps a legacy TIMESTAMP(NANOS) file readable (as
      LongType, handled above) instead of erroring at scan time; it also
      determines the raw schema resolve_schema infers for such a file.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table. Parquet scan → pushdown + pruning for free.

    Time columns are normalized to TimestampType (see
    ``normalize_time_columns``); everything downstream can assume real
    event-time columns regardless of the on-disk encoding. The raw schema
    is resolved once per session (``resolve_schema``), so a repeated read
    builds its relation without touching the footer or launching a job.
    The session conf pins (``pin_session_conf``) are still set on every
    call: the caller may be an external harness session, not
    ``session.get_spark``'s, and its conf may have changed since the last
    call.
    """
    if name not in TESTDATA_TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TESTDATA_TABLES}")
    pin_session_conf(spark)
    path = f"{sf_dir}/{name}.parquet"
    return normalize_time_columns(
        spark.read.schema(resolve_schema(spark, path)).parquet(path)
    )


def ensure_scan_parallelism(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Redistribute a narrow-input table before compute-heavy projections.

    Spark parallelizes scans by file split, but a split never crosses a
    parquet row-group — and the driver testdata ships ONE row group per
    file, so every scan stage (and whatever map-side work is fused into it:
    gram explodes, 64-way MinHash, md5 sketches) runs as a single task no
    matter how many cores the session has. On production input (many files /
    many row groups) the scan already fans out and this returns the frame
    untouched; only when the scan's parallelism is a fraction of the
    cluster's does it pay one small round-robin exchange of the raw table to
    unlock every core for the downstream projection. Row order is never
    semantically significant in this engine (registry determinism contract),
    so the redistribution is value-invisible.
    """
    n = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, n // 4):
        return df.repartition(n)
    return df
