"""Warehouse sinks (SURVEY.md §2.1 S4/S5 and the warehouse side the
reference lacks).

The reference only prints to stdout (S5) or pumps CSV into Kafka (S4). A
real warehouse lands results as partitioned columnar files; these helpers
encode the layout decisions that matter at 100 TB:

- partition by low-cardinality time/day columns only (predicate pruning on
  read, no small-file explosion from high-cardinality keys);
- explicit file sizing via repartition before write (one task = one file).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str] | None = None,
    files_per_partition: int = 1,
    format: str = "parquet",
) -> None:
    """Land a result as day/key-partitioned columnar files, overwriting
    `path`.

    `format` ∈ {parquet, orc, json}: parquet is the default interchange
    format; ORC ships in Spark core (the Hive-ecosystem peer, same
    pruning/pushdown story); json = JSONL for downstream tools that
    stream text (every training-data toolchain reads JSONL). Layout
    semantics are format-independent.

    `files_per_partition` really is per partition VALUE: the pre-write
    repartition keys on (partition_cols..., salt) where salt has
    `files_per_partition` values, so each partition directory gets up to
    that many files written by distinct tasks. (A bare
    `repartition(n, *cols)` would set the TOTAL task count and hash each
    partition value to exactly one task — n>1 never yielded more files per
    value, and small n collapsed write parallelism globally.)
    """
    if partition_cols:
        if files_per_partition > 1:
            # explicit task count (AQE respects user-specified numbers and
            # would otherwise coalesce the salted shuffle back to one task);
            # one cheap distinct on the partition key sizes it exactly
            n_values = max(1, df.select(*partition_cols).distinct().count())
            salt = F.pmod(
                F.xxhash64(*partition_cols, F.monotonically_increasing_id()),
                F.lit(files_per_partition),
            )
            out = (
                df.withColumn("_salt", salt)
                .repartition(
                    n_values * files_per_partition,
                    *partition_cols,
                    F.col("_salt"),
                )
                .drop("_salt")
            )
        else:
            out = df.repartition(*[F.col(c) for c in partition_cols])
        out.write.mode("overwrite").partitionBy(*partition_cols).format(
            format
        ).save(path)
    else:
        df.coalesce(files_per_partition).write.mode("overwrite").format(
            format
        ).save(path)


def to_kafka_records(df: DataFrame, value_cols: list[str]) -> DataFrame:
    """S4: shape a DataFrame for the Kafka sink (CSV value payload, matching
    the reference's KafkaProducer.scala line format). Write with
    `.write.format('kafka')` on a cluster with the connector jar."""
    return df.select(
        F.concat_ws(",", *[F.col(c).cast("string") for c in value_cols]).alias(
            "value"
        )
    )
