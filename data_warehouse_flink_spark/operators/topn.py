"""Per-group top-N (SURVEY.md §2.4, T1-T3).

The reference re-keys windowed counts by windowEnd, buffers them in
ListState/MapState, and sorts on an event-time timer (DW-Flink
HotItemsAnalysis app/HotItems.scala:82-134, NetworkFlowAnalysis
app/NetworkFlow.scala:81-140). The Spark-native form is a rank over a window
partitioned by the group key — one extra shuffle on the partition key,
mirroring the reference's second keyBy.

Determinism: the ORDER BY always ends with unique tie-breaker columns so the
same rows win in any engine / partitioning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def top_n_per_group(
    df: DataFrame,
    partition_cols: list[str],
    order: list[Column],
    n: int,
) -> DataFrame:
    """row_number() <= n per partition, as BIGINT `rn`, ranked by `order`
    (sort Columns such as ``[F.desc("cnt"), F.asc("user_id")]``, ending in
    a unique tie-breaker for total-order ranking).

    At scale this is a single hash shuffle on `partition_cols`; no global
    sort. Skewed partitions are bounded by per-partition top-N semantics
    (each task only tracks its partitions' rows).
    """
    w = Window.partitionBy(*partition_cols).orderBy(*order)
    return df.withColumn("rn", F.row_number().over(w).cast("long")).filter(
        F.col("rn") <= n
    )


def format_topn_report(
    ranked: DataFrame,
    group_col: str,
    entity_col: str,
    count_col: str,
) -> DataFrame:
    """P9: render ranked rows as the reference's human-readable report lines
    ("No1: 商品ID=... 浏览量=..."; DW-Flink HotItemsAnalysis
    app/HotItems.scala:115-130). Results stay relational everywhere else;
    this is the sink-side presentation step, JVM format_string only.
    """
    line = F.format_string(
        "No%d: 商品ID=%s 浏览量=%d",
        F.col("rn"),
        F.col(entity_col).cast("string"),
        F.col(count_col),
    )
    return (
        ranked.withColumn("report_line", line)
        .groupBy(group_col)
        .agg(
            F.concat_ws(
                "\n", F.sort_array(F.collect_list(F.struct("rn", "report_line")))
                .getField("report_line")
            ).alias("report")
        )
    )


def top_n_per_group_partial(
    df: DataFrame,
    partition_cols: list[str],
    order_col: str,
    n: int,
    tiebreak_cols: list[str],
) -> DataFrame:
    """T1/T3 for very large per-group cardinalities: local top-N per input
    partition before the rank shuffle.

    Any globally top-N row is necessarily in its own partition's local
    top-N (counts are final before ranking), so reducing each partition to
    ≤ N rows per group first is lossless; the global rank then runs over
    ≤ N·partitions rows per group instead of the full group
    (SCALING.md "Top-N"). Local reduction is an Arrow-batched
    mapInPandas — no shuffle, no Python in the final rank.
    """
    cols = list(df.columns)
    group_cols = list(partition_cols)

    def local_topn(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            yield (
                pdf.sort_values(
                    [*group_cols, order_col, *tiebreak_cols],
                    ascending=[True] * len(group_cols)
                    + [False]
                    + [True] * len(tiebreak_cols),
                )
                .groupby(group_cols, sort=False)
                .head(n)
            )

    reduced = df.mapInPandas(
        local_topn, schema=df.sparkSession.createDataFrame([], df.schema).schema
    )
    order = [F.desc(order_col), *map(F.asc, tiebreak_cols)]
    return top_n_per_group(reduced, partition_cols, order, n)
