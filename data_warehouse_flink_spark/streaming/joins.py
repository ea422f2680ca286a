"""Stream-stream joins with watermarks (SURVEY.md §2.5 J2/J3 streaming forms).

Spark's stream-stream join keeps both sides in the state store and prunes
state using the watermark + the time-range condition — exactly the semantics
of Flink's window/interval joins the reference uses
(DW-Flink OrderTimeoutDetect app/TxMatchWithJoin.scala:42-62).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_window_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    size: str,
) -> DataFrame:
    """J2 streaming: equi-join inside the same tumbling window bucket.

    Both sides get the window column before the join, so the join key is
    (key, window) — state for a bucket is dropped once the watermark passes
    its end; no unbounded state.
    """
    lw = left.withWatermark(left_ts, "0 seconds").withColumn(
        "window", F.window(left_ts, size)
    )
    rw = right.withWatermark(right_ts, "0 seconds").withColumn(
        "window", F.window(right_ts, size)
    )
    return lw.join(rw, on=[key, "window"], how="inner")


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    lower_sec: int,
    upper_sec: int,
) -> DataFrame:
    """J3 streaming: key-equal + right.ts ∈ [left.ts+lower, left.ts+upper].

    The canonical Spark interval join: watermarks on both sides plus the
    range predicate let the engine expire state (a row is droppable once the
    other side's watermark passes its ts + the bound).
    """
    l = left.withWatermark(left_ts, "0 seconds").alias("l")
    r = right.withWatermark(right_ts, "0 seconds").alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (
            F.col(f"r.{right_ts}")
            >= F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {lower_sec} SECOND")
        )
        & (
            F.col(f"r.{right_ts}")
            <= F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {upper_sec} SECOND")
        )
    )
    return l.join(r, on=cond, how="inner")


def tx_match_stream_joined(
    pays: DataFrame, receipts: DataFrame, bound_sec: int = 5
) -> DataFrame:
    """J1 entirely JVM-side: one watermarked stream-stream FULL OUTER join.

    The reference's CoProcessFunction semantics (TxMatch.scala:46-94) —
    matched pairs plus both unmatched remainders after a timeout — map
    exactly onto Spark's full-outer stream-stream join: rows that find a
    partner inside the ±bound emit as matches; rows whose partner never
    arrives are emitted with a NULL other side once the watermark passes
    their join horizon. No Python, state pruned by the watermark — the
    scale path ahead of the applyInPandasWithState kernel
    (SCALING.md "Stateful kernels": hybrid mitigation).

    Output: tx_id, pay_us, receipt_us (nullable), result_type.
    """
    p = pays.withWatermark("ts", "0 seconds").select(
        F.col("tx_id").alias("p_key"), F.col("ts").alias("p_ts")
    )
    r = receipts.withWatermark("ts", "0 seconds").select(
        F.col("tx_id").alias("r_key"), F.col("ts").alias("r_ts")
    )
    cond = (
        (F.col("p_key") == F.col("r_key"))
        & (F.col("r_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {bound_sec} SECOND"))
        & (F.col("r_ts") <= F.col("p_ts") + F.expr(f"INTERVAL {bound_sec} SECOND"))
    )
    j = p.join(r, on=cond, how="full_outer")
    return j.select(
        F.coalesce("p_key", "r_key").alias("tx_id"),
        F.unix_micros("p_ts").alias("pay_us"),
        F.unix_micros("r_ts").alias("receipt_us"),
        F.when(
            F.col("p_key").isNotNull() & F.col("r_key").isNotNull(),
            F.lit("matched"),
        )
        .when(F.col("p_key").isNotNull(), F.lit("unmatched_pay"))
        .otherwise(F.lit("unmatched_receipt"))
        .alias("result_type"),
    )
