"""Two-stream join operators (SURVEY.md §2.5, J1-J3).

The reference has exactly three join forms (the DataStream API's):
- J1 TxMatch: stateful symmetric equi-join with timeout + unmatched side
  outputs (DW-Flink OrderTimeoutDetect app/TxMatch.scala:46-94) — a
  full-outer decomposition: inner matches + both anti-join remainders.
- J2 tumbling window join (app/TxMatchWithJoin.scala:42-47).
- J3 interval join, key-equal + time-range (app/TxMatchWithJoin.scala:50-62).

Batch forms below are pure Catalyst joins (broadcast/SMJ chosen by the
optimizer, AQE handles skew). Streaming forms live in
``streaming/`` (watermarked stream-stream joins / applyInPandasWithState).

Scale notes: window/interval joins add the coarse time bucket to the join key
so the shuffle co-locates only same-bucket rows instead of exploding on the
bare key; for the interval join the bucket-join + residual-filter pattern is
what Spark's own stream-stream interval join does with state pruning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def window_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts_col: str,
    size: str,
) -> DataFrame:
    """J2: equi-join within the same tumbling window bucket.

    Adds `F.window(ts)` to both sides and equi-joins on (key, window) — a
    single co-partitioned shuffle; no time-range post-filter needed.
    """
    lw = left.withColumn("window", F.window(ts_col, size))
    rw = right.withColumn("window", F.window(ts_col, size))
    return lw.join(rw, on=[key, "window"], how="inner")


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    lower_sec: int,
    upper_sec: int,
) -> DataFrame:
    """J3: key-equal join with right.ts in [left.ts + lower, left.ts + upper].

    Expressed as an equi-join on key plus a range predicate; Catalyst executes
    it as a hash/SMJ on the key with the range as a post-join filter, which is
    fine when keys are selective. (For low-selectivity keys, bucketize the
    time axis and join on (key, bucket) — see window_join.)
    """
    lo = F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {lower_sec} SECOND")
    hi = F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {upper_sec} SECOND")
    r_ts = F.col(f"r.{right_ts}")
    return left.alias("l").join(
        right.alias("r"),
        on=[
            F.col(f"l.{key}") == F.col(f"r.{key}"),
            r_ts >= lo,
            r_ts <= hi,
        ],
        how="inner",
    )


def full_outer_match(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_tag: str = "unmatched_left",
    right_tag: str = "unmatched_right",
) -> DataFrame:
    """J1 batch semantics: matched pairs + both unmatched remainders.

    The reference emits three streams (main + two side outputs) from one
    CoProcessFunction; relationally that is a FULL OUTER JOIN with a
    discriminator column, which Catalyst executes as one shuffle join. The
    streaming timeout-based variant is ``streaming.state.tx_match_stream``.
    """
    # side-presence tags, not key NULL-ness: a NULL-keyed left row must
    # still be labeled as coming from the left stream
    lt = left.withColumn("_l_present", F.lit(1))
    rt = right.withColumn("_r_present", F.lit(1))
    joined = lt.alias("l").join(
        rt.alias("r"),
        on=[F.col(f"l.{c}") == F.col(f"r.{c}") for c in on],
        how="full_outer",
    )
    tag = (
        F.when(
            F.col("l._l_present").isNotNull()
            & F.col("r._r_present").isNotNull(),
            F.lit("matched"),
        )
        .when(F.col("l._l_present").isNotNull(), F.lit(left_tag))
        .otherwise(F.lit(right_tag))
    )
    return joined.withColumn("result_type", tag).drop("_l_present", "_r_present")
