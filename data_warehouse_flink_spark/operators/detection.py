"""Stateful-detection operators, batch (SQL-expressible) forms
(SURVEY.md §2.6, C1-C7 and §2.3 W11).

Each of these is the relational restatement of a reference
KeyedProcessFunction / CEP pattern; the streaming kernels with real timers
live in ``streaming/state.py``. Batch forms are oracle-checkable and are what
a backfill over 100 TB of history would actually run (window functions scale
as one shuffle + per-key sort; no Python in the hot path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def consecutive_event_pairs(
    df: DataFrame,
    key: str,
    ts_col: str,
    order_cols: list[str],
    match_value: str,
    value_col: str,
    max_gap_sec: int,
) -> DataFrame:
    """C1/C3: two *consecutive* matching events per key within a time bound.

    Reference: LoginFailWithCEP.scala:38-59 — CEP `begin("fail").next("fail")
    .within(t)`: a fail immediately followed by a fail (any other event type
    in between resets). lag() over (key ORDER BY ts) is the exact relational
    form: one shuffle on key, per-partition sort, no state.

    Output: key, first/second event times (epoch µs) — the reference's
    Warning(userId, firstFailTime, lastFailTime).
    """
    w = Window.partitionBy(key).orderBy(*[F.asc(c) for c in order_cols])
    prev_val = F.lag(value_col).over(w)
    prev_ts = F.lag(ts_col).over(w)
    return (
        df.withColumn("prev_val", prev_val)
        .withColumn("prev_ts", prev_ts)
        .filter(
            (F.col(value_col) == match_value)
            & (F.col("prev_val") == match_value)
            & (
                F.unix_micros(F.col(ts_col)) - F.unix_micros(F.col("prev_ts"))
                <= max_gap_sec * 1_000_000
            )
        )
        .select(
            F.col(key),
            F.unix_micros(F.col("prev_ts")).alias("first_fail_us"),
            F.unix_micros(F.col(ts_col)).alias("last_fail_us"),
        )
    )


def threshold_in_window(
    df: DataFrame,
    key: str,
    ts_col: str,
    size: str,
    min_count: int,
    count_alias: str = "fail_cnt",
) -> DataFrame:
    """C2: ≥ N matching events per key within a window → warning row.

    Reference: LoginFail.scala:39-69 — buffer fails in ListState, timer fires,
    emit warning when count ≥ threshold with first/last fail times. Batch
    form: windowed group-count + HAVING.
    """
    agg = (
        df.groupBy(F.window(ts_col, size), F.col(key))
        .agg(
            F.count("*").alias(count_alias),
            F.unix_micros(F.min(ts_col)).alias("first_fail_us"),
            F.unix_micros(F.max(ts_col)).alias("last_fail_us"),
        )
        .filter(F.col(count_alias) >= min_count)
    )
    return agg.select(
        F.unix_timestamp("window.start").alias("window_start_sec"),
        F.col(key),
        F.col(count_alias),
        "first_fail_us",
        "last_fail_us",
    )


def match_within_timeout(
    creates: DataFrame,
    pays: DataFrame,
    key: str,
    create_ts: str,
    pay_ts: str,
    timeout_sec: int,
) -> DataFrame:
    """C4/C5/C6: per key, was the `create` followed by a `pay` within t?

    Reference: OrderTimeout.scala:32-64 (CEP followedBy/within + timeout side
    output) and OrderTimeoutWithoutCep.scala:38-111. Batch form: left join
    create→earliest qualifying pay, classify:
      payed    — pay within [create_ts, create_ts + timeout]
      timeout  — no pay inside the bound (incl. pay-after-timeout, the
                 reference's "payed but already timeout" class collapses here
                 to timeout; the 4-class split is the streaming kernel's job).
    Output: key, create_us, pay_us (nullable), result_type.
    """
    c = creates.select(
        F.col(key).alias("k"), F.unix_micros(F.col(create_ts)).alias("create_us")
    )
    p = pays.select(
        F.col(key).alias("k"), F.unix_micros(F.col(pay_ts)).alias("pay_us")
    )
    joined = c.join(
        p,
        on=[
            c["k"] == p["k"],
            p["pay_us"] >= c["create_us"],
            p["pay_us"] <= c["create_us"] + timeout_sec * 1_000_000,
        ],
        how="left",
    ).select(c["k"].alias(key), "create_us", "pay_us")
    first_pay = joined.groupBy(key, "create_us").agg(
        F.min("pay_us").alias("pay_us")
    )
    return first_pay.withColumn(
        "result_type",
        F.when(F.col("pay_us").isNotNull(), F.lit("payed")).otherwise(
            F.lit("timeout")
        ),
    )


def running_count_blacklist(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    order_cols: list[str],
    max_count: int,
) -> DataFrame:
    """W11 + C7: per-key running count with a period reset and a one-time
    blacklist warning at the threshold crossing.

    Reference: AdStatisticByGeo.scala:71-111 — ValueState counter per
    (user, ad), reset at next midnight by a processing-time timer; when the
    count crosses `max`, emit a single BlackListWarning and suppress further
    rows. Batch form: row_number per (keys..., day); rows with rn <= max are
    the surviving clicks, rn == max + 1 is the one-time warning.

    Output adds: `day` (date string), `rn`, `result_type` in
    {click, blacklist_warning}; rows past max+1 are dropped (suppressed).
    """
    with_day = df.withColumn(
        "day", F.date_format(F.to_date(F.col(ts_col)), "yyyy-MM-dd")
    )
    w = Window.partitionBy(*keys, "day").orderBy(*[F.asc(c) for c in order_cols])
    ranked = with_day.withColumn("rn", F.row_number().over(w))
    return ranked.filter(F.col("rn") <= max_count + 1).withColumn(
        "result_type",
        F.when(F.col("rn") <= max_count, F.lit("click")).otherwise(
            F.lit("blacklist_warning")
        ),
    )


def sessionize(
    df: DataFrame,
    key: str,
    ts_col: str,
    gap_sec: int,
) -> DataFrame:
    """Sessionization: split each key's event sequence at gaps > gap_sec.

    Not in the reference's inventory but the canonical keyed-state pattern a
    behavior-analytics engine needs; batch form is lag + cumulative sum (one
    shuffle, one per-key sort). Streaming: `F.session_window`.

    Output: one row per event with `session_id` (0-based per key).
    """
    w = Window.partitionBy(key).orderBy(F.asc(ts_col), F.asc("event_id"))
    gap_us = gap_sec * 1_000_000
    prev_ts = F.lag(ts_col).over(w)
    new_sess = (
        F.when(prev_ts.isNull(), F.lit(1))
        .when(
            F.unix_micros(F.col(ts_col)) - F.unix_micros(prev_ts) > gap_us,
            F.lit(1),
        )
        .otherwise(F.lit(0))
    )
    return df.withColumn(
        "session_id",
        F.sum(new_sess).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ) - F.lit(1),
    )
