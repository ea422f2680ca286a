"""Stateful-detection operators, batch (SQL-expressible) forms
(SURVEY.md §2.6, C2, C7 and §2.3 W11).

Each of these is the relational restatement of a reference
KeyedProcessFunction; the CEP patterns (C1, C3-C5) compile through
``operators/patterns.py::Pattern``, and the streaming kernels with real
timers live in ``streaming/state.py``. Batch forms are oracle-checkable and are what
a backfill over 100 TB of history would actually run (window functions scale
as one shuffle + per-key sort; no Python in the hot path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


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
