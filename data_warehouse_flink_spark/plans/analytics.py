"""SQL-surface analytics beyond the reference's inventory (SURVEY.md §2.8):
rollup/cube/pivot, exact percentiles, set operations, analytic running
aggregates, windowed value aggregation. The reference has none of these; the
engine exposes them via Spark built-ins with zero custom code — registered
here so the correctness gate proves each one against DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_warehouse_flink_spark.io import table
from data_warehouse_flink_spark.registry import register


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "events")


@register(
    "events_rollup",
    oracle="""
    SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, count(*) AS cnt,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)
             AS sum_value
    FROM events
    GROUP BY ROLLUP (event_type, strftime(ts, '%Y-%m-%d'))
    """,
)
def events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical totals: (type, day) → (type) → grand total."""
    ev = _events(spark, sf_dir).withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    return ev.rollup("event_type", "day").agg(
        F.count("*").alias("cnt"),
        F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2)
        .cast("double")
        .alias("sum_value"),
    )


@register(
    "events_cube",
    oracle="""
    SELECT event_type, user_id % 10 AS cohort, count(*) AS cnt
    FROM events
    GROUP BY CUBE (event_type, user_id % 10)
    """,
)
def events_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All grouping-set combinations over (type, user cohort)."""
    ev = _events(spark, sf_dir).withColumn("cohort", F.col("user_id") % 10)
    return ev.cube("event_type", "cohort").agg(F.count("*").alias("cnt"))


@register(
    "events_pivot",
    oracle="""
    SELECT user_id,
           count(*) FILTER (WHERE event_type = 'view') AS view,
           count(*) FILTER (WHERE event_type = 'click') AS click,
           count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           count(*) FILTER (WHERE event_type = 'signup') AS signup,
           count(*) FILTER (WHERE event_type = 'error') AS error
    FROM events GROUP BY user_id
    """,
)
def events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user behavior profile: event counts pivoted to columns."""
    out = (
        _events(spark, sf_dir)
        .groupBy("user_id")
        .pivot("event_type", ["view", "click", "purchase", "signup", "error"])
        .count()
        .na.fill(0)
    )
    return out


@register(
    "event_value_percentiles",
    oracle="""
    SELECT event_type,
           ROUND(quantile_cont(value, 0.5), 6) AS p50,
           ROUND(quantile_cont(value, 0.9), 6) AS p90,
           ROUND(quantile_cont(value, 0.99), 6) AS p99,
           ROUND(CAST(max(value) AS DOUBLE), 6) AS max_value
    FROM events GROUP BY event_type
    """,
)
def event_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles of `value` per event type.

    `F.percentile` (exact) matches DuckDB's quantile_cont definition
    (linear interpolation at rank p·(n-1)); at 100 TB swap for
    `percentile_approx` — same call shape, bounded memory.
    """
    ev = _events(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile("value", F.lit(0.9)), 6).alias("p90"),
        F.round(F.percentile("value", F.lit(0.99)), 6).alias("p99"),
        F.round(F.max("value"), 6).alias("max_value"),
    )


@register(
    "viewers_never_purchased",
    oracle="""
    SELECT user_id FROM events
    WHERE event_type = 'view' AND ts < TIMESTAMP '2024-01-08 00:00:00'
    EXCEPT
    SELECT user_id FROM events
    WHERE event_type = 'purchase' AND ts < TIMESTAMP '2024-01-08 00:00:00'
    """,
)
def viewers_never_purchased(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set difference: first-week viewers who never purchased that week."""
    ev = _events(spark, sf_dir).filter(
        F.col("ts") < F.lit("2024-01-08 00:00:00").cast("timestamp")
    )
    viewers = ev.filter(F.col("event_type") == "view").select("user_id")
    buyers = ev.filter(F.col("event_type") == "purchase").select("user_id")
    return viewers.subtract(buyers)


@register(
    "user_running_value",
    oracle="""
    SELECT user_id, event_id,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_value
    FROM events
    """,
)
def user_running_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic running total of `value` per user over event time.

    Decimal accumulation keeps the prefix sums exact (and engine-portable);
    one shuffle on user_id + per-partition sort.
    """
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return _events(spark, sf_dir).select(
        "user_id",
        "event_id",
        F.sum(F.col("value").cast("decimal(18,6)"))
        .over(w)
        .cast("double")
        .alias("running_value"),
    )


@register(
    "windowed_value_sum",
    oracle="""
    SELECT (epoch_us(ts) // 3600000000) * 3600 AS window_start_sec,
           event_type,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                 / count(*), 6) AS avg_value
    FROM events GROUP BY 1, 2
    """,
)
def windowed_value_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W7 beyond count: per-window sum/avg of a value column."""
    ev = _events(spark, sf_dir)
    agg = ev.groupBy(F.window("ts", "1 hour"), "event_type").agg(
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double")
        .alias("sum_value"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
            / F.count("*"),
            6,
        ).alias("avg_value"),
    )
    return agg.select(
        F.unix_timestamp("window.start").alias("window_start_sec"),
        "event_type",
        "sum_value",
        "avg_value",
    )


# -- CEP patterns, compiled by operators/patterns.py::Pattern --------------
@register(
    "pattern_error_next_error",
    oracle="""
    WITH seq AS (
      SELECT user_id, ts, event_type,
             lag(event_type) OVER w AS prev_type,
             lag(ts) OVER w AS prev_ts
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, epoch_us(prev_ts) AS first_us, epoch_us(ts) AS second_us,
           'matched' AS result_type
    FROM seq
    WHERE event_type = 'error' AND prev_type = 'error'
      AND epoch_us(ts) - epoch_us(prev_ts) <= 43200000000
    """,
)
def pattern_error_next_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative CEP: error NEXT error WITHIN 12 h, compiled to lag()."""
    from data_warehouse_flink_spark.operators.patterns import Pattern

    error = F.col("event_type") == "error"
    pat = Pattern.begin("first", error).next("second", error).within(43200)
    return pat.detect(
        _events(spark, sf_dir), "user_id", "ts", order_cols=["ts", "event_id"]
    ).withColumn("result_type", F.lit("matched"))


@register(
    "pattern_click_followed_by_purchase",
    oracle="""
    WITH c AS (SELECT user_id, epoch_us(ts) AS first_us
               FROM events WHERE event_type = 'click'),
         p AS (SELECT user_id, epoch_us(ts) AS second_us
               FROM events WHERE event_type = 'purchase')
    SELECT c.user_id, c.first_us, min(p.second_us) AS second_us,
           CASE WHEN min(p.second_us) IS NOT NULL
                THEN 'matched' ELSE 'timeout' END AS result_type
    FROM c LEFT JOIN p
      ON c.user_id = p.user_id
     AND p.second_us > c.first_us
     AND p.second_us <= c.first_us + 43200000000
    GROUP BY 1, 2
    """,
)
def pattern_click_followed_by_purchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Declarative CEP: click FOLLOWED BY purchase WITHIN 12 h, with the
    timed-out remainder emitted like the CEP timeout side output."""
    from data_warehouse_flink_spark.operators.patterns import Pattern

    pat = (
        Pattern.begin("first", F.col("event_type") == "click")
        .followed_by(
            "second", F.col("event_type") == "purchase", strictly_after=True
        )
        .within(43200)
    )
    return pat.completions(_events(spark, sf_dir), "user_id", "ts").withColumn(
        "result_type",
        F.when(F.col("second_us").isNotNull(), F.lit("matched")).otherwise(
            F.lit("timeout")
        ),
    )


@register(
    "event_value_percentiles_approx",
    oracle="""
    SELECT event_type, count(*)::BIGINT AS n_events,
           TRUE AS p50_in_bound, TRUE AS p90_in_bound, TRUE AS p99_in_bound
    FROM events GROUP BY 1
    """,
)
def event_value_percentiles_approx(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The 100 TB quantile path: percentile_approx (GK sketch, mergeable,
    bounded memory), graded against its RANK-ERROR contract (same pattern
    as `uv_approx`): a GK sketch with accuracy A returns a value whose
    exact rank is within eps*n of q*n, eps = 1/A — a deterministic
    guarantee, not probabilistic. The gate re-derives each approx value's
    feasible rank interval [count(v < approx)+1, count(v <= approx)] from
    the raw data and asserts it intersects [floor((q-eps)*n),
    ceil((q+eps)*n)] in pure integer arithmetic; the oracle asserts the
    predicate as constant TRUE. One extra scan + a broadcast join back —
    the audit shape (the serving path emits the approx values alone).
    """
    ev = _events(spark, sf_dir)
    acc = 10_000  # eps = 1/acc
    qs = {"p50": 50, "p90": 90, "p99": 99}  # q in percent
    # n_events (count(*), the reported volume) vs n_vals (non-null values,
    # the rank-band n): percentile_approx and the lt/le rank counts ignore
    # NULLs, so the contract band must be sized by the non-null count or a
    # nullable `value` column would inflate n and falsely fail the bound
    # (schemas.py pins events.value non-nullable today, so the two agree
    # on driver data — the split is for the generic case).
    apx = ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.count("value").alias("n_vals"),
        *[
            F.percentile_approx("value", q / 100, acc).alias(name)
            for name, q in qs.items()
        ],
    )
    j = ev.select("event_type", "value").join(
        F.broadcast(apx), "event_type"
    )
    ranks = j.groupBy("event_type").agg(
        F.first("n_events").alias("n_events"),
        F.first("n_vals").alias("n_vals"),
        *[
            agg
            for name in qs
            for agg in (
                F.sum(
                    F.when(F.col("value") < F.col(name), 1).otherwise(0)
                ).alias(f"lt_{name}"),
                F.sum(
                    F.when(F.col("value") <= F.col(name), 1).otherwise(0)
                ).alias(f"le_{name}"),
            )
        ],
    )
    # feasible rank interval [lt+1, le] must intersect the contract band
    # [floor((q-eps)n), ceil((q+eps)n)]; all-integer: q*n*acc/100 +- n
    def in_bound(name: str, q: int):
        # all operands positive, so DIV (truncate-toward-zero) == floor and
        # the +denom-1 form is a safe ceiling — Spark's DIV on a negative
        # numerator truncates toward zero, NOT floor, so the -(-a DIV b)
        # ceiling trick would silently compute floor here
        lo = F.expr(f"(n_vals * {q} * {acc // 100} - n_vals) DIV {acc}")
        hi = F.expr(
            f"(n_vals * {q} * {acc // 100} + n_vals + {acc - 1})"
            f" DIV {acc}"
        )
        return (
            (F.col(f"lt_{name}") + 1 <= hi) & (F.col(f"le_{name}") >= lo)
        ).alias(f"{name}_in_bound")

    return ranks.select(
        "event_type",
        "n_events",
        *[in_bound(name, q) for name, q in qs.items()],
    )


@register(
    "user_value_outliers",
    oracle="""
    WITH stats AS (
      SELECT user_id, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY 1
    ), dev AS (
      SELECT e.user_id, e.event_id, e.value, s.med,
             abs(e.value - s.med) AS adev
      FROM events e JOIN stats s ON e.user_id = s.user_id
    ), mad AS (
      SELECT user_id, quantile_cont(adev, 0.5) AS mad FROM dev GROUP BY 1
    )
    SELECT d.user_id, d.event_id,
           ROUND(d.value, 6) AS value,
           d.adev > 3 * m.mad AS is_outlier
    FROM dev d JOIN mad m ON d.user_id = m.user_id
    """,
)
def user_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user robust outlier flags (median/MAD), all-JVM.

    Exact `percentile(value, 0.5)` (linear interpolation, the same formula
    as quantile_cont) replaces the former grouped-map pandas UDAF — no
    Python worker round-trip, no per-user pandas frame. Both percentile
    passes chain as WINDOW aggregates over the same user_id partition spec:
    one events scan and one exchange, no joins (the groupBy+join form
    re-scanned events per consumer — Spark does not reuse the exchange).
    A whale user is just more rows under one window partition, never a
    giant in-memory frame.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("user_id")
    ev = _events(spark, sf_dir).select("user_id", "event_id", "value")
    dev = ev.withColumn(
        "med", F.percentile("value", F.lit(0.5)).over(w)
    ).withColumn("adev", F.abs(F.col("value") - F.col("med")))
    return dev.withColumn(
        "mad", F.percentile("adev", F.lit(0.5)).over(w)
    ).select(
        "user_id",
        "event_id",
        F.round("value", 6).alias("value"),
        (F.col("adev") > 3 * F.col("mad")).alias("is_outlier"),
    )


@register(
    "conversion_funnel",
    oracle="""
    WITH v AS (SELECT user_id, min(epoch_us(ts)) AS t1 FROM events
               WHERE event_type = 'view' GROUP BY 1),
         c AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t2
               FROM events e JOIN v ON e.user_id = v.user_id
               WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.t1
               GROUP BY 1),
         p AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t3
               FROM events e JOIN c ON e.user_id = c.user_id
               WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.t2
               GROUP BY 1)
    SELECT (SELECT count(*) FROM v) AS n_view,
           (SELECT count(*) FROM c) AS n_view_click,
           (SELECT count(*) FROM p) AS n_view_click_purchase
    """,
)
def conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: users who viewed, then clicked after the first view,
    then purchased after that click — min-timestamp chaining, three
    aggregations, no row explosion."""
    from pyspark.sql import Window

    # One events scan and ONE user-keyed exchange: the three stage
    # timestamps chain as window mins over the same partition spec (Catalyst
    # stacks the Window operators on a single shuffle — the join-per-stage
    # form scanned events six times). The stage values are per-user
    # CONSTANTS, so the counts reduce to user grain first: the
    # groupBy(user_id) reuses the window exchange's partitioning (no new
    # shuffle) and replaces the former Expand-based triple
    # count_distinct — which streamed THREE copies of every event row
    # into the final aggregate — with plain counts over one row per user.
    ev = _events(spark, sf_dir).filter(
        F.col("event_type").isin("view", "click", "purchase")
    )
    us = F.unix_micros("ts")
    w = Window.partitionBy("user_id")
    is_view = F.col("event_type") == "view"
    is_click = F.col("event_type") == "click"
    is_purchase = F.col("event_type") == "purchase"
    staged = (
        ev.withColumn("t1", F.min(F.when(is_view, us)).over(w))
        .withColumn(
            "t2", F.min(F.when(is_click & (us > F.col("t1")), us)).over(w)
        )
        .withColumn(
            "t3",
            F.min(F.when(is_purchase & (us > F.col("t2")), us)).over(w),
        )
    )
    per_user = staged.groupBy("user_id").agg(
        F.max("t1").alias("t1"),
        F.max("t2").alias("t2"),
        F.max("t3").alias("t3"),
    )
    # count_distinct semantics: a NULL user_id is never counted.
    uid_ok = F.col("user_id").isNotNull()
    return per_user.agg(
        F.count(
            F.when(F.col("t1").isNotNull() & uid_ok, True)
        ).alias("n_view"),
        F.count(
            F.when(F.col("t2").isNotNull() & uid_ok, True)
        ).alias("n_view_click"),
        F.count(
            F.when(F.col("t3").isNotNull() & uid_ok, True)
        ).alias("n_view_click_purchase"),
    )


@register(
    "hourly_counts_gapfilled",
    oracle="""
    WITH bounds AS (
      SELECT (epoch_us(min(ts)) // 3600000000) * 3600 AS lo,
             (epoch_us(max(ts)) // 3600000000) * 3600 AS hi
      FROM events
    ), hours AS (
      SELECT unnest(generate_series(lo, hi, 3600)) AS window_start_sec
      FROM bounds
    ), counts AS (
      SELECT (epoch_us(ts) // 3600000000) * 3600 AS window_start_sec,
             count(*) AS cnt
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    )
    SELECT h.window_start_sec, COALESCE(c.cnt, 0) AS cnt
    FROM hours h LEFT JOIN counts c ON h.window_start_sec = c.window_start_sec
    """,
)
def hourly_counts_gapfilled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly series: every hour in the data's span appears, with
    zero for empty hours — the resampling step every dashboard/forecast
    pipeline needs (sparse windowed aggs omit empty windows)."""
    ev = _events(spark, sf_dir)
    bounds = ev.agg(
        (F.floor(F.unix_micros(F.min("ts")) / 3_600_000_000) * 3600).alias("lo"),
        (F.floor(F.unix_micros(F.max("ts")) / 3_600_000_000) * 3600).alias("hi"),
    )
    hours = bounds.select(
        F.explode(F.sequence("lo", "hi", F.lit(3600))).alias("window_start_sec")
    )
    counts = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(
            (F.expr("unix_micros(ts) div 3600000000") * 3600).alias(
                "window_start_sec"
            )
        )
        .agg(F.count("*").alias("cnt"))
    )
    return hours.join(counts, "window_start_sec", "left").select(
        "window_start_sec", F.coalesce("cnt", F.lit(0)).alias("cnt")
    )


@register(
    "weekly_cohort_retention",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             (epoch_us(min(ts)) // 604800000000) AS cohort_week
      FROM events GROUP BY 1
    ), activity AS (
      SELECT DISTINCT e.user_id,
             f.cohort_week,
             (epoch_us(e.ts) // 604800000000) - f.cohort_week AS week_offset
      FROM events e JOIN firsts f ON e.user_id = f.user_id
    )
    SELECT cohort_week, week_offset, count(*) AS active_users
    FROM activity GROUP BY 1, 2
    """,
)
def weekly_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-seen week, counted
    per week-offset of later activity — two aggregations and one join, the
    canonical product-analytics rollup."""
    ev = _events(spark, sf_dir)
    week = F.expr("unix_micros(ts) div 604800000000")
    firsts = ev.groupBy("user_id").agg(
        F.min(week).alias("cohort_week")
    )
    activity = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (week - F.col("cohort_week")).alias("week_offset"),
        )
        .distinct()
    )
    return activity.groupBy("cohort_week", "week_offset").agg(
        F.count("*").alias("active_users")
    )


@register(
    "error_rate_spikes",
    oracle="""
    WITH counts AS (
      SELECT (epoch_us(ts) // 3600000000) * 3600 AS window_start_sec,
             count(*) AS errors
      FROM events WHERE event_type = 'error' GROUP BY 1
    ), with_prev AS (
      SELECT window_start_sec, errors,
             lag(errors) OVER (ORDER BY window_start_sec) AS prev_errors
      FROM counts
    )
    SELECT window_start_sec, errors, prev_errors
    FROM with_prev
    WHERE prev_errors IS NOT NULL AND errors >= 2 * prev_errors
      AND errors >= 5
    """,
)
def error_rate_spikes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alerting: hours whose error count at least doubles the previous
    hour's (and clears a floor) — windowed count + lag over the window
    series, the detection shape behind every rate-of-change monitor."""
    ev = _events(spark, sf_dir).filter(F.col("event_type") == "error")
    counts = ev.groupBy(
        (F.expr("unix_micros(ts) div 3600000000") * 3600).alias(
            "window_start_sec"
        )
    ).agg(F.count("*").alias("errors"))
    w = Window.orderBy("window_start_sec")
    flagged = counts.withColumn("prev_errors", F.lag("errors").over(w))
    return flagged.filter(
        F.col("prev_errors").isNotNull()
        & (F.col("errors") >= 2 * F.col("prev_errors"))
        & (F.col("errors") >= 5)
    )


@register(
    "purchase_asof_click",
    oracle="""
    WITH purchases AS (
      SELECT user_id, event_id AS purchase_event_id, ts
      FROM events WHERE event_type = 'purchase'
    ), clicks AS (
      SELECT user_id, max(event_id) AS click_event_id, ts
      FROM events WHERE event_type = 'click' GROUP BY user_id, ts
    )
    SELECT p.purchase_event_id, p.user_id,
           epoch_us(p.ts) AS purchase_us,
           c.click_event_id,
           epoch_us(c.ts) AS click_us
    FROM purchases p
    ASOF LEFT JOIN clicks c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def purchase_asof_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase with the user's most recent click at or
    before it (attribution). Spark side: the union-scan as-of operator
    (operators/asof.py); oracle: DuckDB's native ASOF JOIN.
    """
    from data_warehouse_flink_spark.operators.asof import asof_join

    ev = _events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_event_id"), "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_event_id")
    )
    joined = asof_join(
        purchases,
        clicks,
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        right_cols=["click_event_id"],
    )
    return joined.select(
        "purchase_event_id",
        "user_id",
        F.unix_micros("ts").alias("purchase_us"),
        F.col("asof_click_event_id").alias("click_event_id"),
        F.unix_micros("asof_ts").alias("click_us"),
    )


@register(
    "events_grouping_sets",
    oracle="""
    SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
           CAST(grouping(event_type) AS BIGINT) AS g_type,
           CAST(grouping(strftime(ts, '%Y-%m-%d')) AS BIGINT) AS g_day,
           count(*) AS cnt
    FROM events
    GROUP BY GROUPING SETS ((event_type), (strftime(ts, '%Y-%m-%d')), ())
    """,
)
def events_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS with grouping() disambiguators (a NULL day
    from the (event_type) set vs a NULL-valued day are distinguishable) —
    the general form behind rollup/cube."""
    ev = _events(spark, sf_dir)
    ev.createOrReplaceTempView("events_gs")
    return spark.sql(
        """
        SELECT event_type, date_format(ts, 'yyyy-MM-dd') AS day,
               CAST(grouping(event_type) AS BIGINT) AS g_type,
               CAST(grouping(date_format(ts, 'yyyy-MM-dd')) AS BIGINT)
                 AS g_day,
               count(*) AS cnt
        FROM events_gs
        GROUP BY GROUPING SETS ((event_type), (date_format(ts, 'yyyy-MM-dd')), ())
        """
    )


# --------------------------------------------------------------------------
# SCD2 dimension maintenance (operators/scd2.py) as a graded query: four
# daily tier snapshots derived from events, applied as successive update
# batches — the warehouse MERGE-emulation lifecycle end to end.
# --------------------------------------------------------------------------
_SCD2_DAYS = ("2024-01-01", "2024-01-02", "2024-01-03", "2024-01-04")


_USER_TIER_SCD2_ORACLE = """
    WITH snaps AS (
      SELECT user_id, day,
             CASE WHEN s >= 100 THEN 'gold'
                  WHEN s >= 10 THEN 'silver'
                  ELSE 'bronze' END AS tier
      FROM (
        SELECT user_id, CAST(ts AS DATE) AS day,
               SUM(CAST(value AS DECIMAL(18,6))) AS s
        FROM events
        WHERE ts < TIMESTAMP '2024-01-05'
        GROUP BY 1, 2
      )
    ), seq AS (
      SELECT user_id, day, tier,
             lag(tier) OVER (PARTITION BY user_id ORDER BY day) AS prev_tier
      FROM snaps
    ), starts AS (
      SELECT user_id, day, tier
      FROM seq WHERE prev_tier IS NULL OR tier <> prev_tier
    )
    SELECT user_id, tier,
           epoch_us(CAST(day AS TIMESTAMP)) AS valid_from_us,
           lead(epoch_us(CAST(day AS TIMESTAMP))) OVER (
             PARTITION BY user_id ORDER BY day) AS valid_to_us,
           CAST(CASE WHEN lead(day) OVER (
                  PARTITION BY user_id ORDER BY day) IS NULL
                THEN 1 ELSE 0 END AS BIGINT) AS is_current
    FROM starts
    """


@register("user_tier_scd2", oracle=_USER_TIER_SCD2_ORACLE)
def user_tier_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 history of a per-user `tier` dimension over four daily batches.

    Day-d snapshot: each active user's tier from that day's decimal-exact
    value sum (gold ≥ 100 > silver ≥ 10 > bronze); a new version starts
    exactly when a user's snapshot tier differs from their previous
    snapshot (absent days leave the current version open — no snapshot
    row, no change point).

    Computed in ONE windowed pass, the direct Spark transcription of the
    oracle: scan (ts-range pushed) → (user_id, day) agg → lag marks
    version starts → lead closes validity. The r13 form replayed the four
    days through chained `scd2_apply` merges with an eager checkpoint per
    day — 4 serial join barriers and O(days) passes where the derivation
    is one user-keyed shuffle at ANY day count (guide §2.1). The
    incremental MERGE operator itself (`operators/scd2.py`) remains the
    contract for genuinely incremental arrival and stays exercised by
    `streaming_user_tier_scd2`'s foreachBatch replay and the scd2 unit
    tests; this batch query computes the identical history from data at
    rest, proven by the shared oracle.
    """
    from pyspark.sql import Window

    # ONE events scan derives all four day snapshots (guide §2.4): the
    # range predicate on raw `ts` reaches the scan (PushedFilters), and
    # _SCD2_DAYS are consecutive so the half-open range is exactly the
    # union of the per-day filters.
    ev = _events(spark, sf_dir)
    s = F.sum(F.col("value").cast("decimal(18,6)"))
    snaps = ev.filter(
        (F.col("ts") >= F.lit(_SCD2_DAYS[0]).cast("timestamp"))
        & (F.col("ts") < F.lit("2024-01-05").cast("timestamp"))
    ).groupBy("user_id", F.to_date("ts").alias("_day")).agg(
        F.when(s >= 100, "gold")
        .when(s >= 10, "silver")
        .otherwise("bronze")
        .alias("tier")
    )
    w = Window.partitionBy("user_id").orderBy("_day")
    starts = (
        snaps.withColumn("prev_tier", F.lag("tier").over(w))
        .filter(
            F.col("prev_tier").isNull()
            | (F.col("tier") != F.col("prev_tier"))
        )
        .drop("prev_tier")
    )
    from_us = F.unix_micros(F.col("_day").cast("timestamp"))
    return starts.select(
        "user_id",
        "tier",
        from_us.alias("valid_from_us"),
        F.lead(from_us).over(w).alias("valid_to_us"),
        F.when(F.lead(F.col("_day")).over(w).isNull(), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("is_current"),
    )


@register(
    "events_tier_point_in_time",
    oracle=f"""
    WITH hist AS (
      SELECT * FROM ({_USER_TIER_SCD2_ORACLE}) _h
    )
    SELECT coalesce(h.tier, 'unknown') AS tier,
           e.event_type,
           count(*)::BIGINT AS n_events,
           round(sum(e.value::DECIMAL(18,6)), 6)::DOUBLE AS sum_value
    FROM events e LEFT JOIN hist h
      ON e.user_id = h.user_id
     AND epoch_us(e.ts) >= h.valid_from_us
     AND (h.valid_to_us IS NULL OR epoch_us(e.ts) < h.valid_to_us)
    GROUP BY 1, 2
    """,
)
def events_tier_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time fact-to-dimension join: every event picks up the
    user's tier AS OF the event's own timestamp from the SCD2 history —
    the temporal-join pattern that makes type-2 dimensions worth keeping.
    Events before a user's first version report 'unknown'.

    Plan shape: the history is dimension-sized, so the join is a broadcast
    HASH join on user_id with the validity range as a residual filter —
    the fact side streams partition-local, nothing corpus-sized shuffles
    for the join itself. The composed oracle embeds the verified SCD2
    oracle verbatim, so the temporal semantics (half-open [from, to)
    intervals, NULL-open current rows) are pinned by construction.
    """
    hist = user_tier_scd2(spark, sf_dir)
    ev = _events(spark, sf_dir).withColumn("ts_us", F.unix_micros("ts"))
    joined = ev.join(
        F.broadcast(hist),
        (ev.user_id == hist.user_id)
        & (F.col("ts_us") >= F.col("valid_from_us"))
        & (
            F.col("valid_to_us").isNull()
            | (F.col("ts_us") < F.col("valid_to_us"))
        ),
        "left",
    )
    return joined.groupBy(
        F.coalesce(F.col("tier"), F.lit("unknown")).alias("tier"),
        "event_type",
    ).agg(
        F.count("*").alias("n_events"),
        F.round(F.sum(F.col("value").cast("decimal(18,6)")), 6)
        .cast("double")
        .alias("sum_value"),
    )


@register(
    "events_zorder_layout",
    oracle="""
    WITH rows AS (
      SELECT user_id % 32 AS xv, hour(ts) AS yv FROM events
    ), z AS (
      SELECT xv, yv,
             (((xv >> 0) & 1) << 1) + (((yv >> 0) & 1) << 0)
           + (((xv >> 1) & 1) << 3) + (((yv >> 1) & 1) << 2)
           + (((xv >> 2) & 1) << 5) + (((yv >> 2) & 1) << 4)
           + (((xv >> 3) & 1) << 7) + (((yv >> 3) & 1) << 6)
           + (((xv >> 4) & 1) << 9) + (((yv >> 4) & 1) << 8) AS zv
      FROM rows
    )
    SELECT (zv >> 4)::BIGINT AS file_id,
           count(*)::BIGINT AS n_rows,
           min(xv)::BIGINT AS min_x, max(xv)::BIGINT AS max_x,
           min(yv)::BIGINT AS min_y, max(yv)::BIGINT AS max_y
    FROM z GROUP BY 1
    """,
)
def events_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout assignment over (user bucket, hour of day)
    with the per-file min/max skipping stats a scan planner prunes with.
    Every file is a complete quadtree block — at most 4 wide in EACH
    dimension — so predicates on either column skip ~15/16 of the files,
    where a 1-D sort would span the other column's full range. Pure integer
    bit expressions + one small groupBy (operators/layout.py)."""
    from data_warehouse_flink_spark.operators.layout import zorder_file_stats

    ev = _events(spark, sf_dir)
    return zorder_file_stats(
        ev,
        x=F.pmod(F.col("user_id"), F.lit(32)).cast("int"),
        y=F.hour("ts").cast("int"),
    )


@register(
    "events_compaction_plan",
    oracle="""
    WITH daily AS (
      SELECT strftime(ts, '%Y-%m-%d') AS day,
             count(*)::BIGINT AS n_rows,
             sum(length(props) + 64)::BIGINT AS est_bytes
      FROM events GROUP BY 1
    ), planned AS (
      SELECT day, n_rows, est_bytes,
             (coalesce(sum(est_bytes) OVER (
                ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                AND 1 PRECEDING), 0) // 65536)::BIGINT AS file_group
      FROM daily
    )
    SELECT day, n_rows, est_bytes, file_group,
           sum(est_bytes) OVER (PARTITION BY file_group)::BIGINT
             AS group_bytes,
           count(*) OVER (PARTITION BY file_group)::BIGINT AS group_days
    FROM planned
    """,
)
def events_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner (OPTIMIZE / bin-pack): roll the events
    table up to per-day-partition size estimates, then bin consecutive days
    into target-size (64 KiB at this tier) output groups by bucketing the
    running byte total — the plan a table-maintenance job would execute as
    one coalesced rewrite per group.

    Scale shape: the only corpus-sized work is the per-day rollup (one scan,
    one shuffle on day); everything after runs on partition METADATA — one
    row per day — so the global-order window costs nothing even when the
    table is 100 TB (10^4-10^5 partitions). Oversized days simply skip group
    ids (floor of the pre-sum), so boundaries stay deterministic at every
    tier. Sibling of `events_zorder_layout`: layout chooses what goes IN a
    file, compaction chooses how files merge.
    """
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    daily = ev.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(
        F.count("*").alias("n_rows"),
        F.sum(F.length("props") + F.lit(64)).alias("est_bytes"),
    )
    w_cum = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, -1
    )
    # Exact BIGINT division (DIV), not floor(double /): the cumulative byte
    # sum of a 100 TB table exceeds 2^53 and a double round-trip would put
    # group boundaries off-by-one vs the oracle's integer `//`.
    planned = daily.withColumn(
        "cum_bytes", F.coalesce(F.sum("est_bytes").over(w_cum), F.lit(0))
    ).withColumn(
        "file_group", F.expr("CAST(cum_bytes DIV 65536 AS BIGINT)")
    ).drop("cum_bytes")
    w_grp = Window.partitionBy("file_group")
    return planned.select(
        "day",
        "n_rows",
        "est_bytes",
        "file_group",
        F.sum("est_bytes").over(w_grp).alias("group_bytes"),
        F.count("*").over(w_grp).alias("group_days"),
    )


@register(
    "events_column_stats",
    oracle="""
    WITH a AS (
      SELECT count(*)::BIGINT AS n_rows,
             (count(*) - count(event_id))::BIGINT AS nu_event_id,
             count(DISTINCT event_id)::BIGINT AS nd_event_id,
             min(event_id)::VARCHAR AS lo_event_id,
             max(event_id)::VARCHAR AS hi_event_id,
             (count(*) - count(ts))::BIGINT AS nu_ts,
             count(DISTINCT ts)::BIGINT AS nd_ts,
             epoch_us(min(ts))::VARCHAR AS lo_ts,
             epoch_us(max(ts))::VARCHAR AS hi_ts,
             (count(*) - count(user_id))::BIGINT AS nu_user_id,
             count(DISTINCT user_id)::BIGINT AS nd_user_id,
             min(user_id)::VARCHAR AS lo_user_id,
             max(user_id)::VARCHAR AS hi_user_id,
             (count(*) - count(event_type))::BIGINT AS nu_event_type,
             count(DISTINCT event_type)::BIGINT AS nd_event_type,
             min(event_type) AS lo_event_type,
             max(event_type) AS hi_event_type,
             (count(*) - count(value))::BIGINT AS nu_value,
             count(DISTINCT value)::BIGINT AS nd_value,
             (min(value)::DECIMAL(18,6))::VARCHAR AS lo_value,
             (max(value)::DECIMAL(18,6))::VARCHAR AS hi_value,
             (count(*) - count(props))::BIGINT AS nu_props,
             count(DISTINCT props)::BIGINT AS nd_props,
             min(props) AS lo_props,
             max(props) AS hi_props
      FROM events
    )
    SELECT 'event_id' AS column_name, n_rows, nu_event_id AS n_nulls,
           nd_event_id AS ndv, lo_event_id AS min_repr,
           hi_event_id AS max_repr FROM a
    UNION ALL SELECT 'ts', n_rows, nu_ts, nd_ts, lo_ts, hi_ts FROM a
    UNION ALL SELECT 'user_id', n_rows, nu_user_id, nd_user_id,
           lo_user_id, hi_user_id FROM a
    UNION ALL SELECT 'event_type', n_rows, nu_event_type, nd_event_type,
           lo_event_type, hi_event_type FROM a
    UNION ALL SELECT 'value', n_rows, nu_value, nd_value, lo_value,
           hi_value FROM a
    UNION ALL SELECT 'props', n_rows, nu_props, nd_props, lo_props,
           hi_props FROM a
    """,
)
def events_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE-style per-column statistics over events: row count,
    null count, exact NDV, and a canonical min/max rendering per column —
    the stats a cost-based optimizer and a data-quality monitor both feed
    on, emitted as one row per column.

    Exact NDV is the oracle-checkable choice at test scale; at 100 TB the
    drop-in swap is `approx_count_distinct` (HLL, one pass, no Expand),
    same shape otherwise. Canonical renderings dodge cross-engine float
    formatting: BIGINTs/strings verbatim, timestamps as epoch-micro
    strings, doubles via fixed-scale DECIMAL(18,6).

    r15 (VERDICT r14 #7, guide §2.3): the six NDVs and the plain
    min/max/null aggregates are computed in SEPARATE aggregates and
    combined with a 1-row×1-row broadcast cross join. The r14 single-agg
    form looked tidier ("one scan") but planned catastrophically: the
    string-typed min/max buffers (event_type, props) disqualify
    HashAggregate for the WHOLE aggregate, so the multi-distinct Expand's
    7× row blow-up went through TWO full Sorts and a four-deep
    SortAggregate chain (plans/r15/events_column_stats_before.txt). Split,
    the Expand path carries only hashable dedup keys (HashAggregate,
    sort-free) and the string min/max run as a global fold with no
    grouping keys — no Sort exists anywhere in the plan. The second scan
    is column-pruned and runs in parallel; at 100 TB two one-pass scans
    beat sorting 7× the corpus twice. Measured 0.50 → 0.35 s at sf0.1
    (count action; the noop delta is larger — this query is on the
    NOOP_AUDIT list precisely because count() prunes part of it).
    """
    ev = _events(spark, sf_dir)
    cols = {
        "event_id": ("CAST(min(event_id) AS STRING)",
                     "CAST(max(event_id) AS STRING)"),
        "ts": ("CAST(unix_micros(min(ts)) AS STRING)",
               "CAST(unix_micros(max(ts)) AS STRING)"),
        "user_id": ("CAST(min(user_id) AS STRING)",
                    "CAST(max(user_id) AS STRING)"),
        "event_type": ("min(event_type)", "max(event_type)"),
        "value": ("CAST(CAST(min(value) AS DECIMAL(18,6)) AS STRING)",
                  "CAST(CAST(max(value) AS DECIMAL(18,6)) AS STRING)"),
        "props": ("min(props)", "max(props)"),
    }
    aggs = [F.count("*").alias("n_rows")]
    for c, (lo, hi) in cols.items():
        aggs += [
            (F.count("*") - F.count(c)).alias(f"nu_{c}"),
            F.expr(lo).alias(f"lo_{c}"),
            F.expr(hi).alias(f"hi_{c}"),
        ]
    base = ev.agg(*aggs)
    nd = ev.agg(
        *[F.countDistinct(c).alias(f"nd_{c}") for c in cols]
    )
    a = base.crossJoin(F.broadcast(nd))
    stacked = a.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column_name"),
                        F.col("n_rows"),
                        F.col(f"nu_{c}").alias("n_nulls"),
                        F.col(f"nd_{c}").alias("ndv"),
                        F.col(f"lo_{c}").alias("min_repr"),
                        F.col(f"hi_{c}").alias("max_repr"),
                    )
                    for c in cols
                ]
            )
        ).alias("s")
    )
    return stacked.select("s.*")


def _hist_bin_expr():
    """value -> 1000-bin index, given lo/hi columns in scope."""
    return F.expr(
        "CASE WHEN hi = lo THEN 0L ELSE "
        "CAST(least(floor((value - lo) / ((hi - lo) / 1000.0)), "
        "999.0) AS BIGINT) END"
    )


def _hist_quantiles_from_bins(
    spark: SparkSession, binned: DataFrame
) -> DataFrame:
    """Quantile read-off from a (bin, cnt, lo, hi, n) sketch table
    (lo/hi/n constant across rows): cumulative counts, first crossing bin
    per requested quantile, in-bin linear interpolation. Shared by the
    batch query and its streaming twin — mergeability means the sketch
    TABLE is the contract, not how it was accumulated.

    r15 (VERDICT r14 #7, guide §2.4): the helper used to take `stats`
    (lo/hi/n) as a SECOND frame and crossJoin it onto the quantile seeds —
    in the batch query that planned the whole scan+agg stats subtree a
    second time (3 events scans for a 2-pass sketch, verified in
    plans/r15/event_value_histogram_quantiles_before.txt; AQE exchange
    reuse does not fire because the two broadcasts differ). The stats now
    ride the bin rows as constant columns, so the range pass is planned
    exactly once and one BroadcastNestedLoopJoin disappears."""
    w = Window.orderBy("bin")
    cum = binned.select(
        "bin",
        "cnt",
        "lo",
        "hi",
        "n",
        F.sum("cnt").over(w).alias("cum"),
        F.coalesce(
            F.sum("cnt").over(
                Window.orderBy("bin").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ).alias("cum_before"),
    )
    qs = spark.createDataFrame(
        [("p50", 0.5), ("p90", 0.9), ("p95", 0.95), ("p99", 0.99)],
        "quantile string, p double",
    )
    hits = (
        qs.join(
            F.broadcast(cum),
            F.col("cum") >= F.expr("CAST(ceil(p * n) AS BIGINT)"),
        )
        .withColumn("rank", F.expr("CAST(ceil(p * n) AS BIGINT)"))
        .groupBy("quantile", "p", "lo", "hi", "n", "rank")
        .agg(F.min(F.struct("bin", "cnt", "cum_before")).alias("h"))
    )
    return hits.select(
        "quantile",
        F.col("h.bin").alias("bin"),
        F.expr(
            "round(lo + (CAST(h.bin AS DOUBLE) + "
            "(CAST(rank - h.cum_before AS DOUBLE) / CAST(h.cnt AS DOUBLE)))"
            " * ((hi - lo) / 1000.0), 6)"
        ).alias("est_value"),
    )


_EVENT_VALUE_HISTOGRAM_QUANTILES_ORACLE = """
    WITH stats AS (
      SELECT min(value) AS lo, max(value) AS hi, count(*)::BIGINT AS n
      FROM events
    ), binned AS (
      SELECT CASE WHEN s.hi = s.lo THEN 0 ELSE
               CAST(least(floor((e.value - s.lo)
                 / ((s.hi - s.lo) / 1000.0)), 999.0) AS BIGINT) END AS bin,
             count(*)::BIGINT AS cnt
      FROM events e CROSS JOIN stats s GROUP BY 1
    ), cum AS (
      SELECT bin, cnt,
             sum(cnt) OVER (ORDER BY bin)::BIGINT AS cum,
             coalesce(sum(cnt) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED
               PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cum_before
      FROM binned
    ), qs AS (
      SELECT unnest(['p50', 'p90', 'p95', 'p99']) AS quantile,
             unnest([0.5, 0.9, 0.95, 0.99]) AS p
    ), hits AS (
      SELECT q.quantile, q.p, s.lo, s.hi, s.n,
             CAST(ceil(q.p * s.n) AS BIGINT) AS rank,
             min_by(struct_pack(bin := c.bin, cnt := c.cnt,
                                cum_before := c.cum_before), c.bin) AS h
      FROM qs q CROSS JOIN stats s
      JOIN cum c ON c.cum >= CAST(ceil(q.p * s.n) AS BIGINT)
      GROUP BY 1, 2, 3, 4, 5
    )
    SELECT quantile,
           h.bin AS bin,
           round(lo + (CAST(h.bin AS DOUBLE)
             + (CAST(rank - h.cum_before AS DOUBLE)
                / CAST(h.cnt AS DOUBLE)))
             * ((hi - lo) / 1000.0), 6) AS est_value
    FROM hits
    """


@register(
    "event_value_histogram_quantiles",
    oracle=_EVENT_VALUE_HISTOGRAM_QUANTILES_ORACLE,
)
def event_value_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch via a fixed-width histogram: 1000 equi-width
    bins over the observed range, quantiles read off the cumulative bin
    counts with linear interpolation inside the crossing bin.

    This is the DETERMINISTIC member of the approximate-quantile family
    (`event_value_percentiles_approx`'s GK sketch is order-dependent and
    can only be rows-only checked; bin counts are order-free, so this one
    is value-exact against the oracle). Mergeability is literal: the sketch
    state is 1000 BIGINT cells that sum across partitions — exactly what
    Catalyst's partial aggregation already does — so the same query shape
    rolls up per-day sketches at 100 TB. Two scans by construction (range
    pass, bin pass), both full-pushdown column-pruned: lo/hi/n ride the
    bin rows as constant grouping columns so the read-off needs no second
    copy of the range pass (r15; see `_hist_quantiles_from_bins`).
    """
    ev = _events(spark, sf_dir).select("value")
    stats = ev.agg(
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
        F.count("*").alias("n"),
    )
    binned = (
        ev.crossJoin(F.broadcast(stats))
        .select(_hist_bin_expr().alias("bin"), "lo", "hi", "n")
        .groupBy("bin", "lo", "hi", "n")
        .agg(F.count("*").alias("cnt"))
    )
    return _hist_quantiles_from_bins(spark, binned)


@register(
    "streaming_value_histogram_quantiles",
    oracle=_EVENT_VALUE_HISTOGRAM_QUANTILES_ORACLE,
)
def streaming_value_histogram_quantiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming twin of `event_value_histogram_quantiles`: the 1000-bin
    sketch is maintained as a Structured Streaming aggregation over the
    replayed event stream (complete mode, availableNow), then quantiles are
    read off the final sketch table.

    This is the mergeability claim made executable: bins accumulated
    micro-batch by micro-batch through the state store equal bins computed
    in one batch pass, so the streaming run reuses the BATCH oracle
    verbatim. The sketch bounds (lo/hi) come from a one-time range pass and
    are pinned as literals — exactly how a production sketch fixes its
    bounds before ingestion starts.
    """
    from data_warehouse_flink_spark.streaming.jobs import run_stream_to_table
    from data_warehouse_flink_spark.streaming.sources import stream_events

    lo, hi, n = (
        _events(spark, sf_dir)
        .agg(F.min("value"), F.max("value"), F.count("*"))
        .first()
    )
    stream = stream_events(spark, sf_dir).select("value")
    if hi == lo:
        bin_col = F.lit(0).cast("long")
    else:
        bin_col = F.expr(
            f"CAST(least(floor((value - {lo!r}) / (({hi!r} - {lo!r}) "
            "/ 1000.0)), 999.0) AS BIGINT)"
        )
    binned_stream = stream.groupBy(bin_col.alias("bin")).agg(
        F.count("*").alias("cnt")
    )
    binned = run_stream_to_table(
        binned_stream, spark, output_mode="complete"
    )
    stats = spark.createDataFrame(
        [(float(lo), float(hi), int(n))], "lo double, hi double, n long"
    )
    # the sketch-table contract now carries the (constant) bounds on the
    # bin rows; attaching the 1-row local stats here costs nothing — the
    # scan-dedup motive lives in the batch twin (see the helper docstring)
    return _hist_quantiles_from_bins(
        spark, binned.crossJoin(F.broadcast(stats))
    )


@register(
    "events_key_skew_profile",
    oracle="""
    WITH per_key AS (
      SELECT user_id, count(*)::BIGINT AS cnt FROM events GROUP BY 1
    ), agg AS (
      SELECT count(*)::BIGINT AS n_keys, max(cnt)::BIGINT AS max_cnt,
             sum(cnt)::BIGINT AS n_rows
      FROM per_key
    ), ranked AS (
      SELECT user_id, cnt,
             row_number() OVER (ORDER BY cnt DESC, user_id)::BIGINT AS rank
      FROM per_key
    )
    SELECT r.user_id, r.cnt, r.rank, a.n_keys,
           a.max_cnt, (a.max_cnt * 1000 * a.n_keys // a.n_rows)::BIGINT
             AS skew_milli
    FROM ranked r CROSS JOIN agg a
    WHERE r.rank <= 5
    """,
)
def events_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnostic for shuffle planning: per-key cardinality
    profile of the events stream keyed by user — the measurement that
    decides whether a join/agg needs `operators/skew.py::salted_join` or
    AQE's skew handling. Emits the 5 heaviest keys plus the corpus-level
    skew factor (max key count over mean key count, in exact integer
    milli-units: max * 1000 * n_keys / n_rows).

    One scan, one key-shuffle; everything downstream is key-cardinality
    metadata. The global rank window only ever sees per-key counts, not
    rows.
    """
    from pyspark.sql import Window

    per_key = (
        _events(spark, sf_dir)
        .groupBy("user_id")
        .agg(F.count("*").alias("cnt"))
    )
    agg = per_key.agg(
        F.count("*").alias("n_keys"),
        F.max("cnt").alias("max_cnt"),
        F.sum("cnt").alias("n_rows"),
    )
    ranked = per_key.withColumn(
        "rank",
        F.row_number()
        .over(Window.orderBy(F.desc("cnt"), F.asc("user_id")))
        .cast("long"),
    ).filter(F.col("rank") <= 5)
    return ranked.crossJoin(F.broadcast(agg)).select(
        "user_id",
        "cnt",
        "rank",
        "n_keys",
        "max_cnt",
        F.expr("CAST(max_cnt * 1000 * n_keys DIV n_rows AS BIGINT)").alias(
            "skew_milli"
        ),
    )


@register(
    "orders_integrity_checks",
    oracle="""
    SELECT 'orphan_customer' AS check_name,
           (SELECT count(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey))::BIGINT
             AS n_violations,
           (SELECT count(*) FROM orders)::BIGINT AS n_checked
    UNION ALL
    SELECT 'duplicate_orderkey',
           (SELECT coalesce(sum(cnt), 0) FROM (
              SELECT count(*)::BIGINT AS cnt FROM orders
              GROUP BY o_orderkey HAVING count(*) > 1))::BIGINT,
           (SELECT count(*) FROM orders)::BIGINT
    UNION ALL
    SELECT 'null_orderdate',
           (SELECT count(*) FROM orders
            WHERE o_orderdate IS NULL)::BIGINT,
           (SELECT count(*) FROM orders)::BIGINT
    UNION ALL
    SELECT 'nonpositive_totalprice',
           (SELECT count(*) FROM orders
            WHERE o_totalprice <= 0)::BIGINT,
           (SELECT count(*) FROM orders)::BIGINT
    UNION ALL
    SELECT 'orphan_lineitem_order',
           (SELECT count(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey))::BIGINT,
           (SELECT count(*) FROM lineitem)::BIGINT
    """,
)
def orders_integrity_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt-test-style data-quality suite over the order pipeline: referential
    integrity (orders→customer, lineitem→orders, via LEFT ANTI joins),
    primary-key uniqueness, null and domain checks — one (check_name,
    n_violations, n_checked) row per expectation.

    Plan shape (r14, guide §2.4/§5): every orders-side check rides ONE
    probe scan — a broadcast LEFT OUTER join against the distinct customer
    keys marks orphans per row, the o_orderkey groupBy (which the
    uniqueness check needs anyway) carries the orphan/null/domain flags as
    partial-aggregated sums, and a second global aggregate folds the key
    table to a single stats row. The lineitem check likewise computes
    n_checked and the orphan count in one outer-join scan instead of a
    count() action plus an anti-join. The r13 form issued two driver
    count() actions and scanned orders four more times (once per check);
    now orders is scanned twice (probe + broadcast key build), lineitem
    once, customer once, with zero driver actions. The five report rows
    explode from one array literal over the combined 1×1 stats row, so the
    stats subtrees are planned exactly once each.
    """
    orders = table(spark, sf_dir, "orders")
    customer = table(spark, sf_dir, "customer")
    lineitem = table(spark, sf_dir, "lineitem")

    # Distinct key sides: the outer join must not multiply probe rows if
    # the key side itself carries duplicates (the dup check exists
    # precisely because PKs can be violated) — the anti-join form was
    # dup-robust, the outer-join form needs the explicit distinct.
    cust_keys = customer.select("c_custkey").distinct()
    order_keys = orders.select("o_orderkey").distinct()

    per_key = (
        orders.select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
        .join(
            F.broadcast(cust_keys),
            orders.o_custkey == F.col("c_custkey"),
            "left",
        )
        .groupBy("o_orderkey")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(
                F.when(F.col("c_custkey").isNull(), 1).otherwise(0)
            ).alias("orphan"),
            F.sum(
                F.when(F.col("o_orderdate").isNull(), 1).otherwise(0)
            ).alias("nulldate"),
            F.sum(
                F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)
            ).alias("badtotal"),
        )
    )
    ostats = per_key.agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("n_orders"),
        F.coalesce(
            F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(0)),
            F.lit(0),
        ).cast("long").alias("dup_viol"),
        F.coalesce(F.sum("orphan"), F.lit(0)).cast("long").alias("orphan_viol"),
        F.coalesce(F.sum("nulldate"), F.lit(0)).cast("long").alias("null_viol"),
        F.coalesce(F.sum("badtotal"), F.lit(0)).cast("long").alias("bad_viol"),
    )
    lstats = (
        lineitem.select("l_orderkey")
        .join(
            F.broadcast(order_keys),
            lineitem.l_orderkey == F.col("o_orderkey"),
            "left",
        )
        .agg(
            F.count("*").cast("long").alias("n_lineitem"),
            F.coalesce(
                F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0)),
                F.lit(0),
            ).cast("long").alias("line_orphan_viol"),
        )
    )
    report_rows = F.array(
        F.struct(
            F.lit("orphan_customer").alias("check_name"),
            F.col("orphan_viol").alias("n_violations"),
            F.col("n_orders").alias("n_checked"),
        ),
        F.struct(
            F.lit("duplicate_orderkey").alias("check_name"),
            F.col("dup_viol").alias("n_violations"),
            F.col("n_orders").alias("n_checked"),
        ),
        F.struct(
            F.lit("null_orderdate").alias("check_name"),
            F.col("null_viol").alias("n_violations"),
            F.col("n_orders").alias("n_checked"),
        ),
        F.struct(
            F.lit("nonpositive_totalprice").alias("check_name"),
            F.col("bad_viol").alias("n_violations"),
            F.col("n_orders").alias("n_checked"),
        ),
        F.struct(
            F.lit("orphan_lineitem_order").alias("check_name"),
            F.col("line_orphan_viol").alias("n_violations"),
            F.col("n_lineitem").alias("n_checked"),
        ),
    )
    return (
        ostats.crossJoin(lstats)
        .select(F.explode(report_rows).alias("r"))
        .select("r.check_name", "r.n_violations", "r.n_checked")
    )


@register(
    "events_k_anonymity",
    oracle="""
    WITH groups AS (
      SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, hour(ts) AS hr,
             count(*)::BIGINT AS cnt
      FROM events GROUP BY 1, 2, 3
    )
    SELECT event_type,
           count(*)::BIGINT AS n_groups,
           sum(CASE WHEN cnt < 10 THEN 1 ELSE 0 END)::BIGINT
             AS n_small_groups,
           sum(CASE WHEN cnt < 10 THEN cnt ELSE 0 END)::BIGINT
             AS suppressed_rows,
           (sum(CASE WHEN cnt < 10 THEN cnt ELSE 0 END) * 1000000
              // sum(cnt))::BIGINT AS suppression_ppm
    FROM groups GROUP BY 1
    """,
)
def events_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (k=10) over the quasi-identifier tuple
    (event_type, day, hour): how many equivalence classes fall below k,
    and what fraction of rows a release would have to suppress — the
    governance measurement that pairs with `doc_pii_redact` on the
    content side.

    Two cheap aggregations (rows → quasi-identifier groups → per-type
    rollup); the integer-ppm suppression rate keeps the output exact
    across engines. At 100 TB the same shape runs on any identifier
    tuple; cardinality is bounded by the QI domain, not the row count.
    """
    ev = _events(spark, sf_dir)
    groups = ev.groupBy(
        "event_type",
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.hour("ts").alias("hr"),
    ).agg(F.count("*").alias("cnt"))
    small = F.when(F.col("cnt") < 10, F.col("cnt")).otherwise(F.lit(0))
    return groups.groupBy("event_type").agg(
        F.count("*").alias("n_groups"),
        F.sum(F.when(F.col("cnt") < 10, 1).otherwise(0)).alias(
            "n_small_groups"
        ),
        F.sum(small).alias("suppressed_rows"),
        F.expr(
            "CAST(sum(CASE WHEN cnt < 10 THEN cnt ELSE 0 END) * 1000000"
            " DIV sum(cnt) AS BIGINT)"
        ).alias("suppression_ppm"),
    )


_USER_CDC_SNAPSHOT_ORACLE = """
    WITH log AS (
      SELECT user_id, event_type, value, epoch_us(ts)::BIGINT AS ts_us,
             event_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT user_id,
           event_type AS last_event_type,
           (value::DECIMAL(18,6))::VARCHAR AS last_value,
           ts_us AS last_ts_us
    FROM log
    WHERE rn = 1 AND event_type <> 'error'
    """


@register("user_cdc_snapshot", oracle=_USER_CDC_SNAPSHOT_ORACLE)
def user_cdc_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC log compaction: treat the event stream as a change log keyed by
    user (every event an upsert; ``error`` a delete tombstone) and
    materialize the current snapshot — latest record per key wins, keys
    whose latest record is a tombstone disappear. The SCD1 sibling of
    `user_tier_scd2`'s history-keeping MERGE.

    One key-shuffle for the per-key latest-record rank (ts, event_id
    total order — deterministic under ties); scales as any keyed window.
    At 100 TB this is the periodic compaction a streaming CDC ingest runs
    per partition; the same plan serves both.
    """
    from data_warehouse_flink_spark.operators.topn import top_n_per_group

    latest = top_n_per_group(
        _events(spark, sf_dir),
        ["user_id"],
        [F.desc("ts"), F.desc("event_id")],
        1,
    )
    return (
        latest.filter(F.col("event_type") != "error")
        .select(
            "user_id",
            F.col("event_type").alias("last_event_type"),
            F.expr("CAST(CAST(value AS DECIMAL(18,6)) AS STRING)").alias(
                "last_value"
            ),
            F.unix_micros("ts").alias("last_ts_us"),
        )
    )


@register("streaming_user_cdc_snapshot", oracle=_USER_CDC_SNAPSHOT_ORACLE)
def streaming_user_cdc_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `user_cdc_snapshot`: the CDC apply as a continuous
    query — latest record per key maintained in the state store by an
    UPDATE-mode struct-max aggregation, merged into a hash-bucketed parquet
    snapshot via `merge_upsert_foreachbatch` (read touched buckets →
    anti-join replaced keys → dynamic-partition-overwrite). Tombstoned keys
    stay in the table (their latest record IS the tombstone) and are
    filtered on read, exactly like the batch compaction.

    Update mode + keyed merge is the 100 TB shape: each micro-batch rewrites
    only the buckets containing changed keys (hashed, so nearly all of them
    once a batch changes a few hundred keys). The previous complete-mode
    form re-emitted (and rewrote) the ENTIRE snapshot every micro-batch —
    correct, but state-volume-bound. Correctness argument is unchanged: the
    struct max on (ts, event_id, ...) is associative and commutative, so
    per-batch refinements upserted key-by-key converge to the one-pass batch
    compaction and the BATCH oracle applies verbatim.
    """
    import os
    import tempfile

    from data_warehouse_flink_spark.streaming.mart import (
        merge_upsert_foreachbatch,
    )
    from data_warehouse_flink_spark.streaming.sources import (
        source_bytes,
        stream_events,
    )

    stream = stream_events(spark, sf_dir)
    latest = stream.groupBy("user_id").agg(
        F.max(
            F.struct("ts", "event_id", "event_type", "value")
        ).alias("last")
    )
    with tempfile.TemporaryDirectory(prefix="cdc_snapshot_") as work:
        table = os.path.join(work, "snapshot")
        # the struct-max partial-aggregates map-side, so the stateful width
        # can follow the replayed input
        merge_upsert_foreachbatch(
            latest, table, ["user_id"], n_buckets=16,
            input_bytes=source_bytes(f"{sf_dir}/events.parquet"),
        )
        return (
            spark.read.schema(latest.schema)
            .parquet(table)
            .filter(F.col("last.event_type") != "error")
            .select(
                "user_id",
                F.col("last.event_type").alias("last_event_type"),
                F.expr(
                    "CAST(CAST(last.value AS DECIMAL(18,6)) AS STRING)"
                ).alias("last_value"),
                F.unix_micros("last.ts").alias("last_ts_us"),
            )
            .localCheckpoint(eager=True)
        )


@register(
    "events_props_json",
    oracle="""
    SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
           count(*)::BIGINT AS n_events,
           count(DISTINCT user_id)::BIGINT AS n_users,
           round(sum(value::DECIMAL(18,6)), 6)::DOUBLE AS sum_value
    FROM events
    GROUP BY 1
    """,
)
def events_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured analytics: extract a field from the JSON ``props``
    payload with a JSON-path expression (JVM-side `get_json_object`, no
    UDF) and aggregate on it — the schema-on-read pattern for event
    payloads that never got promoted to columns.

    At 100 TB the note that matters: JSON parsing happens in the scan
    stage's projection (codegen'd, scan-linear), and only the extracted
    key shuffles. Promoting hot fields to real columns (or a parquet
    variant type) is the storage-side upgrade; the query shape is
    unchanged.
    """
    ev = _events(spark, sf_dir)
    return ev.groupBy(
        F.get_json_object("props", "$.k").cast("long").alias("k")
    ).agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.round(F.sum(F.col("value").cast("decimal(18,6)")), 6)
        .cast("double")
        .alias("sum_value"),
    )


@register(
    "events_backfill_plan",
    oracle="""
    WITH daily AS (
      SELECT strftime(ts, '%Y-%m-%d') AS day, count(*)::BIGINT AS cnt
      FROM events GROUP BY 1
    ), med AS (
      SELECT CAST(round(2 * median(cnt), 0) AS BIGINT) AS med2 FROM daily
    ), cal AS (
      SELECT strftime(d, '%Y-%m-%d') AS day
      FROM (SELECT unnest(generate_series(
              (SELECT min(day)::DATE FROM daily),
              (SELECT max(day)::DATE FROM daily),
              INTERVAL 1 DAY)) AS d) s
    )
    SELECT c.day,
           coalesce(dl.cnt, 0)::BIGINT AS cnt,
           CASE WHEN dl.cnt IS NULL THEN 'missing'
                WHEN 40 * dl.cnt < 19 * m.med2 THEN 'underfilled'
                ELSE 'ok' END AS status
    FROM cal c LEFT JOIN daily dl USING (day) CROSS JOIN med m
    """,
)
def events_backfill_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backfill planner: reconcile the partition calendar against what the
    table actually holds — every day between the observed min and max gets
    a status of ``missing`` (no rows: a backfill target), ``underfilled``
    (below 95% of the median day: a re-ingest candidate), or ``ok``.
    The orchestration-side sibling of `events_compaction_plan`.

    The only corpus-sized work is the per-day rollup; the calendar is
    generated (`sequence` of dates), the median threshold is one exact
    aggregate (2x median stays integral, so the 95% rule is pure BIGINT
    arithmetic), and the reconciliation join runs on day-count metadata.
    """
    daily = _events(spark, sf_dir).groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(F.count("*").alias("cnt"))
    med = daily.agg(
        F.expr(
            "CAST(round(2 * percentile(cnt, 0.5), 0) AS BIGINT)"
        ).alias("med2")
    )
    bounds = daily.agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    )
    cal = bounds.select(
        F.explode(
            F.expr(
                "sequence(to_date(lo), to_date(hi), interval 1 day)"
            )
        ).alias("d")
    ).select(F.date_format("d", "yyyy-MM-dd").alias("day"))
    return (
        cal.join(daily, "day", "left")
        .crossJoin(F.broadcast(med))
        .select(
            "day",
            F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt"),
            F.when(F.col("cnt").isNull(), "missing")
            .when(40 * F.col("cnt") < 19 * F.col("med2"), "underfilled")
            .otherwise("ok")
            .alias("status"),
        )
    )


def _session_size_bands(per_session: DataFrame) -> DataFrame:
    """Roll (user_id, n_events, duration_us) sessions up into four size
    bands: session and user counts, total and longest duration."""
    band = (
        F.when(F.col("n_events") == 1, "1")
        .when(F.col("n_events") <= 3, "2-3")
        .when(F.col("n_events") <= 7, "4-7")
        .otherwise("8+")
    )
    return per_session.groupBy(band.alias("size_band")).agg(
        F.count("*").alias("n_sessions"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum("duration_us").alias("sum_duration_us"),
        F.max("duration_us").alias("max_duration_us"),
    )


_EVENTS_SESSIONIZE_GAP_STATS_ORACLE = """
    WITH seq AS (
      SELECT user_id, epoch_us(ts)::BIGINT AS ts_us,
             lag(epoch_us(ts)::BIGINT) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
      FROM events
    ), flagged AS (
      SELECT user_id, ts_us,
             CASE WHEN prev_us IS NULL
                    OR ts_us - prev_us > 1800000000 THEN 1 ELSE 0
             END AS new_sess
      FROM seq
    ), sess AS (
      SELECT user_id, ts_us,
             sum(new_sess) OVER (
               PARTITION BY user_id ORDER BY ts_us
               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    ), per_session AS (
      SELECT user_id, session_id,
             count(*)::BIGINT AS n_events,
             (max(ts_us) - min(ts_us))::BIGINT AS duration_us
      FROM sess GROUP BY 1, 2
    )
    SELECT CASE WHEN n_events = 1 THEN '1'
                WHEN n_events <= 3 THEN '2-3'
                WHEN n_events <= 7 THEN '4-7'
                ELSE '8+' END AS size_band,
           count(*)::BIGINT AS n_sessions,
           count(DISTINCT user_id)::BIGINT AS n_users,
           sum(duration_us)::BIGINT AS sum_duration_us,
           max(duration_us)::BIGINT AS max_duration_us
    FROM per_session GROUP BY 1
    """


@register(
    "events_sessionize_gap_stats", oracle=_EVENTS_SESSIONIZE_GAP_STATS_ORACLE
)
def events_sessionize_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-size/duration distribution at a 30-minute inactivity gap —
    the engagement report sessionization exists to feed (complement of
    `user_sessions`, which emits the raw sessions). Size bands keep the
    output a fixed handful of rows at any corpus size.

    Plan: one user-keyed shuffle for the lag/cumsum sessionization, one
    (user, session) aggregate on the SAME partitioning (no second
    exchange), then a 4-group band rollup — everything after the first
    shuffle is partition-local until the final tiny aggregate. All stats
    are exact BIGINTs (durations in epoch micros).
    """
    from data_warehouse_flink_spark.operators.detection import sessionize

    ev = _events(spark, sf_dir).withColumn("ts_us", F.unix_micros("ts"))
    sess = sessionize(ev, "user_id", "ts", gap_sec=1800)
    per_session = sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        (F.max("ts_us") - F.min("ts_us")).alias("duration_us"),
    )
    return _session_size_bands(per_session)


_EVENTS_ROLLUP_INCREMENTAL_ORACLE = """
    SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
           count(*)::BIGINT AS cnt,
           sum((value::DECIMAL(18,6) * 1000000)::BIGINT)::BIGINT AS sum_value_micro
    FROM events
    GROUP BY 1, 2
    """


@register(
    "events_rollup_incremental", oracle=_EVENTS_ROLLUP_INCREMENTAL_ORACLE
)
def events_rollup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance, proven by construction:
    the daily (type, day) rollup is computed as BASE (events before
    2024-01-08) merged with DELTA (events from 2024-01-08 on) through the
    partial-aggregate merge law — counts add, micro-unit sums add — and the
    oracle recomputes the whole table from scratch. This is the batch
    statement of what `merge_upsert_foreachbatch` / the streaming mart rely
    on every micro-batch: agg(a ∪ b) = merge(agg(a), agg(b)).

    At 100 TB this is THE maintenance plan: the base aggregate is a stored
    table read back (here: recomputed partition-pruned branch — the filter
    reaches the scan), and only the delta partition is scanned fresh; the
    merge groupBy touches aggregate-sized data, never raw events. Sums are
    exact integer micro-units, so merge order cannot drift.
    """
    # the split predicate lives on the RAW timestamp so it pushes into the
    # parquet scan (a date_format-derived string compare would not); the
    # day string is derived after the filter, only for grouping
    cutoff = F.lit("2024-01-08").cast("timestamp")
    ev = _events(spark, sf_dir)

    def agg(df: DataFrame) -> DataFrame:
        return (
            df.select(
                "event_type",
                F.date_format("ts", "yyyy-MM-dd").alias("day"),
                F.expr(
                    "CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)"
                ).alias("v_micro"),
            )
            .groupBy("event_type", "day")
            .agg(
                F.count("*").alias("cnt"),
                F.sum("v_micro").alias("sum_value_micro"),
            )
        )

    base = agg(ev.filter(F.col("ts") < cutoff))
    delta = agg(ev.filter(F.col("ts") >= cutoff))
    return (
        base.unionByName(delta)
        .groupBy("event_type", "day")
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("sum_value_micro").alias("sum_value_micro"),
        )
    )


@register(
    "streaming_sessionize_gap_stats",
    oracle=_EVENTS_SESSIONIZE_GAP_STATS_ORACLE,
)
def streaming_sessionize_gap_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming twin of `events_sessionize_gap_stats`: per-user 30-minute
    sessions built by the state store's native ``session_window`` merge,
    then the same fixed band rollup over the materialized sessions. A
    closed session_window [first, last+gap) spans exactly one batch
    session (duration = end - gap - start), so the BATCH oracle applies
    verbatim — same merge argument as `streaming_user_sessions`, extended
    one aggregate further.
    """
    from data_warehouse_flink_spark.streaming.jobs import (
        run_stream_to_table,
        streaming_session_count,
    )
    from data_warehouse_flink_spark.streaming.sources import stream_events

    # The batch rule (and oracle) starts a new session only when the gap is
    # STRICTLY > 30 min, but session_window's end bound is exclusive: with a
    # gap of exactly '30 minutes' an event arriving precisely 1800.000000 s
    # after its predecessor would split. One extra microsecond makes the
    # merge condition `diff <= 1800000000 us`, matching the oracle's
    # strict-> split exactly.
    gap_us = 1_800_000_001
    sessions = streaming_session_count(
        stream_events(spark, sf_dir), "ts", "30 minutes 1 microsecond",
        keys=["user_id"],
    ).select(
        "user_id",
        "n_events",
        (
            F.col("session_end_us") - F.lit(gap_us) - F.col("session_start_us")
        ).alias("duration_us"),
    )
    # r15, measured and deliberately left at the session default: unlike
    # the day-grain twins (dq_anomaly / rollup), session_window cannot
    # partial-aggregate map-side — every event row reaches the state task
    # and the merge work scales with INPUT, not with state grain, so the
    # adaptive narrow width serializes the merge (width sweep at sf0.1:
    # 32 → 1.52 s, 8 → 1.08 s, 1 → 1.63 s). The local optimum of 8 has no
    # scale-portable derivation (it is a local[32] balance point), so the
    # width stays the compute default the cluster supplies.
    mat = run_stream_to_table(sessions, spark, output_mode="complete")
    return _session_size_bands(mat)


def _daily_counts(ev: DataFrame) -> DataFrame:
    """Events per ``yyyy-MM-dd`` day, on a batch or a streaming frame."""
    return ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day")).agg(
        F.count("*").alias("cnt")
    )


def _dq_flags(daily: DataFrame) -> DataFrame:
    """Flag each day's count against the exact median of its trailing 7
    days (the 4th smallest count): ``warmup`` until 7 days exist, then
    ``spike``/``drop`` beyond ±30 %, else ``ok``."""
    w = Window.orderBy("day").rowsBetween(-6, 0)
    trail = daily.select(
        "day",
        "cnt",
        F.size(F.collect_list("cnt").over(w)).cast("long").alias("n_trail"),
        F.expr("try_element_at(array_sort(collect_list(cnt) OVER "
               "(ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)), 4)"
               ).alias("raw_med7"),
    )
    return trail.select(
        "day",
        "cnt",
        "n_trail",
        F.when(F.col("n_trail") < 7, F.lit(None).cast("long"))
        .otherwise(F.col("raw_med7"))
        .alias("med7"),
        F.when(F.col("n_trail") < 7, "warmup")
        .when(F.col("cnt") * 10 > F.col("raw_med7") * 13, "spike")
        .when(F.col("cnt") * 10 < F.col("raw_med7") * 7, "drop")
        .otherwise("ok")
        .alias("status"),
    )


_EVENTS_DQ_ANOMALY_ORACLE = """
    WITH daily AS (
      SELECT strftime(ts, '%Y-%m-%d') AS day, count(*)::BIGINT AS cnt
      FROM events GROUP BY 1
    ), w AS (
      SELECT day, cnt,
             list(cnt) OVER (ORDER BY day
                             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
               AS trail
      FROM daily
    ), m AS (
      SELECT day, cnt, len(trail)::BIGINT AS n_trail,
             list_sort(trail)[4]::BIGINT AS med7
      FROM w
    )
    SELECT day, cnt, n_trail,
           CASE WHEN n_trail < 7 THEN NULL ELSE med7 END AS med7,
           CASE WHEN n_trail < 7 THEN 'warmup'
                WHEN cnt * 10 > med7 * 13 THEN 'spike'
                WHEN cnt * 10 < med7 * 7 THEN 'drop'
                ELSE 'ok' END AS status
    FROM m
    """


@register("events_dq_anomaly", oracle=_EVENTS_DQ_ANOMALY_ORACLE)
def events_dq_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day volume anomaly detection: each day's event count vs
    the exact median of its trailing 7-day window — ±30% flags a
    spike/drop, the first-line data-quality monitor an ingest pipeline
    pages on. The 7-median is the 4th smallest of the window's counts
    (exact integers, no percentile interpolation), the ±30% compare is an
    integer cross-multiply — nothing floats.

    Scale: the only corpus-sized work is the one day rollup; the ordered
    window runs over day-grain METADATA (30 rows here, ~36.5k rows for a
    century), so the single-partition ORDER BY is free at any corpus size
    — same argument as the compaction planner.
    """
    return _dq_flags(_daily_counts(_events(spark, sf_dir)))


@register("streaming_dq_anomaly", oracle=_EVENTS_DQ_ANOMALY_ORACLE)
def streaming_dq_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `events_dq_anomaly`: the per-day counts are
    maintained by an update-mode streaming aggregate (day-keyed counts are
    the canonical mergeable state — counts add across micro-batches), and
    the trailing-median flagging runs over the materialized day table.
    The monitor a streaming ingest actually pages on: state is O(days),
    the flag pass is day-grain metadata, and the batch oracle applies
    verbatim because count(a ∪ b) = count(a) + count(b).
    """
    from data_warehouse_flink_spark.streaming.jobs import run_stream_to_table
    from data_warehouse_flink_spark.streaming.sources import (
        source_bytes,
        stream_events,
    )

    # r15 (VERDICT r14 #1, guide §2.5): day-keyed counts are O(days) state —
    # right-size the state-store width from the replayed input instead of
    # paying `shuffle.partitions` store commits per micro-batch.
    mat = run_stream_to_table(
        _daily_counts(stream_events(spark, sf_dir)),
        spark,
        output_mode="complete",
        input_bytes=source_bytes(f"{sf_dir}/events.parquet"),
    )
    return _dq_flags(mat)


@register(
    "streaming_rollup_incremental", oracle=_EVENTS_ROLLUP_INCREMENTAL_ORACLE
)
def streaming_rollup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The maintenance loop end-to-end: an update-mode streaming rollup
    whose per-micro-batch emissions land in a parquet mart through
    `merge_upsert_foreachbatch` (one write on the first batch; later
    batches: touched-bucket read → replaced-key anti-join → dynamic
    overwrite), then the mart is read back, with the stream's known
    schema, as the result. Streaming twin of `events_rollup_incremental`
    — same merge law, but exercised through the actual upsert sink
    instead of a batch union, against the same full-recompute oracle.
    """
    import os
    import tempfile

    from data_warehouse_flink_spark.streaming.mart import (
        merge_upsert_foreachbatch,
    )
    from data_warehouse_flink_spark.streaming.sources import (
        source_bytes,
        stream_events,
    )

    stream = stream_events(spark, sf_dir)
    agg = stream.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(
        F.count("*").alias("cnt"),
        F.sum(
            F.expr("CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)")
        ).alias("sum_value_micro"),
    )
    with tempfile.TemporaryDirectory(prefix="rollup_mart_") as work:
        table = os.path.join(work, "mart")
        # (event_type, day) state is dimension-sized: width follows the
        # replayed input
        merge_upsert_foreachbatch(
            agg, table, ["event_type", "day"], n_buckets=16,
            input_bytes=source_bytes(f"{sf_dir}/events.parquet"),
        )
        return (
            spark.read.schema(agg.schema)
            .parquet(table)
            .select("event_type", "day", "cnt", "sum_value_micro")
            .localCheckpoint(eager=True)
        )


@register(
    "events_late_arrival_profile",
    oracle="""
    WITH seq AS (
      SELECT user_id, epoch_us(ts)::BIGINT AS ts_us,
             max(epoch_us(ts)::BIGINT) OVER (
               PARTITION BY user_id ORDER BY event_id
               ROWS UNBOUNDED PRECEDING) AS hwm_us
      FROM events
    ), late AS (
      SELECT CASE WHEN hwm_us - ts_us <= 0 THEN 'on-time'
                  WHEN hwm_us - ts_us < 60000000 THEN '<1m'
                  WHEN hwm_us - ts_us < 3600000000 THEN '<1h'
                  ELSE '>=1h' END AS lateness_band,
             hwm_us - ts_us AS late_us
      FROM seq
    )
    SELECT lateness_band,
           count(*)::BIGINT AS n_events,
           max(late_us)::BIGINT AS max_late_us
    FROM late GROUP BY 1
    """,
)
def events_late_arrival_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark design aid: how late do events actually arrive? Arrival
    order is the event_id sequence (the ingest's append order); an event
    is late by (per-user high-water-mark of event time at its arrival −
    its own event time). The banded distribution is exactly what picks
    `withWatermark`'s delay — set it at the band that keeps the loss you
    can tolerate, instead of guessing.

    One user-keyed shuffle for the running max (arrival order within
    user), then a 4-group rollup; exact integer micros throughout. A
    global (un-keyed) arrival order would serialize at 100 TB — per-key
    order is both the scalable and the semantically right choice, since
    watermarks gate per-key windows.
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    seq = _events(spark, sf_dir).select(
        F.unix_micros("ts").alias("ts_us"),
        F.max(F.unix_micros("ts")).over(w).alias("hwm_us"),
    )
    late = seq.select(
        (F.col("hwm_us") - F.col("ts_us")).alias("late_us")
    ).select(
        "late_us",
        F.when(F.col("late_us") <= 0, "on-time")
        .when(F.col("late_us") < 60_000_000, "<1m")
        .when(F.col("late_us") < 3_600_000_000, "<1h")
        .otherwise(">=1h")
        .alias("lateness_band"),
    )
    return late.groupBy("lateness_band").agg(
        F.count("*").alias("n_events"),
        F.max("late_us").alias("max_late_us"),
    )


@register("streaming_user_tier_scd2", oracle=_USER_TIER_SCD2_ORACLE)
def streaming_user_tier_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `user_tier_scd2`: the nightly dimension merge as
    a continuous job — events replayed one day per micro-batch
    (`streaming.sources.ordered_replay` over the days in calendar order,
    the engine's tested replay harness), each batch building its day
    snapshot and applying it to the running history with `scd2_apply`
    inside foreachBatch. The history chain localCheckpoints between
    batches exactly like the batch form, so state never re-plans the whole
    lineage.

    SCD2 apply is ORDER-DEPENDENT (unlike the mergeable counts/maxes behind
    the other streaming twins), so the twin's correctness hinges on
    in-order day delivery — which is precisely how a real CDC-dimension
    pipeline consumes its upstream (per-partition order from the log). The
    batch oracle applies verbatim because the per-batch applies replay the
    identical day sequence.
    """
    import os
    import tempfile

    from data_warehouse_flink_spark.operators.scd2 import scd2_apply, scd2_init
    from data_warehouse_flink_spark.streaming.jobs import run_foreach_batch
    from data_warehouse_flink_spark.streaming.sources import (
        ordered_replay,
        source_bytes,
    )

    # ONE events scan feeds the day-ordered replay (the batch twin's
    # single-scan discipline): a pushdown-able half-open ts range (the
    # days are consecutive, so range == the isin over to_date) plus an
    # eager checkpoint of the dimension-sized slice — the replay's
    # staging write then reads memory, not parquet.
    ev = (
        _events(spark, sf_dir)
        .filter(
            (F.col("ts") >= F.lit(_SCD2_DAYS[0]).cast("timestamp"))
            & (F.col("ts") < F.lit("2024-01-05").cast("timestamp"))
        )
        .select("user_id", "ts", "value")
        .localCheckpoint(eager=True)
    )
    with tempfile.TemporaryDirectory(prefix="scd2_stream_") as work:
        replay = os.path.join(work, "replay")
        # SCD2 apply is order-dependent: one micro-batch per day, in
        # calendar order
        stream = ordered_replay(
            ev.withColumn("_day", F.to_date("ts").cast("string")),
            "_day",
            _SCD2_DAYS,
            replay,
        )
        state: dict = {"hist": None}

        def per_batch(batch_df: DataFrame, epoch_id: int) -> None:
            # foreachBatch re-reads the batch's file slice per action —
            # persist once per batch. The day-floor collect doubles as the
            # emptiness check (min over no rows is NULL).
            batch_df.persist()
            try:
                # the batch IS one day, effective from its floor
                day_us = batch_df.agg(
                    F.min(F.unix_micros(F.date_trunc("DAY", "ts"))).alias("d")
                ).collect()[0]["d"]
                if day_us is None:
                    return  # empty batch
                s = F.sum(F.col("value").cast("decimal(18,6)"))
                snap = batch_df.groupBy("user_id").agg(
                    F.when(s >= 100, "gold")
                    .when(s >= 10, "silver")
                    .otherwise("bronze")
                    .alias("tier")
                )
                if state["hist"] is None:
                    state["hist"] = scd2_init(snap, "user_id", ["tier"], day_us)
                else:
                    state["hist"] = scd2_apply(
                        state["hist"], snap, "user_id", ["tier"], day_us
                    )
                state["hist"] = state["hist"].localCheckpoint(eager=True)
            finally:
                batch_df.unpersist()

        # the apply chain's joins run on dimension-sized day slices:
        # width follows the replay's size
        run_foreach_batch(
            stream,
            per_batch,
            output_mode="append",
            input_bytes=source_bytes(replay),
        )
    return state["hist"].select(
        "user_id",
        "tier",
        "valid_from_us",
        "valid_to_us",
        F.col("is_current").cast("long").alias("is_current"),
    )


def classify_event_records(df: DataFrame) -> DataFrame:
    """Row-level ingest dispositions, first matching rule wins:
    bad_ts (null or outside the corpus calendar), bad_type (NULL or
    outside the event-type domain), bad_value (null/negative/absurd),
    bad_props (not a JSON object) — else ok. Pure scan-local CASE; the
    quarantine router every permissive ingest runs before landing rows.

    NULL event_type routes to bad_type (decided in round 12 — VERDICT
    r11 #5): through round 11 a bare ``~isin(...)`` let NULL types fall
    through to the later rules (SQL ternary logic: NULL NOT IN (...) is
    NULL -> false), so a NULL-typed row with clean ts/value/props landed
    as 'ok'. A quarantine router should quarantine records missing their
    type, so the predicate now carries an explicit isNull() arm — and the
    DuckDB oracle carries the matching ``IS NULL OR ... NOT IN`` in the
    same commit, with the randomized twin updated alongside."""
    return df.withColumn(
        "disposition",
        F.when(
            F.col("ts").isNull()
            | (F.col("ts") < F.lit("2024-01-01").cast("timestamp"))
            | (F.col("ts") >= F.lit("2025-01-01").cast("timestamp")),
            "bad_ts",
        )
        .when(
            F.col("event_type").isNull()
            | ~F.col("event_type").isin(
                "view", "click", "purchase", "signup", "error"
            ),
            "bad_type",
        )
        .when(
            F.col("value").isNull()
            | (F.col("value") < 0)
            | (F.col("value") > 1e9),
            "bad_value",
        )
        .when(
            F.col("props").isNull() | ~F.col("props").startswith("{"),
            "bad_props",
        )
        .otherwise("ok"),
    )


@register(
    "events_quarantine",
    oracle="""
    WITH d AS (
      SELECT CASE
        WHEN ts IS NULL OR ts < TIMESTAMP '2024-01-01'
             OR ts >= TIMESTAMP '2025-01-01' THEN 'bad_ts'
        WHEN event_type IS NULL OR event_type NOT IN
             ('view', 'click', 'purchase', 'signup', 'error')
          THEN 'bad_type'
        WHEN value IS NULL OR value < 0 OR value > 1e9 THEN 'bad_value'
        WHEN props IS NULL OR NOT starts_with(props, '{') THEN 'bad_props'
        ELSE 'ok' END AS disposition,
        event_id
      FROM events
    )
    SELECT disposition,
           count(*)::BIGINT AS n_rows,
           min(event_id)::BIGINT AS first_event_id,
           max(event_id)::BIGINT AS last_event_id
    FROM d GROUP BY 1
    """,
)
def events_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quarantine report for the event ingest: every row classified by
    `classify_event_records` (first matching rule wins), rolled up per
    disposition with the event-id range for triage. The clean corpus
    reports a single 'ok' row — the RULES are exercised by the
    violation-injection test (tests/test_round5_ops.py), the same
    discipline as `orders_integrity_checks`. Routing is a scan-local
    CASE: at 100 TB the quarantine split costs one scan, no shuffle
    beyond the 5-group rollup."""
    return (
        classify_event_records(_events(spark, sf_dir))
        .groupBy("disposition")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("event_id").alias("first_event_id"),
            F.max("event_id").alias("last_event_id"),
        )
    )


@register(
    "user_churn_training_set",
    oracle="""
    WITH feat AS (
      SELECT user_id,
             count(*)::BIGINT AS n_events,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               ::BIGINT AS n_purchases,
             count(DISTINCT CAST(ts AS DATE))::BIGINT AS days_active,
             sum((value::DECIMAL(18,6) * 1000000)::BIGINT)::BIGINT
               AS value_sum_micro,
             (epoch_us(TIMESTAMP '2024-01-22') - max(epoch_us(ts)))::BIGINT
               AS us_since_last
      FROM events
      WHERE ts < TIMESTAMP '2024-01-22'
      GROUP BY 1
    ), lab AS (
      SELECT DISTINCT user_id FROM events
      WHERE ts >= TIMESTAMP '2024-01-22'
        AND ts < TIMESTAMP '2024-01-29'
    )
    SELECT f.user_id, n_events, n_purchases, days_active,
           value_sum_micro, us_since_last,
           (lab.user_id IS NULL) AS churned
    FROM feat f LEFT JOIN lab ON f.user_id = lab.user_id
    """,
)
def user_churn_training_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free supervised training set: per-user behavioral features
    computed ONLY from events before the cutoff (2024-01-22), label =
    churned iff the user has no activity in the following 7-day window —
    the point-in-time discipline that makes a label usable (features that
    peek past the cutoff leak the answer). The feature/label temporal
    split is enforced by pushed scan filters, not convention.

    Plan: one keyed aggregate over the feature window (ts filter reaches
    the parquet scan), one distinct over the label window, one left join
    on the same key. Every feature is an exact integer (decimal-scaled
    micro-units for value); at 100 TB both windows partition-prune.
    """
    cutoff = F.lit("2024-01-22").cast("timestamp")
    label_end = F.lit("2024-01-29").cast("timestamp")
    ev = _events(spark, sf_dir)
    feat = (
        ev.filter(F.col("ts") < cutoff)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("n_purchases"),
            F.countDistinct(F.to_date("ts")).alias("days_active"),
            F.sum(
                F.expr(
                    "CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)"
                )
            ).alias("value_sum_micro"),
            (
                F.unix_micros(cutoff) - F.max(F.unix_micros("ts"))
            ).alias("us_since_last"),
        )
    )
    lab = (
        ev.filter((F.col("ts") >= cutoff) & (F.col("ts") < label_end))
        .select("user_id")
        .distinct()
        .withColumn("active", F.lit(True))
    )
    return feat.join(lab, "user_id", "left").select(
        "user_id",
        "n_events",
        "n_purchases",
        "days_active",
        "value_sum_micro",
        "us_since_last",
        F.col("active").isNull().alias("churned"),
    )


def _weekday_hour_cell() -> list:
    """The heatmap's (weekday, hour) cell key of ``ts``. DuckDB's
    `dayofweek` is 0=Sunday, Spark's 1=Sunday: aligned via ``- 1``."""
    return [
        (F.dayofweek("ts") - 1).cast("long").alias("weekday"),
        F.hour("ts").cast("long").alias("hour"),
    ]


_EVENTS_WEEKDAY_HOUR_HEATMAP_ORACLE = """
    SELECT dayofweek(ts)::BIGINT AS weekday,
           hour(ts)::BIGINT AS hour,
           count(*)::BIGINT AS n_events,
           count(DISTINCT user_id)::BIGINT AS n_users
    FROM events GROUP BY 1, 2
    """


@register(
    "events_weekday_hour_heatmap", oracle=_EVENTS_WEEKDAY_HOUR_HEATMAP_ORACLE
)
def events_weekday_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday × hour activity heatmap (the load-shaping view capacity
    planning reads): 7×24 exact counts from one rollup."""
    return _events(spark, sf_dir).groupBy(*_weekday_hour_cell()).agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


@register(
    "orders_customer_mart",
    oracle="""
    SELECT r.r_name AS region_name,
           n.n_name AS nation_name,
           year(o.o_orderdate)::BIGINT AS order_year,
           count(*)::BIGINT AS n_orders,
           count(DISTINCT c.c_custkey)::BIGINT AS n_customers,
           CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))), 2)
                AS DOUBLE) AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY 1, 2, 3
    """,
)
def orders_customer_mart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema mart build: the orders fact denormalized through the
    customer → nation → region dimension chain and rolled to the
    (region, nation, year) grain — the nightly summary table a BI layer
    reads instead of re-joining raw facts. Every dimension broadcasts
    (region 5 rows, nation 25, customer is the one borderline dim — at
    TPC-H scale it shuffles, and that is the correct plan: AQE picks per
    size, nothing is forced).
    """
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(n, c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy(
            F.col("r_name").alias("region_name"),
            F.col("n_name").alias("nation_name"),
            F.year("o_orderdate").cast("long").alias("order_year"),
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.countDistinct("c_custkey").alias("n_customers"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("revenue"),
        )
    )


@register(
    "streaming_weekday_hour_heatmap",
    oracle=_EVENTS_WEEKDAY_HOUR_HEATMAP_ORACLE,
)
def streaming_weekday_hour_heatmap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming twin of the weekday × hour heatmap: counts and exact
    distincts maintained per (weekday, hour) cell by the state store —
    168 keys of state, mergeable across micro-batches, batch oracle
    verbatim."""
    from data_warehouse_flink_spark.streaming.jobs import run_stream_to_table
    from data_warehouse_flink_spark.streaming.sources import stream_events

    agg = stream_events(spark, sf_dir).groupBy(*_weekday_hour_cell()).agg(
        F.count("*").alias("n_events")
    )
    # exact distincts are not incrementally mergeable in a streaming agg
    # without keeping the id sets; materialize the counts stream, then
    # compute the exact distinct from the source in a batch pass over the
    # SAME grouping (the lambda-architecture reconciliation, one scan)
    mat = run_stream_to_table(agg, spark, output_mode="complete")
    exact = _events(spark, sf_dir).groupBy(*_weekday_hour_cell()).agg(
        F.countDistinct("user_id").alias("n_users")
    )
    return mat.join(exact, ["weekday", "hour"])
