"""The six reference job families, re-expressed over the driver's `events`
table (event_id, ts, user_id, event_type ∈ {view,click,purchase,signup,error},
value, props='{"k": <0..99>}').

Analog mapping (reference entity → testdata column):
- item / url        → user_id / derived page from props.k
- behavior          → event_type ('view' ~ pv; 'error' ~ login fail;
                      'signup' ~ order create / receipt; 'purchase' ~ pay)
- channel           → 'ch' + (props.k % 5)
- province          → nation of the customer with c_custkey = user_id

Every query returns engine-neutral types (BIGINT epochs, BIGINT counts,
DOUBLE rounded values) so the DuckDB oracle hash-matches exactly; see
registry.py for the conventions. Reference citations are on each query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_warehouse_flink_spark.io import table
from data_warehouse_flink_spark.operators.detection import (
    running_count_blacklist,
    sessionize,
    threshold_in_window,
)
from data_warehouse_flink_spark.operators.joins import interval_join
from data_warehouse_flink_spark.operators.patterns import Pattern
from data_warehouse_flink_spark.operators.topn import top_n_per_group
from data_warehouse_flink_spark.operators.windows import (
    windowed_approx_distinct_checked,
    windowed_count,
    windowed_distinct_count,
)
from data_warehouse_flink_spark.registry import register

HOUR_US = 3_600_000_000


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "events")


# --------------------------------------------------------------------------
# PageView — DW-Flink NetworkFlowAnalysis app/PageView.scala:15-35
# (filter behavior='pv' → 1 h tumbling count). W2/W7/P3.
# --------------------------------------------------------------------------
_PAGE_VIEW_ORACLE = """
    SELECT (epoch_us(ts) // 3600000000) * 3600 AS window_start_sec,
           (epoch_us(ts) // 3600000000) * 3600 + 3600 AS window_end_sec,
           count(*) AS pv
    FROM events
    WHERE event_type = 'view'
    GROUP BY 1, 2
    """


@register("page_view", oracle=_PAGE_VIEW_ORACLE)
def page_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly page views: tumbling event-time window count."""
    ev = _events(spark, sf_dir).filter(F.col("event_type") == "view")
    return windowed_count(ev, "ts", "1 hour", count_alias="pv")


# --------------------------------------------------------------------------
# HotItems — DW-Flink HotItemsAnalysis app/HotItems.scala:34-134
# (1 h / 5 min sliding count per item, then per-window top-3). W1/G1/G3/T1/T3.
# Slide widened to 15 min to keep the 4× row replication of pane assignment.
# --------------------------------------------------------------------------
_HOT_ITEMS_TOPN_ORACLE = """
    WITH assigned AS (
      SELECT ((epoch_us(ts) // 900000000) - g.k) * 900 AS window_start_sec,
             user_id
      FROM events CROSS JOIN generate_series(0, 3) g(k)
      WHERE event_type = 'view'
    ), counted AS (
      SELECT window_start_sec + 3600 AS window_end_sec, user_id,
             count(*) AS cnt
      FROM assigned GROUP BY 1, 2
    )
    SELECT window_end_sec, user_id, cnt,
           CAST(row_number() OVER (
             PARTITION BY window_end_sec ORDER BY cnt DESC, user_id) AS BIGINT
           ) AS rn
    FROM counted
    QUALIFY rn <= 3
    """


@register("hot_items_topn", oracle=_HOT_ITEMS_TOPN_ORACLE)
def hot_items_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 hottest entities per 1 h sliding window (5→15 min slide)."""
    ev = _events(spark, sf_dir).filter(F.col("event_type") == "view")
    counts = windowed_count(
        ev, "ts", "1 hour", slide="15 minutes", keys=["user_id"], count_alias="cnt"
    )
    return top_n_per_group(
        counts.select("window_end_sec", "user_id", "cnt"),
        partition_cols=["window_end_sec"],
        order=[F.desc("cnt"), F.asc("user_id")],
        n=3,
    )


# --------------------------------------------------------------------------
# NetworkFlow — DW-Flink NetworkFlowAnalysis app/NetworkFlow.scala:34-140
# (regex-filter urls, 10 min / 5 min sliding count per url, top-5). W1/T2/P5.
# --------------------------------------------------------------------------
@register(
    "network_flow_topn",
    oracle="""
    WITH pages AS (
      SELECT ts, 'page_' || CAST(CAST(props->>'$.k' AS INTEGER) % 20 AS VARCHAR)
               AS url
      FROM events
      WHERE event_type IN ('view', 'click')
    ), assigned AS (
      SELECT ((epoch_us(ts) // 300000000) - g.k) * 300 AS window_start_sec, url
      FROM pages CROSS JOIN generate_series(0, 1) g(k)
      WHERE NOT regexp_matches(url, '\\.(css|js)$')
    ), counted AS (
      SELECT window_start_sec + 600 AS window_end_sec, url, count(*) AS cnt
      FROM assigned GROUP BY 1, 2
    )
    SELECT window_end_sec, url, cnt,
           CAST(row_number() OVER (
             PARTITION BY window_end_sec ORDER BY cnt DESC, url) AS BIGINT
           ) AS rn
    FROM counted
    QUALIFY rn <= 5
    """,
)
def network_flow_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 hot URLs per 10 min/5 min sliding window, css/js filtered out."""
    ev = _events(spark, sf_dir).filter(F.col("event_type").isin("view", "click"))
    pages = ev.select(
        "ts",
        F.concat(
            F.lit("page_"),
            (F.get_json_object("props", "$.k").cast("int") % 20).cast("string"),
        ).alias("url"),
    ).filter(~F.col("url").rlike(r"\.(css|js)$"))
    counts = windowed_count(
        pages, "ts", "10 minutes", slide="5 minutes", keys=["url"], count_alias="cnt"
    )
    return top_n_per_group(
        counts.select("window_end_sec", "url", "cnt"),
        partition_cols=["window_end_sec"],
        order=[F.desc("cnt"), F.asc("url")],
        n=5,
    )


# --------------------------------------------------------------------------
# UniqueVisitor — DW-Flink NetworkFlowAnalysis app/UniqueVisitor.scala:20-48
# (1 h tumbling exact UV). W3/W8.
# --------------------------------------------------------------------------
_UNIQUE_VISITORS_ORACLE = """
    SELECT (epoch_us(ts) // 3600000000) * 3600 AS window_start_sec,
           (epoch_us(ts) // 3600000000) * 3600 + 3600 AS window_end_sec,
           count(DISTINCT user_id) AS uv
    FROM events
    WHERE event_type = 'view'
    GROUP BY 1, 2
    """


@register("unique_visitors", oracle=_UNIQUE_VISITORS_ORACLE)
def unique_visitors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly unique visitors: exact per-window distinct count."""
    ev = _events(spark, sf_dir).filter(F.col("event_type") == "view")
    return windowed_distinct_count(ev, "ts", "1 hour", "user_id", alias="uv")


# --------------------------------------------------------------------------
# UvWithBloom — DW-Flink NetworkFlowAnalysis app/UvWithBloom.scala:27-113
# (Redis-backed Bloom bitmap UV). W9/W10 → HyperLogLog++. The sketch value
# itself can't hash-match an exact oracle, but its ERROR CONTRACT can: the
# gate emits the exact count plus a within-bound predicate
# (|approx-exact|/exact <= 5*rsd, integer arithmetic) that the oracle
# asserts as constant TRUE — any out-of-contract window flips it to false
# and the hash compare catches it (VERDICT r5 item 3).
# --------------------------------------------------------------------------
@register(
    "uv_approx",
    oracle="""
    SELECT (epoch_us(ts) // 3600000000) * 3600 AS window_start_sec,
           (epoch_us(ts) // 3600000000) * 3600 + 3600 AS window_end_sec,
           count(DISTINCT user_id) AS uv_exact,
           TRUE AS within_bound
    FROM events
    WHERE event_type = 'view'
    GROUP BY 1, 2
    """,
)
def uv_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly approximate UV via HLL++ (replaces the Bloom+Redis bitmap),
    graded against its 5*rsd error contract per window."""
    ev = _events(spark, sf_dir).filter(F.col("event_type") == "view")
    return windowed_approx_distinct_checked(
        ev, "ts", "1 hour", "user_id", rsd=0.02
    )


# --------------------------------------------------------------------------
# AppMarketingByChannel — DW-Flink MarketAnalysis
# app/AppMarketingByChannel.scala:20-51 (filter UNINSTALL, key by
# (channel, behavior), 1 h sliding count). W1/W6/G2/P4/P6.
# --------------------------------------------------------------------------
@register(
    "app_marketing_by_channel",
    oracle="""
    WITH marketing AS (
      SELECT ts,
             'ch' || CAST(CAST(props->>'$.k' AS INTEGER) % 5 AS VARCHAR)
               AS channel,
             event_type AS behavior
      FROM events
      WHERE event_type <> 'error'
    ), assigned AS (
      SELECT ((epoch_us(ts) // 900000000) - g.k) * 900 AS window_start_sec,
             channel, behavior
      FROM marketing CROSS JOIN generate_series(0, 3) g(k)
    )
    SELECT window_start_sec, window_start_sec + 3600 AS window_end_sec,
           channel, behavior, count(*) AS cnt
    FROM assigned
    GROUP BY 1, 2, 3, 4
    """,
)
def app_marketing_by_channel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing counts per (channel, behavior) over 1 h/15 min windows."""
    ev = _events(spark, sf_dir).filter(F.col("event_type") != "error")
    marketing = ev.select(
        "ts",
        F.concat(
            F.lit("ch"),
            (F.get_json_object("props", "$.k").cast("int") % 5).cast("string"),
        ).alias("channel"),
        F.col("event_type").alias("behavior"),
    )
    return windowed_count(
        marketing,
        "ts",
        "1 hour",
        slide="15 minutes",
        keys=["channel", "behavior"],
        count_alias="cnt",
    )


# --------------------------------------------------------------------------
# AppMarketing (total) — DW-Flink MarketAnalysis app/AppMarketing.scala:19-44
# (filter UNINSTALL, dummy key, 1 h sliding total count). W1/W6.
# --------------------------------------------------------------------------
@register(
    "app_marketing_total",
    oracle="""
    WITH assigned AS (
      SELECT ((epoch_us(ts) // 900000000) - g.k) * 900 AS window_start_sec
      FROM events CROSS JOIN generate_series(0, 3) g(k)
      WHERE event_type <> 'error'
    )
    SELECT window_start_sec, window_start_sec + 3600 AS window_end_sec,
           count(*) AS cnt
    FROM assigned GROUP BY 1, 2
    """,
)
def app_marketing_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total marketing event count per 1 h/15 min sliding window."""
    ev = _events(spark, sf_dir).filter(F.col("event_type") != "error")
    return windowed_count(ev, "ts", "1 hour", slide="15 minutes", count_alias="cnt")


# --------------------------------------------------------------------------
# AdStatisticByGeo — DW-Flink MarketAnalysis app/AdStatisticByGeo.scala:21-114
# (per-province sliding window click counts). W1/W5/G1; province = nation of
# the customer keyed by user_id, joined broadcast (dims are tiny).
# --------------------------------------------------------------------------
@register(
    "ad_clicks_by_geo",
    oracle="""
    WITH clicks AS (
      SELECT e.ts, n.n_name AS province
      FROM events e
      JOIN customer c ON e.user_id = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      WHERE e.event_type = 'click'
    ), assigned AS (
      SELECT ((epoch_us(ts) // 900000000) - g.k) * 900 AS window_start_sec,
             province
      FROM clicks CROSS JOIN generate_series(0, 3) g(k)
    )
    SELECT window_start_sec, window_start_sec + 3600 AS window_end_sec,
           province, count(*) AS cnt
    FROM assigned GROUP BY 1, 2, 3
    """,
)
def ad_clicks_by_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-province click counts over 1 h/15 min sliding windows.

    The dim joins are explicitly broadcast: customer/nation are small at any
    SF relative to the event stream, so no shuffle touches the fact table.
    """
    ev = _events(spark, sf_dir).filter(F.col("event_type") == "click")
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    clicks = (
        ev.join(F.broadcast(cust), ev.user_id == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select("ts", F.col("n_name").alias("province"))
    )
    return windowed_count(
        clicks, "ts", "1 hour", slide="15 minutes", keys=["province"],
        count_alias="cnt",
    )


# --------------------------------------------------------------------------
# Ad blacklist — DW-Flink MarketAnalysis app/AdStatisticByGeo.scala:71-111
# (per-(user,ad) daily counter; one-time warning past the threshold). W11/C7.
# Key analog: (user_id, day); threshold 5.
# --------------------------------------------------------------------------
@register(
    "ad_blacklist_warnings",
    oracle="""
    WITH ranked AS (
      SELECT user_id, strftime(ts, '%Y-%m-%d') AS day, epoch_us(ts) AS warn_us,
             row_number() OVER (
               PARTITION BY user_id, strftime(ts, '%Y-%m-%d')
               ORDER BY ts, event_id) AS rn
      FROM events
    )
    SELECT user_id, day, warn_us FROM ranked WHERE rn = 6
    """,
)
def ad_blacklist_warnings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-time blacklist warning when a user exceeds 5 events in a day."""
    ev = _events(spark, sf_dir)
    flagged = running_count_blacklist(
        ev, keys=["user_id"], ts_col="ts", order_cols=["ts", "event_id"],
        max_count=5,
    )
    return flagged.filter(F.col("result_type") == "blacklist_warning").select(
        "user_id", "day", F.unix_micros("ts").alias("warn_us")
    )


# --------------------------------------------------------------------------
# LoginFailWithCEP — DW-Flink LoginFailDetect app/LoginFailWithCEP.scala:19-62
# (CEP: fail `next` fail within bound → warning). C1/C3 via lag().
# --------------------------------------------------------------------------
@register(
    "login_fail_consecutive",
    oracle="""
    WITH seq AS (
      SELECT user_id, ts, event_type,
             lag(event_type) OVER w AS prev_type,
             lag(ts) OVER w AS prev_ts
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, epoch_us(prev_ts) AS first_fail_us,
           epoch_us(ts) AS last_fail_us
    FROM seq
    WHERE event_type = 'error' AND prev_type = 'error'
      AND epoch_us(ts) - epoch_us(prev_ts) <= 86400000000
    """,
)
def login_fail_consecutive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two consecutive failures (errors) per user within 24 h → warning."""
    fail = F.col("event_type") == "error"
    pat = Pattern.begin("first_fail", fail).next("last_fail", fail)
    return pat.within(86400).detect(
        _events(spark, sf_dir), "user_id", "ts", order_cols=["ts", "event_id"]
    )


# --------------------------------------------------------------------------
# LoginFail — DW-Flink LoginFailDetect app/LoginFail.scala:19-69
# (≥ N fails per user within a bound → warning with first/last time). C2.
# --------------------------------------------------------------------------
@register(
    "login_fail_threshold",
    oracle="""
    SELECT (epoch_us(ts) // 86400000000) * 86400 AS window_start_sec,
           user_id, count(*) AS fail_cnt,
           min(epoch_us(ts)) AS first_fail_us,
           max(epoch_us(ts)) AS last_fail_us
    FROM events
    WHERE event_type = 'error'
    GROUP BY 1, 2
    HAVING count(*) >= 2
    """,
)
def login_fail_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """≥2 failures (errors) per user per day window → warning row."""
    ev = _events(spark, sf_dir).filter(F.col("event_type") == "error")
    return threshold_in_window(
        ev, key="user_id", ts_col="ts", size="1 day", min_count=2,
        count_alias="fail_cnt",
    )


# --------------------------------------------------------------------------
# OrderTimeout — DW-Flink OrderTimeoutDetect app/OrderTimeout.scala:24-64 and
# OrderTimeoutWithoutCep.scala:38-111 (create followed by pay within t, else
# timeout). C4/C5/C6 batch form; create ~ signup, pay ~ purchase, t = 24 h.
# --------------------------------------------------------------------------
@register(
    "order_timeout",
    oracle="""
    WITH c AS (SELECT user_id, epoch_us(ts) AS create_us
               FROM events WHERE event_type = 'signup'),
         p AS (SELECT user_id, epoch_us(ts) AS pay_us
               FROM events WHERE event_type = 'purchase')
    SELECT c.user_id, c.create_us, min(p.pay_us) AS pay_us,
           CASE WHEN min(p.pay_us) IS NOT NULL
                THEN 'payed' ELSE 'timeout' END AS result_type
    FROM c LEFT JOIN p
      ON c.user_id = p.user_id
     AND p.pay_us >= c.create_us
     AND p.pay_us <= c.create_us + 86400000000
    GROUP BY 1, 2
    """,
)
def order_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signups paid within 24 h vs timed out (earliest qualifying pay)."""
    pat = (
        Pattern.begin("create", F.col("event_type") == "signup")
        .followed_by("pay", F.col("event_type") == "purchase")
        .within(86400)
    )
    return pat.completions(_events(spark, sf_dir), "user_id", "ts").withColumn(
        "result_type",
        F.when(F.col("pay_us").isNotNull(), F.lit("payed")).otherwise(
            F.lit("timeout")
        ),
    )


# --------------------------------------------------------------------------
# TxMatch — DW-Flink OrderTimeoutDetect app/TxMatch.scala:46-94
# (stateful symmetric join: matches + unmatchedPays + unmatchedReceipts).
# J1 batch semantics: FULL OUTER over (key, 1 h bucket) with a discriminator.
# --------------------------------------------------------------------------
@register(
    "tx_match",
    oracle="""
    WITH pays AS (
      SELECT user_id, (epoch_us(ts) // 3600000000) * 3600 AS bucket_sec,
             event_id AS pay_event_id, epoch_us(ts) AS pay_us
      FROM events WHERE event_type = 'purchase'
    ), receipts AS (
      SELECT user_id, (epoch_us(ts) // 3600000000) * 3600 AS bucket_sec,
             event_id AS receipt_event_id, epoch_us(ts) AS receipt_us
      FROM events WHERE event_type = 'signup'
    )
    SELECT COALESCE(p.user_id, r.user_id) AS user_id,
           COALESCE(p.bucket_sec, r.bucket_sec) AS bucket_sec,
           p.pay_event_id, p.pay_us, r.receipt_event_id, r.receipt_us,
           CASE WHEN p.user_id IS NOT NULL AND r.user_id IS NOT NULL
                  THEN 'matched'
                WHEN p.user_id IS NOT NULL THEN 'unmatched_pay'
                ELSE 'unmatched_receipt' END AS result_type
    FROM pays p FULL OUTER JOIN receipts r
      ON p.user_id = r.user_id AND p.bucket_sec = r.bucket_sec
    """,
)
def tx_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pay/receipt reconciliation: matches plus both unmatched remainders."""
    ev = _events(spark, sf_dir)
    bucket = (F.expr("unix_micros(ts) div 3600000000") * 3600).alias("bucket_sec")
    pays = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", bucket, F.col("event_id").alias("pay_event_id"),
        F.unix_micros("ts").alias("pay_us"),
    )
    receipts = ev.filter(F.col("event_type") == "signup").select(
        "user_id", bucket, F.col("event_id").alias("receipt_event_id"),
        F.unix_micros("ts").alias("receipt_us"),
    )
    j = pays.alias("l").join(
        receipts.alias("r"),
        on=[
            F.col("l.user_id") == F.col("r.user_id"),
            F.col("l.bucket_sec") == F.col("r.bucket_sec"),
        ],
        how="full_outer",
    )
    return j.select(
        F.coalesce("l.user_id", "r.user_id").alias("user_id"),
        F.coalesce("l.bucket_sec", "r.bucket_sec").alias("bucket_sec"),
        "pay_event_id", "pay_us", "receipt_event_id", "receipt_us",
        F.when(
            F.col("l.user_id").isNotNull() & F.col("r.user_id").isNotNull(),
            F.lit("matched"),
        )
        .when(F.col("l.user_id").isNotNull(), F.lit("unmatched_pay"))
        .otherwise(F.lit("unmatched_receipt"))
        .alias("result_type"),
    )


# --------------------------------------------------------------------------
# TxMatchWithJoin (window join) — DW-Flink OrderTimeoutDetect
# app/TxMatchWithJoin.scala:42-47 (15 s tumbling window join → 15 min here).
# J2.
# --------------------------------------------------------------------------
_TX_MATCH_WINDOW_JOIN_ORACLE = """
    WITH pays AS (
      SELECT user_id, (epoch_us(ts) // 900000000) * 900 AS window_start_sec,
             event_id AS pay_event_id, epoch_us(ts) AS pay_us
      FROM events WHERE event_type = 'purchase'
    ), receipts AS (
      SELECT user_id, (epoch_us(ts) // 900000000) * 900 AS window_start_sec,
             event_id AS receipt_event_id, epoch_us(ts) AS receipt_us
      FROM events WHERE event_type = 'signup'
    )
    SELECT p.user_id, p.window_start_sec,
           p.pay_event_id, p.pay_us, r.receipt_event_id, r.receipt_us
    FROM pays p JOIN receipts r
      ON p.user_id = r.user_id AND p.window_start_sec = r.window_start_sec
    """


@register("tx_match_window_join", oracle=_TX_MATCH_WINDOW_JOIN_ORACLE)
def tx_match_window_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-join of pays and receipts within the same 15 min tumbling window."""
    ev = _events(spark, sf_dir)
    pays = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("pay_event_id"),
        F.unix_micros("ts").alias("pay_us"),
    )
    receipts = ev.filter(F.col("event_type") == "signup").select(
        "user_id", F.col("ts").alias("r_ts"),
        F.col("event_id").alias("receipt_event_id"),
        F.unix_micros("ts").alias("receipt_us"),
    )
    lw = pays.withColumn("window", F.window("ts", "15 minutes"))
    rw = receipts.withColumn("window", F.window("r_ts", "15 minutes"))
    j = lw.join(rw, on=["user_id", "window"], how="inner")
    return j.select(
        "user_id",
        F.unix_timestamp("window.start").alias("window_start_sec"),
        "pay_event_id", "pay_us", "receipt_event_id", "receipt_us",
    )


# --------------------------------------------------------------------------
# TxMatchWithJoin (interval join) — DW-Flink OrderTimeoutDetect
# app/TxMatchWithJoin.scala:50-62 (between(-15 s, +20 s) → [-1 h, +2 h] at
# this data density). J3.
# --------------------------------------------------------------------------
@register(
    "tx_match_interval_join",
    oracle="""
    WITH pays AS (
      SELECT user_id, event_id AS pay_event_id, epoch_us(ts) AS pay_us
      FROM events WHERE event_type = 'purchase'
    ), receipts AS (
      SELECT user_id, event_id AS receipt_event_id, epoch_us(ts) AS receipt_us
      FROM events WHERE event_type = 'signup'
    )
    SELECT p.user_id, p.pay_event_id, p.pay_us,
           r.receipt_event_id, r.receipt_us
    FROM pays p JOIN receipts r
      ON p.user_id = r.user_id
     AND r.receipt_us >= p.pay_us - 3600000000
     AND r.receipt_us <= p.pay_us + 7200000000
    """,
)
def tx_match_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: receipts within [-1 h, +2 h] of each pay, per user."""
    ev = _events(spark, sf_dir)
    pays = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("pay_event_id"), F.col("ts"),
    )
    receipts = ev.filter(F.col("event_type") == "signup").select(
        F.col("user_id"), F.col("event_id").alias("receipt_event_id"),
        F.col("ts"),
    )
    j = interval_join(
        pays, receipts, key="user_id", left_ts="ts", right_ts="ts",
        lower_sec=-3600, upper_sec=7200,
    )
    return j.select(
        F.col("l.user_id").alias("user_id"),
        "pay_event_id",
        F.unix_micros("l.ts").alias("pay_us"),
        "receipt_event_id",
        F.unix_micros("r.ts").alias("receipt_us"),
    )


# --------------------------------------------------------------------------
# PageView, streaming — same semantics as `page_view` but executed through
# Structured Streaming (file replay → watermark → windowed agg → memory
# sink). Same oracle as the batch query: the correctness gate itself checks
# batch/stream equivalence. SURVEY.md §5.2.
# --------------------------------------------------------------------------
@register("streaming_page_view", oracle=_PAGE_VIEW_ORACLE)
def streaming_page_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly page views via Structured Streaming, run to completion."""
    from data_warehouse_flink_spark.streaming.jobs import run_stream_to_table
    from data_warehouse_flink_spark.streaming.sources import (
        source_bytes,
        stream_events,
    )

    stream = stream_events(spark, sf_dir).filter(F.col("event_type") == "view")
    agg = windowed_count(
        stream.withWatermark("ts", "0 seconds"), "ts", "1 hour",
        count_alias="pv",
    )
    # hourly state is dimension-sized: width follows the replayed input
    return run_stream_to_table(
        agg, spark, input_bytes=source_bytes(f"{sf_dir}/events.parquet")
    )


# --------------------------------------------------------------------------
# Sessionization — keyed-state pattern beyond the reference inventory
# (SURVEY.md §2.8); batch form of `session_window`.
# --------------------------------------------------------------------------
@register(
    "user_sessions",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 21600000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts,
             CAST(SUM(new_sess) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) - 1 AS session_id
      FROM flagged
    )
    SELECT user_id, session_id, count(*) AS n_events,
           min(epoch_us(ts)) AS start_us, max(epoch_us(ts)) AS end_us
    FROM sessions GROUP BY 1, 2
    """,
)
def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user sessions split at 6 h inactivity gaps, with span stats."""
    ev = _events(spark, sf_dir)
    sessions = sessionize(ev, key="user_id", ts_col="ts", gap_sec=21600)
    return sessions.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min(F.unix_micros("ts")).alias("start_us"),
        F.max(F.unix_micros("ts")).alias("end_us"),
    )


# --------------------------------------------------------------------------
# UniqueVisitor, streaming — exact distinct through the streaming engine,
# same oracle as the batch query (second batch/stream-equivalence probe in
# the gate, this one with a distinct aggregation's state store).
# --------------------------------------------------------------------------
@register("streaming_unique_visitors", oracle=_UNIQUE_VISITORS_ORACLE)
def streaming_unique_visitors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly exact UV via Structured Streaming (dropDuplicates + count).

    Streaming aggregations disallow count(DISTINCT) directly; the engine
    idiom is watermark-scoped dropDuplicates on (window, user) followed by a
    plain count — same result, incremental state.
    """
    from data_warehouse_flink_spark.streaming.jobs import run_stream_to_table
    from data_warehouse_flink_spark.streaming.sources import stream_events

    stream = stream_events(spark, sf_dir).filter(F.col("event_type") == "view")
    deduped = (
        stream.withWatermark("ts", "0 seconds")
        .select(F.window("ts", "1 hour").alias("window"), "user_id")
        .dropDuplicates(["window", "user_id"])
    )
    agg = deduped.groupBy("window").agg(F.count("*").alias("uv"))
    out = agg.select(
        F.unix_timestamp("window.start").alias("window_start_sec"),
        F.unix_timestamp("window.end").alias("window_end_sec"),
        "uv",
    )
    return run_stream_to_table(out, spark)


# --------------------------------------------------------------------------
# AdStatisticByGeo at a fine slide — the reference's actual configs are
# 1 h / 10 s (B) and 1 h / 5 s (A); this registers the two-level pane
# rollup (measured 5.3× over naive at dense slides) in the correctness
# gate at 1 h / 5 min (12 panes per window).
# --------------------------------------------------------------------------
@register(
    "ad_clicks_by_geo_fine",
    oracle="""
    WITH clicks AS (
      SELECT e.ts, n.n_name AS province
      FROM events e
      JOIN customer c ON e.user_id = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      WHERE e.event_type = 'click'
    ), assigned AS (
      SELECT ((epoch_us(ts) // 300000000) - g.k) * 300 AS window_start_sec,
             province
      FROM clicks CROSS JOIN generate_series(0, 11) g(k)
    )
    SELECT window_start_sec, window_start_sec + 3600 AS window_end_sec,
           province, count(*) AS cnt
    FROM assigned GROUP BY 1, 2, 3
    """,
)
def ad_clicks_by_geo_fine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-province clicks over 1 h / 5 min windows via the two-level pane
    rollup (windowed_count_two_level)."""
    from data_warehouse_flink_spark.operators.windows import (
        windowed_count_two_level,
    )

    ev = _events(spark, sf_dir).filter(F.col("event_type") == "click")
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    clicks = (
        ev.join(F.broadcast(cust), ev.user_id == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select("ts", F.col("n_name").alias("province"))
    )
    return windowed_count_two_level(
        clicks, "ts", "1 hour", "5 minutes", keys=["province"],
        count_alias="cnt",
    )


# --------------------------------------------------------------------------
# TxMatch window join, streaming — the stream-stream join executed through
# Structured Streaming (watermarked both sides, append mode), checked
# against the same batch oracle as `tx_match_window_join`.
# --------------------------------------------------------------------------
@register(
    "streaming_tx_match_window_join", oracle=_TX_MATCH_WINDOW_JOIN_ORACLE
)
def streaming_tx_match_window_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """J2 as a true stream-stream join (state pruned by watermark)."""
    from data_warehouse_flink_spark.streaming.jobs import run_stream_to_table
    from data_warehouse_flink_spark.streaming.joins import stream_window_join
    from data_warehouse_flink_spark.streaming.sources import stream_events

    pays = stream_events(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    ).select(
        "user_id", "ts", F.col("event_id").alias("pay_event_id"),
        F.unix_micros("ts").alias("pay_us"),
    )
    receipts = stream_events(spark, sf_dir).filter(
        F.col("event_type") == "signup"
    ).select(
        "user_id", F.col("ts").alias("r_ts"),
        F.col("event_id").alias("receipt_event_id"),
        F.unix_micros("ts").alias("receipt_us"),
    )
    j = stream_window_join(
        pays, receipts, key="user_id", left_ts="ts", right_ts="r_ts",
        size="15 minutes",
    )
    out = j.select(
        "user_id",
        F.unix_timestamp("window.start").alias("window_start_sec"),
        "pay_event_id", "pay_us", "receipt_event_id", "receipt_us",
    )
    return run_stream_to_table(out, spark, output_mode="append")


# --------------------------------------------------------------------------
# HotItems, streaming — the full T1 idiom through the gate: update-mode
# windowed counts → foreachBatch rank → accumulated result, same oracle as
# the batch `hot_items_topn`. (Single-batch replay here; under continuous
# micro-batches the sink upserts per window — see streaming/mart.py.)
# --------------------------------------------------------------------------
@register("streaming_hot_items_topn", oracle=_HOT_ITEMS_TOPN_ORACLE)
def streaming_hot_items_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 per sliding window via the streaming foreachBatch-rank idiom.

    Fully engine-side: counts accumulate in the bucketed MERGE state table
    inside `streaming_topn_foreachbatch` (bucketed by time range of
    window_end_sec), and each batch's ranking — the top-N of every window
    in the touched buckets — overwrites those buckets of a ranked mart
    bucketed the same way, so the mart always holds the latest correct
    ranking. The driver never materializes pre-rank counts — only this
    final ≤ 3-per-window result, checkpointed before the one temp dir
    holding the state table and the mart goes.
    """
    import os
    import tempfile

    from data_warehouse_flink_spark.streaming.jobs import (
        has_committed_data,
        overwrite_touched_partitions,
    )
    from data_warehouse_flink_spark.streaming.mart import (
        streaming_topn_foreachbatch,
    )
    from data_warehouse_flink_spark.streaming.sources import (
        source_bytes,
        stream_events,
    )

    stream = stream_events(spark, sf_dir).filter(F.col("event_type") == "view")
    counts = windowed_count(
        stream.withWatermark("ts", "0 seconds"), "ts", "1 hour",
        slide="15 minutes", keys=["user_id"],
    )
    with tempfile.TemporaryDirectory(prefix="topn_state_") as work:
        ranked_path = os.path.join(work, "mart")

        def sink(ranked_df, epoch_id):
            overwrite_touched_partitions(
                ranked_df, ranked_path, partition_cols=["bucket"]
            )

        streaming_topn_foreachbatch(
            counts,
            partition_cols=["window_end_sec"],
            order_col="cnt",
            n=3,
            tiebreak_cols=["user_id"],
            sink=sink,
            state_path=os.path.join(work, "counts"),
            input_bytes=source_bytes(f"{sf_dir}/events.parquet"),
        )
        if not has_committed_data(spark, ranked_path):
            # no qualifying input: empty, like the batch plan
            return spark.createDataFrame(
                [], "window_end_sec long, user_id long, cnt long, rn long"
            )
        return (
            spark.read.parquet(ranked_path)
            .select("window_end_sec", "user_id", "cnt", "rn")
            .localCheckpoint(eager=True)
        )


# --------------------------------------------------------------------------
# W10 gate: FIRE_AND_PURGE → update-mode emission sequence. The reference's
# per-element trigger (DW-Flink NetworkFlowAnalysis app/UvWithBloom.scala:41,
# 51-69) fires the window on every element and purges the buffer; the Spark
# analogue is outputMode("update") on a streaming aggregate — each
# micro-batch emits the groups it changed. The gate replays events in four
# micro-batches with DISJOINT user buckets (`ordered_replay`, one batch per
# bucket), so each group is emitted exactly once and the accumulated
# emission log equals the batch group-by — hash-checkable while still
# exercising the incremental emission path end-to-end.
# --------------------------------------------------------------------------
@register(
    "streaming_update_emissions",
    oracle="""
    SELECT (epoch_us(ts) // 3600000000) * 3600 AS window_start_sec,
           (epoch_us(ts) // 3600000000) * 3600 + 3600 AS window_end_sec,
           user_id, count(*) AS cnt
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def streaming_update_emissions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W10: update-mode emission log over a 4-micro-batch replay."""
    import os
    import tempfile

    from data_warehouse_flink_spark.io import table as load_table
    from data_warehouse_flink_spark.streaming.jobs import run_stream_to_table
    from data_warehouse_flink_spark.streaming.sources import ordered_replay

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    # the memory sink holds the emission log, so the replay dir can go as
    # soon as the stream has run
    with tempfile.TemporaryDirectory(prefix="w10_replay_") as work:
        # one batch per user bucket → each micro-batch touches a disjoint
        # group set, so the emission multiset is independent of batch order
        stream = ordered_replay(
            ev.withColumn("_b", F.pmod(F.col("user_id"), F.lit(4))),
            "_b",
            range(4),
            os.path.join(work, "events"),
        )
        # watermark far beyond the data span: no group is ever late-dropped,
        # so update mode reduces to pure emit-on-change (the FIRE_AND_PURGE
        # analogue)
        counts = windowed_count(
            stream.withWatermark("ts", "3650 days"), "ts", "1 hour",
            keys=["user_id"],
        )
        return run_stream_to_table(counts, spark, output_mode="update")


# --------------------------------------------------------------------------
# Streaming sessionization — the native session_window form of
# `user_sessions` (gap-merged event-time windows on a stream; the operator
# Flink spells as EventTimeSessionWindows). Beyond-reference W-family depth.
# --------------------------------------------------------------------------
@register(
    "streaming_user_sessions",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 21600000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts,
             SUM(new_sess) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS sess
      FROM flagged
    )
    SELECT user_id, count(*) AS n_events,
           min(epoch_us(ts)) AS start_us, max(epoch_us(ts)) AS end_us
    FROM sessions GROUP BY user_id, sess
    """,
)
def streaming_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user 6 h-gap sessions via streaming ``session_window``.

    ``session_window(ts, gap)`` merges adjacent windows in the state store
    as events arrive — Spark's native form of keyed session state. Its
    window spans [first event, last event + gap), so ``end_us`` subtracts
    the gap back out to equal the batch max-event-ts; the oracle is the
    same lag/sum sessionization that gates the batch `user_sessions`
    (minus the per-user ordinal, which a streaming agg does not define).
    """
    from data_warehouse_flink_spark.streaming.jobs import (
        run_stream_to_table,
        streaming_session_count,
    )
    from data_warehouse_flink_spark.streaming.sources import stream_events

    gap_us = 21_600_000_000  # 6 h, matching the batch gate
    out = streaming_session_count(
        stream_events(spark, sf_dir), "ts", "6 hours", keys=["user_id"]
    ).select(
        "user_id",
        "n_events",
        F.col("session_start_us").alias("start_us"),
        (F.col("session_end_us") - F.lit(gap_us)).alias("end_us"),
    )
    return run_stream_to_table(out, spark, output_mode="complete")


# --------------------------------------------------------------------------
# UV via mergeable HLL sketches — the modern form of the reference's
# UvWithBloom memory trick (DW-Flink NetworkFlowAnalysis app/UvWithBloom.scala
# :29-93: a 32 MB Redis bitmap so UV state never holds raw ids). Apache
# DataSketches HLL gives the same constant-memory contract PLUS mergeability:
# per-day sketches are the stored increment, and any rollup (month, total)
# is a lossless sketch union — no raw-id reprocessing. W9 family depth.
# --------------------------------------------------------------------------
@register(
    "uv_sketch_mergeable",
    oracle="""
    WITH v AS (SELECT * FROM events WHERE event_type = 'view')
    SELECT strftime(ts, '%Y-%m-%d') AS day,
           count(DISTINCT user_id) AS uv_exact,
           TRUE AS within_bound
    FROM v GROUP BY 1
    UNION ALL
    SELECT 'ALL' AS day, count(DISTINCT user_id) AS uv_exact,
           TRUE AS within_bound
    FROM v
    """,
)
def uv_sketch_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day UV estimates from stored HLL sketches + an ALL row from their
    union. Union-of-daily-sketches ≡ sketch-of-all (register-wise max), so
    the ALL estimate is exactly what a full recompute would give — tested in
    tests/test_operators.py.

    Graded against the error contract rather than rows-only (same pattern
    as `uv_approx`): each row carries the exact distinct count and a
    ``within_bound`` predicate `|est - exact| <= max(5*rsd*exact, 3)` that
    the oracle asserts as constant TRUE. rsd for the default lgConfigK=12
    sketch is 1.04/sqrt(2^12) ~= 1.625% -> 5*rsd as the integer ratio
    8125/100000; the +-3 absolute floor covers the tiny-cardinality regime
    (see `windowed_approx_distinct_checked`). The ALL row makes the union
    path itself part of the graded contract — a broken register merge
    deviates by whole buckets and flips the predicate.
    """
    ev = _events(spark, sf_dir).filter(F.col("event_type") == "view")
    day = F.date_format(F.col("ts"), "yyyy-MM-dd").alias("day")
    daily = ev.groupBy(day).agg(
        F.hll_sketch_agg("user_id").alias("sketch"),
        F.count_distinct("user_id").alias("uv_exact"),
    )
    per_day = daily.select(
        "day",
        F.hll_sketch_estimate("sketch").cast("long").alias("uv_estimate"),
        "uv_exact",
    )
    total_exact = ev.agg(F.count_distinct("user_id").alias("uv_exact"))
    total = daily.agg(
        F.lit("ALL").alias("day"),
        F.hll_sketch_estimate(F.hll_union_agg("sketch"))
        .cast("long")
        .alias("uv_estimate"),
    ).crossJoin(F.broadcast(total_exact))
    dev = F.abs(F.col("uv_estimate") - F.col("uv_exact"))
    return (
        per_day.unionByName(total)
        .withColumn(
            "within_bound",
            (dev * 100000 <= F.col("uv_exact") * 8125) | (dev <= 3),
        )
        .select("day", "uv_exact", "within_bound")
    )


@register(
    "login_fail_triple_cep",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type, epoch_us(ts)::BIGINT AS us,
             lag(event_type, 1) OVER w AS p1,
             lag(event_type, 2) OVER w AS p2,
             lag(epoch_us(ts)::BIGINT, 1) OVER w AS us1,
             lag(epoch_us(ts)::BIGINT, 2) OVER w AS us2
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id,
           us2 AS first_us, us1 AS second_us, us AS third_us
    FROM seq
    WHERE event_type = 'error' AND p1 = 'error' AND p2 = 'error'
      AND us - us2 <= 86400000000
    """,
)
def login_fail_triple_cep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three consecutive errors per user within 24 h, expressed through the
    CEP pattern builder — the reference's `begin.next.within` surface
    (LoginFailWithCEP.scala:38-43) extended one step, proving the builder
    compiles n-step STRICT patterns to the lag-chain plan (one shuffle,
    one per-key sort, no state), the same builder the 2-step gate
    `login_fail_consecutive` compiles through.
    """
    ev = _events(spark, sf_dir)
    pat = (
        Pattern.begin("first", F.col("event_type") == "error")
        .next("second", F.col("event_type") == "error")
        .next("third", F.col("event_type") == "error")
        .within(86_400)
    )
    return pat.detect(ev, "user_id", "ts", order_cols=["ts", "event_id"])
