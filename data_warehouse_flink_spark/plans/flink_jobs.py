"""The six reference job families, assembled end-to-end over the reference's
own input schemas (SURVEY.md §0, §3). A user of the reference switches here:
each function is one of its ``main()`` pipelines; the reference's
hard-coded constants that a caller varies are parameters (reference
defaults preserved), the rest stay literals.

All jobs run batch over `sources.readers` frames; their streaming twins
(`streaming/`) take the batch output as their oracle (SURVEY.md §5.2).
Golden tests: tests/test_flink_jobs.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_warehouse_flink_spark.operators.detection import (
    running_count_blacklist,
)
from data_warehouse_flink_spark.operators.joins import (
    full_outer_match,
    interval_join,
)
from data_warehouse_flink_spark.operators.patterns import Pattern
from data_warehouse_flink_spark.operators.topn import top_n_per_group
from data_warehouse_flink_spark.operators.windows import (
    windowed_approx_distinct,
    windowed_count,
    windowed_distinct_count,
)


def hot_items(
    user_behavior: DataFrame,
    size: str = "1 hour",
    slide: str = "5 minutes",
    n: int = 3,
) -> DataFrame:
    """HotItems: top-N viewed items per sliding window.

    Reference: DW-Flink HotItemsAnalysis app/HotItems.scala:34-63 (filter pv
    → keyBy(itemId) → timeWindow(1h, 5m) → count → keyBy(windowEnd) → top 3).
    """
    pv = user_behavior.filter(F.col("behavior") == "pv")
    counts = windowed_count(
        pv, "ts", size, slide=slide, keys=["item_id"], count_alias="cnt"
    )
    return top_n_per_group(
        counts.select("window_end_sec", "item_id", "cnt"),
        partition_cols=["window_end_sec"],
        order=[F.desc("cnt"), F.asc("item_id")],
        n=n,
    )


def network_flow_hot_urls(
    apache_log: DataFrame, slide: str = "5 seconds"
) -> DataFrame:
    """NetworkFlow: top-N hot URLs per sliding window, static assets dropped.

    Reference: DW-Flink NetworkFlowAnalysis app/NetworkFlow.scala:34-140
    (regex filter css/js, 10 min / 5 s window, MapState top-5).
    """
    pages = apache_log.filter(~F.col("url").rlike(r"\.(css|js)$"))
    counts = windowed_count(
        pages, "event_time", "10 minutes", slide=slide, keys=["url"],
        count_alias="cnt",
    )
    return top_n_per_group(
        counts.select("window_end_sec", "url", "cnt"),
        partition_cols=["window_end_sec"],
        order=[F.desc("cnt"), F.asc("url")],
        n=5,
    )


def page_view(user_behavior: DataFrame) -> DataFrame:
    """PageView: hourly pv count (NetworkFlowAnalysis app/PageView.scala:15-35)."""
    pv = user_behavior.filter(F.col("behavior") == "pv")
    return windowed_count(pv, "ts", "1 hour", count_alias="pv")


def unique_visitors(user_behavior: DataFrame, size: str = "1 hour") -> DataFrame:
    """UniqueVisitor: hourly exact UV (app/UniqueVisitor.scala:20-48)."""
    pv = user_behavior.filter(F.col("behavior") == "pv")
    return windowed_distinct_count(pv, "ts", size, "user_id", alias="uv")


def unique_visitors_approx(user_behavior: DataFrame) -> DataFrame:
    """UvWithBloom: approximate hourly UV (app/UvWithBloom.scala:27-113);
    HLL++ replaces the Redis Bloom bitmap."""
    pv = user_behavior.filter(F.col("behavior") == "pv")
    return windowed_approx_distinct(pv, "ts", "1 hour", "user_id")


def app_marketing_by_channel(
    marketing: DataFrame, slide: str = "10 seconds"
) -> DataFrame:
    """AppMarketingByChannel (MarketAnalysis app/AppMarketingByChannel.scala:20-51)."""
    kept = marketing.filter(F.col("behavior") != "UNINSTALL")
    return windowed_count(
        kept, "ts", "1 hour", slide=slide, keys=["channel", "behavior"],
        count_alias="cnt",
    )


def ad_clicks_by_province(
    ad_clicks: DataFrame, slide: str = "10 seconds"
) -> DataFrame:
    """AdStatisticByGeo main output (app/AdStatisticByGeo.scala:21-68;
    intended semantics per SURVEY.md §2.9.1)."""
    return windowed_count(
        ad_clicks, "ts", "1 hour", slide=slide, keys=["province"],
        count_alias="cnt",
    )


def ad_click_blacklist(
    ad_clicks: DataFrame, max_per_day: int = 50
) -> DataFrame:
    """AdStatisticByGeo blacklist side output (app/AdStatisticByGeo.scala:71-111):
    one warning when a (user, ad) crosses max clicks per day; further clicks
    suppressed. Returns the discriminated stream (result_type column)."""
    return running_count_blacklist(
        ad_clicks.withColumn("event_id", F.col("ts_sec")),
        keys=["user_id", "ad_id"],
        ts_col="ts",
        order_cols=["ts", "event_id"],
        max_count=max_per_day,
    )


def login_fail_warnings(
    logins: DataFrame, max_gap_sec: int = 2
) -> DataFrame:
    """LoginFailWithCEP: two consecutive fails within the bound
    (LoginFailDetect app/LoginFailWithCEP.scala:38-59, the canonical
    semantics per SURVEY.md §2.9.7)."""
    fail = F.col("status") == "fail"
    pat = Pattern.begin("first_fail", fail).next("last_fail", fail)
    return pat.within(max_gap_sec).detect(
        logins.withColumn("event_id", F.col("ts_sec")),
        "user_id",
        "ts",
        order_cols=["ts", "event_id"],
    )


def order_timeout(orders: DataFrame, timeout_sec: int = 900) -> DataFrame:
    """OrderTimeout batch form (OrderTimeoutDetect app/OrderTimeout.scala:24-64):
    payed within 15 min vs timeout. Streaming 4-class variant:
    streaming.state.order_timeout_stream."""
    pat = (
        Pattern.begin("create", F.col("event_type") == "create")
        .followed_by("pay", F.col("event_type") == "pay")
        .within(timeout_sec)
    )
    return pat.completions(orders, "order_id", "ts").withColumn(
        "result_type",
        F.when(F.col("pay_us").isNotNull(), F.lit("payed")).otherwise(
            F.lit("timeout")
        ),
    )


def tx_match(orders: DataFrame, receipts: DataFrame) -> DataFrame:
    """TxMatch batch form (app/TxMatch.scala:46-94): matched pairs + both
    unmatched remainders on tx_id. Streaming: streaming.state.tx_match_stream."""
    pays = orders.filter(
        (F.col("event_type") == "pay") & (F.col("tx_id") != "")
    ).select("tx_id", F.unix_micros("ts").alias("pay_us"))
    rec = receipts.select(
        "tx_id",
        F.col("pay_channel"),
        F.unix_micros("ts").alias("receipt_us"),
    )
    return full_outer_match(
        pays,
        rec,
        on=["tx_id"],
        left_tag="unmatched_pay",
        right_tag="unmatched_receipt",
    ).select(
        F.coalesce("l.tx_id", "r.tx_id").alias("tx_id"),
        "pay_us",
        "pay_channel",
        "receipt_us",
        "result_type",
    )


def tx_match_window_join(
    orders: DataFrame, receipts: DataFrame, size: str = "15 seconds"
) -> DataFrame:
    """TxMatchWithJoin window join (app/TxMatchWithJoin.scala:42-47)."""
    pays = orders.filter(
        (F.col("event_type") == "pay") & (F.col("tx_id") != "")
    ).select("tx_id", "ts", F.unix_micros("ts").alias("pay_us"))
    rec = receipts.select(
        "tx_id", F.col("ts").alias("r_ts"),
        F.unix_micros("ts").alias("receipt_us"),
    )
    lw = pays.withColumn("window", F.window("ts", size))
    rw = rec.withColumn("window", F.window("r_ts", size))
    return lw.join(rw, on=["tx_id", "window"], how="inner").select(
        "tx_id",
        F.unix_timestamp("window.start").alias("window_start_sec"),
        "pay_us",
        "receipt_us",
    )


def tx_match_interval_join(orders: DataFrame, receipts: DataFrame) -> DataFrame:
    """TxMatchWithJoin interval join (app/TxMatchWithJoin.scala:50-62):
    receipt within [-15 s, +20 s] of the pay."""
    pays = orders.filter(
        (F.col("event_type") == "pay") & (F.col("tx_id") != "")
    ).select("tx_id", "ts")
    rec = receipts.select("tx_id", "ts")
    j = interval_join(
        pays, rec, key="tx_id", left_ts="ts", right_ts="ts",
        lower_sec=-15, upper_sec=20,
    )
    return j.select(
        F.col("l.tx_id").alias("tx_id"),
        F.unix_micros("l.ts").alias("pay_us"),
        F.unix_micros("r.ts").alias("receipt_us"),
    )
