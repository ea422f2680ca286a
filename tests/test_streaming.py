"""Streaming layer tests: batch/stream duality (the batch plan is the oracle
for the streaming run, SURVEY.md §5.2) and the stateful kernels' outcome
classes including timer-driven timeouts.
"""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest
from conftest import SF_SMOKE
from pyspark.sql import functions as F

from data_warehouse_flink_spark.operators.windows import windowed_count
from data_warehouse_flink_spark.io import table
from data_warehouse_flink_spark.streaming.jobs import run_stream_to_table
from data_warehouse_flink_spark.streaming.mart import (
    streaming_topn_foreachbatch,
)
from data_warehouse_flink_spark.streaming.sources import stream_events
from data_warehouse_flink_spark.streaming.state import (
    login_fail_stream,
    order_timeout_stream,
    tx_match_stream,
)

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)
FAR = dt.datetime(2024, 6, 1, 0, 0, 0)  # sentinel: advances the watermark


def sec(s: float) -> dt.datetime:
    return T0 + dt.timedelta(seconds=s)


def write_replay(tmp_path, spark, rows: list[dict], schema: str) -> str:
    """Write a main batch + a far-future sentinel file so the file stream
    replays them as two micro-batches and event-time timers fire."""
    out = str(tmp_path / "replay")
    main = [r for r in rows if r["ts"] < FAR]
    tail = [r for r in rows if r["ts"] >= FAR]
    spark.createDataFrame(pd.DataFrame(main), schema=schema).coalesce(
        1
    ).write.mode("overwrite").parquet(out)
    spark.createDataFrame(pd.DataFrame(tail), schema=schema).coalesce(
        1
    ).write.mode("append").parquet(out)
    return out


def read_replay(spark, path: str, schema: str):
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


def test_streaming_page_view_matches_batch(spark):
    stream = stream_events(spark, SF_SMOKE).filter(F.col("event_type") == "view")
    agg = windowed_count(
        stream.withWatermark("ts", "0 seconds"), "ts", "1 hour", count_alias="pv"
    )
    got = (
        run_stream_to_table(agg, spark)
        .toPandas()
        .sort_values(["window_start_sec"])
        .reset_index(drop=True)
    )
    batch = table(spark, SF_SMOKE, "events").filter(F.col("event_type") == "view")
    want = (
        windowed_count(batch, "ts", "1 hour", count_alias="pv")
        .toPandas()
        .sort_values(["window_start_sec"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)


def test_streaming_sliding_count_matches_batch(spark):
    stream = stream_events(spark, SF_SMOKE).filter(F.col("event_type") == "view")
    agg = windowed_count(
        stream.withWatermark("ts", "0 seconds"), "ts", "1 hour",
        slide="15 minutes", keys=["user_id"],
    )
    got = (
        run_stream_to_table(agg, spark)
        .toPandas()
        .sort_values(["window_start_sec", "user_id"])
        .reset_index(drop=True)
    )
    batch = table(spark, SF_SMOKE, "events").filter(F.col("event_type") == "view")
    want = (
        windowed_count(batch, "ts", "1 hour", slide="15 minutes", keys=["user_id"])
        .toPandas()
        .sort_values(["window_start_sec", "user_id"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)


ORDER_SCHEMA = "order_id long, event_type string, ts timestamp"


def test_order_timeout_stream_classes(spark, tmp_path):
    rows = [
        {"order_id": 1, "event_type": "create", "ts": sec(0)},
        {"order_id": 1, "event_type": "pay", "ts": sec(10)},
        {"order_id": 2, "event_type": "create", "ts": sec(0)},  # never pays
        {"order_id": 3, "event_type": "create", "ts": sec(0)},
        {"order_id": 3, "event_type": "pay", "ts": sec(7200)},  # too late
        {"order_id": 4, "event_type": "pay", "ts": sec(5)},  # no create
        {"order_id": 999, "event_type": "create", "ts": FAR},  # sentinel
    ]
    path = write_replay(tmp_path, spark, rows, ORDER_SCHEMA)
    stream = read_replay(spark, path, ORDER_SCHEMA)
    out = order_timeout_stream(stream, timeout_sec=900)
    got = run_stream_to_table(out, spark, output_mode="append").toPandas()
    got = got[got.order_id != 999]
    by_order = dict(zip(got.order_id, got.result_type))
    assert by_order == {
        1: "payed",
        2: "timeout",
        3: "payed_but_timeout",
        4: "pay_without_create",
    }
    payed = got[got.order_id == 1].iloc[0]
    assert payed.pay_us - payed.create_us == 10_000_000


LOGIN_SCHEMA = "user_id long, status string, ts timestamp"


def test_login_fail_stream(spark, tmp_path):
    rows = [
        # user 1: three rapid fails → one warning
        {"user_id": 1, "status": "fail", "ts": sec(0)},
        {"user_id": 1, "status": "fail", "ts": sec(1)},
        {"user_id": 1, "status": "fail", "ts": sec(2)},
        # user 2: fail, success resets, fail → no warning
        {"user_id": 2, "status": "fail", "ts": sec(0)},
        {"user_id": 2, "status": "success", "ts": sec(1)},
        {"user_id": 2, "status": "fail", "ts": sec(2)},
        # user 3: two fails too far apart → no warning
        {"user_id": 3, "status": "fail", "ts": sec(0)},
        {"user_id": 3, "status": "fail", "ts": sec(500)},
        {"user_id": 999, "status": "success", "ts": FAR},
    ]
    path = write_replay(tmp_path, spark, rows, LOGIN_SCHEMA)
    stream = read_replay(spark, path, LOGIN_SCHEMA)
    out = login_fail_stream(stream, window_sec=2, min_count=3)
    got = run_stream_to_table(out, spark, output_mode="append").toPandas()
    assert list(got.user_id) == [1]
    assert got.iloc[0].fail_cnt == 3
    assert got.iloc[0].last_fail_us - got.iloc[0].first_fail_us == 2_000_000


TX_SCHEMA = "tx_id string, ts timestamp"


def test_tx_match_stream(spark, tmp_path):
    pays = [
        {"tx_id": "a", "ts": sec(0)},
        {"tx_id": "b", "ts": sec(0)},  # no receipt
        {"tx_id": "zz", "ts": FAR},  # sentinel
    ]
    receipts = [
        {"tx_id": "a", "ts": sec(3)},
        {"tx_id": "c", "ts": sec(0)},  # no pay
        {"tx_id": "zz", "ts": FAR},
    ]
    p_path = write_replay(tmp_path / "p", spark, pays, TX_SCHEMA)
    r_path = write_replay(tmp_path / "r", spark, receipts, TX_SCHEMA)
    out = tx_match_stream(
        read_replay(spark, p_path, TX_SCHEMA),
        read_replay(spark, r_path, TX_SCHEMA),
        timeout_sec=5,
    )
    got = run_stream_to_table(out, spark, output_mode="append").toPandas()
    got = got[got.tx_id != "zz"]
    by_tx = dict(zip(got.tx_id, got.result_type))
    assert by_tx == {
        "a": "matched",
        "b": "unmatched_pay",
        "c": "unmatched_receipt",
    }


def test_streaming_topn_foreachbatch(spark, tmp_path):
    stream = stream_events(spark, SF_SMOKE).filter(F.col("event_type") == "view")
    counts = windowed_count(
        stream.withWatermark("ts", "0 seconds"), "ts", "1 hour",
        slide="15 minutes", keys=["user_id"],
    )
    batches: list[pd.DataFrame] = []

    def sink(ranked_df, epoch_id):
        batches.append(ranked_df.toPandas())

    q = streaming_topn_foreachbatch(
        counts,
        partition_cols=["window_end_sec"],
        order_col="cnt",
        n=3,
        tiebreak_cols=["user_id"],
        sink=sink,
        state_path=str(tmp_path / "state"),
    )
    q.awaitTermination()
    got = (
        pd.concat(batches, ignore_index=True)
        .sort_values(["window_end_sec", "rn"])
        .reset_index(drop=True)
    )
    from data_warehouse_flink_spark.plans.reference_jobs import hot_items_topn

    want = (
        hot_items_topn(spark, SF_SMOKE)
        .toPandas()
        .sort_values(["window_end_sec", "rn"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want)
    pd.testing.assert_series_equal(
        got.cnt.astype("int64"), want.cnt.astype("int64"), check_names=False
    )


def test_consecutive_fail_stream(spark, tmp_path):
    from data_warehouse_flink_spark.streaming.state import (
        consecutive_fail_stream,
    )

    rows = [
        {"user_id": 1, "status": "fail", "ts": sec(0)},
        {"user_id": 1, "status": "fail", "ts": sec(1)},  # pair (0,1)
        {"user_id": 1, "status": "success", "ts": sec(2)},
        {"user_id": 1, "status": "fail", "ts": sec(3)},  # reset by success
        {"user_id": 2, "status": "fail", "ts": sec(0)},
        {"user_id": 2, "status": "fail", "ts": sec(30)},  # gap > 2 s
        {"user_id": 999, "status": "success", "ts": FAR},
    ]
    path = write_replay(tmp_path, spark, rows, LOGIN_SCHEMA)
    stream = read_replay(spark, path, LOGIN_SCHEMA)
    out = consecutive_fail_stream(stream, max_gap_sec=2)
    got = run_stream_to_table(out, spark, output_mode="append").toPandas()
    assert len(got) == 1
    t0_us = int(T0.replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    assert (
        got.iloc[0].user_id,
        got.iloc[0].first_fail_us,
        got.iloc[0].last_fail_us,
    ) == (1, t0_us, t0_us + 1_000_000)


AD_SCHEMA = "user_id long, ad_id long, ts timestamp"


def test_blacklist_stream_daily_reset(spark, tmp_path):
    from data_warehouse_flink_spark.streaming.state import blacklist_stream

    rows = (
        # day 1: user 1 clicks ad 7 five times -> 3 clicks + 1 warning, 2 suppressed
        [{"user_id": 1, "ad_id": 7, "ts": sec(i * 10)} for i in range(5)]
        # day 2: counter reset -> clicks pass again
        + [{"user_id": 1, "ad_id": 7, "ts": sec(86400 + i * 10)} for i in range(2)]
        + [{"user_id": 999, "ad_id": 0, "ts": FAR}]
    )
    path = write_replay(tmp_path, spark, rows, AD_SCHEMA)
    stream = read_replay(spark, path, AD_SCHEMA)
    out = blacklist_stream(stream, max_per_day=3)
    got = run_stream_to_table(out, spark, output_mode="append").toPandas()
    got = got[got.user_id != 999]
    day1 = got[got.day == "2024-01-01"]
    day2 = got[got.day == "2024-01-02"]
    assert list(day1.result_type) == ["click"] * 3 + ["blacklist_warning"]
    assert int(day1[day1.result_type == "blacklist_warning"].cnt.iloc[0]) == 4
    assert list(day2.result_type) == ["click", "click"]


def test_blacklist_stream_late_click_for_closed_day(spark, tmp_path):
    """The late_click path deterministically: a batch-2 click for a day
    the key's state has already moved past is surfaced (cnt 0, excluded
    from the live counter) and does NOT disturb the open day's count.
    Needs two micro-batches — within one sorted batch a day can never
    regress — and a watermark wide enough that the late-row filter
    isn't what handles the event."""
    from data_warehouse_flink_spark.streaming.state import blacklist_stream

    batch1 = [
        {"user_id": 1, "ad_id": 7, "ts": sec(86400)},  # day 2 opens the state
    ]
    batch2 = [
        {"user_id": 1, "ad_id": 7, "ts": sec(10)},      # day 1: late
        {"user_id": 1, "ad_id": 7, "ts": sec(86400 + 10)},  # day 2: counted
    ]
    out_dir = str(tmp_path / "replay")
    spark.createDataFrame(pd.DataFrame(batch1), schema=AD_SCHEMA).coalesce(
        1
    ).write.mode("overwrite").parquet(out_dir)
    spark.createDataFrame(pd.DataFrame(batch2), schema=AD_SCHEMA).coalesce(
        1
    ).write.mode("append").parquet(out_dir)
    stream = (
        spark.readStream.schema(AD_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(out_dir)
    )
    got = run_stream_to_table(
        blacklist_stream(stream, max_per_day=3, watermark="48 hours"),
        spark,
        output_mode="append",
    ).toPandas()
    rows = sorted(
        (r.day, int(r.cnt), r.result_type) for r in got.itertuples(index=False)
    )
    assert rows == [
        ("2024-01-01", 0, "late_click"),
        ("2024-01-02", 1, "click"),
        ("2024-01-02", 2, "click"),
    ]


def test_streaming_session_window_matches_batch_sessionize(spark, tmp_path):
    from data_warehouse_flink_spark.operators.detection import sessionize
    from data_warehouse_flink_spark.streaming.jobs import (
        streaming_session_count,
    )

    rows = [
        {"user_id": 1, "event_id": 1, "ts": sec(0)},
        {"user_id": 1, "event_id": 2, "ts": sec(30)},   # same session (gap 60s)
        {"user_id": 1, "event_id": 3, "ts": sec(200)},  # new session
        {"user_id": 2, "event_id": 4, "ts": sec(10)},
        {"user_id": 999, "event_id": 5, "ts": FAR},
    ]
    schema = "user_id long, event_id long, ts timestamp"
    path = write_replay(tmp_path, spark, rows, schema)
    stream = read_replay(spark, path, schema)
    out = streaming_session_count(stream, "ts", "60 seconds", keys=["user_id"])
    got = run_stream_to_table(out, spark, output_mode="append").toPandas()
    got = got[got.user_id != 999]
    sizes = sorted(got.n_events)
    assert sizes == [1, 1, 2]
    # batch twin agrees on session membership counts
    batch = spark.createDataFrame(pd.DataFrame(rows[:-1]), schema=schema)
    sess = sessionize(batch, "user_id", "ts", gap_sec=60)
    batch_sizes = sorted(
        r["count"]
        for r in sess.groupBy("user_id", "session_id").count().collect()
    )
    assert batch_sizes == sizes


def test_order_timeout_stream_on_rocksdb_state_store(spark, tmp_path):
    """The at-scale state backend: RocksDB provider (bundled in Spark 4)
    behind the same kernel — state spills to disk instead of JVM heap."""
    rows = [
        {"order_id": 1, "event_type": "create", "ts": sec(0)},
        {"order_id": 1, "event_type": "pay", "ts": sec(10)},
        {"order_id": 2, "event_type": "create", "ts": sec(0)},
        {"order_id": 999, "event_type": "create", "ts": FAR},
    ]
    path = write_replay(tmp_path, spark, rows, ORDER_SCHEMA)
    stream = read_replay(spark, path, ORDER_SCHEMA)
    out = order_timeout_stream(stream, timeout_sec=900)
    table = f"rocksdb_out_{abs(hash(str(tmp_path))) % 10**8}"
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        q = (
            out.writeStream.outputMode("append")
            .format("memory")
            .queryName(table)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if prev is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, prev)
    got = spark.table(table).toPandas()
    got = got[got.order_id != 999]
    assert dict(zip(got.order_id, got.result_type)) == {
        1: "payed",
        2: "timeout",
    }


def test_mart_upsert_foreachbatch(spark, tmp_path):
    """Streaming hourly-count mart equals the batch aggregate after replay."""
    from data_warehouse_flink_spark.streaming.mart import (
        merge_upsert_foreachbatch,
    )
    from data_warehouse_flink_spark.operators.windows import windowed_count

    stream = stream_events(spark, SF_SMOKE).filter(
        F.col("event_type") == "view"
    )
    agg = (
        stream.withWatermark("ts", "0 seconds")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").alias("pv"))
        .select(
            F.unix_timestamp("window.start").alias("window_start_sec"),
            "pv",
        )
    )
    mart = str(tmp_path / "mart")
    q = merge_upsert_foreachbatch(agg, mart, ["window_start_sec"])
    q.awaitTermination()
    got = (
        spark.read.parquet(mart)
        .select(F.col("window_start_sec").cast("long"), "pv")
        .toPandas()
        .sort_values("window_start_sec")
        .reset_index(drop=True)
    )
    batch = table(spark, SF_SMOKE, "events").filter(F.col("event_type") == "view")
    want = (
        windowed_count(batch, "ts", "1 hour", count_alias="pv")
        .select("window_start_sec", "pv")
        .toPandas()
        .sort_values("window_start_sec")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)


def test_mart_upsert_incremental_two_batches(spark, tmp_path):
    """Two micro-batches (split replay) updating an overlapping window:
    the mart must converge to the batch aggregate — the idempotent-upsert
    contract under incremental delivery."""
    from data_warehouse_flink_spark.operators.windows import windowed_count
    from data_warehouse_flink_spark.streaming.mart import (
        merge_upsert_foreachbatch,
    )

    ev = table(spark, SF_SMOKE, "events").filter(F.col("event_type") == "view")
    src = str(tmp_path / "src")
    # time-ordered split at a half-hour boundary: the window containing the
    # split point receives rows from BOTH batches, forcing a re-merge of
    # an already-written row; the split is time-ordered so batch 2 is
    # not behind the watermark
    split = "2024-01-15 12:30:00"
    ev.filter(F.col("ts") < split).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)
    ev.filter(F.col("ts") >= split).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    agg = (
        stream.withWatermark("ts", "0 seconds")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").alias("pv"))
        .select(
            F.unix_timestamp("window.start").alias("window_start_sec"),
            "pv",
        )
    )
    mart = str(tmp_path / "mart2")
    q = merge_upsert_foreachbatch(agg, mart, ["window_start_sec"])
    q.awaitTermination()
    got = (
        spark.read.parquet(mart)
        .select(F.col("window_start_sec").cast("long"), "pv")
        .toPandas()
        .sort_values("window_start_sec")
        .reset_index(drop=True)
    )
    want = (
        windowed_count(ev, "ts", "1 hour", count_alias="pv")
        .select("window_start_sec", "pv")
        .toPandas()
        .sort_values("window_start_sec")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)


def test_streaming_curation_matches_batch_stages(spark, tmp_path):
    """Streaming quality-gate + exact dedup equals the batch form of the
    same two curation stages (first-seen == min doc_id under ordered
    replay)."""
    from data_warehouse_flink_spark.streaming.curation import curate_stream

    docs_schema = (
        "doc_id long, text string, lang string, source string, n_chars long"
    )
    stream = (
        spark.readStream.schema(docs_schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(SF_SMOKE)
    )
    curated = curate_stream(stream)
    got = run_stream_to_table(
        curated.select("doc_id"), spark, output_mode="append"
    ).toPandas()

    batch = table(spark, SF_SMOKE, "documents").filter(
        (F.col("n_chars") >= 150) & F.col("lang").isin("en", "zh")
    )
    want = (
        batch.withColumn("text_hash", F.md5(F.lower(F.col("text"))))
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("doc_id"))
    ).toPandas()
    assert set(got.doc_id) == set(want.doc_id)
    assert len(got) > 0


def test_tx_match_stream_joined_matches_kernel(spark, tmp_path):
    """The JVM-only full-outer stream-stream join produces the same three
    outcome classes as the applyInPandasWithState kernel."""
    from data_warehouse_flink_spark.streaming.joins import (
        tx_match_stream_joined,
    )

    pays = [
        {"tx_id": "a", "ts": sec(0)},
        {"tx_id": "b", "ts": sec(0)},  # no receipt
        {"tx_id": "zz", "ts": FAR},
    ]
    receipts = [
        {"tx_id": "a", "ts": sec(3)},
        {"tx_id": "c", "ts": sec(0)},  # no pay
        {"tx_id": "zz", "ts": FAR},
    ]
    p_path = write_replay(tmp_path / "pj", spark, pays, TX_SCHEMA)
    r_path = write_replay(tmp_path / "rj", spark, receipts, TX_SCHEMA)
    out = tx_match_stream_joined(
        read_replay(spark, p_path, TX_SCHEMA),
        read_replay(spark, r_path, TX_SCHEMA),
        bound_sec=5,
    )
    got = run_stream_to_table(out, spark, output_mode="append").toPandas()
    got = got[got.tx_id != "zz"]
    by_tx = dict(zip(got.tx_id, got.result_type))
    assert by_tx == {
        "a": "matched",
        "b": "unmatched_pay",
        "c": "unmatched_receipt",
    }


def test_simulated_marketing_source_live(spark):
    """S3: the seeded rate-source generator produces well-formed marketing
    events when actually run (deterministic columns from hashed offsets)."""
    import time

    from data_warehouse_flink_spark.streaming.sources import (
        simulated_marketing_source,
    )

    src = simulated_marketing_source(spark, rows_per_second=200)
    q = (
        src.writeStream.outputMode("append")
        .format("memory")
        .queryName("marketing_live")
        .start()
    )
    try:
        deadline = time.time() + 20
        while time.time() < deadline:
            if spark.table("marketing_live").count() > 0:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    rows = spark.table("marketing_live").collect()
    assert len(rows) > 0
    channels = {r["channel"] for r in rows}
    behaviors = {r["behavior"] for r in rows}
    assert channels <= {
        "AppStore", "HuaweiStore", "XiaomiStore", "weibo", "wechat"
    }
    assert behaviors <= {"CLICK", "DOWNLOAD", "UPDATE", "INSTALL", "UNINSTALL"}
    assert all(len(r["user_id"]) == 40 for r in rows)  # sha1 hex ids


def test_streaming_topn_correct_across_batches(spark, tmp_path):
    """The review-found bug: update-mode batches carry only CHANGED rows, so
    ranking a batch alone crowns whatever changed. The accumulator must keep
    the true leader on top when a later batch updates only a trailing key."""
    from data_warehouse_flink_spark.streaming.mart import (
        streaming_topn_foreachbatch,
    )

    schema = "user_id long, ts timestamp"
    # batch 1: A(user 1) x10, B(user 2) x5 in window [0, 60)
    b1 = [{"user_id": 1, "ts": sec(i % 50)} for i in range(10)] + [
        {"user_id": 2, "ts": sec(i % 50)} for i in range(5)
    ]
    # batch 2: only C(user 3) x3 changes in the same window
    b2 = [{"user_id": 3, "ts": sec(51 + i % 5)} for i in range(3)]
    path = str(tmp_path / "tb")
    spark.createDataFrame(pd.DataFrame(b1), schema=schema).coalesce(
        1
    ).write.mode("overwrite").parquet(path)
    spark.createDataFrame(pd.DataFrame(b2), schema=schema).coalesce(
        1
    ).write.mode("append").parquet(path)
    stream = read_replay(spark, path, schema)
    counts = windowed_count(
        stream.withWatermark("ts", "1 hour"), "ts", "1 minute", keys=["user_id"]
    )
    results: list = []

    def sink(ranked_df, epoch_id):
        results.append(ranked_df.toPandas())

    q = streaming_topn_foreachbatch(
        counts, ["window_start_sec"], "cnt", 1, ["user_id"], sink,
        str(tmp_path / "state"),
    )
    q.awaitTermination()
    final = results[-1]
    w0 = final[final.window_start_sec == int(T0.timestamp())]
    # the last batch touched window 0 via user 3, but user 1 (cnt 10) must
    # still be rank 1 — a per-batch rank would wrongly crown user 3
    assert list(w0.user_id) == [1]
    assert int(w0.cnt.iloc[0]) == 10


def test_streaming_topn_carries_other_windows_of_a_touched_bucket(
    spark, tmp_path
):
    """The top-N state is bucketed by time range of the window column, so
    one bucket holds several windows. Batch 2 touches only window A (and
    overturns A's leader); window B shares A's bucket, so its rows must be
    carried through the bucket rewrite unchanged, and the sink must receive
    the top-N of BOTH windows, as the batch plan ranks them. Window C lies
    in an older bucket: batch 2 must neither rewrite nor re-rank it."""
    from data_warehouse_flink_spark.operators.topn import top_n_per_group
    from data_warehouse_flink_spark.streaming import mart

    # two one-minute windows at the start of one bucket's time range
    span = mart._TOPN_BUCKET_SPAN_S
    assert span > 120
    wa = int(T0.replace(tzinfo=dt.timezone.utc).timestamp()) // span * span
    wb = wa + 60
    wc = wa - 2 * span

    def at(w, s):
        return dt.datetime.fromtimestamp(w, dt.timezone.utc).replace(
            tzinfo=None
        ) + dt.timedelta(seconds=s)

    schema = "user_id long, ts timestamp"
    # batch 1: window A user 1 x3 > user 2 x2; window B user 5 x4 > user 6 x1
    b1 = (
        [{"user_id": 1, "ts": at(wa, i)} for i in range(3)]
        + [{"user_id": 2, "ts": at(wa, 10 + i)} for i in range(2)]
        + [{"user_id": 5, "ts": at(wb, i)} for i in range(4)]
        + [{"user_id": 6, "ts": at(wb, 10)}]
        + [{"user_id": 7, "ts": at(wc, i)} for i in range(2)]
    )
    # batch 2: only window A changes — user 2 reaches 4 and takes the lead
    b2 = [{"user_id": 2, "ts": at(wa, 20 + i)} for i in range(2)]
    src = str(tmp_path / "src")
    for rows, mode in ((b1, "overwrite"), (b2, "append")):
        spark.createDataFrame(pd.DataFrame(rows), schema=schema).coalesce(
            1
        ).write.mode(mode).parquet(src)
    counts = windowed_count(
        read_replay(spark, src, schema).withWatermark("ts", "1 hour"),
        "ts", "1 minute", keys=["user_id"],
    )
    results: list = []
    state = str(tmp_path / "state")
    q = streaming_topn_foreachbatch(
        counts, ["window_start_sec"], "cnt", 1, ["user_id"],
        lambda ranked_df, epoch_id: results.append(ranked_df.toPandas()),
        state,
    )
    q.awaitTermination()

    def top1(pdf):
        return sorted(
            (int(r.window_start_sec), int(r.user_id), int(r.cnt))
            for r in pdf.itertuples()
        )

    want = [(wa, 2, 4), (wb, 5, 4)]
    assert len(results) == 2
    assert top1(results[0]) == [(wc, 7, 2), (wa, 1, 3), (wb, 5, 4)]
    assert top1(results[-1]) == want  # C's bucket is not re-ranked
    # the state table holds every count, B's and C's untouched by batch 2
    stored = spark.read.parquet(state).select(
        "window_start_sec", "user_id", "cnt"
    )
    assert sorted(map(tuple, stored.collect())) == [
        (wc, 7, 2), (wa, 1, 3), (wa, 2, 4), (wb, 5, 4), (wb, 6, 1),
    ]
    ranked = top_n_per_group(
        stored, ["window_start_sec"], [F.desc("cnt"), F.asc("user_id")], 1
    )
    assert top1(ranked.toPandas()) == [(wc, 7, 2), *want]


def test_kafka_source_options_match_reference_consumer():
    """S1: the option map must translate the reference's consumer config
    (DW-Flink HotItemsAnalysis app/HotItems.scala:37-48) exactly — topic
    'hotitems', localhost bootstrap, auto.offset.reset=latest."""
    from data_warehouse_flink_spark.streaming.sources import (
        kafka_source_options,
    )

    opts = kafka_source_options("localhost:9092", "hotitems")
    assert opts == {
        "kafka.bootstrap.servers": "localhost:9092",
        "subscribe": "hotitems",
        "startingOffsets": "latest",
    }
    # explicit offset override passes through (replay-from-earliest runs)
    assert (
        kafka_source_options("b:9092", "t", "earliest")["startingOffsets"]
        == "earliest"
    )


def test_kafka_read_path_constructs_and_plans(spark):
    """S1: actually exercise ``kafka_events`` — build the reader and call
    ``load()`` (VERDICT r2 #7). The container has no spark-sql-kafka jar, so
    in CI the accepted outcome is Spark's specific DATA_SOURCE_NOT_FOUND for
    'kafka' (proving the read path runs up to connector resolution with our
    exact options); on a real cluster (jar on classpath) the same call must
    yield the parsed-value plan with a string `value` column.
    """
    from pyspark.errors.exceptions.captured import AnalysisException

    from data_warehouse_flink_spark.streaming.sources import kafka_events

    try:
        df = kafka_events(spark, "localhost:9092", "hotitems")
    except AnalysisException as e:
        msg = str(e)
        assert "DATA_SOURCE_NOT_FOUND" in msg or "Failed to find data source: kafka" in msg, e
        pytest.skip("spark-sql-kafka connector not on classpath (expected in CI)")
    else:
        assert df.isStreaming
        assert dict(df.dtypes)["value"] == "string"


def test_session_window_exact_gap_boundary(spark):
    """ADVICE r3: pin the merge convention at a gap of EXACTLY 6 h. Spark's
    session_window MERGES an event arriving at prev_ts + gap (the window
    [t, t+gap) extends through its endpoint on merge), and the lag/sum
    oracle's `diff > gap → new session` condition encodes the same rule —
    so the value-exact claim for user_sessions / streaming_user_sessions
    holds on the boundary, not just on microsecond-random testdata."""
    import duckdb

    rows = [
        (1, "2024-01-01 00:00:00"),
        (1, "2024-01-01 06:00:00"),        # exactly gap after → merge
        (1, "2024-01-01 12:00:00.000001"),  # gap + 1µs after → new session
    ]
    df = spark.createDataFrame(rows, "user_id long, ts_s string").select(
        "user_id", F.to_timestamp("ts_s").alias("ts")
    )
    got = sorted(
        (r.n_events, r.start_us, r.end_us)
        for r in df.groupBy(F.session_window("ts", "6 hours"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "n_events",
            F.unix_micros("session_window.start").alias("start_us"),
            (F.unix_micros("session_window.end") - F.lit(21_600_000_000))
            .alias("end_us"),
        )
        .collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE events AS SELECT * FROM (VALUES "
        + ", ".join(f"(1, TIMESTAMP '{t}')" for _, t in rows)
        + ") AS t(user_id, ts)"
    )
    want = sorted(
        tuple(r)
        for r in con.execute("""
        WITH flagged AS (
          SELECT user_id, ts,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                           > 21600000000
                      THEN 1 ELSE 0 END AS new_sess
          FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ), sessions AS (
          SELECT user_id, ts, SUM(new_sess) OVER (
            PARTITION BY user_id ORDER BY ts
            ROWS UNBOUNDED PRECEDING) AS sess
          FROM flagged
        )
        SELECT count(*) AS n_events, min(epoch_us(ts)) AS start_us,
               max(epoch_us(ts)) AS end_us
        FROM sessions GROUP BY user_id, sess
        """).fetchall()
    )
    assert got == want
    assert [n for n, _, _ in got] == [1, 2]  # boundary merged, +1µs split


def test_kafka_loader_record_shaping(spark, tmp_path):
    """S4: tools/kafka_load.py shapes CSV lines into Kafka record values
    exactly as the reference producer sends them
    (DW-Flink/.../app/KafkaProducer.scala:26-31 — one line, one record,
    line text = value)."""
    import sys

    sys.path.insert(0, "/root/repo/tools")
    from kafka_load import shape_kafka_lines

    csv = tmp_path / "behaviors.csv"
    rows = ["1,42,7,pv,1511658000", "2,43,7,buy,1511658001"]
    csv.write_text("\n".join(rows) + "\n")
    shaped = shape_kafka_lines(spark.read.text(str(csv)))
    assert shaped.columns == ["value"]
    assert dict(shaped.dtypes)["value"] == "string"
    assert sorted(r.value for r in shaped.collect()) == rows


def test_kafka_write_path_constructs_and_plans(spark, tmp_path):
    """S4: the batch Kafka WRITE path runs up to connector resolution with
    our exact options (the write-side twin of the S1 read-path test). On a
    real cluster the same call publishes the topic."""
    import sys

    from pyspark.errors.exceptions.captured import AnalysisException

    sys.path.insert(0, "/root/repo/tools")
    from kafka_load import load_csv_to_kafka

    csv = tmp_path / "one.csv"
    csv.write_text("1,42,7,pv,1511658000\n")
    try:
        load_csv_to_kafka(spark, str(csv), "hotitems", "localhost:9092")
    except AnalysisException as e:
        msg = str(e)
        assert (
            "DATA_SOURCE_NOT_FOUND" in msg
            or "Failed to find data source: kafka" in msg
        ), e
        pytest.skip("spark-sql-kafka connector not on classpath (expected in CI)")


def test_streaming_near_dedup_matches_ledger_simulation(spark, tmp_path):
    """near_dedup_stream's admitted set equals an independent driver-side
    simulation of the ledger semantics, computed from batch band keys:
    per batch, drop docs whose bucket is in the ledger, then keep only
    bucket-minimal docs among the remainder; admit the rest."""
    import os

    from data_warehouse_flink_spark.functions.dedup import (
        band_keys,
        minhash_signatures,
        word_ngrams,
    )
    from data_warehouse_flink_spark.streaming.curation import (
        near_dedup_stream,
    )

    base = "the quick brown fox jumps over the lazy dog near the old river"
    docs = [
        # exact-dup group across batches: 4 (residue-0 batch replays first)
        # is first-seen and admitted; 1 and 11 arrive later and drop
        (1, base),
        (4, base),
        (11, base),
        # exact-dup pair inside one batch (both ≡ 2 mod 4): min wins
        (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (6, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        # uniques
        (3, "completely different text about spark structured streaming state"),
        (8, "another unrelated document mentioning parquet ledgers and bands"),
        # shorter than the 3-gram shingle: no buckets, always admitted
        (5, "tiny doc"),
        (9, "ab"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    replay = str(tmp_path / "replay")
    seen: set[str] = set()
    for b in range(4):
        df.filter(F.pmod(F.col("doc_id"), F.lit(4)) == b).coalesce(
            1
        ).write.mode("append").parquet(replay)
        for name in os.listdir(replay):
            if name.endswith(".parquet") and name not in seen:
                os.utime(
                    os.path.join(replay, name), (1_000_000_000 + b,) * 2
                )
                seen.add(name)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .format("parquet")
        .load(replay)
    )
    q = near_dedup_stream(
        stream,
        state_path=str(tmp_path / "ledger"),
        out_path=str(tmp_path / "admitted"),
    )
    q.awaitTermination()
    admitted = {
        r.doc_id
        for r in spark.read.parquet(str(tmp_path / "admitted")).collect()
    }

    # independent simulation from batch-computed band keys
    keys = band_keys(
        minhash_signatures(word_ngrams(df, 3), 64), 16, 4
    ).collect()
    buckets: dict[int, set[tuple[int, int]]] = {d: set() for d, _ in docs}
    for r in keys:
        buckets[r.doc_id].add((r.band, r.bucket))
    ledger: set[tuple[int, int]] = set()
    expected: set[int] = set()
    for b in range(4):
        batch = sorted(d for d, _ in docs if d % 4 == b)
        clean = [d for d in batch if not (buckets[d] & ledger)]
        survivors = [
            d
            for d in clean
            if all(
                d <= min(e for e in clean if k in buckets[e])
                for k in buckets[d]
            )
        ]
        expected.update(survivors)
        for d in survivors:
            ledger |= buckets[d]

    assert admitted == expected
    # the intended collisions actually happened (guards a degenerate pass)
    assert 4 in admitted and 1 not in admitted and 11 not in admitted
    assert 2 in admitted and 6 not in admitted
    assert {3, 8, 5, 9} <= admitted
    # ledger is band-partitioned on disk
    assert os.path.isdir(str(tmp_path / "ledger" / "band=0"))


def test_streaming_knn_equals_batch(spark):
    """Batch/stream duality for retrieval: the 4-micro-batch streamed kNN
    union is value-identical to the batch operator (per-query independence
    ⇒ batch-boundary invariance)."""
    from data_warehouse_flink_spark.registry import all_queries

    qs = all_queries()
    batch = sorted(map(tuple, qs["knn_bruteforce"].spark_fn(spark, SF_SMOKE).collect()))
    stream = sorted(map(tuple, qs["streaming_knn"].spark_fn(spark, SF_SMOKE).collect()))
    assert batch == stream


def test_stream_resumes_from_checkpoint_with_state(spark, tmp_path):
    """Durability contract: restarting a stateful streaming aggregate from
    its checkpoint must (a) NOT reprocess already-committed input and
    (b) restore the aggregation state. Run 1 processes keys 1-5 once; a
    new file with key 3 arrives; run 2 from the SAME checkpoint must emit
    ONLY key 3 (nothing reprocessed) with count 2 (state restored) — the
    exactly-once story a 100 TB ingest restarts on every deploy."""
    from pyspark.sql import functions as F

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    emitted: list[list] = []

    def run_once():
        stream = spark.readStream.schema("k long").parquet(src)
        agg = stream.groupBy("k").agg(F.count("*").alias("cnt"))
        rows_this_run = []

        def per_batch(batch_df, epoch_id):
            rows_this_run.extend(
                (r["k"], r["cnt"]) for r in batch_df.collect()
            )

        q = (
            agg.writeStream.outputMode("update")
            .foreachBatch(per_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        emitted.append(rows_this_run)

    spark.createDataFrame(
        [(k,) for k in range(1, 6)], "k long"
    ).coalesce(1).write.mode("append").parquet(src)
    run_once()
    spark.createDataFrame([(3,)], "k long").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run_once()

    assert sorted(emitted[0]) == [(k, 1) for k in range(1, 6)]
    assert emitted[1] == [(3, 2)]  # only the new key, cumulative count


def test_watermark_drops_too_late_events(spark, tmp_path):
    """Late-data contract: once a window has been FINALIZED and evicted
    (append mode emitted it because the watermark passed its end), a
    late event for that window must be dropped — it can neither mutate
    the emitted row nor append a duplicate window. Note the contract's
    exact shape: late data arriving in the SAME batch that finalizes the
    window may still be merged (the watermark is a lower bound, not an
    exact cutoff); the guaranteed drop starts after eviction, which is
    what batch 3 exercises."""
    from pyspark.sql import functions as F

    import glob
    import os
    import time

    src = str(tmp_path / "src")

    def write_batch(rows):
        spark.createDataFrame(rows, "ts_s string, k long").coalesce(
            1
        ).write.mode("append").parquet(src)

    write_batch([("2024-01-01 10:01:00", 1), ("2024-01-01 12:00:00", 2)])
    f1 = set(glob.glob(os.path.join(src, "*.parquet")))
    # batch 2: watermark is now 11:59:50 → finalizes + evicts [10:00,10:05)
    write_batch([("2024-01-01 12:30:00", 9)])
    f2 = set(glob.glob(os.path.join(src, "*.parquet"))) - f1
    # batch 3: a late event for the already-evicted window
    write_batch([("2024-01-01 10:01:30", 3)])
    # the file source orders batches by modification time; writes can land
    # in the same clock tick, so pin the order explicitly
    now = time.time()
    for f in glob.glob(os.path.join(src, "*.parquet")):
        off = 0 if f in f1 else (60 if f in f2 else 120)
        os.utime(f, (now + off, now + off))

    stream = (
        spark.readStream.schema("ts_s string, k long")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .withColumn("ts", F.col("ts_s").cast("timestamp"))
        .withWatermark("ts", "10 seconds")
    )
    agg = stream.groupBy(F.window("ts", "5 minutes")).agg(
        F.count("*").alias("cnt")
    )
    import uuid

    name = f"wm_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = [
        (r["window"].start.isoformat(), r["cnt"])
        for r in spark.table(name).collect()
    ]
    ten = [c for s, c in rows if s == "2024-01-01T10:00:00"]
    # finalized once with ONE event; the post-eviction late replay must
    # neither mutate it nor append a duplicate window row
    assert ten == [1], rows


def test_knn_stream_matches_batch_bruteforce(spark, tmp_path):
    """knn_stream over two micro-batches of query vectors == the batch
    knn_bruteforce over all queries at once: retrieval is stateless, so
    the union of per-batch appends must be exactly the one-shot result."""
    import uuid as _uuid

    from data_warehouse_flink_spark.functions.similarity import knn_bruteforce
    from data_warehouse_flink_spark.streaming.retrieval import knn_stream

    vecs = [
        (i, [float((i * 7 + d * 3) % 11) / 10.0 + 0.1 for d in range(8)])
        for i in range(6)
    ]
    corpus = spark.createDataFrame(
        vecs, "vec_id int, embedding array<double>"
    ).localCheckpoint(eager=True)

    src = str(tmp_path / _uuid.uuid4().hex)
    for batch in ([vecs[0], vecs[1]], [vecs[2]]):
        spark.createDataFrame(
            batch, "vec_id int, embedding array<double>"
        ).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("vec_id int, embedding array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = str(tmp_path / _uuid.uuid4().hex)
    q = knn_stream(corpus, stream, out, k=3)
    q.awaitTermination()

    got = sorted(
        (r["query_id"], r["neighbor_id"], r["cosine"], r["rn"])
        for r in spark.read.parquet(out).collect()
    )
    queries = spark.createDataFrame(
        vecs[:3], "vec_id int, embedding array<double>"
    )
    want = sorted(
        (r["query_id"], r["neighbor_id"], r["cosine"], r["rn"])
        for r in knn_bruteforce(corpus, queries, k=3).collect()
    )
    assert got == want and len(got) == 9


@pytest.mark.parametrize(
    "text, want",
    [
        ("64MB", 64 << 20),
        ("64m", 64 << 20),
        (" 1G ", 1 << 30),
        ("67108864b", 1 << 26),
        ("123", 123),
        # outside the parsed grammar: the 64 MB default, never an error
        ("0.5g", 64 << 20),
        ("1p", 64 << 20),
        ("1pb", 64 << 20),
        ("kb", 64 << 20),
        ("", 64 << 20),
        ("0", 64 << 20),
        ("-5m", 64 << 20),
    ],
)
def test_parse_size_bytes(text, want):
    from data_warehouse_flink_spark.streaming.jobs import _parse_size_bytes

    assert _parse_size_bytes(text) == want


def test_adaptive_stateful_width_and_scoped_conf(spark):
    """r15 (VERDICT r14 #1): the stateful-stream width helper follows the
    AQE advisory-size rule, clamped to [1, session default], and the
    scoped conf restores the default afterwards (so the narrow stateful
    width never leaks into batch queries)."""
    from data_warehouse_flink_spark.streaming.jobs import (
        adaptive_stateful_width,
        scoped_shuffle_partitions,
    )

    default = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert adaptive_stateful_width(spark, 0) == 1  # floor
    assert adaptive_stateful_width(spark, 1) == 1
    # a 100 TB input clamps to the session default — cluster width wins
    assert adaptive_stateful_width(spark, 100 * (1 << 40)) == default

    with scoped_shuffle_partitions(spark, 3):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) == default
    # None = no-op
    with scoped_shuffle_partitions(spark, None):
        assert int(spark.conf.get("spark.sql.shuffle.partitions")) == default


def test_stateful_width_is_cloned_at_start(spark, tmp_path):
    """Spark behaviour the streaming helpers rely on: ``start()`` clones the
    session conf into the query, so scoping the stateful width to the
    ``start()`` call is enough. Inside the running batch the shared session
    is back at its default, while the state store keeps the narrow width."""
    import threading

    from data_warehouse_flink_spark.streaming.jobs import (
        scoped_shuffle_partitions,
    )

    default = spark.conf.get("spark.sql.shuffle.partitions")
    path = str(tmp_path / "src")
    spark.createDataFrame(
        [(k % 5, sec(k)) for k in range(20)], "user_id long, ts timestamp"
    ).coalesce(1).write.parquet(path)
    counts = read_replay(spark, path, "user_id long, ts timestamp").groupBy(
        "user_id"
    ).count()
    scope_left = threading.Event()
    seen: dict = {}

    def sink(batch_df, epoch_id):
        # the batch may start before start() returns: wait until the
        # caller has left the scope, then read the shared session's conf
        scope_left.wait(timeout=60)
        seen["outer"] = spark.conf.get("spark.sql.shuffle.partitions")
        seen["rows"] = batch_df.count()

    with scoped_shuffle_partitions(spark, 3):
        q = (
            counts.writeStream.outputMode("complete")
            .foreachBatch(sink)
            .trigger(availableNow=True)
            .start()
        )
    scope_left.set()
    q.awaitTermination()
    assert seen == {"outer": default, "rows": 5}
    assert default != "3"
    assert q.lastProgress["stateOperators"][0]["numShufflePartitions"] == 3


def test_topn_stateful_width_follows_input_bytes(spark, tmp_path):
    """`streaming_topn_foreachbatch` forwards `input_bytes` to the runner:
    its windowed-count state runs at `adaptive_stateful_width`, not at the
    session's default width."""
    from data_warehouse_flink_spark.streaming.jobs import (
        adaptive_stateful_width,
    )
    from data_warehouse_flink_spark.streaming.sources import source_bytes

    stream = stream_events(spark, SF_SMOKE).filter(F.col("event_type") == "view")
    counts = windowed_count(
        stream.withWatermark("ts", "0 seconds"), "ts", "1 hour",
        slide="15 minutes", keys=["user_id"],
    )
    input_bytes = source_bytes(f"{SF_SMOKE}/events.parquet")
    q = streaming_topn_foreachbatch(
        counts,
        partition_cols=["window_end_sec"],
        order_col="cnt",
        n=3,
        tiebreak_cols=["user_id"],
        sink=lambda ranked_df, epoch_id: None,
        state_path=str(tmp_path / "state"),
        input_bytes=input_bytes,
    )
    width = adaptive_stateful_width(spark, input_bytes)
    assert width != int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert q.lastProgress["stateOperators"][0]["numShufflePartitions"] == width


def test_ordered_replay_delivers_batches_in_the_given_order(spark, tmp_path):
    """`ordered_replay` stages one micro-batch per batch value and the
    stream delivers them in the order given, not in sorted or file-name
    order; a value with no rows yields no batch, and rows whose value is
    outside the order fail loudly instead of being dropped."""
    from data_warehouse_flink_spark.streaming.jobs import run_foreach_batch
    from data_warehouse_flink_spark.streaming.sources import ordered_replay

    df = spark.createDataFrame(
        [(k, b) for b in (0, 1, 3) for k in range(5)], "k long, b long"
    ).withColumn("_b", F.col("b"))
    stream = ordered_replay(df, "_b", [3, 0, 2, 1], str(tmp_path / "replay"))
    assert stream.columns == ["k", "b"]
    epochs: list = []

    def sink(batch_df, epoch_id):
        epochs.append(sorted({r["b"] for r in batch_df.collect()}))

    q = run_foreach_batch(stream, sink, output_mode="append")
    assert not q.isActive
    assert epochs == [[3], [0], [1]]

    with pytest.raises(ValueError, match="outside the replay order"):
        ordered_replay(df, "_b", [0, 1], str(tmp_path / "partial"))
