"""Unit tests for operator-library pieces not already covered by the oracle
gate: streaming stream-stream joins, salted joins, and the out-of-order
replay property (SURVEY.md §5.2)."""

from __future__ import annotations

import datetime as dt
import random

import pandas as pd
import pytest
from conftest import SF_SMOKE
from pyspark.sql import functions as F

from data_warehouse_flink_spark.operators.skew import salted_join
from data_warehouse_flink_spark.streaming.jobs import run_stream_to_table
from data_warehouse_flink_spark.streaming.joins import (
    stream_interval_join,
    stream_window_join,
)

T0 = dt.datetime(2024, 1, 1)


def sec(s: float) -> dt.datetime:
    return T0 + dt.timedelta(seconds=s)


def _write_stream_dir(tmp_path, spark, rows, schema, name):
    path = str(tmp_path / name)
    spark.createDataFrame(pd.DataFrame(rows), schema=schema).coalesce(
        1
    ).write.mode("overwrite").parquet(path)
    return spark.readStream.schema(schema).parquet(path)


TX = "tx_id string, ts timestamp"


def test_stream_window_join_matches_batch(spark, tmp_path):
    pays = [
        {"tx_id": "a", "ts": sec(1)},
        {"tx_id": "b", "ts": sec(20)},
        {"tx_id": "c", "ts": sec(3)},
    ]
    receipts = [
        {"tx_id": "a", "ts": sec(5)},  # same 15 s bucket as pay a
        {"tx_id": "b", "ts": sec(40)},  # different bucket -> no match
        {"tx_id": "c", "ts": sec(14)},  # same bucket
    ]
    l = _write_stream_dir(tmp_path, spark, pays, TX, "p")
    r = _write_stream_dir(tmp_path, spark, receipts, TX, "r")
    j = stream_window_join(l, r, key="tx_id", left_ts="ts", right_ts="ts",
                           size="15 seconds")
    out = run_stream_to_table(
        j.select("tx_id"), spark, output_mode="append"
    ).toPandas()
    assert sorted(out.tx_id) == ["a", "c"]


def test_stream_interval_join(spark, tmp_path):
    pays = [{"tx_id": "a", "ts": sec(10)}, {"tx_id": "b", "ts": sec(10)}]
    receipts = [
        {"tx_id": "a", "ts": sec(2)},  # 8 s before: inside [-15, +20]
        {"tx_id": "b", "ts": sec(40)},  # 30 s after: outside
    ]
    l = _write_stream_dir(tmp_path, spark, pays, TX, "p2").withColumnRenamed(
        "ts", "pay_ts"
    )
    r = _write_stream_dir(tmp_path, spark, receipts, TX, "r2").withColumnRenamed(
        "ts", "receipt_ts"
    )
    j = stream_interval_join(
        l, r, key="tx_id", left_ts="pay_ts", right_ts="receipt_ts",
        lower_sec=-15, upper_sec=20,
    )
    out = run_stream_to_table(
        j.select("l.tx_id"), spark, output_mode="append"
    ).toPandas()
    assert list(out.tx_id) == ["a"]


def test_salted_join_equals_plain_join(spark):
    from data_warehouse_flink_spark.io import table

    ev = table(spark, SF_SMOKE, "events")
    cust = table(spark, SF_SMOKE, "customer").select("c_custkey", "c_nationkey")
    plain = ev.join(cust, ev.user_id == cust.c_custkey).groupBy(
        "c_nationkey"
    ).count()
    salted = salted_join(
        ev.withColumnRenamed("user_id", "c_custkey"),
        cust,
        key="c_custkey",
        buckets=8,
        salt_source="event_id",
    ).groupBy("c_nationkey").count()
    got = {r["c_nationkey"]: r["count"] for r in salted.collect()}
    want = {r["c_nationkey"]: r["count"] for r in plain.collect()}
    assert got == want


def test_out_of_order_replay_invariance(spark, tmp_path):
    """Bounded-disorder replay must not change windowed-agg results
    (SURVEY.md §5.2 property). Deterministic seeds stand in for hypothesis
    here — each seed is a different disorder pattern."""
    base = [
        {"user_id": i % 5, "ts": sec(i * 7 + (i % 3))} for i in range(60)
    ]
    schema = "user_id long, ts timestamp"
    batch_df = spark.createDataFrame(pd.DataFrame(base), schema=schema)
    from data_warehouse_flink_spark.operators.windows import windowed_count

    want = (
        windowed_count(batch_df, "ts", "1 minute", keys=["user_id"])
        .toPandas()
        .sort_values(["window_start_sec", "user_id"])
        .reset_index(drop=True)
    )
    for seed in (1, 7):
        rng = random.Random(seed)
        # shuffle within a 10 s disorder bound: swap adjacent-ish rows
        rows = sorted(
            base,
            key=lambda r: r["ts"] + dt.timedelta(seconds=rng.uniform(0, 10)),
        )
        stream = _write_stream_dir(
            tmp_path, spark, rows, schema, f"ooo{seed}"
        )
        agg = windowed_count(
            stream.withWatermark("ts", "10 seconds"), "ts", "1 minute",
            keys=["user_id"],
        )
        got = (
            run_stream_to_table(agg, spark)
            .toPandas()
            .sort_values(["window_start_sec", "user_id"])
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(got, want)


def test_partitioned_sink_roundtrip(spark, tmp_path):
    from data_warehouse_flink_spark.io import table
    from data_warehouse_flink_spark.sources.sinks import (
        to_kafka_records,
        write_partitioned,
    )

    ev = table(spark, SF_SMOKE, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    out = str(tmp_path / "warehouse")
    write_partitioned(ev, out, partition_cols=["day"])
    back = spark.read.parquet(out)
    assert back.count() == ev.count()
    # partition pruning works on the landed layout
    one_day = back.filter(F.col("day") == "2024-01-05")
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    assert one_day.count() == ev.filter(F.col("day") == "2024-01-05").count()

    # kafka record shaping
    recs = to_kafka_records(ev.limit(3), ["event_id", "event_type"])
    vals = [r["value"] for r in recs.collect()]
    assert all("," in v for v in vals)

    # the landed layout replays through a checkpointed streaming file sink
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, props string, day string"
        )
        .parquet(out)
    )
    q = (
        stream.writeStream.format("parquet")
        .option("path", str(tmp_path / "stream_out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert spark.read.parquet(str(tmp_path / "stream_out")).count() == ev.count()


def test_two_level_sliding_count_equals_naive(spark):
    from data_warehouse_flink_spark.io import table
    from data_warehouse_flink_spark.operators.windows import (
        windowed_count,
        windowed_count_two_level,
    )

    ev = table(spark, SF_SMOKE, "events")
    for size, slide, keys in [
        ("1 hour", "15 minutes", ["event_type"]),
        ("1 hour", "10 minutes", []),
        ("2 hours", "30 minutes", ["user_id"]),
    ]:
        naive = (
            windowed_count(ev, "ts", size, slide=slide, keys=keys)
            .toPandas()
            .sort_values(["window_start_sec"] + keys)
            .reset_index(drop=True)
        )
        two = (
            windowed_count_two_level(ev, "ts", size, slide, keys=keys)
            .toPandas()
            .sort_values(["window_start_sec"] + keys)
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(
            naive, two[naive.columns], check_dtype=False
        )


def test_partial_topn_equals_exact(spark):
    from data_warehouse_flink_spark.io import table
    from data_warehouse_flink_spark.operators.topn import (
        top_n_per_group,
        top_n_per_group_partial,
    )
    from data_warehouse_flink_spark.operators.windows import windowed_count

    ev = table(spark, SF_SMOKE, "events")
    counts = windowed_count(
        ev, "ts", "1 hour", slide="15 minutes", keys=["user_id"]
    ).select("window_end_sec", "user_id", "cnt").repartition(8)
    exact = {
        (r["window_end_sec"], r["user_id"], r["rn"])
        for r in top_n_per_group(
            counts, ["window_end_sec"], [F.desc("cnt"), F.asc("user_id")], 3
        ).collect()
    }
    partial = {
        (r["window_end_sec"], r["user_id"], r["rn"])
        for r in top_n_per_group_partial(
            counts, ["window_end_sec"], "cnt", 3, ["user_id"]
        ).collect()
    }
    assert exact == partial


def test_scd2_history(spark):
    from data_warehouse_flink_spark.operators.scd2 import scd2_apply, scd2_init

    snap = spark.createDataFrame(
        [(1, "alice", "NY"), (2, "bob", "LA")],
        "id long, name string, city string",
    )
    hist = scd2_init(snap, "id", ["name", "city"], ts_us=100)

    # batch 1: bob moves; carol appears; alice unchanged
    upd1 = spark.createDataFrame(
        [(1, "alice", "NY"), (2, "bob", "SF"), (3, "carol", "TX")],
        "id long, name string, city string",
    )
    hist = scd2_apply(hist, upd1, "id", ["name", "city"], ts_us=200)

    # batch 2: identical replay of batch 1 -> no change (idempotence)
    hist = scd2_apply(hist, upd1, "id", ["name", "city"], ts_us=300)

    rows = {
        (r["id"], r["city"], r["valid_from_us"], r["valid_to_us"],
         r["is_current"])
        for r in hist.collect()
    }
    assert rows == {
        (1, "NY", 100, None, True),         # alice: never changed
        (2, "LA", 100, 200, False),         # bob v1 closed at 200
        (2, "SF", 200, None, True),         # bob v2 current
        (3, "TX", 200, None, True),         # carol inserted at 200
    }
    # point-in-time query at t=150: bob still in LA
    at_150 = hist.filter(
        (F.col("valid_from_us") <= 150)
        & (F.col("valid_to_us").isNull() | (F.col("valid_to_us") > 150))
    )
    assert {(r["id"], r["city"]) for r in at_150.collect()} == {
        (1, "NY"), (2, "LA")
    }


def test_jaccard_df_cap_prunes_hot_shingle(spark):
    """Adversarial hot shingle: every doc shares 'x y' (a stop-word shingle).
    Uncapped, the inverted-index self-join pairs ALL docs through it; with
    df_cap it is dropped from candidate generation, yet surviving pairs keep
    their exact Jaccard computed over the FULL shingle sets."""
    from data_warehouse_flink_spark.functions.dedup import (
        jaccard_pairs,
        word_ngrams,
    )

    rows = [(0, "p q r s x y"), (1, "p q r t x y")] + [
        (i, f"u{i} v{i} x y") for i in range(2, 7)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    grams = word_ngrams(df, n=2)

    uncapped = jaccard_pairs(grams, threshold=0.0)
    assert uncapped.count() == 21  # C(7,2): every pair linked via 'x y'

    capped = jaccard_pairs(grams, threshold=0.0, df_cap=3)
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"] for r in capped.collect()
    }
    # only the genuine near-dup pair survives; its score still counts the
    # hot shingle: |{p q, q r, x y}| / |union of 7| = 3/7
    assert got == {(0, 1): round(3 / 7, 6)}


def test_scd2_null_and_boundary_attrs(spark):
    """Regression: concat_ws-based hashing collapsed ('a','bc')/('ab','c')
    and ('x',NULL)/(NULL,'x'); to_json(struct) must detect both as changes."""
    from data_warehouse_flink_spark.operators.scd2 import scd2_apply, scd2_init

    snap = spark.createDataFrame(
        [(1, "a", "bc"), (2, "x", None)],
        "id long, f1 string, f2 string",
    )
    hist = scd2_init(snap, "id", ["f1", "f2"], ts_us=100)

    # boundary shift on id=1; NULL swap on id=2 — both are REAL changes
    upd = spark.createDataFrame(
        [(1, "ab", "c"), (2, None, "x")],
        "id long, f1 string, f2 string",
    )
    hist = scd2_apply(hist, upd, "id", ["f1", "f2"], ts_us=200)

    cur = {
        (r["id"], r["f1"], r["f2"])
        for r in hist.filter(F.col("is_current")).collect()
    }
    assert cur == {(1, "ab", "c"), (2, None, "x")}
    closed = {
        (r["id"], r["f1"], r["f2"], r["valid_to_us"])
        for r in hist.filter(~F.col("is_current")).collect()
    }
    assert closed == {(1, "a", "bc", 200), (2, "x", None, 200)}

    # replaying the same update must be a no-op (hash is deterministic)
    hist2 = scd2_apply(hist, upd, "id", ["f1", "f2"], ts_us=300)
    assert hist2.count() == hist.count()


def test_scd2_null_key_update_fails_loudly(spark):
    """A NULL business key in an update batch must fail the job, not turn
    into an all-NULL history row."""
    from data_warehouse_flink_spark.operators.scd2 import scd2_apply, scd2_init

    schema = "id long, tier string"
    hist = scd2_init(
        spark.createDataFrame([(1, "gold")], schema), "id", ["tier"], 100
    )
    upd = spark.createDataFrame([(1, "silver"), (None, "bronze")], schema)
    with pytest.raises(Exception, match="NULL business key"):
        scd2_apply(hist, upd, "id", ["tier"], ts_us=200).collect()
    # non-NULL batches still apply
    ok = scd2_apply(hist, upd.dropna(), "id", ["tier"], ts_us=200)
    assert ok.filter(F.col("is_current")).collect()[0]["tier"] == "silver"


def test_runtime_pruned_join_equals_plain(spark):
    from data_warehouse_flink_spark.io import table
    from data_warehouse_flink_spark.operators.skew import runtime_pruned_join

    l = table(spark, SF_SMOKE, "lineitem")
    o = table(spark, SF_SMOKE, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    plain = l.join(o, l.l_orderkey == o.o_orderkey).groupBy(
        "o_orderpriority"
    ).count()
    pruned = runtime_pruned_join(
        l, o, "l_orderkey", "o_orderkey"
    ).groupBy("o_orderpriority").count()
    assert {tuple(r) for r in pruned.collect()} == {
        tuple(r) for r in plain.collect()
    }


def test_multimodal_frame_sampling_and_resize(spark):
    from data_warehouse_flink_spark.io import table
    from data_warehouse_flink_spark.functions.multimodal import (
        documents_as_media,
        frame_sample,
        resize_meta,
    )

    media = documents_as_media(table(spark, SF_SMOKE, "documents").limit(20))
    frames = frame_sample(media, frame_bytes=64, stride=2)
    rows = frames.collect()
    assert len(rows) > 20  # multiple frames per payload
    assert all(r["frame_idx"] % 2 == 0 for r in rows)
    assert all(0 < r["n_bytes"] <= 64 for r in rows)

    resized = resize_meta(media, 224, 224).first()
    assert (resized["meta"]["width"], resized["meta"]["height"]) == (224, 224)


def test_late_beyond_watermark_rows_dropped(spark, tmp_path):
    """SURVEY §5.2: rows later than the watermark bound are dropped
    deterministically by streaming aggregation (batch keeps them)."""
    from data_warehouse_flink_spark.operators.windows import windowed_count
    from data_warehouse_flink_spark.streaming.jobs import run_stream_to_table

    schema = "user_id long, ts timestamp"
    on_time = [{"user_id": 1, "ts": sec(i * 10)} for i in range(12)]
    advance = [{"user_id": 2, "ts": sec(4000)}]  # pushes watermark past w0
    late = [{"user_id": 1, "ts": sec(5)}]  # belongs to the closed window 0

    path = str(tmp_path / "late")
    spark.createDataFrame(pd.DataFrame(on_time), schema=schema).coalesce(
        1
    ).write.mode("overwrite").parquet(path)
    spark.createDataFrame(pd.DataFrame(advance), schema=schema).coalesce(
        1
    ).write.mode("append").parquet(path)
    spark.createDataFrame(pd.DataFrame(late), schema=schema).coalesce(
        1
    ).write.mode("append").parquet(path)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    agg = windowed_count(
        stream.withWatermark("ts", "30 seconds"), "ts", "1 minute",
        keys=["user_id"],
    )
    # append mode: a window is emitted once, when the watermark closes it;
    # late rows for closed windows are dropped. (Complete mode would keep
    # all state and still absorb the late row.)
    got = run_stream_to_table(agg, spark, output_mode="append").toPandas()
    w0 = got[
        (got.user_id == 1)
        & (got.window_start_sec == int(T0.timestamp()))
    ]
    # batch would count 7 rows in window 0 (6 on-time + 1 late);
    # streaming closed the window before the late row arrived -> 6
    assert int(w0.cnt.iloc[0]) == 6


def test_format_topn_report(spark):
    from data_warehouse_flink_spark.operators.topn import format_topn_report

    df = spark.createDataFrame(
        [(100, 7, 42, 1), (100, 9, 17, 2)],
        "window_end_sec long, item_id long, cnt long, rn int",
    )
    out = format_topn_report(df, "window_end_sec", "item_id", "cnt").collect()
    assert out[0]["report"] == "No1: 商品ID=7 浏览量=42\nNo2: 商品ID=9 浏览量=17"


def test_asof_join_rejects_reserved_columns(spark):
    import pytest

    from data_warehouse_flink_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, 99)], "k long, ts long, asof_ts long"
    )
    right = spark.createDataFrame([(1, 5, 7)], "k long, rts long, v long")
    with pytest.raises(ValueError, match="reserved"):
        asof_join(left, right, "k", "ts", "rts", ["v"])


def test_write_partitioned_files_per_partition(spark, tmp_path):
    """files_per_partition=N must yield up to N files per partition VALUE
    (the old repartition(n, *cols) produced exactly 1 per value)."""
    import os

    from data_warehouse_flink_spark.sources.sinks import write_partitioned

    df = spark.range(0, 4000).select(
        (F.col("id") % 2).alias("day"), F.col("id").alias("v")
    )
    out = str(tmp_path / "mart")
    write_partitioned(df, out, partition_cols=["day"], files_per_partition=4)
    for day in (0, 1):
        files = [
            f
            for f in os.listdir(os.path.join(out, f"day={day}"))
            if f.endswith(".parquet")
        ]
        assert 2 <= len(files) <= 4, files
    back = spark.read.parquet(out)
    assert back.count() == 4000
    assert back.select(F.sum("v")).first()[0] == sum(range(4000))


def test_connected_components_chain_and_clique(spark):
    """Chain 1-2-3-4 (diameter > 1 forces multiple propagation rounds),
    clique {10,11,12}, isolated edge {20,21}: min label wins per component."""
    from data_warehouse_flink_spark.operators.graph import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (4, 3), (10, 11), (11, 12), (10, 12), (21, 20)],
        "src long, dst long",
    )
    got = {
        (r["node"], r["component"])
        for r in connected_components(edges).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10), (12, 10),
        (20, 20), (21, 20),
    }


def test_uv_sketch_union_equals_direct_sketch(spark):
    """Mergeability contract: union of per-day HLL sketches must estimate
    EXACTLY what one sketch over the whole period estimates (register-wise
    max is lossless), and land within 5% of exact distinct."""
    from pyspark.sql import functions as F

    from data_warehouse_flink_spark.io import table
    from data_warehouse_flink_spark.plans.reference_jobs import (
        uv_sketch_mergeable,
    )

    from conftest import SF_SMOKE

    ev = table(spark, SF_SMOKE, "events").filter(F.col("event_type") == "view")
    # mergeability law, re-derived from the primitives: union of per-day
    # sketches estimates EXACTLY what one whole-period sketch estimates
    daily = ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sketch")
    )
    unioned = daily.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).cast("long")
    ).collect()[0][0]
    direct = ev.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).cast("long")
    ).collect()[0][0]
    assert unioned == direct
    # the gate itself now grades the error contract: every row within bound,
    # exact counts correct
    out = {r.day: r for r in uv_sketch_mergeable(spark, SF_SMOKE).collect()}
    exact = ev.select("user_id").distinct().count()
    assert out["ALL"].uv_exact == exact
    assert all(r.within_bound for r in out.values())
    assert len(out) > 1  # per-day rows present


def test_span_dedup_first_occurrence_semantics(spark):
    """A span repeated across (and within) documents survives only at its
    first (doc_id, span_idx) occurrence; untouched docs round-trip; a doc
    losing every span keeps a row with empty text."""
    from data_warehouse_flink_spark.functions.dedup import span_dedup

    rep = "w1 w2 w3 w4"  # one full span at span_tokens=4
    docs = spark.createDataFrame(
        [
            (1, rep + " " + "a b c d"),  # first occurrence + unique span
            (2, rep),  # duplicate-only doc -> empty
            (3, "x y z q " + rep),  # later occurrence dropped, own span kept
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in span_dedup(docs, span_tokens=4).collect()
    }
    assert out[1].dedup_text == rep + " a b c d"
    assert (out[1].n_spans, out[1].n_spans_kept) == (2, 2)
    assert out[2].dedup_text == "" and out[2].n_spans_kept == 0
    assert out[3].dedup_text == "x y z q"
    assert (out[3].n_spans, out[3].n_spans_kept) == (2, 1)


def test_quality_classifier_monotone_in_repetition(spark):
    """The frozen-weight logit strictly penalizes duplicate trigrams:
    a degenerate repeated-token doc scores below the same-length varied
    doc, and the keep decision equals logit >= 0."""
    from data_warehouse_flink_spark.functions.text import linear_quality_score

    varied = " ".join(f"tok{i}" for i in range(60))
    degenerate = " ".join(["spam"] * 60)
    docs = spark.createDataFrame(
        [(1, varied), (2, degenerate)], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in linear_quality_score(docs).collect()}
    assert rows[1].dup_ppm == 0 and rows[2].dup_ppm > 900_000
    assert rows[2].quality_score < rows[1].quality_score
    for r in rows.values():
        assert r.keep == (r.quality_score >= 0)


def test_cm_sketch_one_sided_error_and_mergeability(spark):
    """Count-min guarantees estimate >= true count for EVERY token (not
    just the reported top-N), and per-partition cell grids merge by
    addition into exactly the whole-corpus grid."""
    from pyspark.sql import functions as F

    from data_warehouse_flink_spark.functions.sketches import (
        cm_estimate_for,
        cm_sketch_cells,
    )

    tok = spark.createDataFrame(
        [(f"t{i % 37}",) for i in range(1500)], "token string"
    )
    cells = cm_sketch_cells(tok, width=16)
    exact = tok.groupBy("token").agg(F.count("*").alias("exact_count"))
    est = cm_estimate_for(exact.select("token"), cells, width=16)
    joined = exact.join(est, "token").collect()
    assert len(joined) == 37
    assert all(r.cm_estimate >= r.exact_count for r in joined)

    # mergeability: half-grids sum to the full grid cell-for-cell
    h1 = cm_sketch_cells(tok.limit(700), width=16)
    h2 = cm_sketch_cells(tok.exceptAll(tok.limit(700)), width=16)
    merged = (
        h1.unionByName(h2)
        .groupBy("row", "bucket")
        .agg(F.sum("cell_count").cast("long").alias("cell_count"))
    )
    full = {(r.row, r.bucket): r.cell_count for r in cells.collect()}
    got = {(r.row, r.bucket): r.cell_count for r in merged.collect()}
    assert got == full


def test_knn_pq_codes_and_recall(spark):
    """PQ codes are valid codebook indices, and the compressed-domain ADC
    top-5 recalls a meaningful fraction of the exact top-5 (far above the
    ~1% random baseline; measured 0.26 at sf0.01)."""
    from pyspark.sql import functions as F

    from data_warehouse_flink_spark.functions.pq_codebooks import (
        K_CODES,
        M_SUBSPACES,
    )
    from data_warehouse_flink_spark.functions.similarity import (
        knn_bruteforce,
        knn_pq,
        pq_encode,
    )
    from data_warehouse_flink_spark.io import table

    from conftest import SF_SMOKE

    embs = table(spark, SF_SMOKE, "embeddings")
    enc = pq_encode(embs)
    bounds = enc.agg(
        *[F.min(f"code{m}").alias(f"lo{m}") for m in range(M_SUBSPACES)],
        *[F.max(f"code{m}").alias(f"hi{m}") for m in range(M_SUBSPACES)],
    ).collect()[0]
    for m in range(M_SUBSPACES):
        assert 0 <= bounds[f"lo{m}"] and bounds[f"hi{m}"] < K_CODES

    qs = embs.filter(F.col("vec_id") < 20)
    bf = knn_bruteforce(embs, qs, k=5).select("query_id", "neighbor_id")
    pq = knn_pq(embs, qs, k=5).select("query_id", "neighbor_id")
    recall = bf.intersect(pq).count() / bf.count()
    assert recall >= 0.08, recall


def test_zorder_files_are_quadtree_blocks(spark):
    """Over a dense 32x32 grid, every z-order file (shift 4) is a complete
    4x4 quadtree block — span <= 3 in BOTH dimensions — whereas an x-major
    sort into equal-size files spans a 16-value y range (5x worse). That
    bounded rectangle is exactly why min/max stats prune on either
    predicate column."""
    from pyspark.sql import functions as F

    from data_warehouse_flink_spark.operators.layout import zorder_file_stats

    grid = spark.range(32 * 32).select(
        (F.col("id") % 32).cast("int").alias("x"),
        (F.col("id") / 32).cast("int").alias("y"),
    )
    stats = zorder_file_stats(grid, x=F.col("x"), y=F.col("y")).collect()
    assert len(stats) == 64
    for r in stats:
        assert r.n_rows == 16
        assert r.max_x - r.min_x == 3
        assert r.max_y - r.min_y == 3

    # contrast: x-major linear layout, same file count/size
    linear = grid.select(
        (F.col("x") * 32 + F.col("y")).alias("pos"), "x", "y"
    ).withColumn("file_id", F.floor(F.col("pos") / 16))
    spans = (
        linear.groupBy("file_id")
        .agg((F.max("y") - F.min("y")).alias("y_span"))
        .agg(F.max("y_span"))
        .collect()[0][0]
    )
    assert spans == 15  # each x-major file spans half the y range


def test_cm_cells_from_counts_equals_raw_stream(spark):
    """The count-weighted cell builder (one corpus scan) produces exactly
    the raw-stream grid: a cell is the sum of its tokens' counts."""
    from pyspark.sql import functions as F

    from data_warehouse_flink_spark.functions.sketches import (
        cm_sketch_cells,
        cm_sketch_cells_from_counts,
    )

    tok = spark.createDataFrame(
        [(f"w{i % 23}",) for i in range(900)], "token string"
    )
    raw = {
        (r.row, r.bucket): r.cell_count
        for r in cm_sketch_cells(tok, width=16).collect()
    }
    counts = tok.groupBy("token").agg(
        F.count("*").cast("long").alias("exact_count")
    )
    derived = {
        (r.row, r.bucket): r.cell_count
        for r in cm_sketch_cells_from_counts(counts, width=16).collect()
    }
    assert derived == raw
