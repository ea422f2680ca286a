"""Scale smoke: 5M synthetic events through the heavy operator paths.

Gated behind SPARK_GRAFT_SCALE_SMOKE=1 so the default suite stays fast; run
manually (or per-round) to confirm headroom well beyond sf0.1:

    SPARK_GRAFT_SCALE_SMOKE=1 python -m pytest tests/test_scale_smoke.py -q
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.skipif(
    os.environ.get("SPARK_GRAFT_SCALE_SMOKE") != "1",
    reason="set SPARK_GRAFT_SCALE_SMOKE=1 to run the 5M-row smoke",
)

N = int(os.environ.get("SPARK_GRAFT_SMOKE_ROWS", 5_000_000))
USERS = 100_000


@pytest.fixture(scope="module")
def big_events(spark):
    """Deterministic 5M-row event table synthesized executor-side
    (spark.range → hash-derived columns; no driver materialization)."""
    df = (
        spark.range(N)
        .withColumn("user_id", F.pmod(F.xxhash64("id", F.lit(1)), F.lit(USERS)))
        .withColumn(
            "event_type",
            F.element_at(
                F.array(
                    F.lit("view"), F.lit("click"), F.lit("purchase"),
                    F.lit("signup"), F.lit("error"),
                ),
                (F.pmod(F.xxhash64("id", F.lit(2)), F.lit(5)) + 1).cast("int"),
            ),
        )
        .withColumn(
            "ts",
            F.timestamp_seconds(
                F.lit(1704067200)
                + F.pmod(F.xxhash64("id", F.lit(3)), F.lit(30 * 86400))
            ),
        )
        .withColumnRenamed("id", "event_id")
    )
    return df


def test_sliding_window_topn_at_5m(spark, big_events):
    from data_warehouse_flink_spark.operators.topn import top_n_per_group
    from data_warehouse_flink_spark.operators.windows import windowed_count

    counts = windowed_count(
        big_events.filter(F.col("event_type") == "view"),
        "ts", "1 hour", slide="15 minutes", keys=["user_id"],
    )
    top = top_n_per_group(
        counts.select("window_end_sec", "user_id", "cnt"),
        ["window_end_sec"], [F.desc("cnt"), F.asc("user_id")], 3,
    )
    n = top.count()
    # 30 days of 15-min slides → ≤ 2884 windows × 3
    assert 0 < n <= 2884 * 3


def test_full_outer_match_at_5m(spark, big_events):
    bucket = (F.expr("unix_micros(ts) div 3600000000") * 3600).alias("b")
    pays = big_events.filter(F.col("event_type") == "purchase").select(
        "user_id", bucket
    )
    recs = big_events.filter(F.col("event_type") == "signup").select(
        "user_id", bucket
    )
    j = pays.alias("l").join(
        recs.alias("r"),
        on=[F.col("l.user_id") == F.col("r.user_id"),
            F.col("l.b") == F.col("r.b")],
        how="full_outer",
    )
    assert j.count() > 0


def test_sessionize_at_5m(spark, big_events):
    from data_warehouse_flink_spark.operators.detection import sessionize

    sess = sessionize(big_events, "user_id", "ts", gap_sec=21600)
    agg = sess.groupBy("user_id").agg(F.max("session_id").alias("m"))
    # every user that has events must come out with sessions — exact
    # equality, robust to SPARK_GRAFT_SMOKE_ROWS overrides where not all
    # of the USERS hash buckets are hit
    expected = big_events.select("user_id").distinct().count()
    assert agg.count() == expected


def test_two_level_window_beats_naive_on_dense_slides(spark, big_events):
    """At high event density per pane, pre-aggregating at the slide
    granularity shrinks the replication input (SCALING.md); both plans must
    agree exactly."""
    import time

    from data_warehouse_flink_spark.operators.windows import (
        windowed_count,
        windowed_count_two_level,
    )

    size, slide = "1 hour", "5 minutes"

    def run(fn):
        t0 = time.perf_counter()
        out = fn(
            big_events, "ts", size, slide=slide, keys=["event_type"]
        ) if fn is windowed_count else fn(
            big_events, "ts", size, slide, keys=["event_type"]
        )
        n = out.count()
        return n, time.perf_counter() - t0

    n_naive, t_naive = run(windowed_count)
    n_two, t_two = run(windowed_count_two_level)
    assert n_naive == n_two
    # identical results (spot-check aggregate equality, cheap)
    from pyspark.sql import functions as F

    s1 = windowed_count(
        big_events, "ts", size, slide=slide, keys=["event_type"]
    ).agg(F.sum("cnt"), F.max("cnt")).collect()[0]
    s2 = windowed_count_two_level(
        big_events, "ts", size, slide, keys=["event_type"]
    ).agg(F.sum("cnt"), F.max("cnt")).collect()[0]
    assert tuple(s1) == tuple(s2)
    print(f"naive={t_naive:.2f}s two_level={t_two:.2f}s")


def test_order_timeout_kernel_at_100k_keys(spark, tmp_path):
    """Stateful-kernel throughput: 100k order keys through
    order_timeout_stream with timer-driven timeouts for 10% of them."""
    import datetime as dt
    import time

    from data_warehouse_flink_spark.streaming.jobs import run_stream_to_table
    from data_warehouse_flink_spark.streaming.state import order_timeout_stream

    n_orders = 100_000
    base = spark.range(n_orders).withColumnRenamed("id", "order_id")
    creates = base.select(
        "order_id", F.lit("create").alias("event_type"),
        F.timestamp_seconds(
            F.lit(1704067200) + F.col("order_id") % 86400
        ).alias("ts"),
    )
    pays = base.filter(F.col("order_id") % 10 != 0).select(
        "order_id", F.lit("pay").alias("event_type"),
        F.timestamp_seconds(
            F.lit(1704067200) + F.col("order_id") % 86400 + 60
        ).alias("ts"),
    )
    sentinel = spark.createDataFrame(
        [(999999999, "create", dt.datetime(2025, 1, 1))],
        "order_id long, event_type string, ts timestamp",
    )
    src = str(tmp_path / "orders")
    creates.unionByName(pays).coalesce(4).write.mode("overwrite").parquet(src)
    sentinel.coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("order_id long, event_type string, ts timestamp")
        .option("maxFilesPerTrigger", 4)
        .parquet(src)
    )
    t0 = time.perf_counter()
    out = order_timeout_stream(stream, timeout_sec=900)
    res = run_stream_to_table(out, spark, output_mode="append")
    counts = {
        r["result_type"]: r["count"]
        for r in res.groupBy("result_type").count().collect()
    }
    elapsed = time.perf_counter() - t0
    assert counts["payed"] == 90_000
    assert counts["timeout"] == 10_000
    print(f"100k keys in {elapsed:.1f}s ({int(n_orders/elapsed)} keys/s)")


@pytest.fixture(scope="module")
def big_docs(spark):
    """1M synthetic documents, executor-side (spark.range → hash-derived
    40-token texts over a 30-word vocabulary; no driver materialization)."""
    n_docs = max(N // 5, 1_000_000)
    vocab = F.array(*[F.lit(f"w{i}") for i in range(30)])
    tok = lambda salt: F.element_at(  # noqa: E731
        vocab, (F.pmod(F.xxhash64("id", F.lit(salt)), F.lit(30)) + 1).cast("int")
    )
    return (
        spark.range(n_docs)
        .withColumn(
            "text", F.concat_ws(" ", *[tok(s) for s in range(40)])
        )
        .withColumnRenamed("id", "doc_id")
    )


def test_repetition_score_scans_1m_docs(spark, big_docs):
    """Zero-shuffle claim at volume: the whole corpus scores in one scan."""
    from data_warehouse_flink_spark.functions.text import repetition_features

    out = repetition_features(big_docs, n=3)
    assert "Exchange" not in out._jdf.queryExecution().executedPlan().toString()
    agg = out.agg(
        F.count("*").alias("n"), F.max("dup_ppm").alias("max_ppm")
    ).collect()[0]
    assert agg["n"] == big_docs.count()
    assert 0 <= agg["max_ppm"] <= 1_000_000


def test_pii_redact_scans_1m_docs(spark, big_docs):
    from data_warehouse_flink_spark.functions.text import pii_redact

    aug = big_docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" u"),
            F.col("doc_id").cast("string"),
            F.lit("@h.io"),
        ),
    )
    out = pii_redact(aug)
    got = out.agg(F.sum("n_email").alias("s")).collect()[0]["s"]
    assert got == big_docs.count()


def test_near_dedup_stream_at_200k_docs(spark, tmp_path):
    """The streaming near-dup ledger at volume: 200k docs with 20k planted
    exact-dup pairs replayed as 4 micro-batches. Exactly one doc of each
    planted pair may survive (same text ⇒ same signature ⇒ same buckets);
    random cross-doc LSH collisions may drop a few more, never add."""
    import os
    import time

    from data_warehouse_flink_spark.streaming.curation import (
        near_dedup_stream,
    )

    n_docs = 200_000
    vocab = F.array(*[F.lit(f"w{i}") for i in range(30)])
    # doc_id % 10 == 9 copies the text of doc_id - 9 (its decade's first)
    seed = F.when(
        F.pmod(F.col("doc_id"), F.lit(10)) == 9, F.col("doc_id") - 9
    ).otherwise(F.col("doc_id"))
    tok = lambda salt: F.element_at(  # noqa: E731
        vocab,
        (F.pmod(F.xxhash64(seed, F.lit(salt)), F.lit(30)) + 1).cast("int"),
    )
    docs = (
        spark.range(n_docs)
        .withColumnRenamed("id", "doc_id")
        .withColumn("text", F.concat_ws(" ", *[tok(s) for s in range(40)]))
    )

    replay = str(tmp_path / "replay")
    seen: set[str] = set()
    for b in range(4):
        docs.filter(F.pmod(F.col("doc_id"), F.lit(4)) == b).coalesce(
            4
        ).write.mode("append").parquet(replay)
        for name in os.listdir(replay):
            if name.endswith(".parquet") and name not in seen:
                os.utime(
                    os.path.join(replay, name), (1_000_000_000 + b,) * 2
                )
                seen.add(name)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "4")
        .format("parquet")
        .load(replay)
    )
    t0 = time.perf_counter()
    q = near_dedup_stream(
        stream,
        state_path=str(tmp_path / "ledger"),
        out_path=str(tmp_path / "admitted"),
    )
    q.awaitTermination()
    elapsed = time.perf_counter() - t0
    admitted = spark.read.parquet(str(tmp_path / "admitted")).count()
    # 20k planted pairs each lose exactly one side; random LSH collisions
    # (64 hashes / 16 bands over 30-word-vocab texts) may drop a few more
    assert admitted <= n_docs - 20_000
    assert admitted >= 150_000
    print(
        f"200k docs / 4 batches in {elapsed:.1f}s "
        f"({int(n_docs / elapsed)} docs/s), admitted {admitted}"
    )


def test_bpe_encode_scans_1m_docs(spark, big_docs):
    """The frozen-merge replace chain at volume: scan-linear, no shuffle
    in the encode projection itself."""
    from data_warehouse_flink_spark.plans.llm_ops import _bpe_merged_sql

    base = (
        "concat(' ', array_join(transform(split(text, ' '), "
        "w -> regexp_replace(w, '(.)', '$1 ')), '| '))"
    )
    merged = _bpe_merged_sql(base)
    out = big_docs.select(
        "doc_id",
        F.expr(
            f"CAST(size(filter(split(trim({merged}), ' '), "
            "t -> t != '|')) AS BIGINT)"
        ).alias("n_subwords"),
    )
    assert (
        "Exchange"
        not in out._jdf.queryExecution().executedPlan().toString()
    )
    agg = out.agg(
        F.count("*").alias("n"), F.min("n_subwords").alias("lo")
    ).collect()[0]
    assert agg["n"] >= 1_000_000 and agg["lo"] >= 40


def test_importance_weights_at_1m_docs(spark, big_docs):
    """DSIR shape at volume: gram/bucket table + broadcast ratio join over
    1M docs (~80M grams)."""
    import data_warehouse_flink_spark.plans.llm_ops as L

    docs = big_docs.withColumn(
        "lang",
        F.when(F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 0, "en").otherwise(
            "de"
        ),
    )
    orig = L._docs_wide
    L._docs_wide = lambda s, d: docs
    try:
        out = L.doc_importance_weights(spark, "ignored")
        agg = out.agg(
            F.count("*").alias("n"),
            F.sum(F.col("keep").cast("long")).alias("kept"),
        ).collect()[0]
    finally:
        L._docs_wide = orig
    assert agg["n"] >= 1_000_000
    assert 0 < agg["kept"] < agg["n"]


def test_histogram_quantiles_at_5m(spark, big_events):
    """The 1000-bin sketch at 5M rows: partial-agg mergeable, estimates
    land within a bin width of the exact percentiles."""
    import data_warehouse_flink_spark.plans.analytics as A

    ev = big_events.withColumn(
        "value",
        (F.pmod(F.xxhash64("event_id", F.lit(9)), F.lit(100000)) / 100.0),
    )
    orig = A._events
    A._events = lambda s, d: ev
    try:
        rows = {
            r["quantile"]: r["est_value"]
            for r in A.event_value_histogram_quantiles(
                spark, "ignored"
            ).collect()
        }
    finally:
        A._events = orig
    lo, hi = ev.agg(F.min("value"), F.max("value")).collect()[0]
    width = (hi - lo) / 1000.0
    exact = ev.agg(
        F.expr("percentile(value, array(0.5, 0.99))").alias("p")
    ).collect()[0]["p"]
    assert abs(rows["p50"] - exact[0]) <= width + 1e-9
    assert abs(rows["p99"] - exact[1]) <= width + 1e-9


def test_curation_v2_funnel_at_1m_docs(spark, big_docs):
    """The composed curation pipeline (quality → exact dedup → DSIR keep)
    at 1M docs: scan-linear classifier + one content-hash window + the
    two-scan DSIR shape. Plants byte-exact duplicates (doc_id % 10 == 9
    reuses text of doc_id - 9 via source composition below is NOT possible
    on the shared fixture, so dedup is exercised by hash collisions of the
    30-word-vocab 40-token texts; the funnel monotonicity and full-count
    invariants are what this smoke pins at volume)."""
    import time

    import data_warehouse_flink_spark.plans.llm_ops as L

    docs = big_docs.withColumn(
        "source",
        F.when(F.pmod(F.xxhash64("doc_id", F.lit(7)), F.lit(3)) == 0, "web")
        .when(F.pmod(F.xxhash64("doc_id", F.lit(7)), F.lit(3)) == 1, "books")
        .otherwise("code"),
    ).withColumn(
        "lang",
        F.when(F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 0, "en").otherwise(
            "de"
        ),
    )
    orig_docs, orig_wide = L._docs, L._docs_wide
    L._docs = lambda s, d: docs
    L._docs_wide = lambda s, d: docs
    try:
        t0 = time.perf_counter()
        rows = L.corpus_curation_v2(spark, "ignored").collect()
        elapsed = time.perf_counter() - t0
    finally:
        L._docs, L._docs_wide = orig_docs, orig_wide
    assert {r["source"] for r in rows} == {"web", "books", "code"}
    total = sum(r["n_total"] for r in rows)
    assert total == big_docs.count()
    for r in rows:
        assert r["n_total"] >= r["n_quality"] >= r["n_dedup"] >= r["n_final"] >= 0
    print(f"curation_v2 over {total} docs in {elapsed:.1f}s")


def test_tier_point_in_time_at_5m_events(spark, big_events):
    """Fact-to-SCD2 temporal join at 5M facts: the history build is
    dimension-sized (USERS keys), the join side is a broadcast hash join
    with validity-range residual. Invariants: every fact lands exactly one
    tier (left join, no fan-out because validity intervals are disjoint
    per user), and pre-history facts report 'unknown'."""
    import time

    import data_warehouse_flink_spark.plans.analytics as A

    ev = big_events.withColumn(
        "value",
        (F.pmod(F.xxhash64("event_id", F.lit(11)), F.lit(20000)) / 100.0),
    )
    orig = A._events
    A._events = lambda s, d: ev
    try:
        t0 = time.perf_counter()
        rows = A.events_tier_point_in_time(spark, "ignored").collect()
        elapsed = time.perf_counter() - t0
    finally:
        A._events = orig
    n = sum(r["n_events"] for r in rows)
    assert n == big_events.count()  # disjoint intervals: no join fan-out
    tiers = {r["tier"] for r in rows}
    assert tiers <= {"gold", "silver", "bronze", "unknown"}
    assert len(tiers) >= 2
    print(f"tier point-in-time over {n} facts in {elapsed:.1f}s")


def test_asof_join_at_5m_events(spark, big_events):
    """The union-scan as-of join at volume (struct-carry form, round 11):
    ~1M purchases pick up each user's latest prior click from ~1M clicks.
    Invariants: row-preserving left semantics (output == purchases,
    duplicates included), every match at-or-before its purchase, and the
    matched COUNT equals the independently computed truth (purchases at
    or after their user's first click) — plus the scale claim: no
    corpus-sized state, one window pass over the union."""
    import time

    from data_warehouse_flink_spark.operators.asof import asof_join

    purchases = big_events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    clicks = big_events.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts").alias("cts"),
        F.col("event_id").alias("click_id"),
    )
    t0 = time.perf_counter()
    out = asof_join(
        purchases, clicks, "user_id", "ts", "cts", ["click_id"]
    )
    agg = out.agg(
        F.count("*").alias("n"),
        F.sum(F.col("asof_ts").isNotNull().cast("long")).alias("matched"),
        F.sum(
            (F.col("asof_ts") <= F.col("ts")).cast("long")
        ).alias("at_or_before"),
    ).collect()[0]
    elapsed = time.perf_counter() - t0
    n_purch = purchases.count()
    assert agg["n"] == n_purch
    assert agg["at_or_before"] == agg["matched"]  # never a future click
    # independent truth: a purchase matches iff its user's FIRST click
    # is at-or-before it
    first_click = clicks.groupBy("user_id").agg(F.min("cts").alias("c0"))
    want_matched = (
        purchases.join(first_click, "user_id")
        .filter(F.col("ts") >= F.col("c0"))
        .count()
    )
    assert agg["matched"] == want_matched
    print(
        f"asof join: {n_purch} purchases x ~{n_purch} clicks in "
        f"{elapsed:.1f}s, {agg['matched']} matched"
    )


def test_exact_substring_dedup_at_1m_docs(spark, big_docs):
    """Overlapping 16-token windows at 1M docs (~25M window occurrences):
    the explode is scan-fused, the recurrence count and join-back key on
    the window string. Invariant: every doc comes back exactly once and
    dup fractions stay in [0, 1e6]."""
    import time

    import data_warehouse_flink_spark.plans.llm_ops as L

    orig = L._docs_wide
    L._docs_wide = lambda s, d: big_docs
    try:
        t0 = time.perf_counter()
        agg = (
            L.doc_exact_substring_dedup(spark, "ignored")
            .agg(
                F.count("*").alias("n"),
                F.max("dup_ppm").alias("hi"),
                F.min("dup_ppm").alias("lo"),
            )
            .collect()[0]
        )
        elapsed = time.perf_counter() - t0
    finally:
        L._docs_wide = orig
    assert agg["n"] == big_docs.count()
    assert 0 <= agg["lo"] <= agg["hi"] <= 1_000_000
    print(f"substring dedup over {agg['n']} docs in {elapsed:.1f}s")


def test_exact_substring_dedup_fast_at_1m_docs(spark, big_docs):
    """The xxhash64-keyed production shape at 1M docs: same linear plan as
    the string-keyed gate but the two window-keyed shuffles carry 8-byte
    keys instead of ~100-byte 16-token strings. Must return the identical
    per-doc aggregate profile AND run materially faster than the string
    tier's measured 135.5 s (VERDICT r5 item 2)."""
    import time

    import data_warehouse_flink_spark.plans.llm_ops as L

    orig = L._docs_wide
    L._docs_wide = lambda s, d: big_docs
    try:
        t0 = time.perf_counter()
        agg = (
            L.doc_exact_substring_dedup_fast(spark, "ignored")
            .agg(
                F.count("*").alias("n"),
                F.max("dup_ppm").alias("hi"),
                F.min("dup_ppm").alias("lo"),
                F.sum("n_dup_windows").alias("dups"),
            )
            .collect()[0]
        )
        elapsed = time.perf_counter() - t0
    finally:
        L._docs_wide = orig
    assert agg["n"] == big_docs.count()
    assert 0 <= agg["lo"] <= agg["hi"] <= 1_000_000
    print(
        f"substring dedup (xxhash64 keys) over {agg['n']} docs "
        f"({agg['dups']} dup windows) in {elapsed:.1f}s"
    )


def test_perplexity_bucket_at_1m_docs(spark, big_docs):
    """Bigram-LM scoring at 1M docs (~39M bigram occurrences): two
    count aggregates + the scoring join + per-doc sum. Invariant: every
    >=2-token doc is scored into a bucket."""
    import time

    import data_warehouse_flink_spark.plans.llm_ops as L

    orig = L._docs_wide
    L._docs_wide = lambda s, d: big_docs
    try:
        t0 = time.perf_counter()
        rows = (
            L.doc_perplexity_bucket(spark, "ignored")
            .groupBy("bucket")
            .agg(F.count("*").alias("n"))
            .collect()
        )
        elapsed = time.perf_counter() - t0
    finally:
        L._docs_wide = orig
    got = {r["bucket"]: r["n"] for r in rows}
    assert set(got) <= {"head", "middle", "tail"}
    assert sum(got.values()) == big_docs.count()
    print(f"perplexity buckets over {sum(got.values())} docs in {elapsed:.1f}s")


def test_span_dedup_key_tiers_at_1m_docs(spark, big_docs):
    """span_dedup string- vs xxhash64-keyed first-occurrence window at 1M
    docs, INTERLEAVED in one session (fresh-session pairs drift; see
    NOTES perf cliffs). Invariants: identical kept-span totals across
    tiers; every doc present."""
    import time

    from data_warehouse_flink_spark.functions.dedup import span_dedup

    def profile(hash_key: bool):
        out = span_dedup(big_docs, hash_key=hash_key).agg(
            F.count("*").alias("n"),
            F.sum("n_spans").alias("spans"),
            F.sum("n_spans_kept").alias("kept"),
        )
        t0 = time.perf_counter()
        row = out.collect()[0]
        return time.perf_counter() - t0, row

    best = {False: float("inf"), True: float("inf")}
    rows = {}
    for _ in range(2):
        for hk in (False, True):
            t, row = profile(hk)
            best[hk] = min(best[hk], t)
            rows[hk] = row
    assert rows[False] == rows[True]
    assert rows[False]["n"] == big_docs.count()
    assert 0 < rows[False]["kept"] <= rows[False]["spans"]
    print(
        f"span dedup 1M docs: string {best[False]:.1f}s "
        f"vs xxhash64 {best[True]:.1f}s"
    )


def test_ngram_novelty_at_1m_docs(spark, big_docs):
    """Per-doc novelty (df=1 trigram fraction) at 1M docs: one distinct-
    gram explode + df count + join back, shuffle keys on the gram only.
    Invariant: every doc returns once, novelty in [0, 1e6]."""
    import time

    import data_warehouse_flink_spark.plans.llm_ops as L

    orig = L._docs_wide
    L._docs_wide = lambda s, d: big_docs
    try:
        t0 = time.perf_counter()
        agg = (
            L.doc_ngram_novelty(spark, "ignored")
            .agg(
                F.count("*").alias("n"),
                F.min("novelty_ppm").alias("lo"),
                F.max("novelty_ppm").alias("hi"),
            )
            .collect()[0]
        )
        elapsed = time.perf_counter() - t0
    finally:
        L._docs_wide = orig
    assert agg["n"] == big_docs.count()
    assert 0 <= agg["lo"] <= agg["hi"] <= 1_000_000
    print(f"ngram novelty over {agg['n']} docs in {elapsed:.1f}s")


def test_churn_training_set_at_5m_events(spark, big_events):
    """Leakage-free churn set at 5M events / 100k users: both temporal
    windows must prune at the scan; every featured user labeled exactly
    once; the label join must not fan out."""
    import time

    import data_warehouse_flink_spark.plans.analytics as A

    ev = big_events.withColumn(
        "value",
        (F.pmod(F.xxhash64("event_id", F.lit(7)), F.lit(10_000)) / 100.0),
    )
    orig = A._events
    A._events = lambda s, d: ev
    try:
        t0 = time.perf_counter()
        out = A.user_churn_training_set(spark, "ignored")
        agg = out.agg(
            F.count("*").alias("n"),
            F.count_distinct("user_id").alias("nu"),
            F.sum(F.col("churned").cast("long")).alias("n_churned"),
        ).collect()[0]
        elapsed = time.perf_counter() - t0
    finally:
        A._events = orig
    featured = (
        big_events.filter(F.col("ts") < F.lit("2024-01-22").cast("timestamp"))
        .select("user_id")
        .distinct()
        .count()
    )
    assert agg["n"] == agg["nu"] == featured  # one row per featured user
    assert 0 <= agg["n_churned"] <= agg["n"]
    print(
        f"churn set: {agg['n']} users ({agg['n_churned']} churned) "
        f"in {elapsed:.1f}s"
    )


def test_triple_cep_lag_chain_at_5m_events(spark, big_events):
    """The n-step CEP lag-chain (3 consecutive errors within 24 h) at 5M
    events / 100k keys: one shuffle + one per-key sort, no state store.
    Cross-check the match count against an independent SQL formulation."""
    import time

    import data_warehouse_flink_spark.plans.reference_jobs as R

    orig = R._events
    R._events = lambda s, d: big_events
    try:
        t0 = time.perf_counter()
        n = R.login_fail_triple_cep(spark, "ignored").count()
        elapsed = time.perf_counter() - t0
    finally:
        R._events = orig
    big_events.createOrReplaceTempView("smoke_ev")
    want = spark.sql(
        """
        WITH seq AS (
          SELECT user_id, event_type,
                 lag(event_type, 1) OVER w AS p1,
                 lag(event_type, 2) OVER w AS p2,
                 unix_micros(ts) AS us,
                 lag(unix_micros(ts), 2) OVER w AS us2
          FROM smoke_ev
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT count(*) FROM seq
        WHERE event_type = 'error' AND p1 = 'error' AND p2 = 'error'
          AND us - us2 <= 86400000000
        """
    ).collect()[0][0]
    assert n == want and n > 0
    print(f"triple CEP: {n} matches over 5M events in {elapsed:.1f}s")


@pytest.fixture(scope="module")
def dup_docs(spark):
    """1M docs for the jaccard A/B: 40 near-unique tokens per doc derived
    from doc_id % 900k (so 100k docs are exact duplicates of an earlier
    doc and every shared gram has df=2) — candidate-pair volume stays
    linear (100k pairs × 38 grams) while the full 38M-row gram table
    flows through the inverted-index shuffle, which is what the key-width
    swap changes."""
    base = F.pmod(F.col("doc_id"), F.lit(900_000))
    tok = lambda salt: F.concat(  # noqa: E731
        F.lit("w"),
        F.pmod(F.xxhash64(base, F.lit(salt)), F.lit(5_000_000)).cast(
            "string"
        ),
    )
    return (
        spark.range(1_000_000)
        .withColumnRenamed("id", "doc_id")
        .withColumn("text", F.concat_ws(" ", *[tok(s) for s in range(40)]))
    )


def test_jaccard_key_tiers_at_1m_docs(spark, dup_docs):
    """jaccard_pairs string- vs xxhash64-keyed inverted index at 1M docs
    / 38M gram rows, INTERLEAVED in one session (VERDICT r6 #3).
    Invariants: identical pair tables (the 100k constructed exact-dup
    pairs, all at jaccard 1.0) across both key tiers."""
    import time

    from data_warehouse_flink_spark.functions.dedup import (
        jaccard_pairs,
        word_ngrams,
    )

    grams = word_ngrams(dup_docs, n=3)

    def profile(hash_grams: bool):
        out = jaccard_pairs(
            grams, threshold=0.3, df_cap=10_000, hash_grams=hash_grams
        ).agg(
            F.count("*").alias("pairs"),
            F.sum((F.col("jaccard") == 1.0).cast("long")).alias("exact"),
            F.sum(F.col("doc_a") + F.col("doc_b")).alias("idsum"),
        )
        t0 = time.perf_counter()
        row = out.collect()[0]
        return time.perf_counter() - t0, row

    best = {False: float("inf"), True: float("inf")}
    rows = {}
    for _ in range(2):
        for hg in (False, True):
            t, row = profile(hg)
            best[hg] = min(best[hg], t)
            rows[hg] = row
    assert rows[False] == rows[True]
    assert rows[False]["pairs"] == 100_000
    assert rows[False]["exact"] == 100_000
    print(
        f"jaccard 1M docs: string {best[False]:.1f}s "
        f"vs xxhash64 {best[True]:.1f}s"
    )


def test_url_dedup_key_tiers_at_1m_docs(spark):
    """doc_url_dedup string- vs xxhash64-keyed groupBy at 1M near-unique
    URLs (VERDICT r6 #4), interleaved. Per-doc `source` values make the
    synthesized URLs crawl-realistic (~900k distinct canonical URLs), so
    the groupBy reduction factor is honest. The canonical string is
    OUTPUT-BEARING — it crosses the shuffle as a value in the hash arm —
    so this measures key-compare width only."""
    import time

    import data_warehouse_flink_spark.plans.llm_ops as L

    docs = (
        spark.range(1_000_000)
        .withColumnRenamed("id", "doc_id")
        .withColumn(
            "source",
            F.concat(
                F.lit("s"),
                F.pmod(F.col("doc_id"), F.lit(450_000)).cast("string"),
            ),
        )
        .withColumn("lang", F.lit("en"))
    )
    orig = L._docs_wide
    L._docs_wide = lambda s, d: docs
    try:

        def profile(hash_key: bool):
            out = L._url_dedup_frame(spark, "ignored", hash_key).agg(
                F.count("*").alias("n_urls"),
                F.sum("n_docs").alias("n_docs"),
                F.sum("canonical_doc_id").alias("idsum"),
                F.sum(F.length("canonical_url")).alias("bytes"),
            )
            t0 = time.perf_counter()
            row = out.collect()[0]
            return time.perf_counter() - t0, row

        best = {False: float("inf"), True: float("inf")}
        rows = {}
        for _ in range(2):
            for hk in (False, True):
                t, row = profile(hk)
                best[hk] = min(best[hk], t)
                rows[hk] = row
    finally:
        L._docs_wide = orig
    assert rows[False] == rows[True]
    assert rows[False]["n_docs"] == 1_000_000
    print(
        f"url dedup 1M urls ({rows[False]['n_urls']} distinct): "
        f"string {best[False]:.1f}s vs xxhash64 {best[True]:.1f}s"
    )


def test_uv_sketch_mergeable_contract_at_5m_events(spark, big_events):
    """The r7 first-grade cohort receipt: per-day HLL sketches + union-ALL
    row over 5M events / 100k users. The within_bound contract must hold
    on every row, and the exact counts must match an independent
    count_distinct (the query's own exact arm is part of the output)."""
    import time

    import data_warehouse_flink_spark.plans.reference_jobs as R

    orig = R._events
    R._events = lambda s, d: big_events
    try:
        t0 = time.perf_counter()
        rows = R.uv_sketch_mergeable(spark, "ignored").collect()
        elapsed = time.perf_counter() - t0
    finally:
        R._events = orig
    assert all(r["within_bound"] for r in rows)
    by_day = {r["day"]: r["uv_exact"] for r in rows}
    want_all = (
        big_events.filter(F.col("event_type") == "view")
        .select("user_id")
        .distinct()
        .count()
    )
    assert by_day["ALL"] == want_all
    assert len(by_day) == 31  # 30 synthetic days + the union row
    print(
        f"uv sketch: {len(by_day)} rows, ALL={want_all}, all in bound, "
        f"{elapsed:.1f}s over 5M events"
    )


def test_percentiles_approx_contract_at_5m_events(spark, big_events):
    """The r7 first-grade cohort receipt: GK rank-interval contract at
    5M events — every (event_type, quantile) bound must hold, and the
    reported volumes must add back to the corpus."""
    import time

    import data_warehouse_flink_spark.plans.analytics as A

    ev = big_events.withColumn(
        "value",
        (F.pmod(F.xxhash64("event_id", F.lit(7)), F.lit(1_000_000)) / 100.0),
    )
    orig = A._events
    A._events = lambda s, d: ev
    try:
        t0 = time.perf_counter()
        rows = A.event_value_percentiles_approx(spark, "ignored").collect()
        elapsed = time.perf_counter() - t0
    finally:
        A._events = orig
    assert len(rows) == 5
    assert all(
        r["p50_in_bound"] and r["p90_in_bound"] and r["p99_in_bound"]
        for r in rows
    )
    assert sum(r["n_events"] for r in rows) == big_events.count()
    print(
        f"percentile contract: 5 types x 3 quantiles all in bound, "
        f"{elapsed:.1f}s over 5M events"
    )


def test_ngram_novelty_key_tiers_at_1m_docs(spark, dup_docs):
    """novelty string- vs xxhash64-keyed gram shuffles at 1M docs with
    NEAR-UNIQUE grams (the dup_docs fixture — crawl-realistic; the
    30-word-vocab big_docs corpus map-side-collapses its df groupBy to
    27k rows, hiding the key width entirely). Interleaved; identical
    per-doc aggregates across tiers."""
    import time

    import data_warehouse_flink_spark.plans.llm_ops as L

    orig = L._docs_wide
    L._docs_wide = lambda s, d: dup_docs
    try:

        def profile(hg):
            out = L._ngram_novelty_frame(spark, "ignored", hg).agg(
                F.count("*").alias("n"),
                F.sum("n_distinct_grams").alias("grams"),
                F.sum("n_unique_grams").alias("uniq"),
                F.sum("novelty_ppm").alias("ppm_sum"),
            )
            t0 = time.perf_counter()
            row = out.collect()[0]
            return time.perf_counter() - t0, row

        best = {False: float("inf"), True: float("inf")}
        rows = {}
        for _ in range(2):
            for hg in (False, True):
                t, row = profile(hg)
                best[hg] = min(best[hg], t)
                rows[hg] = row
    finally:
        L._docs_wide = orig
    assert rows[False] == rows[True]
    assert rows[False]["n"] == dup_docs.count()
    # 100k docs are exact dups -> their grams have df=2, so corpus-wide
    # unique grams must be strictly fewer than distinct grams
    assert 0 < rows[False]["uniq"] < rows[False]["grams"]
    print(
        f"ngram novelty 1M docs: string {best[False]:.1f}s "
        f"vs xxhash64 {best[True]:.1f}s"
    )


@pytest.fixture(scope="module")
def big_vectors(spark):
    """500k synthetic 64-dim embeddings, executor-side (hash-derived
    floats in [-0.5, 0.5); no driver materialization)."""
    n_vecs = max(N // 10, 500_000)
    vec = F.expr(
        "transform(sequence(1, 64), i -> "
        "CAST(pmod(xxhash64(id * 64 + i), 1000) - 500 AS DOUBLE) / 1000.0)"
    )
    return (
        spark.range(n_vecs)
        .withColumn("embedding", vec)
        .withColumnRenamed("id", "vec_id")
    )


def test_span_contract_at_1m_docs(spark, big_docs):
    """The round-8 tier-identity contract itself at volume: two span-dedup
    tiers + two exceptAll passes over 1M docs must still produce the
    single (TRUE, 1M) row — the contract's cost stays linear in the span
    table, never pairwise."""
    import time

    from data_warehouse_flink_spark.functions.dedup import span_dedup
    from data_warehouse_flink_spark.plans.llm_ops import (
        _tier_identity_contract,
    )

    t0 = time.perf_counter()
    row = _tier_identity_contract(
        span_dedup(big_docs, hash_key=True),
        span_dedup(big_docs, hash_key=False),
    ).collect()[0]
    dt = time.perf_counter() - t0
    print(f"span tier contract at 1M docs: {dt:.1f}s -> {tuple(row)}")
    assert row["identical"] is True
    assert row["n_rows"] == big_docs.count()


def test_knn_recall_audit_shape_at_500k_vectors(spark, big_vectors):
    """The round-8 ANN recall audit's scale shape at 500k vectors: the
    brute-force baseline is queries × corpus (broadcast probe side, one
    rank shuffle), the IVF tier cell-restricted, and the audit join
    top-5-list-proportional. Random vectors give no recall guarantee —
    the assertions are the audit INVARIANTS (bounds, determinism), not a
    recall floor."""
    import time

    from data_warehouse_flink_spark.functions.similarity import (
        frozen_ivf_assign,
        knn_bruteforce,
        knn_ivf,
    )

    queries = big_vectors.filter(F.col("vec_id") < 20)
    t0 = time.perf_counter()
    brute = knn_bruteforce(big_vectors, queries, k=5).select(
        "query_id", "neighbor_id"
    ).localCheckpoint(eager=True)
    t_brute = time.perf_counter() - t0

    assigned = frozen_ivf_assign(big_vectors).localCheckpoint(eager=True)
    t0 = time.perf_counter()
    ivf = knn_ivf(big_vectors, queries, k=5, assigned=assigned).select(
        "query_id", "neighbor_id"
    )
    hits = ivf.join(brute, ["query_id", "neighbor_id"], "left_semi").count()
    n_possible = brute.count()
    t_ivf = time.perf_counter() - t0
    recall_ppm = hits * 1_000_000 // n_possible
    print(
        f"knn recall audit at 500k: brute {t_brute:.1f}s, ivf+audit "
        f"{t_ivf:.1f}s, recall {recall_ppm} ppm ({hits}/{n_possible})"
    )
    assert n_possible == 20 * 5
    assert 0 <= recall_ppm <= 1_000_000
    # determinism: the same audit recomputed must land on the same count
    hits2 = (
        knn_ivf(big_vectors, queries, k=5, assigned=assigned)
        .select("query_id", "neighbor_id")
        .join(brute, ["query_id", "neighbor_id"], "left_semi")
        .count()
    )
    assert hits2 == hits


def test_global_row_number_at_5m_rows(spark, big_events):
    """The distributed numbering at volume: exact 1..N with no gaps and no
    concentrated stage (a naive global window would pull all 5M rows into
    one task; this pays one range exchange)."""
    import time

    from data_warehouse_flink_spark.operators.layout import global_row_number

    keyed = big_events.select(
        "event_id", F.xxhash64("event_id").alias("k")
    )
    t0 = time.perf_counter()
    pos = global_row_number(keyed, ["k", "event_id"], pos_col="pos")
    agg = pos.agg(
        F.count("*").alias("n"),
        F.min("pos").alias("lo"),
        F.max("pos").alias("hi"),
        F.count_distinct("pos").alias("nd"),
    ).collect()[0]
    dt = time.perf_counter() - t0
    print(f"global_row_number at {agg['n']} rows: {dt:.1f}s")
    assert agg["lo"] == 1 and agg["hi"] == agg["n"] == agg["nd"] == N


def test_kmeans_trainer_at_500k_vectors(spark, big_vectors):
    """The in-engine Lloyd trainer at 500k × 64-dim: three iterations,
    each a map-only assignment scan (literal centroids, zero exchanges —
    plan-guarded in test_round8_ops) plus one 8-group partial-agg
    groupBy. Invariants at volume: determinism (re-train → identical
    model), full coverage, and the trained model strictly beats the init
    on total within-cluster cost (random init points vs near-mean
    centroids — the one cost comparison that must hold on any data)."""
    import time

    from data_warehouse_flink_spark.functions.clustering import (
        assign_quantized_cells,
        kmeans_quantized_train,
        quantize_embeddings,
    )

    qdf = quantize_embeddings(big_vectors).localCheckpoint(eager=True)
    init = [list(r["q"]) for r in qdf.orderBy("vec_id").limit(8).collect()]
    t0 = time.perf_counter()
    model = kmeans_quantized_train(qdf, k=8, iters=3)
    dt = time.perf_counter() - t0
    assert kmeans_quantized_train(qdf, k=8, iters=3) == model

    def total_cost(cents):
        # decimal sum: 500k × per-row dists up to ~2.6e14 can exceed
        # BIGINT range at larger N — don't let the AUDIT wrap silently
        return assign_quantized_cells(qdf, cents).agg(
            F.sum(F.col("dist").cast("decimal(38,0)")).alias("c"),
            F.count("*").alias("n"),
        ).collect()[0]

    got_init, got_trained = total_cost(init), total_cost(model)
    n = qdf.count()
    print(
        f"kmeans at {n} vectors: 3 iters in {dt:.1f}s, cost "
        f"{got_init['c']} -> {got_trained['c']}"
    )
    assert got_trained["n"] == got_init["n"] == n
    assert got_trained["c"] < got_init["c"]


def test_sampled_kmeans_fit_at_500k_vectors(spark, big_vectors):
    """Sampled-fit vs full-fit Lloyd at volume (the VERDICT r8 #4 shape
    at a production-ish rate): train on a 1/16 md5 hash-sample, serve
    (assign) the full corpus. Invariants: the sampled model is
    deterministic, trains proportionally faster, and its full-corpus
    assignment covers every vector. The training-scan input is the
    scaling lever — at 100 TB the sample is the only side Lloyd's ever
    scans."""
    import time

    from data_warehouse_flink_spark.functions.clustering import (
        assign_quantized_cells,
        kmeans_quantized_train,
        quantize_embeddings,
    )

    qdf = quantize_embeddings(big_vectors).localCheckpoint(eager=True)
    # 1/16 rate: one hex char of the md5 — the production knob is just
    # the accepted-prefix set
    sample_pred = F.expr("substr(md5(CAST(vec_id AS STRING)), 1, 1) = '0'")
    sample = qdf.filter(sample_pred).localCheckpoint(eager=True)
    n, ns = qdf.count(), sample.count()
    assert 0 < ns < n // 8  # a real subsample (≈ n/16)

    t0 = time.perf_counter()
    full_model = kmeans_quantized_train(qdf, k=8, iters=3)
    t_full = time.perf_counter() - t0
    t0 = time.perf_counter()
    sampled_model = kmeans_quantized_train(sample, k=8, iters=3)
    t_sampled = time.perf_counter() - t0
    assert kmeans_quantized_train(sample, k=8, iters=3) == sampled_model

    assigned = assign_quantized_cells(qdf, sampled_model)
    assert assigned.count() == n  # full-corpus serving under sampled fit
    print(
        f"kmeans fit at {n} vectors: full {t_full:.1f}s, "
        f"1/16-sampled {t_sampled:.1f}s (sample {ns})"
    )
    # the speedup is the point, but wall-clock on a shared box is an
    # OBSERVATION, not an invariant (a GC pause or concurrent JVM during
    # the sampled fit would fail an otherwise-correct run — ADVICE r9 #2):
    # the printed timings are the receipt, the assert only guards against
    # the sample filter silently no-opping the training input
    assert t_sampled < t_full * 1.5


def test_minhash_incremental_at_1m_docs(spark, dup_docs):
    """The asymmetric batch-vs-ledger path at 1M docs / 38M gram rows:
    the 100k-doc tail (every doc an exact duplicate of doc_id − 900k)
    plays the increment against the 900k-doc corpus. The constructed
    truth is total: exactly 100k matches, every one (d, d − 900k) at
    jaccard 1.0 — candidate volume stays linear (the dup pairs plus
    band collisions), never corpus²."""
    import time

    from data_warehouse_flink_spark.functions.dedup import (
        incremental_minhash_dedup,
        word_ngrams,
    )

    grams = word_ngrams(dup_docs, n=3).localCheckpoint(eager=True)
    t0 = time.perf_counter()
    out = incremental_minhash_dedup(
        grams, is_batch=F.col("doc_id") >= 900_000, threshold=0.3
    )
    agg = out.agg(
        F.count("*").alias("n"),
        F.min("jaccard").alias("jmin"),
        F.max("jaccard").alias("jmax"),
        F.sum(
            (F.col("match_id") == F.col("doc_id") - 900_000).cast("long")
        ).alias("exact"),
    ).collect()[0]
    dt = time.perf_counter() - t0
    print(f"incremental minhash at 1M docs: {dt:.1f}s, {agg['n']} matches")
    assert agg["n"] == 100_000
    assert agg["exact"] == 100_000
    assert agg["jmin"] == agg["jmax"] == 1.0


def test_pq_trained_adc_at_500k_vectors(spark, big_vectors):
    """The full PQ train→encode→serve loop at 500k × 64-dim through the
    SHIPPED helpers (pq_trained_codes / pq_query_lookup / adc_topk —
    the same code the knn_pq_trained gate serves): train 8 subspace
    codebooks, build the codes-only index, ADC-rank 20 queries.
    Invariants: exactly queries×5 results, deterministic across a
    rebuilt index, and the cached corpus representation carries ONLY
    the 8 code columns (the PQ scale win — codes scan, floats and
    lookup arrays stay off the corpus side)."""
    import time

    from data_warehouse_flink_spark.functions.clustering import (
        adc_topk,
        kmeans_quantized_train,
        pq_query_lookup,
        pq_trained_codes,
        quantize_embeddings,
    )

    qdf = quantize_embeddings(big_vectors).localCheckpoint(eager=True)
    t0 = time.perf_counter()
    books = [
        kmeans_quantized_train(
            qdf.select("vec_id", F.expr(f"slice(q, {m * 8 + 1}, 8)").alias("q")),
            k=16,
            iters=2,
        )
        for m in range(8)
    ]
    t_train = time.perf_counter() - t0
    # fused one-scan-per-iteration path (what the gate now runs): must be
    # bit-identical and is the scan-count win at volume
    from data_warehouse_flink_spark.functions.clustering import (
        pq_kmeans_fused_train,
    )

    t0 = time.perf_counter()
    fused = pq_kmeans_fused_train(qdf, 8, 8, k=16, iters=2)
    t_fused = time.perf_counter() - t0
    assert fused == books
    print(
        f"pq train at 500k: sequential-8-subspace {t_train:.1f}s, "
        f"fused {t_fused:.1f}s"
    )

    t0 = time.perf_counter()
    codes = pq_trained_codes(qdf, books).localCheckpoint(eager=True)
    assert codes.columns == ["vec_id"] + [f"code{m}" for m in range(8)]
    lookups = pq_query_lookup(qdf.filter(F.col("vec_id") < 20), books)
    top1 = sorted(tuple(r) for r in adc_topk(codes, lookups, k=5).collect())
    t_serve = time.perf_counter() - t0
    n = qdf.count()
    print(
        f"pq trained at {n} vectors: train {t_train:.1f}s, "
        f"index+serve {t_serve:.1f}s, {len(top1)} results"
    )
    assert len(top1) == 20 * 5
    codes2 = pq_trained_codes(qdf, books).localCheckpoint(eager=True)
    top2 = sorted(
        tuple(r) for r in adc_topk(codes2, lookups, k=5).collect()
    )
    assert top2 == top1


def test_sampled_fit_admissible_at_500k_vectors(spark, big_vectors):
    """The callable acceptance gate with PRODUCTION floors at volume
    (VERDICT r10 #2): the r10 sweep measured IVF ~340k ppm at 1/16
    (comfortably admissible) and PQ ~40k ppm at 1/2 on this
    structure-less corpus (the documented PQ failure mode: recall
    collapses long before the 249k-row sample nears any size floor).
    `sampled_fit_admissible` must reproduce BOTH verdicts from its
    SCALING.md defaults — this is the pre-serve check the prose rule
    became. Deterministic: md5 sample, integer Lloyd, fixed tie-breaks."""
    import time

    from data_warehouse_flink_spark.functions.similarity import (
        knn_bruteforce,
    )
    from data_warehouse_flink_spark.plans.llm_ops import (
        sampled_fit_admissible,
    )

    queries = big_vectors.filter(F.col("vec_id") < 20)
    brute = (
        knn_bruteforce(big_vectors, queries, k=5)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=True)
    )
    t0 = time.perf_counter()
    ivf = sampled_fit_admissible(big_vectors, 16, "ivf", brute=brute)
    pq = sampled_fit_admissible(big_vectors, 2, "pq", brute=brute)
    dt = time.perf_counter() - t0
    print(
        f"acceptance gate at 500k ({dt:.1f}s): ivf@1/16 "
        f"{ivf['recall_ppm']}ppm admissible={ivf['admissible']}, pq@1/2 "
        f"{pq['recall_ppm']}ppm admissible={pq['admissible']} "
        f"({pq['reason']})"
    )
    assert ivf["admissible"] and ivf["recall_ppm"] >= 250_000
    assert not pq["admissible"] and pq["reason"] == "recall below floor"
    # size was never the binding constraint — RECALL failed the serve
    assert pq["sample_n"] >= pq["size_floor"]
    assert pq["recall_ppm"] is not None and pq["recall_ppm"] < 80_000


def test_bpe_trainer_at_1m_docs(spark, big_docs):
    """The pair-counting loop at 1M docs: each rank explodes ~120M
    adjacent-pair rows that map-side combine down to symbol-pair
    cardinality before the shuffle. Invariants: 8 ranks trained,
    deterministic across re-runs, every count positive."""
    import time

    from data_warehouse_flink_spark.plans.llm_ops import (
        _BPE_TRAIN_MERGES,
        corpus_bpe_train,
    )

    # drive the registered gate body on the synthetic corpus via a
    # temp-view-free call: monkey-route _docs through a local frame
    from data_warehouse_flink_spark.plans import llm_ops

    orig = llm_ops._docs
    llm_ops._docs = lambda s, d: big_docs
    try:
        t0 = time.perf_counter()
        rows1 = corpus_bpe_train(spark, "ignored").orderBy("rank").collect()
        dt = time.perf_counter() - t0
        rows2 = corpus_bpe_train(spark, "ignored").orderBy("rank").collect()
    finally:
        llm_ops._docs = orig
    print(f"bpe trainer at 1M docs: 8 ranks in {dt:.1f}s")
    assert len(rows1) == _BPE_TRAIN_MERGES
    assert [tuple(r) for r in rows1] == [tuple(r) for r in rows2]
    assert all(r["cnt"] > 0 for r in rows1)


def test_bpe_batched_trainer_at_1m_docs(spark, big_docs):
    """The batched-epoch A/B (VERDICT r8 #3): 16 merges sequentially
    (16 corpus counts) vs batched at batch_size=8 — the scan count is
    the scaling dial for a real 32k vocabulary. Invariants: batched is
    deterministic, produces the full merge count, and matches the
    sequential result whenever its accepted epochs happen to be
    conflict-free (not asserted — only determinism and volume are)."""
    import time

    from data_warehouse_flink_spark.functions.text import (
        bpe_train_merges,
        bpe_train_merges_batched,
    )

    docs = big_docs.select("text").localCheckpoint(eager=True)
    n = 16
    t0 = time.perf_counter()
    seq = bpe_train_merges(docs, n)
    t_seq = time.perf_counter() - t0
    t0 = time.perf_counter()
    bat = bpe_train_merges_batched(docs, n, batch_size=8)
    t_bat = time.perf_counter() - t0
    bat2 = bpe_train_merges_batched(docs, n, batch_size=8)
    print(
        f"bpe 16 merges at 1M docs: sequential {t_seq:.1f}s, "
        f"batched(8) {t_bat:.1f}s"
    )
    assert len(seq) == n and len(bat) == n
    assert bat == bat2
    assert all(r[3] > 0 for r in bat)
    # rank-0 argmax is epoch-greedy's first accept: always identical
    assert bat[0] == seq[0]


def test_incremental_dedup_ledger_loop_at_900k_docs(spark, tmp_path):
    """The ledger LOOP at volume (VERDICT r9 #4): three sequential
    300k-doc batches through incremental_dedup_batch against a persisted
    band-partitioned parquet ledger, checked for admitted-set equality
    against (a) a single-pass minhash_lsh_dedup over the 900k-doc union
    (exact-dup cliques: dropped == the strictly-larger side of every
    pair) and (b) the one-shot admission kernel over the union. The
    constructed truth is total: even ids are unique (always admitted),
    odd ids form exact-dup clusters {b, b+360k, b+720k} whose minimum
    lands in the id-ordered batch sequence first — 450k + 180k = 630k
    admitted. Per-batch wall times should stay ~flat: each batch pays
    one shingle+sign scan of ITS 300k docs plus collision-sized
    (band,bucket) semi-joins against the ledger, never ledger-sized
    work."""
    import time

    from data_warehouse_flink_spark.functions.dedup import (
        incremental_dedup_batch,
        minhash_lsh_dedup,
        word_ngrams,
    )

    n, batch_sz = 900_000, 300_000
    base = F.when(
        F.col("doc_id") % 2 == 0, F.col("doc_id")
    ).otherwise(F.pmod(F.col("doc_id") - 1, F.lit(360_000)) + 1)
    tok = lambda salt: F.concat(  # noqa: E731
        F.lit("w"),
        F.pmod(F.xxhash64(base, F.lit(salt)), F.lit(50_000_000)).cast(
            "string"
        ),
    )
    docs = (
        spark.range(n)
        .withColumnRenamed("id", "doc_id")
        .withColumn("text", F.concat_ws(" ", *[tok(s) for s in range(40)]))
        .localCheckpoint(eager=True)
    )

    # --- the loop under test: 3 batches, ledger persisted between ---
    state = str(tmp_path / "ledger")
    admitted_ids = None
    times = []
    for i in range(3):
        batch = docs.filter(
            (F.col("doc_id") >= i * batch_sz)
            & (F.col("doc_id") < (i + 1) * batch_sz)
        )
        ledger = spark.read.parquet(state) if i else None
        t0 = time.perf_counter()
        admitted, keys = incremental_dedup_batch(batch, ledger)
        admitted = admitted.select("doc_id").localCheckpoint(eager=True)
        keys.write.mode("append").partitionBy("band").parquet(state)
        times.append(time.perf_counter() - t0)
        admitted_ids = (
            admitted
            if admitted_ids is None
            else admitted_ids.unionByName(admitted)
        )
    admitted_ids = admitted_ids.localCheckpoint(eager=True)
    print(
        "ledger loop at 3x300k docs: "
        + ", ".join(f"batch{i} {t:.1f}s" for i, t in enumerate(times))
    )

    # constructed truth: every even id + the minimum of every odd clique
    n_admitted = admitted_ids.count()
    assert n_admitted == 450_000 + 180_000
    assert admitted_ids.filter(F.col("doc_id") % 2 == 0).count() == 450_000
    assert (
        admitted_ids.filter(
            (F.col("doc_id") % 2 == 1) & (F.col("doc_id") >= 360_000)
        ).count()
        == 0
    )

    # (a) single-pass audit reference: exact-dup cliques mean the
    # admitted set is exactly everything minus the larger side of every
    # near-dup pair
    grams = word_ngrams(docs, n=3).localCheckpoint(eager=True)
    pairs = minhash_lsh_dedup(docs, grams=grams, threshold=0.3)
    single_admitted = docs.select("doc_id").join(
        pairs.select(F.col("doc_b").alias("doc_id")).distinct(),
        "doc_id",
        "left_anti",
    )
    assert single_admitted.count() == n_admitted
    assert admitted_ids.exceptAll(single_admitted).isEmpty()

    # (b) the one-shot admission kernel over the union agrees too
    oneshot, _ = incremental_dedup_batch(docs, None)
    oneshot = oneshot.select("doc_id")
    assert oneshot.count() == n_admitted
    assert admitted_ids.exceptAll(oneshot).isEmpty()


def test_salted_join_hot_key_at_5m(spark, big_events):
    """Skew shape: ~half of 5M rows on ONE key joined to a 1k-row dim —
    the case where a shuffled-hash join gives the hot key to a single
    task. salted_join(32) must agree with the plain join EXACTLY
    (per-key counts AND total), while splitting the hot key across 32
    sub-keys; left rows with no dim match must survive a left salted
    join untouched."""
    import time

    from data_warehouse_flink_spark.operators.skew import salted_join

    big = big_events.select(
        F.when(F.pmod(F.col("event_id"), F.lit(2)) == 0, F.lit(0))
        .otherwise(F.pmod(F.xxhash64("event_id", F.lit(7)), F.lit(999)) + 1)
        .cast("long")
        .alias("k"),
        "event_id",
    )
    # dim covers keys 0..899 -> keys 900..999 are unmatched under left
    small = spark.range(900).select(
        F.col("id").alias("k"), (F.col("id") * 7).alias("payload")
    )

    t0 = time.time()
    got = {
        r["k"]: r["cnt"]
        for r in salted_join(big, small, "k", 32, "event_id")
        .groupBy("k")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    salted_s = time.time() - t0
    want = {
        r["k"]: r["cnt"]
        for r in big.join(small, "k")
        .groupBy("k")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    assert got == want
    assert got[0] > N // 3  # the hot key really is pathological

    left_total = salted_join(big, small, "k", 32, "event_id", how="left").count()
    assert left_total == N  # inner fan-out is 1; unmatched keys survive
    print(f"salted hot-key join at {N}: {salted_s:.1f}s, hot={got[0]}")


def test_runtime_pruned_join_at_5m(spark, big_events):
    """Runtime-filter shape: a 10-key dim against 5M events. The broadcast
    semi pre-filter must cut the big side to just the matching rows
    BEFORE its shuffle (~0.01% here), with the join result identical to
    the plain join."""
    from data_warehouse_flink_spark.operators.skew import runtime_pruned_join

    small = spark.range(10).select(
        (F.col("id") * 9973).alias("dim_user"),
        F.col("id").alias("tier"),
    )
    got = (
        runtime_pruned_join(big_events, small, "user_id", "dim_user")
        .groupBy("tier")
        .agg(F.count("*").alias("cnt"))
    )
    want = (
        big_events.join(
            small, big_events["user_id"] == small["dim_user"]
        )
        .groupBy("tier")
        .agg(F.count("*").alias("cnt"))
    )
    got_rows = {r["tier"]: r["cnt"] for r in got.collect()}
    want_rows = {r["tier"]: r["cnt"] for r in want.collect()}
    assert got_rows == want_rows
    pruned = big_events.join(
        F.broadcast(small.select(F.col("dim_user").alias("user_id"))),
        "user_id",
        "left_semi",
    ).count()
    assert pruned == sum(want_rows.values())
    assert pruned < N // 100  # the pre-filter really is selective


def test_interval_join_at_5m(spark, big_events):
    """J3 at 5M×5M-row sides (purchases x clicks on 100k keys): the
    key-equi + range-residual plan must complete on selective keys and
    agree with an independently computed per-key pair count on a sampled
    key subset."""
    from data_warehouse_flink_spark.operators.joins import interval_join

    pays = big_events.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts")
    )
    clicks = big_events.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("cts")
    )
    joined = interval_join(
        pays, clicks, "user_id", "pts", "cts", -300, 300
    )
    total = joined.count()
    assert total > 0

    # independent check on 3 sampled keys: nested-loop in plain SQL
    keys = [r["user_id"] for r in pays.select("user_id").distinct().limit(3).collect()]
    sub = joined.filter(F.col("l.user_id").isin(keys)).count()
    want = (
        pays.filter(F.col("user_id").isin(keys))
        .alias("p")
        .join(
            clicks.filter(F.col("user_id").isin(keys)).alias("c"),
            F.expr(
                "p.user_id = c.user_id AND "
                "c.cts BETWEEN p.pts - INTERVAL 300 SECOND "
                "AND p.pts + INTERVAL 300 SECOND"
            ),
        )
        .count()
    )
    assert sub == want
