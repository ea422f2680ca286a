"""Round-5 operator semantics pins."""

from __future__ import annotations

import conftest  # noqa: F401  (sys.path setup)

SF = conftest.SF_SMOKE


def test_dsir_fast_matches_md5_gate_on_hash_independent_columns(spark):
    """doc_importance_weights_fast (xxhash64 buckets) must agree with the
    md5-oracle gate on everything that does not depend on the bucket hash:
    the doc set and each doc's total gram count. The weights themselves
    differ (different bucketing of the same distribution) but keep-rates
    must be in the same ballpark — both are estimating the same DSIR
    log-ratio score."""
    from data_warehouse_flink_spark.plans.llm_ops import (
        doc_importance_weights,
        doc_importance_weights_fast,
    )

    exact = {
        r["doc_id"]: r["n_grams"]
        for r in doc_importance_weights(spark, SF)
        .select("doc_id", "n_grams")
        .collect()
    }
    fast_rows = doc_importance_weights_fast(spark, SF).collect()
    fast = {r["doc_id"]: r["n_grams"] for r in fast_rows}
    assert fast == exact
    keep_rate = sum(r["keep"] for r in fast_rows) / len(fast_rows)
    assert 0.05 < keep_rate < 0.95


def test_ivf_pq_is_pq_restricted_to_the_query_cell(spark):
    """Composition law: knn_ivf_pq's candidate ranking must equal knn_pq's
    ADC ranking computed over ONLY the query's coarse cell — i.e. the two
    frozen stages compose without interaction. Verified by re-deriving the
    expected top-k from the stage primitives."""
    from pyspark.sql import functions as F

    from data_warehouse_flink_spark.functions.similarity import (
        frozen_ivf_assign,
        knn_ivf_pq,
        knn_pq,
    )
    from data_warehouse_flink_spark.plans.llm_ops import _embs

    embs = _embs(spark, SF)
    queries = embs.filter(F.col("vec_id") < 5)
    got = {
        (r["query_id"], r["rn"]): r["neighbor_id"]
        for r in knn_ivf_pq(embs, queries, k=3).collect()
    }
    cells = {
        r["vec_id"]: r["cell"] for r in frozen_ivf_assign(embs).collect()
    }
    # expected: full-corpus PQ ranking, re-ranked after dropping
    # out-of-cell neighbors
    full = knn_pq(embs, queries, k=10_000).collect()
    expected = {}
    per_q: dict = {}
    for r in sorted(full, key=lambda r: (r["query_id"], r["rn"])):
        q = r["query_id"]
        if cells[r["neighbor_id"]] != cells[q]:
            continue
        per_q.setdefault(q, []).append(r["neighbor_id"])
    for q, ns in per_q.items():
        for i, n in enumerate(ns[:3], start=1):
            expected[(q, i)] = n
    assert got == expected


def test_minhash_fast_pairs_are_exact_verified_subset(spark):
    """doc_minhash_lsh_fast (xxhash64 shingle hash, production path) has no
    DuckDB oracle; its contract: every emitted pair must appear in the
    brute-force `doc_ngram_jaccard` result with the IDENTICAL exact
    jaccard value (the verify stage recomputes Jaccard from raw shingles,
    so hash choice only affects candidate recall, never values), and
    recall against the md5-gate LSH must be substantial (same banding
    math, different but equally-uniform hash family)."""
    from data_warehouse_flink_spark.plans.llm_ops import (
        doc_minhash_lsh,
        doc_minhash_lsh_fast,
        doc_ngram_jaccard,
    )

    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in doc_ngram_jaccard(spark, SF).collect()
    }
    fast = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in doc_minhash_lsh_fast(spark, SF).collect()
    }
    assert fast, "fast LSH found no pairs at all"
    for pair, jac in fast.items():
        assert exact.get(pair) == jac
    gate = {
        (r["doc_a"], r["doc_b"])
        for r in doc_minhash_lsh(spark, SF).collect()
    }
    if gate:
        assert len(set(fast) & gate) >= len(gate) * 0.8


def test_merge_upsert_preserves_untouched_keys_in_touched_buckets(
    spark, tmp_path
):
    """merge_upsert_foreachbatch MERGE semantics across micro-batches:
    with n_buckets=1 every key lands in the same bucket, so batch 2's
    single-key update rewrites the one bucket that also holds every
    untouched key — those must survive the overwrite, and only the
    changed key's value may move."""
    from pyspark.sql import functions as F

    from data_warehouse_flink_spark.streaming.mart import (
        merge_upsert_foreachbatch,
    )

    src = str(tmp_path / "src")
    table = str(tmp_path / "table")
    # two source files + maxFilesPerTrigger=1 → two micro-batches in ONE
    # stream run: batch 1 upserts all 10 keys, batch 2's update-mode
    # emission carries ONLY the changed key (k=3), so the merge must carry
    # the other 9 keys through the bucket overwrite untouched.
    spark.createDataFrame(
        [(k, 1) for k in range(10)], "k long, v long"
    ).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame([(3, 7)], "k long, v long").coalesce(1).write.mode(
        "append"
    ).parquet(src)

    stream = (
        spark.readStream.schema("k long, v long")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    latest = stream.groupBy("k").agg(F.max("v").alias("v"))
    q = merge_upsert_foreachbatch(latest, table, ["k"], n_buckets=1)
    q.awaitTermination()

    got = {
        r["k"]: r["v"] for r in spark.read.parquet(table).collect()
    }
    assert got == {k: (7 if k == 3 else 1) for k in range(10)}


def test_orc_and_jsonl_round_trip(spark, tmp_path):
    """Format breadth: the partitioned writer and generic reader must
    round-trip ORC (Spark-core columnar peer) and JSONL (training-data
    interchange) with values identical to the parquet path."""
    from pyspark.sql import functions as F

    from data_warehouse_flink_spark.io import table
    from data_warehouse_flink_spark.sources.readers import (
        documents_jsonl,
        read_table,
    )
    from data_warehouse_flink_spark.sources.sinks import write_partitioned

    docs = table(spark, SF, "documents")
    want = sorted(map(tuple, docs.collect()))

    orc_path = str(tmp_path / "docs_orc")
    write_partitioned(docs, orc_path, ["lang"], format="orc")
    got_orc = sorted(
        map(tuple, read_table(spark, orc_path, "orc")
            .select(*docs.columns).collect())
    )
    assert got_orc == want

    jl_path = str(tmp_path / "docs_jsonl")
    write_partitioned(docs, jl_path, format="json")
    got_jl = sorted(
        map(tuple, documents_jsonl(spark, jl_path)
            .select(*docs.columns).collect())
    )
    assert got_jl == want

    # streaming JSONL ingest: same rows through the file stream
    stream = documents_jsonl(spark, jl_path, streaming=True)
    assert stream.isStreaming
    from data_warehouse_flink_spark.streaming.jobs import run_stream_to_table

    got_stream = sorted(
        map(
            tuple,
            run_stream_to_table(stream, spark, output_mode="append")
            .select(*docs.columns)
            .collect(),
        )
    )
    assert got_stream == want


def test_quarantine_rules_catch_injected_violations(spark):
    """Each quarantine rule must fire on a synthetic violation and
    first-match precedence must hold (a row violating ts AND type routes
    to bad_ts)."""
    from data_warehouse_flink_spark.plans.analytics import (
        classify_event_records,
    )

    rows = [
        # event_id, ts, event_type, value, props, expected
        (1, "2024-02-01 00:00:00", "view", 1.0, '{"k":1}', "ok"),
        (2, None, "view", 1.0, "{}", "bad_ts"),
        (3, "2023-12-31 23:59:59", "nosuch", 1.0, "{}", "bad_ts"),
        (4, "2024-02-01 00:00:00", "nosuch", 1.0, "{}", "bad_type"),
        (9, "2024-02-01 00:00:00", None, 1.0, "{}", "bad_type"),
        (5, "2024-02-01 00:00:00", "click", -0.5, "{}", "bad_value"),
        (6, "2024-02-01 00:00:00", "click", None, "{}", "bad_value"),
        (7, "2024-02-01 00:00:00", "click", 1.0, "oops", "bad_props"),
        (8, "2024-02-01 00:00:00", "click", 1.0, None, "bad_props"),
    ]
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, ts, et, v, p) for i, ts, et, v, p, _ in rows],
        "event_id long, ts_s string, event_type string, value double, "
        "props string",
    ).withColumn("ts", F.col("ts_s").cast("timestamp"))
    got = {
        r["event_id"]: r["disposition"]
        for r in classify_event_records(df).collect()
    }
    assert got == {i: exp for i, _, _, _, _, exp in rows}
