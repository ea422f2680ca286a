"""Round-6 operator semantics pins.

The `_fast` production-hash variants (xxhash64 shuffle keys instead of
oracle-portable strings) have no DuckDB counterpart, so their contract is
pinned here instead: byte-identical output to their string-keyed gate —
the hash only renames the shuffle key, so any divergence would be a
64-bit collision (~n^2/2^65; zero on every tested corpus).
"""

from __future__ import annotations

import conftest  # noqa: F401  (sys.path setup)

SF = conftest.SF_SMOKE


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_substring_dedup_fast_identical_to_string_keyed_gate(spark):
    from data_warehouse_flink_spark.plans.llm_ops import (
        doc_exact_substring_dedup,
        doc_exact_substring_dedup_fast,
    )

    assert _rows(doc_exact_substring_dedup_fast(spark, SF)) == _rows(
        doc_exact_substring_dedup(spark, SF)
    )


def test_span_dedup_fast_identical_to_string_keyed_gate(spark):
    from data_warehouse_flink_spark.plans.llm_ops import (
        doc_span_dedup,
        doc_span_dedup_fast,
    )

    assert _rows(doc_span_dedup_fast(spark, SF)) == _rows(
        doc_span_dedup(spark, SF)
    )


def test_substring_dedup_50_is_a_superset_keep_of_16(spark):
    """Monotonicity law: a 50-token window recurring corpus-wide implies
    every 16-token window inside it recurs too, so dup_ppm(50) cannot
    exceed... is not directly comparable per-doc — but a document with
    ZERO duplicated 16-token windows must have zero duplicated 50-token
    windows (any duplicated 50-window contains duplicated 16-windows).
    Also: docs shorter than 50 tokens contribute zero windows and are
    always kept."""
    from pyspark.sql import functions as F

    from data_warehouse_flink_spark.plans.llm_ops import (
        doc_exact_substring_dedup,
        doc_exact_substring_dedup_50,
    )

    d16 = {
        r["doc_id"]: r
        for r in doc_exact_substring_dedup(spark, SF).collect()
    }
    rows50 = doc_exact_substring_dedup_50(spark, SF).collect()
    assert set(r["doc_id"] for r in rows50) == set(d16)
    for r in rows50:
        if d16[r["doc_id"]]["n_dup_windows"] == 0:
            assert r["n_dup_windows"] == 0
        if r["n_windows"] == 0:
            assert bool(r["keep"]) is True


def test_uv_approx_contract_columns_and_bound(spark):
    """The W9 gate now grades its error contract: exact counts match the
    count(DISTINCT) path and within_bound is uniformly true at test SF."""
    from pyspark.sql import functions as F

    from data_warehouse_flink_spark.plans.reference_jobs import (
        unique_visitors,
        uv_approx,
    )

    got = uv_approx(spark, SF)
    assert set(got.columns) == {
        "window_start_sec",
        "window_end_sec",
        "uv_exact",
        "within_bound",
    }
    assert got.filter(~F.col("within_bound")).count() == 0
    exact = {
        (r["window_start_sec"], r["window_end_sec"]): r["uv"]
        for r in unique_visitors(spark, SF).collect()
    }
    for r in got.collect():
        key = (r["window_start_sec"], r["window_end_sec"])
        assert exact[key] == r["uv_exact"]


def test_ivf_pq_handles_out_of_corpus_queries(spark):
    """Round-6 fix pin: a query whose id is NOT in the corpus must still
    get a cell (from its own vector) and neighbors, not be silently
    dropped; in-corpus queries must rank identically to before."""
    from pyspark.sql import functions as F

    from data_warehouse_flink_spark.functions.similarity import knn_ivf_pq
    from data_warehouse_flink_spark.plans.llm_ops import _embs

    embs = _embs(spark, SF)
    # clone vec 0's vector under a fresh id absent from the corpus
    foreign = embs.filter(F.col("vec_id") == 0).select(
        F.lit(10_000_000).cast("long").alias("vec_id"), "embedding"
    )
    got = knn_ivf_pq(embs, foreign, k=3)
    rows = got.collect()
    assert len(rows) == 3
    assert all(r["query_id"] == 10_000_000 for r in rows)
    # same vector, same frozen index -> same neighbor ranking as vec 0
    # (vec 0 itself appears as a neighbor since ids differ)
    native = knn_ivf_pq(embs, embs.filter(F.col("vec_id") == 0), k=3)
    native_n = [r["neighbor_id"] for r in native.collect()]
    foreign_n = [r["neighbor_id"] for r in rows]
    assert foreign_n[0] == 0  # exact clone is the nearest neighbor
    # the clone's remaining neighbors follow vec 0's own ranking
    assert foreign_n[1:] == native_n[:2]


def test_merge_upsert_skips_batches_filtered_to_nothing(spark, tmp_path):
    """MERGE fast paths on empty micro-batches: batches whose rows are all
    filtered out before the aggregate — the first one, before the table
    exists, and a later one, after it holds data — leave the mart as it
    was, without error."""
    from pyspark.sql import functions as F

    from data_warehouse_flink_spark.streaming.mart import (
        merge_upsert_foreachbatch,
    )
    from data_warehouse_flink_spark.streaming.sources import ordered_replay

    rows = [(0, k, 0) for k in range(5)]  # batch 0: filtered to nothing
    rows += [(1, k, 1) for k in range(5)]  # batch 1: the only data
    rows += [(2, k, 0) for k in range(5)]  # batch 2: filtered to nothing
    df = spark.createDataFrame(rows, "b long, k long, v long")
    stream = ordered_replay(df, "b", [0, 1, 2], str(tmp_path / "replay"))
    agg = stream.filter(F.col("v") > 0).groupBy("k").agg(
        F.sum("v").alias("total")
    )
    table = str(tmp_path / "table")
    q = merge_upsert_foreachbatch(agg, table, ["k"], n_buckets=4)

    # one micro-batch per file (the scan's pushed-down filter reads 0 rows
    # of batches 0 and 2, so numInputRows cannot show them)
    assert [p["batchId"] for p in q.recentProgress] == [0, 1, 2]
    got = spark.read.parquet(table).select("k", "total").collect()
    assert sorted(map(tuple, got)) == [(k, 1) for k in range(5)]


def test_merge_upsert_one_batch_stream_is_one_write(spark, tmp_path):
    """A stream with one micro-batch writes the mart directly: no
    ``__staging`` sibling is left, and the mart equals the batch
    aggregate."""
    import os

    from pyspark.sql import functions as F

    from data_warehouse_flink_spark.streaming.mart import (
        merge_upsert_foreachbatch,
    )

    src = str(tmp_path / "src")
    table = str(tmp_path / "table")
    rows = [(k % 7, k) for k in range(50)]
    spark.createDataFrame(rows, "k long, v long").coalesce(1).write.parquet(
        src
    )
    stream = spark.readStream.schema("k long, v long").parquet(src)
    agg = stream.groupBy("k").agg(F.sum("v").alias("total"))
    q = merge_upsert_foreachbatch(agg, table, ["k"], n_buckets=4)

    assert [p["numInputRows"] for p in q.recentProgress] == [50]
    assert not os.path.exists(table + "__staging")
    want = {}
    for k, v in rows:
        want[k] = want.get(k, 0) + v
    got = spark.read.parquet(table).select("k", "total").collect()
    assert dict(map(tuple, got)) == want
    assert len(got) == len(want)


def test_merge_upsert_recovers_from_uncommitted_table_dir(spark, tmp_path):
    """Round-6 fix pin: a target directory left behind by a write that died
    before committing any part file (only _temporary/.hidden entries) must
    be treated as FIRST BATCH, not as an existing table — a bare
    directory-existence check would make every replay fail on schema
    inference forever."""
    import os

    from pyspark.sql import functions as F

    from data_warehouse_flink_spark.streaming.mart import (
        merge_upsert_foreachbatch,
    )

    src = str(tmp_path / "src")
    table = str(tmp_path / "table")
    # simulate the torn first write: directory exists, zero committed data
    os.makedirs(os.path.join(table, "_temporary", "0"))
    spark.createDataFrame(
        [(k, 1) for k in range(5)], "k long, v long"
    ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("k long, v long")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    latest = stream.groupBy("k").agg(F.max("v").alias("v"))
    q = merge_upsert_foreachbatch(latest, table, ["k"], n_buckets=1)
    q.awaitTermination()

    got = {r["k"]: r["v"] for r in spark.read.parquet(table).collect()}
    assert got == {k: 1 for k in range(5)}
