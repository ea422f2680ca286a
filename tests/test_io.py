"""io.table's per-session schema resolution: a table's parquet footer is read
once per (session, path), a rewritten table re-resolves, and every call still
returns a fresh relation."""

from __future__ import annotations

import shutil
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from data_warehouse_flink_spark.io import table

from conftest import SF_SMOKE


def test_rewritten_table_resolves_its_new_schema(spark, tmp_path):
    path = tmp_path / "nation.parquet"
    pq.write_table(pa.table({"n_nationkey": [1, 2]}), path)
    assert table(spark, str(tmp_path), "nation").columns == ["n_nationkey"]

    pq.write_table(pa.table({"n_nationkey": [1, 2], "n_name": ["a", "b"]}), path)
    df = table(spark, str(tmp_path), "nation")
    assert df.columns == ["n_nationkey", "n_name"]
    assert sorted(df.collect()) == [(1, "a"), (2, "b")]


def test_missing_table_raises_and_is_not_memoized(spark, tmp_path):
    """A missing path fails as an uncached read does (Spark's
    AnalysisException), and the table resolves once it appears."""
    with pytest.raises(AnalysisException):
        table(spark, str(tmp_path), "region")
    shutil.copy(f"{SF_SMOKE}/region.parquet", tmp_path / "region.parquet")
    assert table(spark, str(tmp_path), "region").count() > 0


def test_two_reads_of_one_table_self_join(spark):
    """The schema is shared, the relation is not: two reads carry distinct
    expression IDs, so a self-join condition compares two sides (as
    tpch_q7/q8's two nation reads do)."""
    a = table(spark, SF_SMOKE, "nation")
    b = table(spark, SF_SMOKE, "nation")
    got = (
        a.join(b, (a["n_regionkey"] == b["n_regionkey"])
               & (a["n_nationkey"] < b["n_nationkey"]))
        .select(a["n_nationkey"], b["n_nationkey"])
        .collect()
    )
    rows = a.select("n_nationkey", "n_regionkey").collect()
    want = sorted(
        (x.n_nationkey, y.n_nationkey)
        for x in rows
        for y in rows
        if x.n_regionkey == y.n_regionkey and x.n_nationkey < y.n_nationkey
    )
    assert sorted(map(tuple, got)) == want and want


def test_repeated_read_launches_no_spark_job(spark, tmp_path):
    """The first read of a table infers its footer schema with a Spark job;
    a repeated read in the same session launches none."""
    shutil.copy(f"{SF_SMOKE}/lineitem.parquet", tmp_path / "lineitem.parquet")
    sc = spark.sparkContext
    run = uuid.uuid4().hex
    groups = [f"io-{step}-{run}" for step in ("first", "repeat", "sentinel")]
    try:
        sc.setJobGroup(groups[0], "first read")
        table(spark, str(tmp_path), "lineitem")
        sc.setJobGroup(groups[1], "repeated read")
        table(spark, str(tmp_path), "lineitem")
        sc.setJobGroup(groups[2], "sentinel")
        spark.range(1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # The status store is fed in order from the listener bus: once the
    # sentinel's job is visible, any job of the earlier groups is too.
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(groups[2]):
        assert time.monotonic() < deadline, "sentinel job never reported"
        time.sleep(0.05)
    assert tracker.getJobIdsForGroup(groups[0])
    assert tracker.getJobIdsForGroup(groups[1]) == []
