"""Plan reuse of registered queries (see the registry module docstring): a
repeated call answers with a fresh frame over the analyzed plan and submits
no job, a rewritten table is planned again, a build that runs a stream runs
it on every call, and ``release`` drops the plans without counting or
unpersisting them as memoized frames."""

from __future__ import annotations

import shutil

import pyarrow.parquet as pq

from conftest import SF_SMOKE
from data_warehouse_flink_spark import registry
from data_warehouse_flink_spark.plans import llm_ops, reference_jobs, tpch
from data_warehouse_flink_spark.session import memo, release
from data_warehouse_flink_spark.streaming import jobs

QUERIES = registry.all_queries()


def _plans(spark) -> dict:
    return memo(spark, "plans", dict)


def test_repeated_call_submits_no_job_and_returns_a_fresh_frame(spark):
    fn = QUERIES["tpch_q5"].spark_fn
    first = fn(spark, SF_SMOKE)
    jobs_before = registry._spark_jobs(spark)
    second = fn(spark, SF_SMOKE)
    assert registry._spark_jobs(spark) == jobs_before
    assert second is not first
    assert not second._jdf.queryExecution().equals(first._jdf.queryExecution())
    assert sorted(second.collect()) == sorted(first.collect())


def test_rewritten_table_is_planned_again(spark, tmp_path):
    shutil.copy(f"{SF_SMOKE}/events.parquet", tmp_path / "events.parquet")
    fn = QUERIES["page_view"].spark_fn
    before = sorted(fn(spark, str(tmp_path)).collect())
    assert sorted(fn(spark, str(tmp_path)).collect()) == before

    events = pq.read_table(tmp_path / "events.parquet")
    pq.write_table(events.slice(0, events.num_rows // 2), tmp_path / "events.parquet")
    after = sorted(fn(spark, str(tmp_path)).collect())
    assert after != before
    assert after == sorted(reference_jobs.page_view(spark, str(tmp_path)).collect())


def test_stream_twin_runs_its_stream_on_every_call(spark):
    fn = QUERIES["streaming_page_view"].spark_fn
    for _ in range(2):
        started = jobs.streams_started
        fn(spark, SF_SMOKE)
        assert jobs.streams_started == started + 1
    assert ("streaming_page_view", SF_SMOKE) not in _plans(spark)


def test_release_drops_plan_entries(spark):
    builds = []

    def build(spark, sf_dir):
        builds.append(sf_dir)
        return tpch.tpch_q5(spark, sf_dir)

    tpch.tpch_q5(spark, SF_SMOKE)  # resolves the footer schemas: no job below
    fn = registry._reusing_plan("plan_reuse_probe", build)
    fn(spark, SF_SMOKE)
    fn(spark, SF_SMOKE)
    assert len(builds) == 1
    release(spark)
    assert ("plan_reuse_probe", SF_SMOKE) not in _plans(spark)
    fn(spark, SF_SMOKE)
    assert len(builds) == 2


def test_plan_entries_are_not_memoized_frames(spark):
    """The benchmark counts memoized frames (``llm_ops._DEDUP_CACHE``) as
    its cache entries; a plan is none, and ``release`` leaves it alone
    while it unpersists the frames."""
    fn = QUERIES["tpch_q5"].spark_fn
    frames = len(llm_ops._DEDUP_CACHE)
    fn(spark, SF_SMOKE)
    fn(spark, SF_SMOKE)
    assert ("tpch_q5", SF_SMOKE) in _plans(spark)
    assert len(llm_ops._DEDUP_CACHE) == frames
    release(spark)
    assert len(llm_ops._DEDUP_CACHE) == 0
