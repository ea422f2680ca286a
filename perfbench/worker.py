"""One benchmark run of one workload, in a fresh process.

Started by ``run.py`` with a JSON config as its only argument; writes its
raw samples as JSON to ``config["out"]``. Closed loop, one client: each
query is built and run to a ``noop`` sink only after the previous one
finished. Pass 0 is the cold pass of the fresh session; warm passes follow
until ``seconds`` have passed since the cold pass began (three at least).
The first warm pass also collects every result, outside the timed region,
for the DuckDB oracle check.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import tempfile
import time
import traceback

MIN_WARM_PASSES = 3
TMPDIR_PREFIXES = ("topn_state_", "topn_ranked_", "w10_replay_")


def _tmpdirs() -> int:
    return sum(
        name.startswith(TMPDIR_PREFIXES) for name in os.listdir(tempfile.gettempdir())
    )


def _oracle_check(results: dict, oracles: dict, data_dir: str) -> dict:
    import duckdb

    from data_warehouse_flink_spark.schemas import TESTDATA_TABLES
    from stats import compare_results

    con = duckdb.connect()
    try:
        for t in TESTDATA_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        checks = {}
        for name, got in results.items():
            diff = compare_results(got, con.execute(oracles[name]).df())
            checks[name] = {"ok": diff is None, "diff": diff, "rows": len(got)}
        return checks
    finally:
        con.close()


class Run:
    """The passes of one run over one session, with the counts kept across
    them: cache builds, the collected results and the leak baselines."""

    def __init__(self, cfg: dict, spark, queries: dict) -> None:
        from data_warehouse_flink_spark.plans import llm_ops

        self.cfg = cfg
        self.spark = spark
        self.queries = queries
        self.cache = llm_ops._DEDUP_CACHE
        self.tracer = None
        if cfg["trace"]:
            from spans import Tracer

            self.tracer = Tracer(spark)
        self.results = {}
        self.cache_builds = 0
        self.cache_build_s = 0.0
        self.base_tables = len(spark.catalog.listTables())
        self.base_tmpdirs = _tmpdirs()

    def query(self, name: str, traced: bool, collect: bool) -> dict:
        fn = self.queries[name].spark_fn
        data = self.cfg["data"]
        span = {"query": name}
        mark = self.tracer.begin(name) if traced else None
        entries = len(self.cache)
        df = None
        try:
            t0 = time.perf_counter()
            df = fn(self.spark, data)
            t1 = time.perf_counter()
            if traced:
                self.tracer.action(name)
            t2 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t3 = time.perf_counter()
        except Exception:  # a failing query is counted, the run goes on
            span["error"] = traceback.format_exc(limit=3)
            if traced:
                self.tracer.end(name, mark, None, 0.0)
            return span
        # The query span and its two children, on the perf_counter clock.
        span.update(start=t0, end=t3, build={"start": t0, "end": t1},
                    action={"start": t2, "end": t3}, wall_s=(t1 - t0) + (t3 - t2))
        if len(self.cache) > entries:
            self.cache_builds += len(self.cache) - entries
            self.cache_build_s += t1 - t0
        if traced:
            layers, progress = self.tracer.end(name, mark, df, t1 - t0)
            layers["exec.action_s"] = t3 - t2
            span["layers"] = layers
            span["stream_progress"] = progress
        if collect:
            self.results[name] = df.toPandas()
        return span

    def run_pass(self, index: int, traced: bool, collect: bool) -> dict:
        start = time.perf_counter()
        spans = [self.query(n, traced, collect) for n in self.cfg["queries"]]
        wall = sum(s.get("wall_s", 0.0) for s in spans)
        return {
            "index": index,
            "traced": traced,
            # Pass wall: query spans plus the tracing between them, without
            # the untimed result collection of the checking pass.
            "wall_s": (time.perf_counter() - start) if traced else wall,
            "spans": spans,
            "leaks": {
                "session.tables_leaked": len(self.spark.catalog.listTables())
                - self.base_tables,
                "session.tmpdirs_leaked": _tmpdirs() - self.base_tmpdirs,
                "plans.cache_entries": len(self.cache),
            },
        }

    def passes(self) -> list[dict]:
        trace = self.cfg["trace"]
        began = time.perf_counter()
        out = [self.run_pass(0, trace, collect=False)]
        while (
            len(out) <= MIN_WARM_PASSES
            or time.perf_counter() - began < self.cfg["seconds"]
        ):
            # Traced runs alternate untraced and traced warm passes, so the
            # tracing overhead is measured within the run.
            traced = trace and len(out) % 2 == 0
            out.append(self.run_pass(len(out), traced, collect=len(out) == 1))
        return out

    def io_table_s(self) -> list[float]:
        from data_warehouse_flink_spark import io
        from data_warehouse_flink_spark.schemas import TESTDATA_TABLES

        samples = []
        for _ in range(3):
            for t in TESTDATA_TABLES:
                t0 = time.perf_counter()
                io.table(self.spark, self.cfg["data"], t)
                samples.append(time.perf_counter() - t0)
        return samples


def main() -> None:
    cfg = json.loads(sys.argv[1])
    from data_warehouse_flink_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=cfg["spark_conf"])
    t1 = time.perf_counter()
    from data_warehouse_flink_spark import registry

    queries = registry.all_queries()
    t2 = time.perf_counter()
    setup = {
        "setup_s": time.monotonic() - cfg["spawned_at"],
        "session.start_s": t1 - t0,
        "registry.load_s": t2 - t1,
    }
    run = Run(cfg, spark, queries)
    passes = run.passes()
    out = {
        "setup": setup,
        "passes": passes,
        "cache": {"plans.cache_builds": run.cache_builds,
                  "plans.cache_build_s": run.cache_build_s},
    }
    if run.tracer is not None:
        out["io_table_s"] = statistics.median(run.io_table_s())
        run.tracer.close()
    spark.stop()
    out["checks"] = _oracle_check(
        run.results, {n: queries[n].oracle for n in run.results}, cfg["data"]
    )
    with open(cfg["out"], "w") as f:
        json.dump(out, f)


if __name__ == "__main__":
    main()
