"""The engine benchmark.

    python3 perfbench/run.py --workload batch --seed 7 --seconds 20 --trace 0

Generates the workload's tables from ``--seed`` with ``tools/testdata_gen.py``
under ``perfbench/.work/``, runs the workload in a fresh worker process
(``worker.py``) on ``local[<cpus>]``, checks every result against its DuckDB
oracle and prints a report followed by one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` runs the traced variant and reports the
per-layer metrics, writing its spans to ``perfbench/.work/traces/``.
``--workload all`` runs every workload in turn.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

from stats import error_rate, failed_executions, percentile, tail_percentile
from workloads import SF, WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WORKER_TIMEOUT_S = 140  # plus up to 20 s of teardown: under 180 s in all
# Driver heap, well below physical memory, and pinned (-Xms) so that heap
# growth, GC and with them peak RSS do not vary from run to run. A 1 GiB heap
# made the stream and corpus passes GC-bound.
DRIVER_MEM = "2g"


def _declared(kind: str) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _procs() -> dict[int, tuple[str, int, int]]:
    """pid -> (state, parent pid, process group) of every visible process."""
    out = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        out[int(pid)] = (fields[0], int(fields[1]), int(fields[2]))
    return out


def _foreign_jvms() -> int:
    """Spark JVMs alive on the machine, none of them ours yet."""
    count = 0
    for pid in _procs():
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                count += b"org.apache.spark.deploy.SparkSubmit" in f.read()
        except OSError:
            continue
    return count


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class GroupSampler(threading.Thread):
    """Samples every 100 ms the resident memory of the worker's process
    group: the driver (the worker's Python and its JVM child) and the whole
    group, which adds the JVM's Python UDF workers."""

    def __init__(self, pid: int) -> None:
        super().__init__(daemon=True)
        self.pid = pid
        self.peak_driver_mb = 0.0
        self.peak_group_mb = 0.0
        self._halt = threading.Event()

    def members(self) -> dict[int, int]:
        """pid -> parent pid of the live processes of the group."""
        return {pid: ppid for pid, (state, ppid, pgid) in _procs().items()
                if pgid == self.pid and state != "Z"}

    def run(self) -> None:
        while not self._halt.wait(0.1):
            group = self.members()
            rss = {pid: _rss_mb(pid) for pid in group}
            driver = sum(mb for pid, mb in rss.items()
                         if pid == self.pid or group[pid] == self.pid)
            self.peak_driver_mb = max(self.peak_driver_mb, driver)
            self.peak_group_mb = max(self.peak_group_mb, sum(rss.values()))

    def stop(self) -> None:
        self._halt.set()
        self.join()


def _end_group(sampler: GroupSampler, proc: subprocess.Popen) -> None:
    """Stop every process of the worker's group and wait until none is left.
    The JVM exits by itself once the worker has; it gets 10 s to do so."""
    if proc.poll() is None:
        os.killpg(proc.pid, signal.SIGTERM)
        try:
            proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    start = time.monotonic()
    while sampler.members():
        waited = time.monotonic() - start
        if waited > 10:
            try:
                os.killpg(proc.pid, signal.SIGTERM if waited < 20 else signal.SIGKILL)
            except ProcessLookupError:
                break
        time.sleep(0.1)


def run_worker(workload: str, seed: int, seconds: int, trace: bool) -> dict:
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    data = os.path.join(WORK, "data", f"sf{SF}-seed{seed}")
    if not os.path.isdir(data):
        sys.path.insert(0, os.path.join(ROOT, "tools"))
        from testdata_gen import generate

        generate(data + ".part", SF, seed)
        os.replace(data + ".part", data)
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    for d in (tmp, local):
        os.makedirs(d)
    out = os.path.join(run_dir, "result.json")
    foreign = _foreign_jvms()
    if foreign:
        print(f"warning: {foreign} other Spark JVM(s) alive at start", file=sys.stderr)
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(_cpus()),
        SPARK_GRAFT_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        # The engine's Python workers import it too (mapInPandas functions).
        PYTHONPATH=os.pathsep.join(filter(None, (ROOT, os.environ.get("PYTHONPATH")))),
    )
    cfg = {
        "queries": list(WORKLOADS[workload]),
        "data": data,
        "seconds": seconds,
        "trace": trace,
        "out": out,
        "spark_conf": {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            # session.py's code-cache size, the pinned heap, and a private
            # JVM temp dir for stream checkpoints.
            "spark.driver.extraJavaOptions": (
                f"-XX:ReservedCodeCacheSize=1g -Xms{DRIVER_MEM} -Djava.io.tmpdir={tmp}"
            ),
        },
    }
    cfg["spawned_at"] = time.monotonic()
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), json.dumps(cfg)],
        cwd=run_dir,
        env=env,
        stdout=sys.stderr,
        start_new_session=True,
    )
    sampler = GroupSampler(proc.pid)
    sampler.start()
    try:
        code = proc.wait(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = None
    finally:
        _end_group(sampler, proc)
        sampler.stop()
    if code != 0:
        raise RuntimeError(f"worker for {workload} ended with {code}")
    with open(out) as f:
        result = json.load(f)
    shutil.rmtree(run_dir, ignore_errors=True)
    result["peak_rss_mb"] = sampler.peak_driver_mb
    result["peak_group_rss_mb"] = sampler.peak_group_mb
    result["foreign_jvms"] = foreign
    return result


def _median_of(passes: list[dict], key) -> float:
    return statistics.median(key(p) for p in passes)


def summarize(result: dict, trace: bool) -> tuple[dict, dict]:
    """The result line of one worker result, and the report-only figures
    (name -> (value, unit)) printed before it."""
    passes = result["passes"]
    cold, warm = passes[0], passes[1:]
    raised, executed = {}, {}
    for p in passes:
        for span in p["spans"]:
            bucket = raised if "error" in span else executed
            bucket[span["query"]] = bucket.get(span["query"], 0) + 1
    attempted = sum(raised.values()) + sum(executed.values())
    checks = result["checks"]
    failed = failed_executions(raised, executed, {n: c["ok"] for n, c in checks.items()})
    samples = [s["wall_s"] for p in warm for s in p["spans"] if "wall_s" in s]
    tail = tail_percentile(len(samples))
    report = {
        "error_rate": (error_rate(failed, attempted), "ratio"),
        "foreign_jvms": (result["foreign_jvms"], "count"),
        "warm_passes": (len(warm), "count"),
        "peak_group_rss_mb": (result["peak_group_rss_mb"], "MB"),
        "query_samples": (len(samples), "count"),
    }
    if tail is not None:  # the highest percentile the samples support
        report[f"query_p{tail}_s"] = (percentile(samples, tail), "s")
    if not trace:
        values = {
            "setup_s": result["setup"]["setup_s"],
            "cold_s": cold["wall_s"],
            "warm_s": _median_of(warm, lambda p: p["wall_s"]),
            "query_p50_s": statistics.median(samples),
            "peak_rss_mb": result["peak_rss_mb"],
        }
    else:
        traced = [p for p in warm if p["traced"]]
        untraced = [p for p in warm if not p["traced"]]
        # Per-query layer metrics add up over a pass; the median traced
        # warm pass gives the workload's value.
        values = {
            name: _median_of(traced, lambda p, n=name: sum(
                s["layers"][n] for s in p["spans"] if "layers" in s))
            for name in {n for p in traced for s in p["spans"] for n in s.get("layers", ())}
        }
        values.update(result["setup"])
        values.update(result["cache"])
        values.update(passes[-1]["leaks"])
        values["io.table_s"] = result["io_table_s"]
        values["exec.output_rows"] = sum(c["rows"] for c in checks.values())
        values["session.foreign_jvms"] = result["foreign_jvms"]
        values["trace.overhead_s"] = (
            _median_of(traced, lambda p: p["wall_s"])
            - _median_of(untraced, lambda p: p["wall_s"])
        )
    declared = _declared("per_layer" if trace else "end_to_end")
    for name, check in checks.items():
        if not check["ok"]:
            print(f"oracle mismatch: {name}: {check['diff']}", file=sys.stderr)
    for p in passes:
        for span in p["spans"]:
            if "error" in span:
                print(f"query failed: {span['query']}:\n{span['error']}", file=sys.stderr)
    line = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in declared.items()},
    }
    return line, report


def write_trace(workload: str, seed: int, result: dict) -> str:
    """Write the traced run's spans (query -> build -> action, with stream
    progress attached) once the run has ended."""
    path = os.path.join(WORK, "traces", f"{workload}-seed{seed}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump({"workload": workload, "seed": seed, "passes": result["passes"]}, f)
    return path


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # Turn SIGTERM into SystemExit, so the worker's process group is still
    # stopped on the way out.
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    for need in ("data_warehouse_flink_spark/registry.py", "tools/testdata_gen.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"error: {need} not found under {ROOT}", file=sys.stderr)
            return 2
    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    lines = []
    for name in names:
        result = run_worker(name, args.seed, args.seconds, bool(args.trace))
        line, report = summarize(result, bool(args.trace))
        if args.trace:
            print(f"{name} trace: {write_trace(name, args.seed, result)}")
        walls = " ".join(f"{p['wall_s']:.3f}" for p in result["passes"])
        print(f"{name} pass_walls_s {walls}")
        for metric, (value, unit) in report.items():
            print(f"{name} {metric} {value:.6g} {unit}")
        for metric, m in line["metrics"].items():
            print(f"{name} {metric} {m['value']:.6g} {m['unit']}")
        lines.append((name, line))
    if len(lines) == 1:
        print(json.dumps(lines[0][1]))
    else:
        print(json.dumps({
            "correct": all(line["correct"] for _, line in lines),
            "attempted": sum(line["attempted"] for _, line in lines),
            "failed": sum(line["failed"] for _, line in lines),
            "metrics": {f"{n}.{k}": v for n, line in lines for k, v in line["metrics"].items()},
        }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
