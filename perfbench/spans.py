"""Per-layer readings taken from outside the engine, for the traced run.

Every reading comes from Spark's public or driver-side state after a call
into the engine returns: the job-group stage metrics of the status store
(``exec``), the SQL plan graph and its metric values (``io`` scans and the
Python/Arrow nodes of ``functions``), the Catalyst phase tracker of the
returned DataFrame (``plans``) and a ``StreamingQueryListener``
(``streaming``). Nothing here is imported or run in an untraced run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQueryListener

from stats import parse_sql_metric

# Plan-graph node names of the Python/Arrow boundary (ArrowEvalPython,
# BatchEvalPython, MapInPandas, FlatMapGroupsInPandas, MapInArrow, ...).
_PYTHON_NODE_WORDS = ("Python", "Pandas", "Arrow")


def _iterate(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


class _ProgressListener(StreamingQueryListener):
    def __init__(self) -> None:
        self.progress = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        self.progress.append(event.progress)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def stream_metrics(progress: list) -> dict[str, float]:
    """Sum the micro-batch progress of the streams one query ran. State
    sizes come from each stream's last batch."""
    def ms(key: str) -> float:
        return sum(p.durationMs.get(key, 0) for p in progress) / 1000.0

    last = {}
    for p in progress:
        last[p.id] = p
    return {
        "streaming.batches": len(progress),
        "streaming.input_rows": sum(p.numInputRows for p in progress),
        "streaming.trigger_s": ms("triggerExecution"),
        "streaming.add_batch_s": ms("addBatch"),
        "streaming.planning_s": ms("queryPlanning"),
        "streaming.wal_commit_s": ms("walCommit"),
        "streaming.commit_s": ms("commitOffsets"),
        "streaming.state_commit_s": sum(
            op.commitTimeMs for p in progress for op in p.stateOperators
        ) / 1000.0,
        "streaming.state_rows": sum(
            op.numRowsTotal for p in last.values() for op in p.stateOperators
        ),
        "streaming.state_bytes": sum(
            op.memoryUsedBytes for p in last.values() for op in p.stateOperators
        ),
        "streaming.state_partitions": sum(
            op.numShufflePartitions for p in last.values() for op in p.stateOperators
        ),
    }


class Tracer:
    """Reads one query's layer metrics after it ran under ``begin``."""

    def __init__(self, spark: SparkSession) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self._bus = self.sc._jsc.sc().listenerBus()
        self._store = self.sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._listener = _ProgressListener()
        spark.streams.addListener(self._listener)

    def close(self) -> None:
        self.spark.streams.removeListener(self._listener)

    def _drain(self) -> None:
        # Status stores and listeners are fed asynchronously from the bus.
        self._bus.waitUntilEmpty()

    def begin(self, name: str) -> tuple[int, int]:
        """Mark the state before a query runs: the last SQL execution id and
        the number of stream progress events seen."""
        self._drain()
        last = max((e.executionId() for e in _iterate(self._sql.executionsList())),
                   default=-1)
        self.sc.setJobGroup(f"build:{name}", name)
        return last, len(self._listener.progress)

    def action(self, name: str) -> None:
        self.sc.setJobGroup(f"action:{name}", name)

    def end(self, name: str, mark: tuple[int, int], df: DataFrame | None,
            build_s: float) -> tuple[dict[str, float], list[str]]:
        """Layer metrics of the query run since ``mark``, and the JSON of its
        stream progress events."""
        self._drain()
        self.sc.setJobGroup("bench", "bench")
        last_exec, first_event = mark
        progress = self._listener.progress[first_event:]
        out = stream_metrics(progress)
        outside_trigger = build_s - out["streaming.trigger_s"]
        out["plans.build_s"] = outside_trigger
        out["streaming.start_stop_s"] = outside_trigger if progress else 0.0
        if df is not None:
            # A fresh projection gets a fresh phase tracker: a returned frame
            # may be a cached one whose tracker spans its whole lifetime.
            qe = df.select("*")._jdf.queryExecution()
            qe.executedPlan()  # optimizes and plans, as the action did
            phases = {kv._1(): kv._2().durationMs() / 1000.0
                      for kv in _iterate(qe.tracker().phases())}
            for phase in ("analysis", "optimization", "planning"):
                out[f"plans.{phase}_s"] = phases.get(phase, 0.0)
        out.update(self._exec_metrics(f"action:{name}"))
        out.update(self._plan_metrics(last_exec))
        return out, [p.json for p in progress]

    def _exec_metrics(self, group: str) -> dict[str, float]:
        jobs = self.sc.statusTracker().getJobIdsForGroup(group)
        tasks = shuffle = spill = scan_rows = 0
        for job in jobs:
            for stage in _iterate(self._store.job(job).stageIds()):
                for attempt in _iterate(
                    self._store.stageData(stage, False, None, False, None)
                ):
                    if attempt.status().toString() != "COMPLETE":
                        continue
                    tasks += attempt.numCompleteTasks()
                    shuffle += attempt.shuffleWriteBytes()
                    spill += attempt.memoryBytesSpilled() + attempt.diskBytesSpilled()
                    scan_rows += attempt.inputRecords()
        return {
            "exec.jobs": len(jobs),
            "exec.tasks": tasks,
            "exec.shuffle_bytes": shuffle,
            "exec.spill_bytes": spill,
            "exec.scan_rows": scan_rows,
        }

    def _plan_metrics(self, last_exec: int) -> dict[str, float]:
        """File scans of the action's executed plan (the newest SQL
        execution), and Python/Arrow node rows and bytes over every SQL
        execution the query started, its build included."""
        new = sorted(e.executionId() for e in _iterate(self._sql.executionsList())
                     if e.executionId() > last_exec)
        scans = rows = nbytes = 0
        for exec_id in new:
            values = self._sql.executionMetrics(exec_id)
            for node in _iterate(self._sql.planGraph(exec_id).allNodes()):
                node_name = node.name()
                if exec_id == new[-1] and node_name.startswith("Scan parquet"):
                    scans += 1
                if not any(w in node_name for w in _PYTHON_NODE_WORDS):
                    continue
                for metric in _iterate(node.metrics()):
                    value = values.get(metric.accumulatorId())
                    if not value.isDefined():
                        continue
                    label = metric.name()
                    if label == "number of output rows":
                        rows += parse_sql_metric(value.get())
                    elif "Python workers" in label:
                        nbytes += parse_sql_metric(value.get())
        return {
            "io.scans": scans,
            "functions.python_rows": rows,
            "functions.python_bytes": nbytes,
        }
