"""Traced-run collector: reads Spark's public status APIs from outside
the engine.

Per operation the benchmark opens a job group; when the operation ends
the collector reads
- the group's jobs and stages from ``statusTracker`` / the app status
  store (tasks, executor run/CPU/GC time, input, shuffle and spill
  bytes, stage intervals);
- the SQL executions started during the operation from the SQL status
  store: plan-graph node names give the plan shape, and the SQL metrics
  of Python-eval and ``AQEShuffleRead`` nodes give the Python/Arrow
  boundary and AQE numbers;
- for streams, the progress events of a ``StreamingQueryListener``.
Streaming micro-batches run in the query's own thread under a job group
named by the query's run id, so a drain's jobs are that group's jobs.
"""

from __future__ import annotations

import re
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

from perfbench.stats import idle_time

_UNIT = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
}
_VALUE_RE = re.compile(r"(-?[0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")

PYTHON_METRICS = {
    "time to run Python workers": "python.eval_s",
    "time to start Python workers": "python.boot_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}
# the only SQL metrics whose values are read
_PARSED = {*PYTHON_METRICS, "number of partitions"}


def parse_sql_metric(text: str) -> float:
    """Value of a formatted SQL metric: ``"1,234"``, ``"12.5 MiB"``,
    ``"3.4 s"``, or the multi-task form ``"total (min, med, max ...)\\n
    3.4 s (...)"``. Sizes come back in bytes, times in seconds."""
    line = text.split("\n", 1)[1] if text.startswith("total") else text
    m = _VALUE_RE.match(line.strip())
    if not m:
        raise ValueError(f"unparsed SQL metric {text!r}")
    value = float(m.group(1).replace(",", ""))
    return value * _UNIT.get(m.group(2), 1)


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _epoch_s(opt_date) -> float | None:
    return opt_date.get().getTime() / 1000.0 if opt_date.isDefined() else None


class StreamProgress(StreamingQueryListener):
    """Keeps every progress event, keyed by run id, and signals when a
    run's termination event has arrived (events are delivered
    asynchronously on the listener bus)."""

    def __init__(self) -> None:
        self.progress: dict[str, list] = {}
        self.started: list[str] = []
        self._done: set[str] = set()
        self._cv = threading.Condition()

    def onQueryStarted(self, event) -> None:
        with self._cv:
            self.started.append(str(event.runId))

    def onQueryProgress(self, event) -> None:
        with self._cv:
            self.progress.setdefault(str(event.progress.runId), []).append(
                event.progress
            )

    def onQueryTerminated(self, event) -> None:
        with self._cv:
            self._done.add(str(event.runId))
            self._cv.notify_all()

    def wait_terminated(self, run_ids: list[str], timeout: float = 30.0) -> None:
        deadline = time.monotonic() + timeout
        with self._cv:
            while not set(run_ids) <= self._done:
                left = deadline - time.monotonic()
                if left <= 0:
                    raise TimeoutError(f"no termination event for {run_ids}")
                self._cv.wait(left)


def stream_metrics(progresses: list) -> dict[str, float]:
    """Per-drain streaming numbers from its progress events."""
    out = dict.fromkeys(
        ("stream.batches", "stream.trigger_ms", "stream.planning_ms",
         "stream.add_batch_ms", "stream.wal_commit_ms", "state.commit_ms",
         "state.rows_total", "state.rows_updated", "state.memory_bytes"),
        0.0,
    )
    for p in progresses:
        d = p.durationMs
        out["stream.batches"] += 1
        out["stream.trigger_ms"] += d.get("triggerExecution", 0)
        out["stream.planning_ms"] += d.get("queryPlanning", 0)
        out["stream.add_batch_ms"] += d.get("addBatch", 0)
        out["stream.wal_commit_ms"] += d.get("walCommit", 0)
        for s in p.stateOperators:
            out["state.commit_ms"] += s.commitTimeMs
            out["state.rows_updated"] += s.numRowsUpdated
    if progresses:
        last = progresses[-1].stateOperators
        out["state.rows_total"] = float(sum(s.numRowsTotal for s in last))
        out["state.memory_bytes"] = float(sum(s.memoryUsedBytes for s in last))
    return out


class Collector:
    """Job-group tagging and status-store reads around each operation."""

    def __init__(self, spark, listener: StreamProgress | None = None) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.app_store = self.sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.listener = listener
        self._group = None
        self._exec_cursor = 0
        self._streams_cursor = 0

    # -- operation boundaries ------------------------------------------------
    def begin(self, op_id: int, name: str) -> None:
        self._group = f"perfbench-{op_id}"
        self.sc.setJobGroup(self._group, name)
        self._exec_cursor = self.sql_store.executionsCount()
        if self.listener is not None:
            self._streams_cursor = len(self.listener.started)

    def jobs_so_far(self) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(self._group))

    def end(self, wall: tuple[float, float]) -> dict[str, float]:
        """Counters of the operation that ran between begin() and now;
        ``wall`` is its (start, end) on the epoch clock."""
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        # The status stores are filled from the listener bus, which runs
        # behind the caller; drain it so the last job's end is recorded.
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        groups = [self._group]
        progresses: list = []
        if self.listener is not None:
            runs = self.listener.started[self._streams_cursor:]
            self.listener.wait_terminated(runs)
            groups += runs
            for r in runs:
                progresses += self.listener.progress.get(r, [])
        job_ids = sorted(
            {j for g in groups for j in self.sc.statusTracker().getJobIdsForGroup(g)}
        )
        out = self._stage_metrics(job_ids, wall)
        out.update(self._sql_metrics())
        if self.listener is not None:
            out.update(stream_metrics(progresses))
        return out

    # -- readers ----------------------------------------------------------------
    def _stage_metrics(self, job_ids: list[int], wall) -> dict[str, float]:
        out = dict.fromkeys(
            ("spark.jobs", "spark.stages", "spark.tasks",
             "spark.single_task_stages", "spark.executor_run_s",
             "spark.executor_cpu_s", "spark.gc_s", "spark.idle_s",
             "scan.input_bytes", "scan.input_rows", "shuffle.write_bytes",
             "shuffle.read_bytes", "shuffle.spill_bytes"),
            0.0,
        )
        out["spark.jobs"] = float(len(job_ids))
        stage_ids = set()
        for j in job_ids:
            stage_ids.update(_seq(self.app_store.job(j).stageIds()))
        busy = []
        for sid in sorted(stage_ids):
            st = self.app_store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            out["spark.stages"] += 1
            out["spark.tasks"] += st.numTasks()
            out["spark.single_task_stages"] += st.numTasks() == 1
            out["spark.executor_run_s"] += st.executorRunTime() / 1e3
            out["spark.executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["spark.gc_s"] += st.jvmGcTime() / 1e3
            out["scan.input_bytes"] += st.inputBytes()
            out["scan.input_rows"] += st.inputRecords()
            out["shuffle.write_bytes"] += st.shuffleWriteBytes()
            out["shuffle.read_bytes"] += st.shuffleReadBytes()
            out["shuffle.spill_bytes"] += st.diskBytesSpilled()
            lo, hi = _epoch_s(st.submissionTime()), _epoch_s(st.completionTime())
            if lo is not None and hi is not None:
                busy.append((lo, hi))
        out["spark.idle_s"] = idle_time(wall, busy)
        return out

    def _sql_metrics(self) -> dict[str, float]:
        out = dict.fromkeys(
            ("aqe.coalesced_reads", "aqe.single_partition_reads",
             "plan.exchanges", "plan.python_nodes", "plan.sort_merge_joins",
             "plan.broadcast_joins", "plan.single_partition", "plan.cartesian",
             *PYTHON_METRICS.values()),
            0.0,
        )
        n = self.sql_store.executionsCount() - self._exec_cursor
        if n <= 0:
            return out
        for ex in _seq(self.sql_store.executionsList(self._exec_cursor, n)):
            eid = ex.executionId()
            values = self.sql_store.executionMetrics(eid)
            for node in _seq(self.sql_store.planGraph(eid).allNodes()):
                metrics = {}
                for m in _seq(node.metrics()):
                    v = values.get(m.accumulatorId())
                    parse = m.name() in _PARSED and v.isDefined()
                    metrics[m.name()] = parse_sql_metric(v.get()) if parse else None
                _count_node(out, node.name(), node.desc(), metrics)
        return out


def _count_node(out: dict, name: str, desc: str, metrics: dict) -> None:
    """Add one plan-graph node to the plan-shape, AQE and Python-boundary
    counts. ``metrics`` maps the node's metric names to values, None
    where the status store holds no value (a foreachBatch sink, for
    one, reports its batch plan's metrics under another execution)."""
    if name == "Exchange":
        out["plan.exchanges"] += 1
    elif name == "SortMergeJoin":
        out["plan.sort_merge_joins"] += 1
    elif name in ("BroadcastHashJoin", "BroadcastNestedLoopJoin"):
        out["plan.broadcast_joins"] += 1
    elif name == "CartesianProduct":
        out["plan.cartesian"] += 1
    elif name == "AQEShuffleRead":
        out["aqe.coalesced_reads"] += "coalesced" in desc
        out["aqe.single_partition_reads"] += metrics.get("number of partitions") == 1
    if "SinglePartition" in desc:
        out["plan.single_partition"] += 1
    if "time to run Python workers" in metrics:
        out["plan.python_nodes"] += 1
        for label, key in PYTHON_METRICS.items():
            out[key] += metrics.get(label) or 0.0


def shuffle_bytes_since(spark, first_job: int) -> float:
    """Shuffle bytes written by the stages of every job with id >=
    ``first_job``."""
    store = spark.sparkContext._jsc.sc().statusStore()
    stage_ids = set()
    for job in _seq(store.jobsList(None)):
        if job.jobId() >= first_job:
            stage_ids.update(_seq(job.stageIds()))
    return float(
        sum(store.lastStageAttempt(sid).shuffleWriteBytes() for sid in stage_ids)
    )


def next_job_id(spark) -> int:
    store = spark.sparkContext._jsc.sc().statusStore()
    return max((j.jobId() for j in _seq(store.jobsList(None))), default=-1) + 1
