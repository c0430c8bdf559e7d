"""Benchmark entry point.

    python3 perfbench/run.py --workload {query_mix,geo_etl,stream_ingest}
        --seed N --seconds S --trace {0,1}

One process, one closed-loop client, Spark on local[<cpus>]. The run
generates its inputs from the seed under ``.perfbench/`` in the
repository root, starts the session, makes the workload's warm passes
(set-up), then runs whole passes of the workload until at least ``--seconds`` seconds of
timed work are done. Every operation's output is checked outside the
timed region. The last stdout line is one JSON object: with ``--trace 0``
the end-to-end metrics, with ``--trace 1`` the per-layer metrics of a
traced timed phase between two untraced ones.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import inputs  # noqa: E402
from perfbench.stats import (  # noqa: E402
    Outcomes, Span, check_metric_name, check_unit, latency_summary, self_times,
)

WORKLOADS = ("query_mix", "geo_etl", "stream_ingest")
END_TO_END = {
    "setup_s": "s", "wall_s": "s", "ops_per_s": "1/s", "rows_per_s": "1/s",
    "latency_p50_s": "s", "latency_tail_s": "s", "peak_rss_mb": "MB",
    "bytes_written_per_input_byte": "B/B",
}
PER_LAYER = {
    "build.s": "s", "build.jobs": "count", "exec.s": "s",
    "span.op.self_s": "s", "trace.overhead_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.single_task_stages": "count", "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s", "spark.gc_s": "s", "spark.idle_s": "s",
    "scan.input_bytes": "B", "scan.input_rows": "count",
    "shuffle.write_bytes": "B", "shuffle.read_bytes": "B",
    "shuffle.spill_bytes": "B", "aqe.coalesced_reads": "count",
    "aqe.single_partition_reads": "count",
    "python.eval_s": "s", "python.boot_s": "s", "python.bytes_sent": "B",
    "python.bytes_received": "B",
    "plan.exchanges": "count", "plan.python_nodes": "count",
    "plan.sort_merge_joins": "count", "plan.broadcast_joins": "count",
    "plan.single_partition": "count", "plan.cartesian": "count",
    "etl.convert_s": "s", "etl.compact_write_s": "s", "etl.readback_s": "s",
    "etl.qa_s": "s", "io.bytes_written": "B", "io.files_written": "count",
    "stream.batches": "count", "stream.trigger_ms": "ms",
    "stream.planning_ms": "ms", "stream.add_batch_ms": "ms",
    "stream.wal_commit_ms": "ms", "state.commit_ms": "ms",
    "state.rows_total": "count", "state.rows_updated": "count",
    "state.memory_bytes": "B", "checkpoint.bytes": "B",
    "failed_frac": "1", "latency_tail.pct": "%", "latency_tail.samples": "count",
}
# Child spans whose durations are reported as per-layer metrics.
SPAN_METRICS = {
    "build": "build.s", "exec": "exec.s", "convert": "etl.convert_s",
    "compact_write": "etl.compact_write_s", "readback": "etl.readback_s",
    "qa": "etl.qa_s",
}
for _name, _unit in (*END_TO_END.items(), *PER_LAYER.items()):
    check_metric_name(_name)
    check_unit(_unit)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def engine_fixtures(run_dir: str, fixture_dir: str, seeded: set[str]) -> None:
    """Link the engine's own fixed-seed fixtures into ``fixture_dir``.

    Importing ``gis_etl_spark.queries`` generates every fixture its
    oracle SQL names (seed 42, independent of the benchmark seed). They
    are generated once per checkout, in a child process, into a cache
    keyed by the generator's source, outside the measured set-up; the
    seeded entries in ``seeded`` are written per run instead."""
    with open(os.path.join(ROOT, "gis_etl_spark", "fixtures.py"), "rb") as f:
        key = hashlib.sha1(f.read()).hexdigest()[:12]
    cache = os.path.join(WORK, f"engine-fixtures-{key}")
    if not os.path.isdir(cache):
        tmp = inputs.reset_dir(f"{cache}.tmp-{os.getpid()}")
        # the import reads the fixed sf0.01 documents table unless the
        # duplicate-injected corpus already exists
        docs = inputs.tpch_tables(0.01, 0)["documents"]
        os.makedirs(os.path.join(tmp, "documents_aug"))
        import pyarrow.parquet as pq

        pq.write_table(
            inputs.documents_aug(docs, 0),
            os.path.join(tmp, "documents_aug", "documents_aug.parquet"),
        )
        env = dict(os.environ, SPARK_GRAFT_FIXTURE_DIR=tmp)
        subprocess.run(
            [sys.executable, "-c", "import gis_etl_spark.queries"],
            env=env, cwd=run_dir, check=True, timeout=600,
        )
        os.rename(tmp, cache)
    for entry in os.listdir(cache):
        if entry not in seeded:
            os.symlink(os.path.join(cache, entry), os.path.join(fixture_dir, entry))


class Runner:
    def __init__(self, args) -> None:
        self.args = args
        self.trace = bool(args.trace)
        self.run_dir = inputs.reset_dir(
            os.path.join(WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}")
        )
        self.fixture_dir = inputs.reset_dir(os.path.join(self.run_dir, "fixtures"))
        tmp = inputs.reset_dir(os.path.join(self.run_dir, "tmp"))
        local = inputs.reset_dir(os.path.join(self.run_dir, "spark-local"))
        pythonpath = os.environ.get("PYTHONPATH")
        os.environ.update(
            # pandas-UDF workers import the engine by module path
            PYTHONPATH=ROOT + (os.pathsep + pythonpath if pythonpath else ""),
            SPARK_GRAFT_FIXTURE_DIR=self.fixture_dir,
            SPARK_LOCAL_DIRS=local,
            TMPDIR=tmp,
            # every JVM, the spark-submit launcher included
            JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        )
        self.conf = {
            "spark.ui.enabled": "false",
            # A fixed-size heap: G1 does not grow it on GC timing, so
            # peak_rss_mb does not move with how busy the host was.
            "spark.driver.extraJavaOptions": "-Xms1g",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
        }
        self.outcomes = Outcomes()
        self.spans: list[Span] = []
        self.layers: list[dict] = []  # per traced operation
        self.collector = None
        self._next_id = 0

    # -- spans ---------------------------------------------------------------
    def _new_id(self) -> int:
        self._next_id += 1
        return self._next_id

    def execute(self, op, record: list) -> None:
        """Run one operation; append (latency, OpResult, bytes written) to
        ``record`` when it succeeds, and count its outcome either way."""
        name, prep, body = op
        prep()
        op_id = self._new_id()
        spans: list[Span] = []
        stack = [op_id]
        build_jobs = [0.0]

        @contextmanager
        def span(label):
            sid = self._new_id()
            parent = stack[-1]
            stack.append(sid)
            t0 = time.time()
            try:
                yield
            finally:
                spans.append(Span(sid, parent, op_id, label, t0, time.time()))
                stack.pop()
                if label == "build" and self.collector is not None:
                    build_jobs[0] = float(self.collector.jobs_so_far())

        if self.collector is not None:
            self.collector.begin(op_id, name)
        t0 = time.time()
        try:
            result = body(span)
            error = None
        except Exception as e:  # noqa: BLE001 - an operation failure is counted, not fatal
            result, error = None, f"raised {type(e).__name__}: {e}"
        t1 = time.time()
        spans.append(Span(op_id, None, op_id, name, t0, t1))
        layer = None
        if self.collector is not None:
            layer = self.collector.end((t0, t1))
            layer["build.jobs"] = build_jobs[0]
        if result is not None:
            written = {"io.bytes_written": 0.0, "io.files_written": 0.0,
                       "checkpoint.bytes": 0.0}
            for kind, path in result.outputs:
                if kind == "checkpoint":
                    written["checkpoint.bytes"] += inputs.dir_bytes(path)
                else:
                    written["io.bytes_written"] += inputs.dir_bytes(path)
                    written["io.files_written"] += inputs.dir_files(path)
            try:
                error = result.check()
            except Exception as e:  # noqa: BLE001 - a failing check is a wrong result
                error = f"check raised {type(e).__name__}: {e}"
            finally:
                result.cleanup()
        self.outcomes.record(name, error)
        if error is not None:
            return
        self.spans.extend(spans)
        record.append((t1 - t0, result, written))
        if layer is not None:
            selfs = self_times(spans)
            layer["span.op.self_s"] = selfs[op_id]
            for s in spans:
                key = SPAN_METRICS.get(s.name)
                if key:
                    layer[key] = layer.get(key, 0.0) + s.duration
            layer.update(written)
            self.layers.append(layer)

    def timed_phase(self, passes, seconds: float) -> dict:
        """Whole passes until ``seconds`` of timed work are done."""
        from perfbench.collector import next_job_id, shuffle_bytes_since

        first_job = next_job_id(self.spark)
        pass_walls, record = [], []
        while sum(pass_walls) < seconds:
            n0 = len(record)
            for op in next(passes):
                self.execute(op, record)
            if len(record) == n0:
                raise RuntimeError("every operation of a timed pass failed")
            pass_walls.append(sum(lat for lat, _, _ in record[n0:]))
        shuffle = shuffle_bytes_since(self.spark, first_job)
        busy = sum(lat for lat, _, _ in record)
        rows = sum(r.rows_in for _, r, _ in record)
        bytes_in = sum(r.bytes_in for _, r, _ in record)
        written = sum(
            w["io.bytes_written"] + w["checkpoint.bytes"] for _, _, w in record
        )
        return {
            "latencies": [lat for lat, _, _ in record],
            "wall_s": statistics.median(pass_walls),
            "ops_per_s": len(record) / busy if busy else 0.0,
            "rows_per_s": rows / busy if busy else 0.0,
            "bytes_written_per_input_byte": (written + shuffle) / bytes_in,
        }

    # -- the run ------------------------------------------------------------------
    def run(self) -> dict:
        args = self.args
        from perfbench import workloads as W

        if args.workload == "query_mix":
            wl = W.QueryMix(self.run_dir, self.fixture_dir, args.seed)
            engine_fixtures(self.run_dir, self.fixture_dir, {"documents_aug"})
        elif args.workload == "geo_etl":
            wl = W.GeoEtl(self.run_dir, args.seed)
        else:
            wl = W.StreamIngest(self.run_dir, args.seed)

        # Set-up = seeded input generation + session start + warm passes.
        t_start = time.perf_counter()
        wl.generate()
        from gis_etl_spark.session import get_spark

        self.spark = get_spark(
            "perfbench", master=f"local[{cpus()}]", extra_conf=self.conf
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        wl.prepare(self.spark)
        passes = wl.passes(random.Random(args.seed))
        for _ in range(wl.warm_passes):  # caches fill, JIT compiles
            for op in next(passes):
                self.execute(op, [])
        setup_s = time.perf_counter() - t_start

        untraced = self.timed_phase(passes, args.seconds / (2 if self.trace else 1))
        lat = latency_summary(untraced["latencies"])
        metrics = {
            "setup_s": setup_s,
            "wall_s": untraced["wall_s"],
            "ops_per_s": untraced["ops_per_s"],
            "rows_per_s": untraced["rows_per_s"],
            "latency_p50_s": lat["p50"],
            "latency_tail_s": lat["tail"],
            "bytes_written_per_input_byte": untraced["bytes_written_per_input_byte"],
        }
        if self.trace:
            from perfbench.collector import Collector, StreamProgress

            listener = None
            if args.workload == "stream_ingest":
                listener = StreamProgress()
                self.spark.streams.addListener(listener)
            self.collector = Collector(self.spark, listener)
            traced = self.timed_phase(passes, args.seconds / 2)
            # Untraced again after the traced phase, so the overhead is not
            # confounded with the JVM still warming from pass to pass.
            self.collector = None
            if listener is not None:
                self.spark.streams.removeListener(listener)
            after = self.timed_phase(passes, args.seconds / 2)
            per_layer = {
                k: statistics.fmean(layer.get(k, 0.0) for layer in self.layers)
                for k in PER_LAYER
            }
            per_layer["trace.overhead_s"] = traced["wall_s"] - statistics.fmean(
                (untraced["wall_s"], after["wall_s"])
            )
            per_layer["latency_tail.pct"] = lat["tail_pct"]
            per_layer["latency_tail.samples"] = float(lat["n"])
            per_layer["failed_frac"] = self.outcomes.failed_frac
            self._write_trace(per_layer)
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        metrics["peak_rss_mb"] = vm_hwm_mb(jvm_pid) + vm_hwm_mb(os.getpid())
        print(
            f"# {args.workload} seed={args.seed}: {lat['n']} timed ops, "
            f"tail = p{lat['tail_pct']:.1f} of {lat['n']} samples, "
            f"failed {self.outcomes.failed}/{self.outcomes.attempted}, "
            f"set-up {setup_s:.2f} s"
        )
        for failure in self.outcomes.failures:
            print(f"# FAILED {failure}")
        if self.trace:
            return {k: (per_layer[k], u) for k, u in PER_LAYER.items()}
        return {k: (metrics[k], u) for k, u in END_TO_END.items()}

    def _write_trace(self, per_layer: dict) -> None:
        out = os.path.join(WORK, "traces")
        os.makedirs(out, exist_ok=True)
        selfs = self_times(self.spans)
        doc = {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "per_layer": per_layer,
            "operations": self.layers,
            "spans": [
                {**vars(s), "self_s": selfs[s.span_id]} for s in self.spans
            ],
        }
        path = os.path.join(out, f"{self.args.workload}-seed{self.args.seed}.json")
        with open(path, "w") as f:
            json.dump(doc, f)
        print(f"# trace written to {os.path.relpath(path, ROOT)}")

    def close(self) -> None:
        """Stop Spark and wait for its JVM (and the Python workers it
        forked) to exit, then remove the run's scratch directory."""
        try:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            if getattr(self, "spark", None) is not None:
                self.spark.stop()
            if gateway is not None:
                proc = getattr(gateway, "proc", None)
                gateway.shutdown()
                if proc is not None:
                    proc.stdin.close()
                    try:
                        proc.wait(timeout=60)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait()
        finally:
            shutil.rmtree(self.run_dir, ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # Fails fast, before any output, outside a full checkout.
    import gis_etl_spark  # noqa: F401

    runner = Runner(args)
    try:
        metrics = runner.run()
        outcomes = runner.outcomes
    finally:
        runner.close()
    print(json.dumps({
        "correct": outcomes.failed == 0,
        "attempted": outcomes.attempted,
        "failed": outcomes.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
