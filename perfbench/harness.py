"""Shared machinery of the workloads: the Spark session, the
open-loop feed of pre-written input files, timed windows, and the
assembly of one run's report."""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

from perfbench import probes
from perfbench.tracing import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))

END_TO_END = {  # name -> unit
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "freshness_p50_ms": "ms",
    "freshness_p90_ms": "ms",
    "cpu_ms_per_1k_items": "ms",
}


def pct(values, q: float) -> float:
    """Nearest-rank percentile ``q`` (0..100); 0.0 for no values."""
    v = sorted(values)
    if not v:
        return 0.0
    k = max(0, min(len(v) - 1, -(-len(v) * q // 100) - 1))
    return float(v[int(k)])


class Context:
    """One run: its session, directories, tracer and counters."""

    def __init__(self, workload, seed, seconds, trace, run_dir, t_proc):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.run_dir, self.t_proc = run_dir, t_proc
        self.tracer = Tracer(trace)
        self.trace = trace
        self.layers: dict[str, float] = {}
        self.notes: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.checks: dict[str, bool] = {}
        self.diag: dict = {}
        self.trace_cost_s = 0.0  # tracing work inside the timed window

    def dir(self, *parts) -> str:
        p = os.path.join(self.run_dir, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        """One output check: an attempted operation that fails the run
        when it does not hold."""
        self.attempted += 1
        self.checks[name] = bool(ok)
        if not ok:
            self.failed += 1
            self.notes.append(f"CHECK FAILED {name}: {detail}")

    # ------------------------------------------------------------ spark

    def start_spark(self) -> None:
        tmp = tempfile.gettempdir()
        heap = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "2g")
        with self.tracer.span("session.get_spark") as sp:
            from intelligencepipeline_spark import get_spark

            self.spark = get_spark(
                app_name="perfbench",
                extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    "spark.sql.streaming.numRecentProgressUpdates": "100000",
                    "spark.ui.retainedJobs": "100000",
                    "spark.ui.retainedStages": "100000",
                    "spark.sql.ui.retainedExecutions": "100000",
                    "spark.local.dir": tmp,
                    # A fixed heap (-Xms = driver memory): left to grow, G1
                    # sizes it from GC pause times, which follow host load,
                    # and every wall-clock metric spreads two to five times
                    # wider.
                    "spark.driver.extraJavaOptions":
                        f"-Xms{heap} -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                },
            )
        self.layers["session.get_spark_s"] = sp["s"]
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid
        self.diag["spark_master"] = self.spark.sparkContext.master
        self.diag["cores"] = len(os.sched_getaffinity(0))

    def stop_spark(self) -> None:
        """Stop the session and wait for the JVM (and with it the
        Python workers it forked) to exit."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        try:
            self.spark.stop()
        finally:
            if gw is not None:
                gw.shutdown()
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)

    # ------------------------------------------------------------- feed

    def feed(self, files: list[tuple[float, str, str]], t0: float) -> list[dict]:
        """Replay ``(due_offset_s, staged, final)`` renames from ``t0``
        in a separate generator process; returns its per-file record."""
        plan = os.path.join(self.dir("feed"), f"plan-{time.time_ns()}.json")
        result = plan.replace("plan-", "result-")
        with open(plan, "w") as fh:
            json.dump({"t0": t0, "files": files}, fh)
        last = max((f[0] for f in files), default=0.0)
        subprocess.run(
            [sys.executable, os.path.join(HERE, "feeder.py"), plan, result],
            check=True, timeout=last + (t0 - time.time()) + 60,
        )
        with open(result) as fh:
            return json.load(fh)

    # ----------------------------------------------------------- report

    def report(self, e2e: dict) -> dict:
        if self.trace:
            metrics = {k: {"value": float(v), "unit": UNITS[k]}
                       for k, v in sorted(self.layers.items())}
        else:
            metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
        result = {"correct": self.failed == 0, "attempted": int(max(1, self.attempted)),
                  "failed": int(self.failed), "metrics": metrics}
        self.notes += [f"{k} = {v:.4g} {END_TO_END[k]}" for k, v in e2e.items()]
        out = {"result": result, "workload": self.workload, "seed": self.seed,
               "seconds": self.seconds, "trace": self.trace, "end_to_end": e2e,
               "layers": self.layers, "checks": self.checks, "host": self.diag,
               "notes": self.notes}
        if self.trace:
            out["spans"] = {"run": self.tracer.run_id, "spans": self.tracer.spans}
        return out


def host_diag(ctx: Context, win: probes.Window, sampler: probes.Sampler, late_ms: float) -> None:
    """Host diagnostics written beside every run's metrics."""
    load = statistics.fmean(sampler.loads) if sampler.loads else probes.load1()
    ctx.diag.update(steal_s=win.steal_s, load1_mean=load, gen_late_ms_max=late_ms,
                    window_s=win.wall_s)
    ctx.layers.update({"host.steal_s": win.steal_s, "host.load1_mean": load,
                       "gen.late_ms_max": late_ms})
    ctx.notes.append(
        f"host: master={ctx.diag.get('spark_master')} cores={ctx.diag.get('cores')} "
        f"steal={win.steal_s:.2f}s load1={load:.2f} gen_late_max={late_ms:.1f}ms "
        f"window={win.wall_s:.2f}s")


def exec_layers(ctx: Context, win: probes.Window, items: int, batches: int) -> None:
    e = win.exec
    k = 1000.0 / max(1, items)
    ctx.layers.update({
        "sources.scans_per_batch": e["input_records"] / max(1, items),
        "exec.jobs_per_batch": e["jobs"] / max(1, batches),
        "exec.stages_per_batch": e["stages"] / max(1, batches),
        "exec.tasks_per_1k": e["tasks"] * k,
        "exec.cpu_ms_per_1k": e["cpu_ms"] * k,
        "exec.run_ms_per_1k": e["run_ms"] * k,
        "exec.gc_ms_per_1k": e["gc_ms"] * k,
        "exec.shuffle_write_bytes_per_1k": e["shuffle_write_bytes"] * k,
        "exec.shuffle_read_bytes_per_1k": e["shuffle_read_bytes"] * k,
        "python.worker_cpu_ms_per_1k": win.py_cpu_s * 1000.0 * k,
    })


def run(workload, seed, seconds, trace, run_dir, t_proc) -> dict:
    from perfbench import workloads

    ctx = Context(workload, seed, seconds, trace, run_dir, t_proc)
    try:
        e2e = getattr(workloads, workload)(ctx)
    except Exception as e:  # a failed micro-batch stops its query and lands here
        traceback.print_exc()
        ctx.check("run.completed", False, repr(e)[:500])
        e2e = dict.fromkeys(END_TO_END, 0.0)
    finally:
        if hasattr(ctx, "spark"):
            ctx.stop_spark()
    if trace and "window_s" in ctx.diag:
        ctx.layers["trace.overhead_share"] = ctx.trace_cost_s / ctx.diag["window_s"]
    for name in UNITS:
        ctx.layers.setdefault(name, 0.0)
    return ctx.report(e2e)


# Per-layer metrics: name -> unit. Every workload reports all of them;
# a layer a workload does not exercise reads 0. README.md maps each to
# the end-to-end metric and workload it should move.
UNITS = {
    "session.get_spark_s": "s",
    "engine.build_ms": "ms",
    "engine.queries_started": "count",
    "engine.failed_producers": "count",
    "sources.scans_per_batch": "count",
    "sources.offset_ms_p50": "ms",
    "sources.ingest_lag_ms_p50": "ms",
    "stream.batch_ms_p50": "ms",
    "stream.batch_ms_p90": "ms",
    "stream.plan_ms_p50": "ms",
    "stream.add_batch_ms_p50": "ms",
    "stream.wal_ms_p50": "ms",
    "stream.items_per_batch_p50": "count",
    "stream.batches": "count",
    "stream.backlog_files_end": "count",
    "exec.jobs_per_batch": "count",
    "exec.stages_per_batch": "count",
    "exec.tasks_per_1k": "count",
    "exec.cpu_ms_per_1k": "ms",
    "exec.run_ms_per_1k": "ms",
    "exec.gc_ms_per_1k": "ms",
    "exec.shuffle_write_bytes_per_1k": "bytes",
    "exec.shuffle_read_bytes_per_1k": "bytes",
    "python.worker_cpu_ms_per_1k": "ms",
    "python.worker_pss_mb_peak": "MB",
    "exec.heap_after_gc_mb_peak": "MB",
    "backfill.docs_per_s": "1/s",
    "backfill.cpu_ms_per_1k": "ms",
    "consolidate.fold_ms": "ms",
    "consolidate.fold_shuffle_bytes": "bytes",
    "store.touched_buckets_p50": "count",
    "store.files_per_commit_p50": "count",
    "store.bytes_per_commit_p50": "bytes",
    "store.gen_dirs_deleted_per_commit": "count",
    "store.read_call_ms_p50": "ms",
    "store.lookup_exec_ms_p50": "ms",
    "store.lookup_ms_p50": "ms",
    "store.lookup_ms_p90": "ms",
    "store.lookups": "count",
    "store.lookup_failed": "count",
    "store.lookup_failed_share": "ratio",
    "gen.late_ms_max": "ms",
    "host.steal_s": "s",
    "host.load1_mean": "count",
    "trace.overhead_share": "ratio",
}
