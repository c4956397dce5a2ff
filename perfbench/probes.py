"""Measurements taken from outside the program under test.

* ``/proc``: CPU seconds of the Spark JVM and the Python workers it
  forks, the workers' resident memory, host steal and load.
* The JVM's garbage collectors, over py4j: heap occupancy after GC.
* Spark's status store, read over py4j (works with the UI disabled):
  jobs, stages, executor run/CPU/GC time, shuffle bytes.
* The streaming checkpoint's file-source log: which input file each
  micro-batch read.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import threading
import time
from urllib.parse import unquote, urlparse

_TICK = os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    kids = _children()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of the tree, including reaped children
    (a worker that exited is charged to the parent that waited for it)."""
    total = 0
    for p in tree(root):
        f = _stat(p)
        if f:
            total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / _TICK


def _python(root: int) -> list[int]:
    """The Python processes under the JVM: the pyspark daemon and the
    workers it forks."""
    out = []
    for p in tree(root):
        try:
            with open(f"/proc/{p}/comm") as fh:
                if fh.read().startswith("python"):
                    out.append(p)
        except OSError:
            continue
    return out


def python_workers_pss_mb(root: int) -> float:
    """Resident memory of the Python processes under the JVM as
    proportional set size: a page the forked workers share with the
    pyspark daemon is split between them, not counted once per worker
    as a sum of RSS would."""
    total = 0
    for p in _python(root):
        try:
            with open(f"/proc/{p}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total / 1024


def python_workers_cpu_s(root: int) -> float:
    """CPU seconds of the Python processes under the JVM (reaped ones
    included)."""
    total = 0
    for p in _python(root):
        f = _stat(p)
        if f:
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def host_steal_s() -> float:
    with open("/proc/stat") as fh:
        f = fh.readline().split()
    return int(f[8]) / _TICK if len(f) > 8 else 0.0


def load1() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


class HeapAfterGc:
    """JVM heap occupancy right after its most recent garbage collection,
    read from the collectors' ``GcInfo`` over py4j: the heap the program
    holds, whatever size the heap itself has."""

    def __init__(self, spark):
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self.beans = list(mf.getGarbageCollectorMXBeans())
        self.seen: dict[int, int] = {}

    def new_mb(self) -> list[float]:
        """Occupancy after each collector's latest collection not yet
        seen."""
        out = []
        for i, b in enumerate(self.beans):
            info = b.getLastGcInfo()
            if info is None or self.seen.get(i) == info.getId():
                continue
            self.seen[i] = info.getId()
            after = info.getMemoryUsageAfterGc()
            out.append(sum(after[k].getUsed() for k in after) / 2**20)
        return out


class Sampler:
    """Background sampler of the host load and the Python workers'
    memory, every ``period`` seconds; with ``heap`` also the JVM heap
    after GC (traced runs: each read is a py4j round trip)."""

    def __init__(self, root: int, heap: HeapAfterGc | None = None, period: float = 0.2):
        self.root, self.heap, self.period = root, heap, period
        self.py_pss_mb = 0.0
        self.heap_after_gc_mb = 0.0
        self.cost_s = 0.0  # time spent reading the heap
        self.loads: list[float] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        n = 0
        if self.heap:
            self.heap.new_mb()  # collections before the window do not count
        while not self._stop.is_set():
            self.py_pss_mb = max(self.py_pss_mb, python_workers_pss_mb(self.root))
            if self.heap:
                t0 = time.perf_counter()
                self.heap_after_gc_mb = max([self.heap_after_gc_mb, *self.heap.new_mb()])
                self.cost_s += time.perf_counter() - t0
            if n % 5 == 0:
                self.loads.append(load1())
            n += 1
            self._stop.wait(self.period)

    def __enter__(self) -> "Sampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class Window:
    """CPU, steal and status-store counters over one timed window."""

    def __init__(self, spark, jvm_pid: int):
        self.spark, self.jvm_pid = spark, jvm_pid

    def __enter__(self) -> "Window":
        self.stage0 = max_stage_id(self.spark)
        self.job0 = max_job_id(self.spark)
        self.cpu0 = tree_cpu_s(self.jvm_pid)
        self.py0 = python_workers_cpu_s(self.jvm_pid)
        self.steal0 = host_steal_s()
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall_s = time.perf_counter() - self.t0
        self.cpu_s = tree_cpu_s(self.jvm_pid) - self.cpu0
        self.py_cpu_s = python_workers_cpu_s(self.jvm_pid) - self.py0
        self.steal_s = host_steal_s() - self.steal0
        self.exec = executor_totals(self.spark, self.stage0, self.job0)


# ---------------------------------------------------------- status store


def _store(spark):
    return spark.sparkContext._jsc.sc().statusStore()


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def _stages(spark) -> list:
    sc = spark.sparkContext
    q = sc._gateway.new_array(sc._jvm.double, 0)
    lst = sc._jvm.java.util.ArrayList
    return _seq(_store(spark).stageList(lst(), False, False, q, lst()))


def max_stage_id(spark) -> int:
    return max((s.stageId() for s in _stages(spark)), default=-1)


def max_job_id(spark) -> int:
    jobs = _seq(_store(spark).jobsList(spark.sparkContext._jvm.java.util.ArrayList()))
    return max((j.jobId() for j in jobs), default=-1)


def executor_totals(spark, after_stage: int, after_job: int) -> dict:
    """Sum executor metrics over stages and jobs started after the
    given ids (skipped stages carry no tasks and add nothing)."""
    tot = dict(jobs=0, stages=0, tasks=0, run_ms=0.0, cpu_ms=0.0, gc_ms=0.0,
               shuffle_write_bytes=0, shuffle_read_bytes=0, input_records=0)
    for s in _stages(spark):
        if s.stageId() <= after_stage or s.numTasks() == 0:
            continue
        if s.numCompleteTasks() == 0:
            continue
        tot["stages"] += 1
        tot["tasks"] += s.numCompleteTasks()
        tot["run_ms"] += s.executorRunTime()
        tot["cpu_ms"] += s.executorCpuTime() / 1e6
        tot["gc_ms"] += s.jvmGcTime()
        tot["shuffle_write_bytes"] += s.shuffleWriteBytes()
        tot["shuffle_read_bytes"] += s.shuffleReadBytes()
        tot["input_records"] += s.inputRecords()
    jobs = _seq(_store(spark).jobsList(spark.sparkContext._jvm.java.util.ArrayList()))
    tot["jobs"] = sum(1 for j in jobs if j.jobId() > after_job)
    return tot


# ------------------------------------------------------------ checkpoint


def source_batches(checkpoint: str) -> dict[str, int]:
    """Input file name -> id of the micro-batch that read it, from the
    file source's metadata log in a query checkpoint (plain and
    compacted log files alike)."""
    out: dict[str, int] = {}
    log_dir = os.path.join(checkpoint, "sources", "0")
    if not os.path.isdir(log_dir):
        return out
    for name in os.listdir(log_dir):
        if name.startswith("."):
            continue
        with open(os.path.join(log_dir, name)) as fh:
            for line in fh:
                line = line.strip()
                if not line.startswith("{"):
                    continue
                e = json.loads(line)
                path = unquote(urlparse(e["path"]).path)
                out[os.path.basename(path)] = int(e["batchId"])
    return out


def progress_rows(query) -> list[dict]:
    """Per-batch facts from ``StreamingQueryProgress``: batch id,
    start and end (epoch seconds) and the ``durationMs`` phases.
    ``numInputRows`` is deliberately not used: under foreachBatch it
    double-counts."""
    rows = []
    for p in query.recentProgress:
        start = dt.datetime.strptime(p.timestamp.rstrip("Z"), "%Y-%m-%dT%H:%M:%S.%f").replace(
            tzinfo=dt.timezone.utc).timestamp()
        rows.append({
            "batch": int(p.batchId),
            "start": start,
            "end": start + p.durationMs.get("triggerExecution", 0) / 1000.0,
            "ms": dict(p.durationMs),
        })
    return rows
