"""Pipeline benchmark entry point.

    python3 perfbench/run.py --workload enrich_stream --seed 1 --seconds 15 --trace 0

Runs one workload against the engine in this checkout, checks its
outputs and prints one JSON object as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the per-layer
ones, and the run's spans are written beside its report under
``perfbench/.work/results/``. Everything the run writes stays under
``perfbench/.work/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("enrich_stream", "consolidate_rw")


def process_start_epoch() -> float:
    """Wall-clock start of this process, from /proc."""
    with open("/proc/self/stat") as fh:
        ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as fh:
        btime = next(int(line.split()[1]) for line in fh if line.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def _isolate(run_dir: str) -> None:
    """Point every temporary and scratch location of Spark and the
    engine into ``run_dir``; must run before pyspark is imported."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    os.environ.update({
        "TMPDIR": tmp,
        "IP_SCRATCH": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        "SPARK_GRAFT_WAREHOUSE": os.path.join(run_dir, "warehouse"),
        "SPARK_GRAFT_CPUS": str(cores),
        # The engine's default heap (24 GB) exceeds what a shared host can
        # spare; 2 GB holds the working set of both workloads.
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "PYTHONDONTWRITEBYTECODE": "1",
        "MALLOC_ARENA_MAX": "2",
    })


def _sweep_dead_runs() -> None:
    """Remove run directories left by runs that were killed."""
    if not os.path.isdir(WORK):
        return
    for d in os.listdir(WORK):
        pid = d.rsplit("-", 1)[-1]
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    t_proc = process_start_epoch()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "intelligencepipeline_spark")):
        print("perfbench: the engine package is not in this checkout", file=sys.stderr)
        return 2
    _sweep_dead_runs()
    run_dir = os.path.join(WORK, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    try:
        _isolate(run_dir)
        sys.path.insert(0, ROOT)
        from perfbench import harness

        report = harness.run(args.workload, args.seed, args.seconds, bool(args.trace),
                             run_dir, t_proc)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    stem = os.path.join(results, f"{args.workload}-s{args.seed}-t{args.trace}")
    spans = report.pop("spans", None)
    if spans is not None:
        with open(stem + "-spans.json", "w") as fh:
            json.dump(spans, fh)
    with open(stem + ".json", "w") as fh:
        json.dump(report, fh, indent=1, sort_keys=True)
    for line in report["notes"]:
        print(line)
    print(json.dumps(report["result"]))
    return 0 if report["result"]["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
