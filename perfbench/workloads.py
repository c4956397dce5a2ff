"""The two workloads. Each returns its end-to-end metrics and fills
the context with per-layer numbers, checks and diagnostics.

Sizes are fixed per ``--seconds`` so that every run of a workload does
the same work: the steady phase lasts a fixed share of the window at
a fixed rate, and the burst backlogs are sized from a fixed nominal drain
rate (not from anything measured in the run).
"""

from __future__ import annotations

import os
import random
import statistics
import threading
import time

from pyspark.sql import functions as F

from perfbench import checks, corpus, probes
from perfbench.harness import exec_layers, host_diag, pct
from perfbench.pipeline import DOC_DDL, build_engine, write_docs, write_events

WARM_S = 1.0  # open-loop warm-up at the steady rate, after one cold file

# enrich_stream: 25-doc files at 250 docs/s (10 files/s), so 20 s runs
# hold 120 steady files (12 beyond p90); the steady rate leaves the
# 4-core drain (~3,500 docs/s on large files) well ahead of the load.
# Throughput is the median of three bursts (8,000 docs each at 20 s
# runs): one burst drains in about two seconds, and single bursts of
# one run differ by up to a fifth.
ES_FILE_DOCS, ES_RATE, ES_BURST_RATE, ES_BURSTS = 25, 250, 3000, 3
ES_STEADY_SHARE = 0.6
# consolidate_rw: 25-event files at 500 events/s; every commit rewrites
# all 64 buckets, so batches take seconds whatever their size. Its
# freshness moves in steps of one commit, so the steady phase takes 80%
# of the window (six to seven commits at 20 s runs). The burst (40,000
# events at 20 s runs) drains in about 4 s, long enough that a second of
# host steal or one lookup more or less barely moves it.
CR_FILE_EVENTS, CR_RATE, CR_BURST_RATE, CR_BURSTS = 25, 500, 10000, 1
CR_STEADY_SHARE = 0.8
CR_BUCKETS, CR_SPREAD = 64, 1000  # a doc's events scatter over ~2 s of feed
# A lookup takes about a second (listing, schema merge, scan of 64
# buckets); a 1 s think time keeps it from taking the cores commits need.
LOOKUP_THINK_S = 1.0
# The burst lands as few large files: small files cost the engine far
# more per item, and a short rename loop keeps one trigger from
# splitting the burst.
BURST_FILE_ITEMS = 500
# The warm-up ends with a burst as large as one timed enrich_stream
# burst: the first large batch of a run drains up to a fifth slower than
# the ones after it.
WARM_BURST_FILES = 16


# ------------------------------------------------------------------ staging


class Staged:
    """Input files written in full before the run, renamed into the
    watched directory when due. ``items`` is the generator's ledger:
    file name -> list of (item id, sha1)."""

    def __init__(self, ctx, kind: str):
        self.stage = ctx.dir("stage")
        self.inbox = ctx.dir("in")
        self.kind = kind
        self.phases: dict[str, list[str]] = {}
        self.items: dict[str, list[tuple[int, str]]] = {}

    def add(self, phase: str, name: str, rows: list[dict], write) -> None:
        write(os.path.join(self.stage, name), rows)
        self.phases.setdefault(phase, []).append(name)
        if self.kind == "docs":
            self.items[name] = [(r["doc_id"], corpus.sha1(r["content"])) for r in rows]
        else:
            self.items[name] = [(r["doc_id"], corpus.event_digest(r)) for r in rows]

    def n_items(self, names) -> int:
        return sum(len(self.items[n]) for n in names)

    def plan(self, phase: str, rate_files: float) -> list[tuple[float, str, str]]:
        return [(k / rate_files, os.path.join(self.stage, n), os.path.join(self.inbox, n))
                for k, n in enumerate(self.phases[phase])]

    def land_now(self, phase: str) -> float:
        """Move a whole phase into the watched directory at once. The
        burst comes in few large files, so the rename loop takes well
        under a millisecond and a trigger rarely splits it."""
        t = time.time()
        for n in self.phases[phase]:
            os.rename(os.path.join(self.stage, n), os.path.join(self.inbox, n))
        return t

    def ledger(self) -> list[tuple[int, str]]:
        return [it for n in sorted(self.items) for it in self.items[n]]


def _files(ctx, rate, steady_share, burst_rate, per_file, bursts) -> list[tuple[str, int, int]]:
    """(phase, number of files, items per file) of a run."""
    s = ctx.seconds
    burst = max(1, round((1 - steady_share) * s * burst_rate / BURST_FILE_ITEMS / bursts))
    return [
        ("warm", 1 + max(1, int(WARM_S * rate / per_file)), per_file),
        ("warm_burst", WARM_BURST_FILES, BURST_FILE_ITEMS),
        ("steady", max(1, int(steady_share * s * rate / per_file)), per_file),
    ] + [(f"burst{j}", burst, BURST_FILE_ITEMS) for j in range(bursts)]


def _await(queries) -> None:
    for q in queries:
        q.processAllAvailable()


def _warm_up(ctx, staged: Staged, queries, rate_files: float) -> None:
    """Push the disjoint warm-up slice through the started queries: one
    file alone (the cold first batch), an open-loop replay, then a
    burst."""
    plan = staged.plan("warm", rate_files)
    os.rename(*plan[0][1:])  # the cold first batch, alone
    _await(queries)
    plan = plan[1:]
    plan = [(d - plan[0][0], s, t) for d, s, t in plan]
    ctx.feed(plan, time.time() + 0.2)
    _await(queries)
    staged.land_now("warm_burst")
    _await(queries)


# ------------------------------------------------------------- stream facts


class StreamFacts:
    """Per-batch facts of the started queries, joined with the feed
    record: which batch of which query committed each input file."""

    def __init__(self, queries, checkpoints: list[str]):
        self.batches = []  # (query index, progress row)
        self.file_batch: list[dict[str, int]] = []
        for qi, (q, ck) in enumerate(zip(queries, checkpoints)):
            for row in probes.progress_rows(q):
                if "addBatch" in row["ms"]:
                    self.batches.append((qi, row))
            self.file_batch.append(probes.source_batches(ck))
        self.end = {(qi, r["batch"]): r["end"] for qi, r in self.batches}
        self.start = {(qi, r["batch"]): r["start"] for qi, r in self.batches}

    def visible(self, name: str) -> float:
        """When ``name`` was committed by every query that reads it."""
        return max(self.end[(qi, fb[name])] for qi, fb in enumerate(self.file_batch))

    def first_start(self, name: str) -> float:
        return min(self.start[(qi, fb[name])] for qi, fb in enumerate(self.file_batch))

    def in_window(self, t0: float, t1: float):
        return [(qi, r) for qi, r in self.batches if r["start"] >= t0 - 1e-3 and r["end"] <= t1 + 1.0]


def _stream_metrics(ctx, staged: Staged, facts: StreamFacts, fed: list[dict],
                    t_win0: float, t_steady_end: float, t_land: dict[str, float],
                    win, sampler) -> dict:
    steady = staged.phases["steady"]
    fresh = [(facts.visible(r["file"]) - r["due"]) * 1000.0 for r in fed]
    ends = {p: max(facts.visible(n) for n in staged.phases[p]) for p in t_land}
    rates = [staged.n_items(staged.phases[p]) / (ends[p] - t) for p, t in t_land.items()]
    burst_end = max(ends.values())
    items = staged.n_items(steady) + sum(staged.n_items(staged.phases[p]) for p in t_land)
    window = facts.in_window(t_win0, burst_end)
    ms = [r["ms"] for _, r in window]
    items_per_batch: dict[tuple[int, int], int] = {}
    for qi, fb in enumerate(facts.file_batch):
        for name, b in fb.items():
            if name.startswith(("steady", "burst")):
                items_per_batch[(qi, b)] = items_per_batch.get((qi, b), 0) + len(staged.items[name])
    late = max((r["landed"] - r["due"]) * 1000.0 for r in fed)
    ctx.layers.update({
        "sources.offset_ms_p50": pct([m.get("latestOffset", 0) + m.get("getBatch", 0) for m in ms], 50),
        "sources.ingest_lag_ms_p50": pct(
            [(facts.first_start(r["file"]) - r["landed"]) * 1000.0 for r in fed], 50),
        "stream.batch_ms_p50": pct([m["triggerExecution"] for m in ms], 50),
        "stream.batch_ms_p90": pct([m["triggerExecution"] for m in ms], 90),
        "stream.plan_ms_p50": pct([m.get("queryPlanning", 0) for m in ms], 50),
        "stream.add_batch_ms_p50": pct([m.get("addBatch", 0) for m in ms], 50),
        "stream.wal_ms_p50": pct([m.get("walCommit", 0) + m.get("commitOffsets", 0) for m in ms], 50),
        "stream.items_per_batch_p50": pct(list(items_per_batch.values()), 50),
        "stream.batches": len(window),
        "stream.backlog_files_end": sum(1 for n in steady if facts.visible(n) > t_steady_end),
    })
    exec_layers(ctx, win, items, len(window))
    host_diag(ctx, win, sampler, late)
    if ctx.trace:
        _batch_spans(ctx, facts, window)

    ctx.attempted += len(window)
    return {
        "throughput_per_s": statistics.median(rates),
        "freshness_p50_ms": pct(fresh, 50),
        "freshness_p90_ms": pct(fresh, 90),
        "cpu_ms_per_1k_items": win.cpu_s * 1e6 / items,
        "_samples": len(fresh),
        "_commits": len({facts.visible(r["file"]) for r in fed}),
        "_bursts": [(staged.n_items(staged.phases[p]), round(r),
                     len({facts.file_batch[0][n] for n in staged.phases[p]}))
                    for p, r in zip(t_land, rates)],
    }


_PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


def _batch_spans(ctx, facts: StreamFacts, window) -> None:
    """One span per micro-batch, its ``durationMs`` phases as children
    laid end to end in execution order."""
    tr = ctx.tracer
    for qi, r in window:
        sid = tr.add("stream.batch", r["start"], r["end"], ctx.window_span,
                     query=qi, batch=r["batch"])
        t = r["start"]
        for ph in _PHASES:
            d = r["ms"].get(ph)
            if d is not None:
                tr.add(f"stream.{ph}", t, t + d / 1000.0, sid, query=qi, batch=r["batch"])
                t += d / 1000.0


# ---------------------------------------------------------------- workloads


def enrich_stream(ctx) -> dict:
    """Open-loop file stream through ``Engine.run_streaming``."""
    staged = Staged(ctx, "docs")
    texts: dict[int, str] = {}
    with ctx.tracer.span("gen.inputs"):
        i = 0
        for phase, n_files, per_file in _files(ctx, ES_RATE, ES_STEADY_SHARE, ES_BURST_RATE,
                                               ES_FILE_DOCS, ES_BURSTS):
            for k in range(n_files):
                docs = corpus.documents(ctx.seed, i, per_file)
                staged.add(phase, f"{phase}-{k:05d}.parquet", docs, write_docs)
                texts.update((d["doc_id"], d["content"].decode("utf-8")) for d in docs)
                i += per_file
    ctx.start_spark()
    spark = ctx.spark
    out, ckpt = ctx.dir("out"), ctx.dir("ckpt")
    with ctx.tracer.span("engine.build") as sp:
        ingest = spark.readStream.schema(DOC_DDL).parquet(staged.inbox)
        eng = build_engine(spark, ingest)
        with ctx.tracer.span("engine.run_streaming"):
            queries = eng.run_streaming(out, ckpt, trigger_available_now=False)
    ctx.layers.update({"engine.build_ms": sp["s"] * 1000.0,
                       "engine.queries_started": len(queries),
                       "engine.failed_producers": len(eng.failed_producers)})
    # a producer that fails to build is dropped from both the stream and
    # the batch reference, so their equality alone would not show it
    ctx.check("enrich.no_failed_producers", not eng.failed_producers,
              repr(eng.failed_producers))
    rate_files = ES_RATE / ES_FILE_DOCS
    with ctx.tracer.span("warm_up"):
        _warm_up(ctx, staged, queries, rate_files)
    try:
        e2e = _timed_stream(ctx, staged, queries, [f"{ckpt}/datarecords", f"{ckpt}/chunks"],
                            rate_files)
    finally:
        for q in queries:
            q.stop()
    with ctx.tracer.span("check"):
        checks.guarded(ctx, "enrich", checks.enrich, staged, out, texts)
    return e2e


def _timed_stream(ctx, staged, queries, checkpoints, rate_files, during=None):
    """Steady open-loop phase, then the bursts, each landing once the
    one before is committed; ``during`` runs beside the whole window
    (the lookup client)."""
    ctx.setup_s = time.time() - ctx.t_proc
    heap = probes.HeapAfterGc(ctx.spark) if ctx.trace else None
    with probes.Sampler(ctx.jvm_pid, heap) as sampler, \
            probes.Window(ctx.spark, ctx.jvm_pid) as win, \
            ctx.tracer.span("window") as wsp:
        ctx.window_span = wsp["id"]
        t_win0 = time.time()
        stop = threading.Event()
        side = threading.Thread(target=during, args=(stop,)) if during else None
        if side:
            side.start()
        try:
            with ctx.tracer.span("steady"):
                fed = ctx.feed(staged.plan("steady", rate_files), t_win0 + 0.2)
                t_steady_end = time.time()
                _await(queries)
            t_land = {}
            for p in [p for p in staged.phases if p.startswith("burst")]:
                with ctx.tracer.span(p):
                    t_land[p] = staged.land_now(p)
                    _await(queries)
        finally:
            stop.set()
            if side:
                side.join(timeout=60)
    ctx.trace_cost_s += ctx.tracer.cost_s + sampler.cost_s
    ctx.layers.update({"python.worker_pss_mb_peak": sampler.py_pss_mb,
                       "exec.heap_after_gc_mb_peak": sampler.heap_after_gc_mb})
    facts = StreamFacts(queries, checkpoints)
    e2e = _stream_metrics(ctx, staged, facts, fed, t_win0, t_steady_end, t_land,
                          win, sampler)
    ctx.notes.append(f"freshness samples: {e2e.pop('_samples')} files "
                     f"made visible by {e2e.pop('_commits')} commits; "
                     f"bursts (items, items/s, batches per query): {e2e.pop('_bursts')}")
    e2e["setup_s"] = ctx.setup_s
    return e2e


def consolidate_rw(ctx) -> dict:
    """Open-loop event stream into ``consolidate_to_bucketed_table``
    with one closed-loop point-lookup client beside it."""
    from intelligencepipeline_spark.schemas import DATARECORD_EVENT_SCHEMA
    from intelligencepipeline_spark.streaming.pipeline import consolidate_to_bucketed_table

    files = _files(ctx, CR_RATE, CR_STEADY_SHARE, CR_BURST_RATE, CR_FILE_EVENTS, CR_BURSTS)
    n_events = sum(n * per_file for _, n, per_file in files)
    n_docs = int(n_events * (1 - corpus.HOT_EVENT_SHARE) / corpus.EVENTS_PER_DOC) + 1
    staged = Staged(ctx, "events")
    with ctx.tracer.span("gen.inputs"):
        events = corpus.event_stream(ctx.seed, n_docs, CR_SPREAD)[:n_events]
        i = 0
        for phase, n_files, per_file in files:
            for k in range(n_files):
                staged.add(phase, f"{phase}-{k:05d}.parquet", events[i:i + per_file],
                           write_events)
                i += per_file
    ctx.start_spark()
    spark = ctx.spark
    table, ckpt = ctx.dir("table"), ctx.dir("ckpt")
    with ctx.tracer.span("consolidate_to_bucketed_table"):
        stream = spark.readStream.schema(DATARECORD_EVENT_SCHEMA).parquet(staged.inbox)
        q = consolidate_to_bucketed_table(stream, table, n_buckets=CR_BUCKETS, checkpoint=ckpt,
                                          trigger_available_now=False, keep_gens=1)
    rate_files = CR_RATE / CR_FILE_EVENTS
    with ctx.tracer.span("warm_up"):
        _warm_up(ctx, staged, [q], rate_files)
    keys = sorted({k for n in staged.phases["warm"] for k, _ in staged.items[n]})
    client = LookupClient(ctx, table, keys)
    store = StoreWatcher(table) if ctx.trace else None
    try:
        if store:
            store.start()
        e2e = _timed_stream(ctx, staged, [q], [ckpt], rate_files, during=client.loop)
    finally:
        if store:
            store.stop()
        q.stop()
    client.report()
    if store:
        ctx.trace_cost_s += store.cost_s
        store.report(ctx)
    with ctx.tracer.span("check"):
        checks.guarded(ctx, "consolidate", checks.consolidate, staged, table)
    return e2e


class LookupClient:
    """One closed-loop client: a point lookup, a fixed think time, the
    next lookup. A failed lookup is counted against the attempts and
    never retried. A lookup that does not return exactly its one row
    fails too: every key looked up was committed in the warm-up, and a
    read that lists a generation directory while the commit GC deletes
    it sees that bucket empty."""

    def __init__(self, ctx, table: str, keys: list[int]):
        self.ctx, self.table, self.keys = ctx, table, keys
        self.ok: list[tuple[float, float]] = []  # (read call ms, collect ms)
        self.failed: dict[str, int] = {}

    def loop(self, stop: threading.Event) -> None:
        from intelligencepipeline_spark.streaming.pipeline import read_bucketed_snapshot

        rng = random.Random(self.ctx.seed)
        tr, parent = self.ctx.tracer, self.ctx.window_span
        while not stop.is_set():
            k = rng.choice(self.keys)
            with tr.span("store.lookup", parent=parent, key=k):
                try:
                    with tr.span("store.read_bucketed_snapshot") as rd:
                        df = read_bucketed_snapshot(self.ctx.spark, self.table)
                    with tr.span("store.collect") as ex:
                        rows = df.filter(F.col("doc_id") == k).collect()
                except Exception as e:  # counted, not retried: the lookup/GC race shows here
                    self._fail(_error_class(e))
                else:
                    if len(rows) == 1:
                        self.ok.append((rd["s"] * 1000.0, ex["s"] * 1000.0))
                    else:
                        self._fail(f"rows={len(rows)}")
            stop.wait(LOOKUP_THINK_S)

    def _fail(self, cls: str) -> None:
        self.failed[cls] = self.failed.get(cls, 0) + 1

    def report(self) -> None:
        ctx = self.ctx
        n_fail = sum(self.failed.values())
        total = [a + b for a, b in self.ok]
        attempted = len(self.ok) + n_fail
        ctx.layers.update({
            "store.read_call_ms_p50": pct([a for a, _ in self.ok], 50),
            "store.lookup_exec_ms_p50": pct([b for _, b in self.ok], 50),
            "store.lookup_ms_p50": pct(total, 50),
            "store.lookup_ms_p90": pct(total, 90),
            "store.lookups": attempted,
            "store.lookup_failed": n_fail,
            "store.lookup_failed_share": n_fail / max(1, attempted),
        })
        ctx.diag["lookup_failures"] = dict(self.failed)
        ctx.notes.append(
            f"lookups: {n_fail} of {attempted} failed {self.failed or ''}; "
            f"p50={pct(total, 50):.1f}ms p90={pct(total, 90):.1f}ms over {len(total)} successes")


def _error_class(e: Exception) -> str:
    """The error condition, or the root Java exception's class name."""
    cond = getattr(e, "getCondition", lambda: None)()
    if cond:
        return cond
    j = getattr(e, "java_exception", None)
    try:
        while j is not None and j.getCause() is not None:
            j = j.getCause()
        return j.getClass().getSimpleName() if j is not None else type(e).__name__
    except Exception:  # the JVM side of the error is not reachable
        return type(e).__name__


class StoreWatcher:
    """Polls the store's manifest and bucket directories (traced runs
    only): buckets, files and bytes per commit, and gen dirs deleted."""

    def __init__(self, table: str, period: float = 0.02):
        self.table, self.period = table, period
        self.commits: list[dict] = []
        self.deleted = 0
        self.cost_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _gen_dirs(self) -> set[tuple[str, str]]:
        out = set()
        for b in os.listdir(self.table):
            if b.startswith("bucket="):
                try:
                    out |= {(b, g) for g in os.listdir(os.path.join(self.table, b))}
                except FileNotFoundError:
                    pass
        return out

    def _loop(self) -> None:
        from intelligencepipeline_spark.operators.snapshot_store import read_manifest

        last_gen, dirs = None, self._gen_dirs()
        while not self._stop.is_set():
            t0 = time.perf_counter()
            try:
                m = read_manifest(self.table)
            except (OSError, ValueError):
                m = None
            now = self._gen_dirs()
            self.deleted += len(dirs - now)
            dirs = now
            if m and m["gen"] != last_gen:
                last_gen = m["gen"]
                new = [b for b, g in m["buckets"].items() if g == last_gen]
                files = nbytes = 0
                for b in new:
                    d = os.path.join(self.table, f"bucket={b}", f"gen={last_gen}")
                    try:
                        for f in os.listdir(d):
                            if f.endswith(".parquet"):
                                files += 1
                                nbytes += os.path.getsize(os.path.join(d, f))
                    except FileNotFoundError:
                        pass
                self.commits.append({"gen": last_gen, "touched": len(new),
                                     "files": files, "bytes": nbytes})
            self.cost_s += time.perf_counter() - t0
            self._stop.wait(self.period)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def report(self, ctx) -> None:
        c = self.commits[1:]  # the first poll sees the warm-up's last commit
        ctx.layers.update({
            "store.touched_buckets_p50": pct([x["touched"] for x in c], 50),
            "store.files_per_commit_p50": pct([x["files"] for x in c], 50),
            "store.bytes_per_commit_p50": pct([x["bytes"] for x in c], 50),
            "store.gen_dirs_deleted_per_commit": self.deleted / max(1, len(c)),
        })
