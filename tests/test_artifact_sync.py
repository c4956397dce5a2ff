"""Drift guard (r03 verdict item 2): every committed proof artifact
must cover the FULL registry — a new catalog entry without a
regenerated CORRECTNESS_local / STATUS / bench_full / PLANS row fails
pytest instead of silently lagging."""

import json
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _registry():
    from intelligencepipeline_spark.queries import NON_SQL_QUERIES, QUERIES

    return set(QUERIES), set(NON_SQL_QUERIES)


def test_oracles_cover_registry():
    from intelligencepipeline_spark.oracles import ORACLES

    qs, non_sql = _registry()
    assert set(ORACLES) | non_sql == qs, (
        f"missing oracles: {qs - set(ORACLES) - non_sql}"
    )
    assert set(ORACLES) - qs == set(), (
        f"oracles without registry entries: {set(ORACLES) - qs}"
    )


def test_correctness_local_covers_registry():
    qs, non_sql = _registry()
    with open(os.path.join(REPO, "CORRECTNESS_local.json")) as fh:
        local = json.load(fh)
    assert set(local) == qs, (
        f"missing: {qs - set(local)}; stale: {set(local) - qs}"
    )
    bad = {
        n: r
        for n, r in local.items()
        if not (r.get("hash_match") or (n in non_sql and r.get("rows_match")))
    }
    assert bad == {}, f"non-green local rows: {sorted(bad)}"


def test_bench_full_covers_registry():
    qs, _ = _registry()
    with open(os.path.join(REPO, "bench_full.json")) as fh:
        bench = json.load(fh)
    got = set(bench["queries"])
    assert got == qs, f"missing: {qs - got}; stale: {got - qs}"


def test_status_md_covers_registry():
    qs, _ = _registry()
    with open(os.path.join(REPO, "STATUS.md")) as fh:
        text = fh.read()
    rows = set(re.findall(r"^\| \d+ \| ([A-Za-z0-9_]+) \|", text, re.M))
    assert rows == qs, f"missing: {qs - rows}; stale: {rows - qs}"


def test_plans_md_matches_headline():
    """PLANS.md rows == gen_plans.HEADLINE (the audited subset), and
    the newest operator families are represented in it."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "gen_plans", os.path.join(REPO, "tools", "gen_plans.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    qs, _ = _registry()
    head = [name for name, _ in mod.HEADLINE]
    assert set(head) <= qs, set(head) - qs
    with open(os.path.join(REPO, "PLANS.md")) as fh:
        text = fh.read()
    rows = re.findall(r"^\| ([a-z0-9_]+) \|", text, re.M)
    rows = [r for r in rows if r != "query"]
    assert rows == head, (
        f"PLANS.md missing: {set(head) - set(rows)}; "
        f"stale: {set(rows) - set(head)}"
    )


def test_leak_lint_clean():
    """Repo-side leak lint (r07 verdict, What's wrong #1): no source
    file may reference non-public systems — harness/tooling paths,
    internal imports/hosts/shortlinks/buckets, or key-shaped strings.
    tools/leak_lint.py holds the pattern families."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "leak_lint", os.path.join(REPO, "tools", "leak_lint.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    hits = mod.scan()
    assert hits == [], "\n".join(hits)


def test_no_hand_rolled_stream_or_conf_scaffold():
    """Bounded streams run through streaming.run_available_now /
    await_available_now (which stop a query that hangs or fails) and
    temporary session confs through session.conf_override (which
    restores set keys and unsets the rest), and file-stream batches
    are landed by streaming.stage_batches (one write, pinned order).
    No hand-rolled copy may come back in the catalog or the bench;
    queries.py reads a conf only at its two read-only sites."""
    def source(rel):
        with open(os.path.join(REPO, rel)) as fh:
            return fh.read()

    for rel in ("intelligencepipeline_spark/queries.py", "bench.py"):
        src = source(rel)
        assert "availableNow=True" not in src, rel
        assert "awaitTermination(" not in src, rel
    src = source("intelligencepipeline_spark/queries.py")
    assert "copyfile(" not in src
    assert "os.utime(" not in src
    keys = re.findall(r'spark\.conf\.get\(\s*"([^"]+)"', src)
    assert src.count("spark.conf.get(") == len(keys) == 2, keys
    assert sorted(keys) == [
        "spark.sql.files.maxPartitionBytes",
        "spark.sql.shuffle.partitions",
    ], keys
