"""Tests of the benchmark itself (not of the engine).

    python3 -m pytest perfbench/tests -q

The end-to-end cases start the benchmark as a subprocess at a tiny
scale, so the whole module takes a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, ROOT)

from perfbench import corpus  # noqa: E402


def _ledger(seed: int) -> list:
    docs = corpus.documents(seed, 0, 200)
    events = corpus.event_stream(seed, 50, 100)
    return [(d["doc_id"], corpus.sha1(d["content"])) for d in docs] + [
        corpus.event_digest(e) for e in events
    ]


def test_same_seed_same_ledger_other_seed_other_ledger():
    assert _ledger(7) == _ledger(7)
    a, b = _ledger(7), _ledger(8)
    assert len(a) == len(b) and a != b
    shared = {x[1] for x in a[:200]} & {x[1] for x in b[:200]}
    assert not shared, "documents of different seeds share text"


def test_documents_have_the_reference_corpus_shape():
    docs = corpus.documents(3, 0, 5000)
    texts = [d["content"].decode("ascii") for d in docs]
    words = [t.split() for t in texts]
    assert min(map(len, words)) >= corpus.MIN_WORDS
    assert max(map(len, words)) <= corpus.MAX_WORDS + 1  # a near-duplicate's "dup"
    assert 50 < sum(map(len, words)) / len(words) < 60  # 54.1 in the reference
    assert {w for ws in words for w in ws} == set(corpus.VOCABULARY) | {"dup"}
    near = sum(t.endswith(" dup") for t in texts) / len(texts)
    assert 0.04 < near < 0.06
    exact = 1 - len(set(texts)) / len(texts)
    assert 0 < exact < 0.005  # 0.16% in the reference
    assert len({d["doc_id"] for d in docs}) == len(docs)


def test_event_shape():
    evs = corpus.doc_events(3, 5)
    assert [e["command"] for e in evs] == (
        ["CREATE"] + ["UPSERT_METADATA"] * 4 + ["UPSERT_DOCUMENT_REPRESENTATION"])


def _run(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "3", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


@pytest.mark.parametrize("workload", ["enrich_stream", "consolidate_rw"])
@pytest.mark.parametrize("trace", [0, 1])
def test_tiny_run_prints_every_metric_with_its_unit(workload, trace):
    res = _run(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    spec = _declared()["per_layer" if trace else "end_to_end"]
    assert set(res["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)
        if not trace:
            assert got["value"] > 0, m["name"]


def test_no_engine_no_result(tmp_path):
    """Without the engine package beside it the benchmark fails fast
    and prints no result."""
    import shutil

    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "enrich_stream", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0
    assert '"correct"' not in out.stdout


# ------------------------------------------------------ tampered outputs


@pytest.fixture(scope="module")
def ctx(tmp_path_factory):
    run_dir = str(tmp_path_factory.mktemp("run"))
    from perfbench import harness

    c = harness.Context("test", 1, 1.0, False, run_dir, 0.0)
    c.start_spark()
    yield c
    c.stop_spark()


def _tamper_one_file(directory: str, column: str, value) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    for root, _dirs, files in sorted(os.walk(directory)):
        for f in sorted(files):
            if f.endswith(".parquet") and "_spark_metadata" not in root:
                p = os.path.join(root, f)
                t = pq.read_table(p)
                if t.num_rows == 0:
                    continue
                col = t.column(column).to_pylist()
                col[0] = value(col[0])
                t = t.set_column(t.schema.get_field_index(column), column,
                                 pa.array(col, type=t.schema.field(column).type))
                pq.write_table(t, p, use_deprecated_int96_timestamps=True)
                crc = os.path.join(root, f".{f}.crc")  # let the read see the new bytes
                if os.path.exists(crc):
                    os.remove(crc)
                _fix_sink_log(directory, f, os.path.getsize(p))
                return
    raise AssertionError(f"no parquet file under {directory}")


def _fix_sink_log(directory: str, name: str, size: int) -> None:
    """A file sink's metadata log records each file's size; record the
    tampered file's new size so the read sees a well-formed file."""
    log = os.path.join(directory, "_spark_metadata")
    if not os.path.isdir(log):
        return
    for entry in os.listdir(log):
        path = os.path.join(log, entry)
        if entry.startswith(".") or not os.path.isfile(path):
            continue
        lines = open(path).read().split("\n")
        for i, line in enumerate(lines):
            if line.startswith("{") and name in line:
                e = json.loads(line)
                e["size"] = size
                lines[i] = json.dumps(e)
        with open(path, "w") as fh:
            fh.write("\n".join(lines))
        crc = os.path.join(log, f".{entry}.crc")
        if os.path.exists(crc):
            os.remove(crc)


def test_tampered_sink_fails_the_check(ctx):
    from perfbench import checks, workloads
    from perfbench.pipeline import DOC_DDL, build_engine, write_docs

    staged = workloads.Staged(ctx, "docs")
    docs = corpus.documents(1, 0, 40)
    staged.add("burst", "f0.parquet", docs, write_docs)
    staged.land_now("burst")
    texts = {d["doc_id"]: d["content"].decode() for d in docs}
    out, ckpt = ctx.dir("out"), ctx.dir("ckpt")
    eng = build_engine(ctx.spark, ctx.spark.readStream.schema(DOC_DDL).parquet(staged.inbox))
    for q in eng.run_streaming(out, ckpt, trigger_available_now=True):
        q.awaitTermination(300)
    checks.enrich(ctx, staged, out, texts)
    assert all(ctx.checks.values()), ctx.notes

    _tamper_one_file(f"{out}/datarecords", "html", lambda v: v + " ")
    ctx.checks.clear()
    checks.enrich(ctx, staged, out, texts)
    assert ctx.checks["enrich.sink_equals_batch_run"] is False


def test_tampered_snapshot_fails_the_check(ctx):
    from intelligencepipeline_spark.schemas import DATARECORD_EVENT_SCHEMA
    from intelligencepipeline_spark.streaming.pipeline import consolidate_to_bucketed_table
    from perfbench import checks, workloads
    from perfbench.pipeline import write_events

    staged = workloads.Staged(ctx, "events")
    staged.stage, staged.inbox = ctx.dir("ev", "stage"), ctx.dir("ev", "in")
    staged.add("burst", "e0.parquet", corpus.event_stream(1, 30, 50), write_events)
    staged.land_now("burst")
    table = ctx.dir("table")
    stream = ctx.spark.readStream.schema(DATARECORD_EVENT_SCHEMA).parquet(staged.inbox)
    consolidate_to_bucketed_table(stream, table, n_buckets=4, checkpoint=ctx.dir("ck2"),
                                  keep_gens=1).awaitTermination(300)
    ctx.checks.clear()
    checks.consolidate(ctx, staged, table)
    assert all(ctx.checks.values()), ctx.notes

    _tamper_one_file(table, "name", lambda v: (v or "") + "x")
    ctx.checks.clear()
    checks.consolidate(ctx, staged, table)
    assert ctx.checks["consolidate.snapshot_equals_fold"] is False
