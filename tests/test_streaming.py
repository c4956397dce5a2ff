"""Structured Streaming: update-mode consolidation (KTable analog),
session-window reassembly, foreachBatch snapshot merge, convergence with
the batch fold (the reference's predicate-counting integration style,
KafkaIntelligencePipelineTests.kt:378-404)."""

import os
import shutil
import tempfile
import time

import pytest
from pyspark.sql import functions as F

from intelligencepipeline_spark.consolidate import consolidate_events
from intelligencepipeline_spark.session import conf_override
from intelligencepipeline_spark.streaming import (
    await_available_now,
    bounded,
    consolidate_stream,
    consolidate_to_bucketed_table,
    read_bucketed_snapshot,
    run_available_now,
    session_window_reassembly,
    stage_batches,
)

EVENT_SCHEMA_STR = (
    "doc_id long, command string, event_ts string, name string, "
    "representation struct<path:string,created_by:string>, "
    "metadata struct<values:map<string,string>,created_by:string>"
)
EVENT_SCHEMA = EVENT_SCHEMA_STR.replace("event_ts string", "event_ts timestamp")


def make_events_df(spark):
    return spark.createDataFrame(event_rows(), EVENT_SCHEMA_STR).withColumn(
        "event_ts", F.col("event_ts").cast("timestamp")
    )


def event_rows():
    return [
        (1, "CREATE", "2024-01-01 00:00:01", "/a", ("/a", "dir"), None),
        (1, "UPSERT_METADATA", "2024-01-01 00:00:02", None, None, ({"lang": "en"}, "tika")),
        (2, "CREATE", "2024-01-01 00:00:03", "/b", ("/b", "dir"), None),
        (2, "UPSERT_METADATA", "2024-01-01 00:00:04", None, None, ({"lang": "de"}, "tika")),
        (2, "UPSERT_METADATA", "2024-01-01 00:00:05", None, None, ({"lang": "de"}, "tika")),
    ]


@pytest.fixture()
def event_dir(spark):
    d = tempfile.mkdtemp(prefix="ip_events_")
    make_events_df(spark).write.mode("overwrite").parquet(d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def read_stream(spark, event_dir):
    return spark.readStream.schema(EVENT_SCHEMA).parquet(event_dir)


def test_update_mode_consolidation(spark, event_dir):
    stream = read_stream(spark, event_dir)
    q = (
        consolidate_stream(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("consol")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = {r["doc_id"]: r for r in spark.sql("select * from consol").collect()}
    assert out[1]["name"] == "/a"
    assert len(out[2]["meta"]) == 1  # set-union dedup survived streaming


def test_foreachbatch_snapshot_matches_batch_fold(spark, event_dir, tmp_path):
    table = str(tmp_path / "consolidated")
    ckpt = str(tmp_path / "ckpt")
    q = consolidate_to_bucketed_table(
        read_stream(spark, event_dir), table, checkpoint=ckpt
    )
    await_available_now("snapshot merge", q)
    snap = read_bucketed_snapshot(spark, table).drop("bucket")
    batch = consolidate_events(make_events_df(spark), strict=False)
    s = {r["doc_id"]: r.asDict() for r in snap.collect()}
    b = {r["doc_id"]: r.asDict() for r in batch.collect()}
    assert s == b


def _active_names(spark):
    return {q.name for q in spark.streams.active}


def test_bounded_run_past_timeout_is_stopped(spark, event_dir, monkeypatch):
    monkeypatch.setattr(bounded, "TIMEOUT_S", 1)

    def slow(_batch, _epoch):
        time.sleep(4)

    writer = (
        read_stream(spark, event_dir)
        .writeStream.foreachBatch(slow)
        .queryName("ip_slow_bounded")
    )
    with pytest.raises(TimeoutError, match="slow sink"):
        run_available_now(writer, "slow sink")
    assert "ip_slow_bounded" not in _active_names(spark)


def test_bounded_run_failure_propagates_and_stops(spark, event_dir):
    def boom(_batch, _epoch):
        raise ValueError("sink exploded")

    writer = (
        read_stream(spark, event_dir)
        .writeStream.foreachBatch(boom)
        .queryName("ip_failing_bounded")
    )
    with pytest.raises(Exception, match="sink exploded"):
        run_available_now(writer, "failing sink")
    assert "ip_failing_bounded" not in _active_names(spark)


def test_conf_override_restores_set_and_unset_keys(spark):
    was_set, was_unset = "spark.ip.test.was_set", "spark.ip.test.was_unset"
    spark.conf.set(was_set, "before")
    spark.conf.unset(was_unset)
    override = {was_set: "inside", was_unset: "inside"}

    def assert_restored():
        assert spark.conf.get(was_set) == "before"
        assert spark.conf.get(was_unset, None) is None

    try:
        with conf_override(spark, override):
            assert spark.conf.get(was_set) == "inside"
            assert spark.conf.get(was_unset) == "inside"
        assert_restored()
        with pytest.raises(RuntimeError, match="body failed"):
            with conf_override(spark, override):
                raise RuntimeError("body failed")
        assert_restored()
    finally:
        spark.conf.unset(was_set)


def _one_row(spark, v):
    return spark.range(1).select(F.lit(v).cast("long").alias("v"))


def _feed_batches(spark, src, checkpoint=None):
    """(batch_id, sorted v) per micro-batch of a maxFilesPerTrigger=1
    AvailableNow stream over ``src``."""
    seen = []

    def log(df, batch_id):
        seen.append((batch_id, sorted(r.v for r in df.collect())))

    run_available_now(
        spark.readStream.schema("v long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(log),
        "staged feed",
        checkpoint=checkpoint,
    )
    return seen


def test_stage_batches_pins_batch_order(spark):
    """Batch n is micro-batch n: two frames staged back to back, and a
    batch 0 landed after batch 1, are both read in batch order. A file
    stream orders by mtime, and on tmpfs it reads a tie newest first."""
    frames = [_one_row(spark, 0), _one_row(spark, 1)]
    assert _feed_batches(spark, stage_batches(frames)) == [(0, [0]), (1, [1])]
    src = stage_batches(frames[1:], start=1)
    stage_batches(frames[:1], src=src)
    assert _feed_batches(spark, src) == [(0, [0]), (1, [1])]


def test_stage_batches_lands_exactly_one_file(spark):
    """A 0-row frame still lands as one readable file; a write that
    splits into two part files raises rather than drop one of them,
    and leaves nothing behind."""
    src = stage_batches([spark.range(0).select(F.col("id").alias("v"))])
    assert os.listdir(src) == ["b0.parquet"]
    empty = spark.read.parquet(os.path.join(src, "b0.parquet"))
    assert empty.columns == ["v"] and empty.count() == 0

    split = spark.range(2).select(F.col("id").alias("v"))
    with conf_override(spark, {"spark.sql.files.maxRecordsPerFile": "1"}):
        with pytest.raises(RuntimeError, match="one part file"):
            stage_batches([split], src=src, start=1)
    assert os.listdir(src) == ["b0.parquet"]


def test_stage_batches_start_feeds_a_resumed_checkpoint(spark, tmp_path):
    """``start=`` continues the numbering in an existing ``src``, and a
    run resumed from the first run's checkpoint reads only the new
    file."""
    ckpt = str(tmp_path / "ckpt")
    src = stage_batches([_one_row(spark, 0)])
    assert _feed_batches(spark, src, ckpt) == [(0, [0])]
    stage_batches([_one_row(spark, 1)], src=src, start=1)
    assert sorted(os.listdir(src)) == ["b0.parquet", "b1.parquet"]
    assert _feed_batches(spark, src, ckpt) == [(1, [1])]


def test_session_window_reassembly(spark):
    chunks = spark.createDataFrame(
        [
            (1, 0, "a", "2024-01-01 00:00:01"),
            (1, 1, "b", "2024-01-01 00:00:30"),
            (1, 2, "c", "2024-01-01 01:00:00"),  # new session (> 500 s gap)
        ],
        "doc_id long, chunk_index long, content string, event_ts string",
    ).withColumn("event_ts", F.col("event_ts").cast("timestamp"))
    d = tempfile.mkdtemp(prefix="ip_chunks_")
    chunks.write.mode("overwrite").parquet(d)
    stream = spark.readStream.schema(
        "doc_id long, chunk_index long, content string, event_ts timestamp"
    ).parquet(d)
    q = (
        session_window_reassembly(stream, gap_seconds=500)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sessions")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from sessions order by session_start").collect()
    # append mode emits only watermark-closed sessions; with a one-shot
    # batch the final open session stays in state — the first (closed)
    # session must be out with both chunks merged.
    assert rows
    assert rows[0]["n_chunks"] == 2
    assert [c["content"] for c in rows[0]["chunks"]] == ["a", "b"]
    shutil.rmtree(d, ignore_errors=True)


def test_bucketed_snapshot_incremental_merge(spark, event_dir, tmp_path):
    """Two sequential micro-batch runs (new events arrive between them)
    converge the bucketed snapshot to the full batch fold, and the
    snapshot is physically bucket-partitioned."""
    import os

    from intelligencepipeline_spark.streaming.pipeline import (
        consolidate_to_bucketed_table,
        read_bucketed_snapshot,
    )

    table = str(tmp_path / "consolidated")
    ckpt = str(tmp_path / "ckpt")

    q = consolidate_to_bucketed_table(
        read_stream(spark, event_dir), table, n_buckets=4, checkpoint=ckpt
    )
    q.awaitTermination(120)

    # late events for an existing doc and a brand-new doc
    late = spark.createDataFrame(
        [
            (1, "UPSERT_METADATA", "2024-01-01 00:00:06", None, None,
             ({"pos": "NN"}, "stanford")),
            (9, "CREATE", "2024-01-01 00:00:07", "/z", ("/z", "dir"), None),
        ],
        EVENT_SCHEMA_STR,
    ).withColumn("event_ts", F.col("event_ts").cast("timestamp"))
    late.write.mode("append").parquet(event_dir)

    q2 = consolidate_to_bucketed_table(
        read_stream(spark, event_dir), table, n_buckets=4, checkpoint=ckpt
    )
    q2.awaitTermination(120)

    snap = read_bucketed_snapshot(spark, table)
    assert any(d.startswith("bucket=") for d in os.listdir(table))

    all_events = spark.read.schema(EVENT_SCHEMA).parquet(event_dir)
    batch = consolidate_events(all_events, strict=False)
    s = {r["doc_id"]: r.asDict() for r in snap.drop("bucket").collect()}
    b = {r["doc_id"]: r.asDict() for r in batch.collect()}
    assert set(s) == set(b) == {1, 2, 9}
    assert sorted(m["created_by"] for m in s[1]["meta"]) == sorted(
        m["created_by"] for m in b[1]["meta"]
    )
    assert s[9]["name"] == "/z"


def test_bucketed_snapshot_crash_between_write_and_publish(
    spark, event_dir, tmp_path
):
    """Kill-between-read-and-overwrite safety: a merge attempt that
    dies AFTER writing its new gen dirs but BEFORE publishing the
    manifest leaves readers on the exact pre-batch snapshot; a retry
    then converges normally. (The old dynamic-partition-overwrite path
    could lose the overwritten partitions in this window.)"""
    import json
    import os

    from intelligencepipeline_spark.streaming.pipeline import (
        consolidate_to_bucketed_table,
        read_bucketed_snapshot,
    )

    table = str(tmp_path / "consolidated")
    ckpt = str(tmp_path / "ckpt")
    q = consolidate_to_bucketed_table(
        read_stream(spark, event_dir), table, n_buckets=4, checkpoint=ckpt
    )
    q.awaitTermination(120)
    before = {
        r["doc_id"]: r.asDict()
        for r in read_bucketed_snapshot(spark, table).drop("bucket").collect()
    }
    assert set(before) == {1, 2}
    with open(os.path.join(table, "_MANIFEST.json")) as fh:
        manifest_before = json.load(fh)

    # simulate the crashed attempt: new gen dirs exist on disk (copied
    # from the live ones) but the manifest was never republished
    crash_gen = manifest_before["gen"] + 7
    for b, g in manifest_before["buckets"].items():
        src = os.path.join(table, f"bucket={b}", f"gen={g}")
        dst = os.path.join(table, f"bucket={b}", f"gen={crash_gen}")
        shutil.copytree(src, dst)
    # an abandoned staging dir too
    os.makedirs(os.path.join(table, f"_staging-gen-{crash_gen}"), exist_ok=True)

    # readers see EXACTLY the pre-crash snapshot — no loss, no doubling
    after_crash = {
        r["doc_id"]: r.asDict()
        for r in read_bucketed_snapshot(spark, table).drop("bucket").collect()
    }
    assert after_crash == before

    # recovery: new events land, the stream restarts from the same
    # checkpoint, and the snapshot converges to the full batch fold
    late = spark.createDataFrame(
        [
            (1, "UPSERT_METADATA", "2024-01-01 00:00:06", None, None,
             ({"pos": "NN"}, "stanford")),
        ],
        EVENT_SCHEMA_STR,
    ).withColumn("event_ts", F.col("event_ts").cast("timestamp"))
    late.write.mode("append").parquet(event_dir)
    q2 = consolidate_to_bucketed_table(
        read_stream(spark, event_dir), table, n_buckets=4, checkpoint=ckpt
    )
    q2.awaitTermination(120)
    snap = {
        r["doc_id"]: r.asDict()
        for r in read_bucketed_snapshot(spark, table).drop("bucket").collect()
    }
    all_events = spark.read.schema(EVENT_SCHEMA).parquet(event_dir)
    batch = {
        r["doc_id"]: r.asDict()
        for r in consolidate_events(all_events, strict=False).collect()
    }
    assert set(snap) == set(batch)
    assert sorted(m["created_by"] for m in snap[1]["meta"]) == sorted(
        m["created_by"] for m in batch[1]["meta"]
    )


def test_bucketed_snapshot_time_travel_and_vacuum(spark, event_dir, tmp_path):
    """keep_gens=3: every commit's full bucket map is retained as an
    immutable version manifest — read_bucketed_snapshot(version=v)
    reproduces the exact post-commit-v state; vacuum_bucketed_snapshot
    then trims history without touching the current pointer."""
    import pytest as _pytest

    from intelligencepipeline_spark.streaming.pipeline import (
        consolidate_to_bucketed_table,
        read_bucketed_snapshot,
        snapshot_versions,
        vacuum_bucketed_snapshot,
    )

    table = str(tmp_path / "consolidated")
    ckpt = str(tmp_path / "ckpt")
    q = consolidate_to_bucketed_table(
        read_stream(spark, event_dir), table, n_buckets=4,
        checkpoint=ckpt, keep_gens=3,
    )
    q.awaitTermination(120)
    v1 = snapshot_versions(table)[-1]
    state_v1 = {
        r["doc_id"]: r.asDict()
        for r in read_bucketed_snapshot(spark, table).drop("bucket").collect()
    }

    late = spark.createDataFrame(
        [
            (1, "UPSERT_METADATA", "2024-01-01 00:00:06", None, None,
             ({"pos": "NN"}, "stanford")),
            (9, "CREATE", "2024-01-01 00:00:07", "/z", ("/z", "dir"), None),
        ],
        EVENT_SCHEMA_STR,
    ).withColumn("event_ts", F.col("event_ts").cast("timestamp"))
    late.write.mode("append").parquet(event_dir)
    q2 = consolidate_to_bucketed_table(
        read_stream(spark, event_dir), table, n_buckets=4,
        checkpoint=ckpt, keep_gens=3,
    )
    q2.awaitTermination(120)

    versions = snapshot_versions(table)
    assert v1 in versions and versions[-1] > v1
    # time travel: version v1 still reads the exact pre-late state
    tt = {
        r["doc_id"]: r.asDict()
        for r in read_bucketed_snapshot(spark, table, version=v1)
        .drop("bucket")
        .collect()
    }
    assert tt == state_v1 and set(tt) == {1, 2}
    # current state includes the late events
    cur = {
        r["doc_id"]: r.asDict()
        for r in read_bucketed_snapshot(spark, table).drop("bucket").collect()
    }
    assert set(cur) == {1, 2, 9}

    # vacuum to 1 version: old version manifest + its orphaned gen dirs
    # go away; the current read is untouched; time travel now errors
    vacuum_bucketed_snapshot(table, keep_gens=1)
    assert snapshot_versions(table) == [versions[-1]]
    cur2 = {
        r["doc_id"]: r.asDict()
        for r in read_bucketed_snapshot(spark, table).drop("bucket").collect()
    }
    assert cur2 == cur
    with _pytest.raises(FileNotFoundError):
        read_bucketed_snapshot(spark, table, version=v1).collect()


def test_streaming_session_ttl_labels_and_bounds(spark):
    """TTL session store: both close paths fire; every emitted session
    respects the 500s gap invariant internally (no session spans a
    gap); TTL rows are user-final sessions."""
    from pyspark.sql import functions as F

    from intelligencepipeline_spark.queries import streaming_session_ttl

    out = streaming_session_ttl(spark, "/root/testdata/sf0.001")
    rows = out.collect()
    by = {r["closed_by"] for r in rows}
    assert by == {"gap", "ttl"}
    for r in rows:
        assert r["session_start_epoch"] <= r["session_end_epoch"]
        assert r["n_events"] >= 1
    # a TTL-closed session is its user's LAST closed session
    ttl = [r for r in rows if r["closed_by"] == "ttl"]
    last_per_user = {}
    for r in rows:
        cur = last_per_user.get(r["user_id"])
        if cur is None or r["session_start_epoch"] > cur["session_start_epoch"]:
            last_per_user[r["user_id"]] = r
    for r in ttl:
        assert last_per_user[r["user_id"]] == r
