"""Custom stateful operators (applyInPandasWithState,
streaming/stateful.py): cross-batch first-seen dedup and running
per-key stats vs their batch equivalents."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from intelligencepipeline_spark.streaming.stateful import (
    streaming_first_seen,
    streaming_running_stats,
)


@pytest.fixture(autouse=True)
def few_state_partitions(spark):
    """Stateful queries init one state store per shuffle partition;
    32 stores for 6 rows is pure overhead — drop to 4 for this module."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    yield
    spark.conf.set("spark.sql.shuffle.partitions", old)


@pytest.fixture()
def rows_dir(spark):
    d = tempfile.mkdtemp(prefix="ip_state_")
    spark.createDataFrame(
        [
            (1, 10.0, "a"),
            (1, 11.0, "b"),
            (2, 20.0, "c"),
            (3, 30.0, "d"),
            (2, 21.0, "e"),
            (3, 31.0, "f"),
        ],
        "k long, v double, tag string",
    ).repartition(4).write.mode("overwrite").parquet(d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _run_to_memory(spark, df, name):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    try:
        terminated = q.awaitTermination(120)
        assert terminated, f"query {name} did not terminate"
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {name}")


def test_first_seen_emits_one_row_per_key(spark, rows_dir):
    stream = spark.readStream.schema("k long, v double, tag string").parquet(
        rows_dir
    )
    out = _run_to_memory(
        spark, streaming_first_seen(stream, "k"), "first_seen_t"
    )
    rows = out.collect()
    assert sorted(r.k for r in rows) == [1, 2, 3]
    # each emitted row is a genuine input row for its key
    valid = {1: {10.0, 11.0}, 2: {20.0, 21.0}, 3: {30.0, 31.0}}
    for r in rows:
        assert r.v in valid[r.k]


def test_first_seen_with_ttl_runs(spark, rows_dir):
    """TTL mode uses ProcessingTimeTimeout, which keeps the query alive
    to service future evictions — a continuous query by design. Poll
    the sink for the expected rows, then stop."""
    import time

    stream = spark.readStream.schema("k long, v double, tag string").parquet(
        rows_dir
    )
    q = (
        streaming_first_seen(stream, "k", ttl_minutes=10)
        .writeStream.format("memory")
        .queryName("first_seen_ttl_t")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    try:
        deadline = time.time() + 120
        keys: list[int] = []
        while time.time() < deadline and keys != [1, 2, 3]:
            time.sleep(1)
            keys = sorted(
                r.k for r in spark.sql(
                    "SELECT * FROM first_seen_ttl_t"
                ).collect()
            )
        assert keys == [1, 2, 3]
    finally:
        q.stop()


def test_running_stats_matches_batch_agg(spark, rows_dir):
    stream = spark.readStream.schema("k long, v double, tag string").parquet(
        rows_dir
    )
    out = _run_to_memory(
        spark, streaming_running_stats(stream, "k", "v"), "running_t"
    )
    # memory sink in update mode may hold multiple versions per key;
    # the last-written row per key is the converged state.
    final = {}
    for r in out.collect():
        final[r.key] = (r.n, r.total, r.vmax)
    batch = {
        r.k: (r.n, r.total, r.vmax)
        for r in spark.read.parquet(rows_dir)
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").alias("total"),
            F.max("v").alias("vmax"),
        )
        .collect()
    }
    for k, (n, total, vmax) in batch.items():
        fn, ft, fm = final[k]
        assert fn == n and abs(ft - total) < 1e-9 and fm == vmax


def _run_append_to_memory(spark, df, name):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        terminated = q.awaitTermination(120)
        assert terminated, f"query {name} did not terminate"
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {name}")


def test_streaming_locf_fills_cross_batch_gaps(spark):
    """streaming_locf == the batch gap_fill LOCF column, including a
    gap that spans the micro-batch boundary (state carries last obs)."""
    import os

    from intelligencepipeline_spark.streaming.stateful import streaming_locf

    d = tempfile.mkdtemp(prefix="ip_locf_")
    try:
        # batch 1: user 1 buckets 0 and 30 (hole at 10, 20)
        spark.createDataFrame(
            [(1, 0, 5.0), (1, 30, 8.0)], "k long, bucket long, v double"
        ).coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "b1"))
        stream = (
            spark.readStream.schema("k long, bucket long, v double")
            .option("maxFilesPerTrigger", "1")
            .parquet(os.path.join(d, "b1"))
        )
        out = streaming_locf(stream, "k", "bucket", "v", step=10)
        got = _run_append_to_memory(spark, out, "locf1").collect()
        rows = {r["bucket"]: (r["locf"], r["is_gap"]) for r in got}
        assert rows == {
            0: (5.0, False),
            10: (5.0, True),
            20: (5.0, True),
            30: (8.0, False),
        }
        # batch 2 into the same checkpointed query would carry state; the
        # cross-batch path is exercised via two files in one availableNow
        # run with maxFilesPerTrigger=1 (one micro-batch per file):
        d2 = tempfile.mkdtemp(prefix="ip_locf2_")
        try:
            spark.createDataFrame(
                [(2, 0, 1.0)], "k long, bucket long, v double"
            ).coalesce(1).write.mode("overwrite").parquet(os.path.join(d2, "data"))
            import time as _time
            _time.sleep(1.1)  # distinct mtimes: file-source batch order is (modTime, path)
            spark.createDataFrame(
                [(2, 20, 3.0)], "k long, bucket long, v double"
            ).coalesce(1).write.mode("append").parquet(os.path.join(d2, "data"))
            stream2 = (
                spark.readStream.schema("k long, bucket long, v double")
                .option("maxFilesPerTrigger", "1")
                .parquet(os.path.join(d2, "data"))
            )
            out2 = streaming_locf(stream2, "k", "bucket", "v", step=10)
            got2 = _run_append_to_memory(spark, out2, "locf2").collect()
            rows2 = {r["bucket"]: (r["locf"], r["is_gap"]) for r in got2}
            assert rows2 == {
                0: (1.0, False),
                10: (1.0, True),
                20: (3.0, False),
            }
        finally:
            shutil.rmtree(d2, ignore_errors=True)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_rate_limit_equals_batch_fold(spark):
    """The stateful token bucket across THREE micro-batches equals the
    batch recurrence replayed in one pass (same cap/rate/cost), state
    carrying tokens/last/accepted between batches."""
    from intelligencepipeline_spark.scratch import scratch_dir
    from intelligencepipeline_spark.streaming import stage_batches
    from intelligencepipeline_spark.streaming.stateful import (
        streaming_rate_limit,
    )

    CAP, RATE, COST = 500, 1, 300
    rows = []
    # user 1: burst at t=0..4 (drains bucket), then sparse
    for i, es in enumerate([0, 1, 2, 3, 4, 1000, 1100, 5000]):
        rows.append((1, es, i))
    # user 2: evenly spaced, always refilled
    for i, es in enumerate([0, 600, 1200, 1800]):
        rows.append((2, es, 100 + i))
    import pandas as pd

    def batch_ref():
        out = {}
        for k in (1, 2):
            evs = sorted((es, i) for (u, es, i) in rows if u == k)
            tokens, last, acc = CAP, -1, 0
            for es, _i in evs:
                refill = CAP if last < 0 else min(CAP, tokens + (es - last) * RATE)
                ok = refill >= COST
                tokens = refill - (COST if ok else 0)
                last = es
                acc += int(ok)
            out[k] = (len(evs), acc, tokens)
        return out

    df = spark.createDataFrame(rows, "user_id long, es long, event_id long")
    # three time-ordered files -> three micro-batches (maxFilesPerTrigger=1)
    cuts = [(0, 3), (3, 1200), (1200, 10**9)]
    src = stage_batches(
        df.filter((df.es >= lo) & (df.es < hi)) for lo, hi in cuts
    )

    stream = (
        spark.readStream.schema("user_id long, es long, event_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        streaming_rate_limit(
            stream, "user_id", cap=CAP, rate=RATE, cost=COST
        )
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("srl_sink")
        .option("checkpointLocation", scratch_dir("ip_ck_"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    # last update per key is the final state
    final = {
        r.key: (r.n_events, r.n_accepted, r.final_tokens)
        for r in spark.sql(
            "select * from srl_sink"
        ).orderBy("n_events").collect()
    }
    assert final == batch_ref()
    # the burst actually rejected something (both branches exercised)
    assert final[1][1] < final[1][0]
