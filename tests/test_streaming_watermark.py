"""Pins the engine facts streaming_watermark_finalize is built on.

PySpark 4.1's windowed aggregation does NOT pre-filter input rows
below the watermark (numRowsDroppedByWatermark stays 0); lateness is
enforced at state EVICTION, where append mode emits each window
exactly once. If an upgrade changes either fact, these tests fail and
the finalize proof's docstring needs re-deriving."""

import datetime as dt

from pyspark.sql import functions as F

from intelligencepipeline_spark.scratch import scratch_dir
from intelligencepipeline_spark.streaming import stage_batches

T = dt.datetime


def _staged_stream(spark, batches):
    flat = stage_batches(
        spark.createDataFrame(rows, "ts timestamp, k string")
        for rows in batches
    )
    return (
        spark.readStream.schema("ts timestamp, k string")
        .option("maxFilesPerTrigger", 1)
        .parquet(flat)
    )


def test_late_rows_merge_and_window_emits_once(spark):
    stream = _staged_stream(
        spark,
        [
            [(T(2024, 1, 1, 5), "a"), (T(2024, 1, 1, 6), "a")],
            [(T(2024, 1, 10, 12), "a")],  # advances watermark to Jan 9
            [(T(2024, 1, 1, 7), "a")],  # LATE: below in-effect watermark
        ],
    )
    counts = (
        stream.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 day").alias("w"), "k")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        counts.writeStream.outputMode("append")
        .format("memory")
        .queryName("wmprobe_sink")
        .option("checkpointLocation", scratch_dir("ip_ck_"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    dropped = sum(
        so.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for so in p["stateOperators"]
    )
    # engine fact: the late row is MERGED into still-live state, not
    # input-dropped — lateness acts at eviction time only
    assert dropped == 0
    rows = spark.table("wmprobe_sink").collect()
    day1 = [r for r in rows if r.w.start == T(2024, 1, 1)]
    # exactly ONE emission of the day-1 window, and it includes the
    # late row (2 on-time + 1 late)
    assert len(day1) == 1 and day1[0].n == 3
    # the day-10 window is still inside the watermark horizon: withheld
    assert all(r.w.start != T(2024, 1, 10) for r in rows)
