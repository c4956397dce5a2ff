"""Structured Streaming surface (SURVEY.md §2.7, §3.1).

The reference's streaming architecture is a set of Kafka-Streams
topologies: per-key fold into a KTable re-emitted as a changelog
(KafkaIntelligencePipeline.kt:364-382), 1 s-window stream-stream joins
and 500 s session windows in its tests
(KafkaIntelligencePipelineTests.kt:272-333). Spark-first equivalents:

* ``consolidate_stream``       — update-mode keyed aggregation (the
  KTable); each micro-batch emits changed rows, exactly the changelog
  the reference replays to clients.
* ``consolidate_to_bucketed_table`` — foreachBatch merge into a
  bucket-partitioned parquet snapshot published by manifest commit:
  at-least-once input + idempotent per-key merge = effective
  exactly-once (fixing the reference's disabled exactly-once,
  README.md:74); ``read_bucketed_snapshot`` is its read path.
* ``stream_stream_chunk_join`` — J1 with explicit watermarks (the
  reference has none; Spark requires them for state cleanup — at
  100 TB unbounded join state is a memory leak, so this is a fix, not
  a deviation).
* ``session_window_reassembly``— A3 with native session merge
  semantics.

Watermark defaults are deliberately small for tests; production sets
them to the real out-of-orderness bound.
"""

from __future__ import annotations

import os
from intelligencepipeline_spark.scratch import scratch_dir

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from intelligencepipeline_spark.consolidate import consolidate_events


def consolidate_stream(events: DataFrame) -> DataFrame:
    """Streaming per-key consolidation fold (A1) — run with
    ``outputMode("update")``; every trigger emits the changed
    consolidated rows (the KTable changelog,
    KafkaIntelligencePipeline.kt:380-382).

    The fold is commutative/idempotent (set-unions + last-CREATE-wins)
    so late or replayed events converge to the same row.
    """
    return consolidate_events(events, strict=False)


# --------------------------------------------------------------------
# Bucketed snapshot manifest commit — the crash-safety layer under
# consolidate_to_bucketed_table. The machinery (gen dirs + atomic
# manifest publish + retention GC + time travel) is SHARED with the
# generic keyed merge store (operators/merge.py): see
# operators/snapshot_store.py for the protocol documentation. These
# re-exports keep the streaming-side names stable.
# --------------------------------------------------------------------

from intelligencepipeline_spark.operators.snapshot_store import (  # noqa: E402
    commit_buckets as _commit_buckets,
    read_manifest as _read_snapshot_manifest,
    read_snapshot as _read_snapshot,
    snapshot_versions,
    vacuum_snapshot as vacuum_bucketed_snapshot,
)


def read_bucketed_snapshot(
    spark, table_path: str, version: int | None = None
) -> DataFrame:
    """Read the manifest-current state of a bucketed snapshot (the only
    correct read path — a plain ``spark.read.parquet(table)`` would
    also see superseded or in-flight generation directories). Pass
    ``version=<gen>`` (see ``snapshot_versions``) to TIME-TRAVEL to any
    retained commit — every version manifest pins the full bucket→gen
    map it published."""
    return _read_snapshot(spark, table_path, version=version)


def consolidate_to_bucketed_table(
    events: DataFrame,
    table_path: str,
    n_buckets: int = 64,
    checkpoint: str | None = None,
    trigger_available_now: bool = True,
    keep_gens: int = 1,
):
    """Incremental foreachBatch merge into a BUCKET-PARTITIONED parquet
    snapshot — the 100 TB version of ``consolidate_to_table`` (which
    rewrites the whole table every batch; fine for tests, wrong at
    scale).

    Layout: ``table_path/bucket=<pmod(doc_id, n_buckets)>/gen=<g>/``
    with a manifest naming each bucket's current gen (see the commit
    notes above — the manifest rename is the atomic visibility switch,
    closing the crash window a read-merge-dynamic-overwrite would
    have between deleting and rewriting a partition). Per batch: fold
    the batch, list its touched buckets (a tiny distinct), read ONLY
    those buckets of the snapshot (manifest-pruned paths), merge, write
    the merged buckets as NEW gen dirs, publish, GC. Per-batch cost
    scales with the batch's key spread, not table size.

    Size ``n_buckets`` so one bucket ≈ a few GB at the target scale
    (100 TB / 64k buckets ≈ 1.6 GB). ``keep_gens > 1`` retains that
    many committed versions for TIME TRAVEL
    (``read_bucketed_snapshot(..., version=g)`` over
    ``snapshot_versions``); ``vacuum_bucketed_snapshot`` trims history
    later. With Delta on the classpath, replace this machinery with
    ``MERGE INTO`` keyed on (bucket, doc_id) — same layout, same
    contract (and the same VACUUM story).
    """
    checkpoint = checkpoint or scratch_dir("ip_ckpt_")

    def merge_batch(batch: DataFrame, _epoch: int) -> None:
        spark = batch.sparkSession
        folded = consolidate_events(batch, strict=False)
        manifest = _read_snapshot_manifest(table_path) or {
            "gen": 0,
            "buckets": {},
        }
        # touched buckets from the RAW batch, not the fold: the fold is
        # a pure groupBy(doc_id) (no key is ever dropped), so the two
        # key sets are identical — but listing from ``folded`` made the
        # write evaluate the fold's shuffle a SECOND time per commit
        # (guide §1.2: don't recompute what a one-column scan of the
        # batch already tells you).
        touched = [
            r[0]
            for r in batch.select(
                F.pmod("doc_id", F.lit(n_buckets)).alias("b")
            )
            .distinct()
            .collect()
        ]
        current = {
            b: g for b, g in manifest["buckets"].items() if int(b) in touched
        }
        if current:
            paths = [
                os.path.join(table_path, f"bucket={b}", f"gen={g}")
                for b, g in current.items()
            ]
            existing = (
                spark.read.option("basePath", table_path)
                .parquet(*paths)
                .drop("bucket", "gen")
            )
            merged = _merge_folds(existing, folded)
        else:
            merged = folded
        out = merged.withColumn(
            "bucket", F.pmod("doc_id", F.lit(n_buckets))
        )
        # WRITE → PUBLISH → GC via the shared commit protocol
        # (operators/snapshot_store.commit_buckets): new gen dirs,
        # one atomic manifest rename, retention-aware cleanup.
        _commit_buckets(table_path, out, touched, keep_gens=keep_gens)

    writer = events.writeStream.foreachBatch(merge_batch).option(
        "checkpointLocation", checkpoint
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _merge_folds(a: DataFrame, b: DataFrame) -> DataFrame:
    """Merge two consolidated snapshots per key with the fold's
    semantics: latest-CREATE-wins scalars, set-union arrays (A2)."""
    from intelligencepipeline_spark.consolidate import (
        denormalize_metadata,
        normalize_metadata,
    )

    u = a.unionByName(b)
    merged = u.groupBy("doc_id").agg(
        F.max_by(F.col("name"), F.col("ingest_ts")).alias("name"),
        F.max("ingest_ts").alias("ingest_ts"),
        F.max_by(F.col("representation"), F.col("ingest_ts")).alias(
            "representation"
        ),
        F.array_sort(
            F.array_distinct(F.flatten(F.collect_list("additional_representations")))
        ).alias("additional_representations"),
        F.array_sort(
            F.array_distinct(
                F.flatten(
                    F.collect_list(
                        F.transform(F.col("meta"), normalize_metadata)
                    )
                )
            )
        ).alias("meta_norm"),
    )
    return merged.withColumn(
        "meta", F.transform(F.col("meta_norm"), denormalize_metadata)
    ).drop("meta_norm")


def stream_stream_chunk_join(
    records: DataFrame,
    chunks: DataFrame,
    ts_col: str = "event_ts",
    window_seconds: int = 1,
    watermark: str = "10 seconds",
    how: str = "inner",
) -> DataFrame:
    """J1: windowed stream-stream equi-join of consolidated records with
    their chunks (ref JoinWindows.of(1000),
    KafkaIntelligencePipelineTests.kt:272-275) — watermarked on both
    sides so join state is bounded. ``how='left_outer'`` adds the
    semantics the reference lacks entirely: a record with NO chunks
    inside the window still emits (null-extended) once the watermark
    proves no match can arrive."""
    r = records.withWatermark(ts_col, watermark).alias("r")
    c = chunks.withWatermark(ts_col, watermark).alias("c")
    return r.join(
        c,
        F.expr(
            f"r.doc_id = c.doc_id AND "
            f"c.{ts_col} BETWEEN r.{ts_col} - INTERVAL {window_seconds} SECOND "
            f"AND r.{ts_col} + INTERVAL {window_seconds} SECOND"
        ),
        how,
    )


def session_window_reassembly(
    chunks: DataFrame,
    ts_col: str = "event_ts",
    gap_seconds: int = 500,
    watermark: str = "10 seconds",
) -> DataFrame:
    """A3: session-window chunk reassembly into DataRecordWithChunks
    (ref SessionWindows.with(500000) + explicit merger,
    KafkaIntelligencePipelineTests.kt:325-333 — Spark session windows
    merge natively). Append-mode output: one row per closed session."""
    return (
        chunks.withWatermark(ts_col, watermark)
        .groupBy(
            F.session_window(F.col(ts_col), f"{gap_seconds} seconds"),
            F.col("doc_id"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.array_sort(
                F.collect_list(F.struct("chunk_index", "content"))
            ).alias("chunks"),
        )
        .select(
            "doc_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_chunks",
            "chunks",
        )
    )
