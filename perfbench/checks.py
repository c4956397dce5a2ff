"""Output checks. Each compares what the program committed with an
independent computation over the same generated inputs; a mismatch is
a failed operation and fails the run."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from intelligencepipeline_spark.consolidate import consolidate_events, normalize_metadata
from intelligencepipeline_spark.schemas import DATARECORD_EVENT_SCHEMA
from intelligencepipeline_spark.streaming.pipeline import read_bucketed_snapshot
from perfbench import probes
from perfbench.pipeline import DOC_DDL, build_engine


def guarded(ctx, name: str, check, *args) -> None:
    """Run a check; one that cannot complete is a failed check."""
    try:
        check(ctx, *args)
    except Exception as e:  # the run must still report, with correct=false
        ctx.check(f"{name}.completed", False, repr(e)[:500])


def normalized_records(dr: DataFrame, chunks: DataFrame) -> DataFrame:
    """One comparable row per document: normalized ``meta``, the
    rendition set and contents, and the chunk count and contents."""
    d = dr.select(
        "doc_id",
        F.to_json(F.array_sort(F.transform("meta", normalize_metadata))).alias("meta"),
        F.to_json(F.array_sort("additional_representations")).alias("reps"),
        F.sha1(F.col("text")).alias("text_sha1"),
        F.sha1(F.col("html")).alias("html_sha1"),
    )
    c = chunks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sha1(F.to_json(F.array_sort(F.collect_list(F.struct("chunk_index", "content"))))).alias("chunks_sha1"),
    )
    return d.join(c, "doc_id", "left")


def normalized_snapshot(df: DataFrame) -> DataFrame:
    return df.select(
        "doc_id", "name", "ingest_ts", F.to_json("representation").alias("rep"),
        F.to_json(F.array_sort("additional_representations")).alias("reps"),
        F.to_json(F.array_sort(F.transform("meta", normalize_metadata))).alias("meta"),
    )


def diff_rows(a: DataFrame, b: DataFrame) -> int:
    """Rows in one frame and not the other, counting duplicates (a
    multiset difference both ways, each side evaluated once)."""
    def tagged(df: DataFrame, side: int) -> DataFrame:
        return df.select(F.sha1(F.to_json(F.struct(*sorted(df.columns)))).alias("h"),
                         F.lit(side).alias("side"))

    return (
        tagged(a, 1).unionByName(tagged(b, -1)).groupBy("h")
        .agg(F.abs(F.sum("side")).alias("n")).agg(F.sum("n")).collect()[0][0]
    ) or 0


def meta_value(producer: str, key: str):
    entry = F.element_at(F.filter("meta", lambda m: m["created_by"] == F.lit(producer)), 1)
    return entry["values"][key]


def _ledger_check(ctx, name: str, got: dict, ledger) -> None:
    want = dict(ledger)
    bad = sum(1 for k, v in want.items() if got.get(k) != v) + len(set(got) - set(want))
    ctx.check(name, bad == 0 and len(ledger) == len(want),
              f"{bad} of {len(want)} documents differ from the generator's ledger")


def python_sentences(text: str) -> int:
    """Reference sentence count: split after ``.!?`` + whitespace."""
    parts = re.sub(r"([.!?])\s+", "\\1\x01", text).split("\x01")
    return sum(1 for p in parts if p.strip())


def enrich(ctx, staged, out_dir: str, texts: dict[int, str]) -> None:
    """Backfill the same documents with a batch ``Engine.run`` (timed:
    the same producer compute without any micro-batch machinery), then
    check that no producer dropped out of it, that the streaming sink
    equals it, that every row carries the language and entity metadata,
    and that digests, token and sentence counts equal the ledger and a
    Python reference."""
    spark = ctx.spark
    ref_dir = ctx.dir("backfill")
    n_docs = len(staged.ledger())
    with probes.Window(spark, ctx.jvm_pid) as win, ctx.tracer.span("backfill.engine_run"):
        eng = build_engine(spark, spark.read.schema(DOC_DDL).parquet(staged.inbox))
        ref = eng.run()
        ref["datarecords"].write.mode("overwrite").parquet(f"{ref_dir}/datarecords")
        ref["chunks"].write.mode("overwrite").parquet(f"{ref_dir}/chunks")
    ctx.check("backfill.no_failed_producers", not eng.failed_producers,
              repr(eng.failed_producers))
    ctx.layers["backfill.docs_per_s"] = n_docs / win.wall_s
    ctx.layers["backfill.cpu_ms_per_1k"] = win.cpu_s * 1e6 / n_docs
    sink_dr = spark.read.parquet(f"{out_dir}/datarecords")
    sink_ch = spark.read.parquet(f"{out_dir}/chunks")
    n = diff_rows(normalized_records(sink_dr, sink_ch),
                  normalized_records(spark.read.parquet(f"{ref_dir}/datarecords"),
                                     spark.read.parquet(f"{ref_dir}/chunks")))
    ctx.check("enrich.sink_equals_batch_run", n == 0, f"{n} rows differ")
    rows = sink_dr.select("doc_id", meta_value("sha1", "sha1"), meta_value("tokens", "n_tokens"),
                          meta_value("lang", "lang"), meta_value("ner", "n_entities")).collect()
    _ledger_check(ctx, "enrich.sha1_matches_ledger", {r[0]: r[1] for r in rows}, staged.ledger())
    ctx.check("enrich.one_row_per_document", len(rows) == n_docs,
              f"{len(rows)} sink rows for {n_docs} documents")
    bad = sum(1 for r in rows if r[3] is None or r[4] is None)
    ctx.check("enrich.lang_and_ner_in_every_row", bad == 0, f"{bad} documents lack them")
    bad = sum(1 for r in rows if int(r[2]) != len([t for t in texts[r[0]].split(" ") if t]))
    ctx.check("enrich.token_counts", bad == 0, f"{bad} documents differ")
    counts = dict(sink_ch.groupBy("doc_id").count().collect())
    bad = sum(1 for k, t in texts.items() if counts.get(k, 0) != python_sentences(t))
    ctx.check("enrich.sentence_chunks", bad == 0, f"{bad} documents differ")


def consolidate(ctx, staged, table: str) -> None:
    """The final snapshot equals ``consolidate_events`` over every
    event generated (the fold itself is timed: the batch counterpart of
    the incremental merge)."""
    spark = ctx.spark
    events = spark.read.schema(DATARECORD_EVENT_SCHEMA).parquet(staged.inbox)
    n_events = events.count()
    ctx.check("consolidate.events_match_ledger", n_events == len(staged.ledger()),
              f"{n_events} events read for {len(staged.ledger())} generated")
    fold_dir = ctx.dir("fold")
    with probes.Window(spark, ctx.jvm_pid) as win, ctx.tracer.span("consolidate_events"):
        consolidate_events(events).write.mode("overwrite").parquet(fold_dir)
    ctx.layers["consolidate.fold_ms"] = win.wall_s * 1000.0
    ctx.layers["consolidate.fold_shuffle_bytes"] = win.exec["shuffle_write_bytes"]
    snap = read_bucketed_snapshot(spark, table).drop("bucket")
    n = diff_rows(normalized_snapshot(snap), normalized_snapshot(spark.read.parquet(fold_dir)))
    ctx.check("consolidate.snapshot_equals_fold", n == 0, f"{n} rows differ")
