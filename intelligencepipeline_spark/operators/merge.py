"""Generic keyed MERGE / upsert into a table path.

The reference's consolidation state store is a Kafka-Streams KTable
with RocksDB changelog (KafkaIntelligencePipeline.kt:364-382); its
"merge" is fold-specific. This operator is the general table-level
counterpart (SURVEY §2.3 A1's "preferred: foreachBatch + Delta MERGE
INTO" mapping): upsert rows by key into a snapshot table, with
optional CDC-style deletes.

Backend selection, in order:

* **Delta Lake** when ``delta`` is importable and the target is a
  Delta table — a real ``MERGE INTO`` (ACID, no read-modify-write).
* **Bucketed parquet** otherwise (this container): the table lives at
  ``path/bucket=<pmod(xxhash64(key), n_buckets)>/``; a merge reads
  ONLY the buckets touched by the update batch (partition pruning),
  anti-joins the stale rows out, unions the new rows in, and rewrites
  just those directories via dynamic partition overwrite.

Scale notes (100 TB target):

* Per-merge cost is O(touched buckets), not O(table). Size
  ``n_buckets`` so a bucket is a few GB (100 TB → ~64k buckets).
* The anti-join is broadcast-able whenever the update batch is small
  (the common CDC case) — Spark picks that automatically since the
  update side is the build side.
* The bucket column is derived from ``xxhash64(key)`` so string keys
  and skewed numeric keys spread evenly.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from intelligencepipeline_spark.session import conf_override


def _delta_table(spark, path: str):
    """DeltaTable handle when delta is importable AND the path is a
    Delta table, else None (import-try — hermetic container has none)."""
    try:
        from delta.tables import DeltaTable  # type: ignore
    except ImportError:
        return None
    try:
        if DeltaTable.isDeltaTable(spark, path):
            return DeltaTable.forPath(spark, path)
    except Exception:
        pass
    return None


def latest_per_key(updates: DataFrame, key: str, order_col: str) -> DataFrame:
    """Collapse an update batch to one row per key — highest
    ``order_col`` wins (CDC compaction; ties broken arbitrarily but
    deterministically by the window sort)."""
    w = Window.partitionBy(key).orderBy(F.col(order_col).desc())
    return (
        updates.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def merge_upsert(
    updates: DataFrame,
    table_path: str,
    key: str = "doc_id",
    order_col: str | None = None,
    delete_col: str | None = None,
    n_buckets: int = 64,
    changelog: bool = False,
) -> None:
    """MERGE ``updates`` into the table at ``table_path`` by ``key``.

    * matched rows are replaced by the update row (last-wins when
      ``order_col`` is given — the batch is compacted first);
    * unmatched rows are inserted;
    * rows whose ``delete_col`` is true are deleted from the target
      (and never inserted) — CDC tombstones.
    * ``changelog=True`` additionally appends the (compacted) batch to
      ``<table>/_changelog/v=<n>`` with a ``_deleted`` flag — the
      upsert history the reference exposes as its consolidated-topic
      replay (dataRecords(), KafkaIntelligencePipeline.kt:61-76);
      ``read_changelog`` replays it (underscore prefix keeps the log
      invisible to snapshot scans).

    Works as a batch call or inside ``writeStream.foreachBatch`` for
    streaming upserts. Idempotent for a fixed batch: re-running the
    same merge converges to the same table.
    """
    spark = updates.sparkSession
    if order_col is not None:
        updates = latest_per_key(updates, key, order_col)

    if changelog:
        clog = os.path.join(table_path, "_changelog")
        vs = []
        if os.path.isdir(clog):
            vs = [
                int(d.split("=", 1)[1])
                for d in os.listdir(clog)
                if d.startswith("v=")
            ]
        v = max(vs) + 1 if vs else 0
        entry = updates.withColumn(
            "_deleted",
            F.coalesce(F.col(delete_col), F.lit(False))
            if delete_col is not None
            else F.lit(False),
        )
        if delete_col is not None:
            entry = entry.drop(delete_col)
        entry.write.mode("overwrite").parquet(os.path.join(clog, f"v={v}"))

    dt = _delta_table(spark, table_path)
    if dt is not None:
        cond = f"t.{key} = s.{key}"
        m = dt.alias("t").merge(updates.alias("s"), cond)
        if delete_col is not None:
            m = m.whenMatchedDelete(condition=f"s.{delete_col}")
            m = m.whenMatchedUpdateAll(condition=f"NOT s.{delete_col}")
            m = m.whenNotMatchedInsertAll(condition=f"NOT s.{delete_col}")
        else:
            m = m.whenMatchedUpdateAll().whenNotMatchedInsertAll()
        m.execute()
        return

    # ---- bucketed-parquet fallback -------------------------------
    # Commits go through the shared manifest protocol
    # (operators/snapshot_store.py): new gen dirs → atomic manifest
    # publish → GC — the crash-at-any-point-safe analog of Delta's
    # transaction log (the dynamic-partition-overwrite form this
    # replaces could lose a touched bucket between its delete and its
    # rewrite).
    from intelligencepipeline_spark.operators.snapshot_store import (
        commit_buckets,
        read_snapshot,
        snapshot_exists,
        touched_buckets,
    )

    bucket = F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets))
    if delete_col is not None:
        live = updates.filter(~F.coalesce(F.col(delete_col), F.lit(False)))
        live = live.drop(delete_col)
        dead_or_live_keys = updates.select(key)
    else:
        live = updates
        dead_or_live_keys = updates.select(key)

    if not snapshot_exists(table_path):
        legacy = (
            [d for d in os.listdir(table_path) if d.startswith("bucket=")]
            if os.path.isdir(table_path)
            else []
        )
        if legacy:
            # Legacy layout (bucket= dirs written by the pre-manifest
            # dynamic-partition-overwrite code, no _MANIFEST): a
            # bootstrap that published only the new batch's buckets
            # would silently orphan every pre-existing row. One-time
            # migration instead: RE-BUCKET the legacy rows under the
            # current (key, n_buckets) scheme — the legacy scheme's
            # modulus is unknown and may differ — and commit them as
            # the initial manifest generation, then fall through to
            # the normal incremental merge. Crash-safe: until the
            # manifest publishes, the table still reads as legacy;
            # after it, the loose legacy files are invisible and
            # swept below.
            old = (
                spark.read.option("basePath", table_path)
                .parquet(*[os.path.join(table_path, d) for d in legacy])
                .drop("bucket")
                .withColumn("bucket", bucket)
            )
            commit_buckets(
                table_path, old, touched_buckets(old, F.col("bucket"))
            )
            for d in legacy:
                bdir = os.path.join(table_path, d)
                for f_ in os.listdir(bdir):
                    if not f_.startswith("gen="):
                        p_ = os.path.join(bdir, f_)
                        if os.path.isdir(p_):
                            shutil.rmtree(p_, ignore_errors=True)
                        else:
                            os.remove(p_)
                if not os.listdir(bdir):
                    os.rmdir(bdir)
        else:
            out = live.withColumn("bucket", bucket)
            os.makedirs(table_path, exist_ok=True)
            commit_buckets(table_path, out, touched_buckets(out, bucket))
            return

    from intelligencepipeline_spark.operators.snapshot_store import (
        read_manifest,
    )

    if not (read_manifest(table_path) or {}).get("buckets"):
        # Manifest exists but maps no buckets (every key of every
        # bucket was deleted): the store is live-but-empty — a fresh
        # bootstrap commit, not a merge (read_snapshot on an empty
        # manifest raises by contract).
        out = live.withColumn("bucket", bucket)
        commit_buckets(table_path, out, touched_buckets(out, bucket))
        return

    touched = touched_buckets(updates, bucket)
    existing = read_snapshot(spark, table_path).filter(
        F.col("bucket").isin(touched)
    )
    kept = existing.drop("bucket").join(
        dead_or_live_keys, on=key, how="left_anti"
    )
    # allowMissingColumns = additive schema evolution: an update batch
    # may carry new columns (old rows get nulls) or omit obsolete ones
    merged = kept.unionByName(
        live, allowMissingColumns=True
    ).withColumn("bucket", bucket)
    # No localCheckpoint needed: the commit writes NEW gen dirs, so the
    # read-from and written-to paths never overlap.
    # A touched bucket whose rows were all deleted produces no staged
    # dir — commit_buckets drops it from the manifest directly, so the
    # merge lineage runs exactly once (the write); the old separate
    # distinct().collect() pre-pass evaluated it twice.
    commit_buckets(table_path, merged, touched, drop_empty_touched=True)


def compact_table(
    spark,
    table_path: str,
    target_rows_per_file: int = 1_000_000,
) -> int:
    """Small-file compaction for a merge_upsert target — the table
    lifecycle op every incremental store needs: each merge rewrites
    touched buckets into fresh files, and a long-running store
    accumulates many small files per bucket (slow scans, pressure on
    the file index at 100 TB). Rewrites each bucket's rows into
    ~target_rows_per_file files. Returns the number of buckets
    compacted. (Delta backends use OPTIMIZE instead.)"""
    from intelligencepipeline_spark.operators.snapshot_store import (
        commit_buckets,
        read_manifest,
        read_snapshot,
        snapshot_exists,
    )

    if not snapshot_exists(table_path):
        return 0
    df = read_snapshot(spark, table_path)
    counts = {r["bucket"]: r["n"] for r in
              df.groupBy("bucket").agg(F.count(F.lit(1)).alias("n")).collect()}
    out = df.repartition(
        max(1, sum(counts.values()) // target_rows_per_file + 1),
        F.col("bucket"),
    )
    # The compacted rewrite is itself one manifest commit over every
    # bucket — readers flip from many-small-files to few-large-files
    # atomically, and a crash mid-compaction changes nothing.
    commit_buckets(
        table_path, out, list(read_manifest(table_path)["buckets"])
    )
    return len(counts)


def _sql_literal(v) -> str:
    """Render a Python value as a safe ANSI-SQL literal: strings with
    embedded single quotes doubled (''), everything else via str()."""
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def purge_key(
    spark,
    table_path: str,
    key: str,
    values: list,
) -> dict:
    """Right-to-be-forgotten (GDPR art. 17) over a merge_upsert store:
    remove every trace of ``values`` from the CURRENT SNAPSHOT, every
    RETAINED HISTORICAL GENERATION, and the CHANGELOG — a tombstone
    delete is not enough, because the changelog and retained versions
    still replay the data.

    Changelog: each committed ``v=`` dir containing a hit is rewritten
    through a two-phase swap (write ``_purged-v=N`` with _SUCCESS →
    rename old to ``_trash-v=N`` → rename staged into place → drop
    trash). A crash at any point leaves either the old dir (purge
    incomplete: re-run) or a completed staging dir; ``purge_key``
    starts by finishing any interrupted swap, so re-running always
    converges. Underscore prefixes keep trash/staging invisible to
    ``read_changelog`` (it only reads ``v=`` dirs with _SUCCESS).

    Snapshot: the buckets containing hits are rewritten WITHOUT the
    purged rows through the normal manifest commit (atomic flip), then
    ``vacuum_snapshot(keep_gens=1)`` drops every older generation and
    manifest — retention is deliberately collapsed, because a retained
    time-travel version that still serves the purged rows defeats the
    purge.

    Cost: O(changelog versions containing hits) + O(buckets containing
    hits) — never a full-table rewrite; hit location is one filtered
    scan each. Returns counts for auditability."""
    from intelligencepipeline_spark.operators.snapshot_store import (
        commit_buckets,
        read_snapshot,
        snapshot_exists,
        vacuum_snapshot,
    )

    vals = [v for v in values]
    stats = {
        "changelog_versions_rewritten": 0,
        "changelog_rows_purged": 0,
        "snapshot_buckets_rewritten": 0,
        "snapshot_rows_purged": 0,
    }

    clog = os.path.join(table_path, "_changelog")
    if os.path.isdir(clog):
        # finish interrupted swaps / drop trash from a prior crash
        for d in sorted(os.listdir(clog)):
            p = os.path.join(clog, d)
            if d.startswith("_trash-v="):
                shutil.rmtree(p, ignore_errors=True)
            elif d.startswith("_purged-v="):
                final = os.path.join(clog, d[len("_purged-"):])
                if os.path.exists(os.path.join(p, "_SUCCESS")) and not (
                    os.path.exists(final)
                ):
                    os.rename(p, final)
                else:
                    shutil.rmtree(p, ignore_errors=True)
        for d in sorted(os.listdir(clog)):
            if not d.startswith("v="):
                continue
            vdir = os.path.join(clog, d)
            if not os.path.exists(os.path.join(vdir, "_SUCCESS")):
                continue  # uncommitted garbage — invisible to replay
            try:
                vdf = spark.read.parquet(vdir)
            except Exception:
                continue  # empty crashed dir: nothing to purge
            hits = vdf.filter(F.col(key).isin(vals)).count()
            if not hits:
                continue
            staged = os.path.join(clog, f"_purged-{d}")
            shutil.rmtree(staged, ignore_errors=True)
            vdf.filter(~F.col(key).isin(vals)).coalesce(1).write.mode(
                "overwrite"
            ).parquet(staged)
            trash = os.path.join(clog, f"_trash-{d}")
            os.rename(vdir, trash)
            os.rename(staged, vdir)
            shutil.rmtree(trash, ignore_errors=True)
            stats["changelog_versions_rewritten"] += 1
            stats["changelog_rows_purged"] += hits

    dt = _delta_table(spark, table_path)
    if dt is not None:
        # SQL-quote by doubling single quotes: repr() is PYTHON quoting
        # (backslash escapes), which both mis-parses and lets an
        # attacker-chosen key value inject into the delete predicate.
        quoted = ", ".join(_sql_literal(v) for v in vals)
        dt.delete(f"{key} IN ({quoted})")
        # Delta's delete only writes a new version: the purged rows'
        # data files stay readable via time travel until vacuumed,
        # which defeats the GDPR contract (the snapshot-store path
        # collapses history via vacuum_snapshot for the same reason).
        with conf_override(
            spark,
            {"spark.databricks.delta.retentionDurationCheck.enabled": "false"},
        ):
            dt.vacuum(0)
        return stats

    if snapshot_exists(table_path):
        snap = read_snapshot(spark, table_path)
        # one grouped agg yields both the touched-bucket list and the
        # purged-row count (was two separate scans of the snapshot)
        per_bucket = {
            r["bucket"]: r["n"]
            for r in snap.filter(F.col(key).isin(vals))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        touched = list(per_bucket)
        if touched:
            stats["snapshot_rows_purged"] = sum(per_bucket.values())
            stats["snapshot_buckets_rewritten"] = len(touched)
            remaining = snap.filter(
                F.col("bucket").isin(touched) & ~F.col(key).isin(vals)
            )
            commit_buckets(
                table_path, remaining, touched, drop_empty_touched=True
            )
        # collapse retention: an older generation or manifest that can
        # still serve the purged rows defeats the purge
        vacuum_snapshot(table_path, keep_gens=1)
    return stats


def read_changelog(spark, table_path: str) -> DataFrame:
    """Replay the upsert history recorded by ``merge_upsert(...,
    changelog=True)``: every version of every key, with ``v`` (the
    merge sequence number) and ``_deleted``. The reference's
    dataRecords() replay-from-start semantics as a queryable table —
    ``latest_per_key(df, key, "v")`` + ``NOT _deleted`` reproduces the
    snapshot (proven by the changelog_replay catalog query)."""
    base = os.path.join(table_path, "_changelog")
    # Only COMMITTED versions: a merge that crashed mid-entry leaves a
    # v= dir without _SUCCESS — invisible garbage (the next merge
    # allocates a fresh v), never a torn replay.
    dirs = [
        os.path.join(base, d)
        for d in sorted(os.listdir(base))
        if d.startswith("v=")
        and os.path.exists(os.path.join(base, d, "_SUCCESS"))
    ]
    if not dirs:
        # Nothing committed (e.g. only a crashed first merge's
        # un-_SUCCESS'd v= dir exists): an EMPTY changelog, not an
        # error. Take the schema from an in-flight dir when one
        # exists; otherwise the minimal bookkeeping schema.
        inflight = [
            os.path.join(base, d)
            for d in sorted(os.listdir(base))
            if d.startswith("v=")
        ]
        if inflight:
            try:
                schema = spark.read.parquet(inflight[0]).schema
            except Exception:
                # The in-flight dir may hold ZERO parquet files (a
                # merge that crashed before any task wrote — exactly
                # the scenario this path targets): 'unable to infer
                # schema'. Fall through to the minimal schema.
                schema = None
            if schema is not None:
                from pyspark.sql.types import LongType, StructField

                if not any(f.name == "v" for f in schema.fields):
                    schema = schema.add(StructField("v", LongType()))
                return spark.createDataFrame([], schema)
        return spark.createDataFrame([], "v long, _deleted boolean")
    return spark.read.option("basePath", base).parquet(*dirs)


def read_merged(spark, table_path: str) -> DataFrame:
    """Snapshot read of a merge_upsert target (drops the internal
    bucket column; Delta tables read transparently the same way).
    Manifest-aware: only committed generations are visible; plain
    parquet dirs (no manifest) still read as a legacy fallback."""
    from intelligencepipeline_spark.operators.snapshot_store import (
        read_snapshot,
        snapshot_exists,
    )

    dt = _delta_table(spark, table_path)
    if dt is not None:
        return dt.toDF()
    if snapshot_exists(table_path):
        return read_snapshot(spark, table_path).drop("bucket")
    df = spark.read.parquet(table_path)
    return df.drop("bucket") if "bucket" in df.columns else df
