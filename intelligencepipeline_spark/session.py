"""SparkSession factory.

Local testing runs on ``local[N]`` (one JVM); production target is a
1000-executor cluster over ~100 TB, so every default here is chosen to
also make sense at that scale:

* AQE on (runtime coalescing, skew-join splitting, dynamic join strategy)
  — at 100 TB static planning is always wrong somewhere.
* ``spark.sql.shuffle.partitions`` defaults to a local-friendly value but
  AQE coalesces upward/downward at runtime; on a real cluster set it to
  ~2-3x total cores via ``extra_conf``.
* Arrow enabled: every Python-side operator in this engine is
  Arrow-batched (pandas_udf / mapInPandas), never row-at-a-time.
* Session timezone pinned to UTC so event-time semantics are stable
  across engines (and vs the DuckDB oracle).
"""

from __future__ import annotations

import contextlib
import os
import tempfile
from typing import Iterator

from pyspark.sql import SparkSession

from intelligencepipeline_spark.scratch import scratch_root

DEFAULT_SHUFFLE_PARTITIONS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# Non-AQE shuffle width — in this engine that is effectively the
# STREAMING micro-batch state/shuffle partition count (optimization
# guide §2.2: size partitions to bytes, not to a constant). Batch
# queries all run under AQE, which starts from
# ``initialPartitionNum`` (kept at the core-scaled value above) and
# coalesces at runtime, so they never read this knob; structured
# streaming has no AQE, so every stateful micro-batch pays one
# state-store task per shuffle partition REGARDLESS of batch size —
# measured on this host: an identical 2-file stateful AvailableNow
# proof runs 2.6 s at width 32 vs 1.05 s at width 4 (pure fixed
# cost; the staged micro-batches are KB-scale). Production streams
# over real volumes should set this to ~2-3x total cores via
# extra_conf/env — the checkpoint pins it from the first run —
# exactly like the cluster guidance for shuffle partitions below.
MICROBATCH_SHUFFLE_PARTITIONS = os.environ.get(
    "IP_MICROBATCH_SHUFFLE_PARTITIONS", "4"
)


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on executors regardless of driver cwd.

    mapInPandas / pandas_udf closures are pickled BY REFERENCE to their
    defining module, so every Python worker must be able to
    ``import intelligencepipeline_spark`` on its own. When the driver
    happens to run from the repo root that works by accident (cwd on
    ``sys.path``); from any other cwd — or on a real cluster where
    executors share nothing with the driver's filesystem layout — it
    dies with a worker-side ``ModuleNotFoundError``. Shipping a zip of
    the package via ``addPyFile`` puts it on every worker's
    ``sys.path`` (Spark distributes it and prepends the download dir),
    which is exactly how a 1000-executor cluster would receive it.
    The zip lives in this process's scratch root, removed at exit.
    """
    sc = spark.sparkContext
    if getattr(sc, "_ip_spark_pkg_shipped", False):
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_path = os.path.join(scratch_root(), f"ip_spark_pkg_{os.getpid()}.zip")
    if not os.path.exists(zip_path):
        import zipfile

        tmp = zip_path + ".tmp"
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for fname in sorted(files):
                    if not fname.endswith(".py"):
                        continue
                    full = os.path.join(root, fname)
                    rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                    zf.write(full, rel)
        os.replace(tmp, zip_path)
    sc.addPyFile(zip_path)
    sc._ip_spark_pkg_shipped = True


def get_spark(
    app_name: str = "intelligencepipeline_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a
    cluster leave it unset and let spark-submit provide it.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .config(
            "spark.sql.shuffle.partitions", MICROBATCH_SHUFFLE_PARTITIONS
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE's pre-coalesce width for every BATCH exchange: the
        # core-scaled value shuffle.partitions used to carry. With
        # this pinned, batch plans are byte-identical to before
        # (AQE starts at the same width and coalesces the same way);
        # only non-AQE consumers — the streaming micro-batch proofs —
        # see the smaller data-sized width above.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            DEFAULT_SHUFFLE_PARTITIONS,
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE for plans that read cached (persisted) frames — OFF by
        # default in Spark for exchange-reuse predictability, but this
        # engine persists its shared substrates (shingles, LSH
        # candidates, NB/LM scores) and without it every cached frame
        # MATERIALIZES at the pre-coalesce width (initialPartitionNum
        # = core count) and every consumer stage runs one task per
        # core over KB-scale cached blocks (guide §2.2: size
        # partitions to bytes, not cores). Measured at 32 cores,
        # sf0.1: minhash_lsh_pairs 0.37→0.14 s, dedup_clusters
        # 0.25→0.18, span_dedup_clean 1.95→1.72, consistent wins on
        # all 9 probed substrate consumers, no regressions. At 100 TB
        # the same flag right-sizes cached-substrate partitions by
        # bytes instead of pinning them to whatever the build stage's
        # width was.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # testdata events.parquet carries TIMESTAMP(NANOS) (illegal for
        # Spark's reader by default); read as long, converted in
        # sources/tables.py. Set here so the first scan never errors.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # 128 MB input splits: right-sized for both local[32] on sf0.1
        # and a wide cluster scanning TB-scale parquet.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Short-lived streaming proofs replay 2-5 microbatches from
        # scratch; retaining the default 100 checkpoint batches just
        # multiplies tiny fsync'd files in the commit/offset logs.
        # Long-lived production jobs should raise this via extra_conf.
        .config("spark.sql.streaming.minBatchesToRetain", "2")
        .config("spark.ui.enabled", "false")
        # saveAsTable (bucketed tables) should never litter the repo /
        # cwd; on a cluster point this at real storage via extra_conf.
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE",
                os.path.join(tempfile.gettempdir(), "ip_spark_warehouse"),
            ),
        )
        # local[N] puts every "executor" in the driver JVM: size it like
        # the sum of executors it stands in for, or long catalogs of
        # shuffle-heavy queries degrade into GC thrash.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
    )
    if not SparkSession.getActiveSession():
        builder = builder.master(master)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark


@contextlib.contextmanager
def conf_override(
    spark: SparkSession, confs: dict[str, str]
) -> Iterator[None]:
    """Set the session confs ``confs`` for the body of a ``with`` block.
    On exit, exceptions included, each key that had a value gets it
    back and each key that had none ("not set" is a state of its own)
    is unset again, so a value passed through ``get_spark(extra_conf=)``
    is never replaced by a default."""
    prior = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in prior.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
