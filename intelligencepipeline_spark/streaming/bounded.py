"""Bounded (AvailableNow) streaming runs that never leave a query
running: one that does not finish within ``TIMEOUT_S`` is stopped and
reported with ``TimeoutError``, a failed one re-raises its error, and
the wait is a plain check, so it also holds under ``python -O``.

``stage_batches`` is the feed side: it lands frames as the one-file
micro-batches of a file stream, in a pinned order."""

from __future__ import annotations

import glob
import os
import tempfile
import time
from collections.abc import Iterable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from intelligencepipeline_spark.scratch import scratch_dir

TIMEOUT_S = 300  # wall-clock bound for one bounded run, all its queries
# mtime of staged batch 0; batch n gets STAGE_MTIME_S + n seconds
STAGE_MTIME_S = 1_000_000_000


def await_available_now(what: str, *queries: StreamingQuery) -> None:
    """Wait for already-started AvailableNow ``queries``; on the way out
    stop every one still active, and raise ``TimeoutError`` naming
    ``what`` if one did not finish within ``TIMEOUT_S``."""
    deadline = time.monotonic() + TIMEOUT_S
    finished = True
    try:
        for q in queries:
            left = max(deadline - time.monotonic(), 0.001)
            finished = q.awaitTermination(left) and finished
    finally:
        for q in queries:
            if q.isActive:
                q.stop()
    if not finished:
        raise TimeoutError(f"{what}: not finished in {TIMEOUT_S} s; stopped")


def run_available_now(
    writer: DataStreamWriter, what: str, checkpoint: str | None = None
) -> StreamingQuery:
    """Start ``writer`` with ``trigger(availableNow=True)`` and wait for
    it through :func:`await_available_now`; returns the finished query.
    ``checkpoint`` defaults to a fresh scratch directory: pass one when
    the run resumes from, or the caller reads back, its checkpoint."""
    checkpoint = checkpoint or scratch_dir("ip_ck_")
    q = (
        writer.option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    await_available_now(what, q)
    return q


def stage_batches(
    frames: Iterable[DataFrame], src: str | None = None, start: int = 0
) -> str:
    """Land each of ``frames`` as ONE parquet file ``b{start+i}.parquet``
    in ``src`` (a fresh scratch directory unless given); returns ``src``.

    A file stream orders the files it lists by mtime, and on tmpfs two
    files with one mtime are listed newest first, so a
    ``maxFilesPerTrigger=1`` stream could read ``b1`` before ``b0``.
    The mtime of ``b{n}`` is therefore pinned to ``STAGE_MTIME_S + n``
    seconds: batch ``n`` is micro-batch ``n``. ``start`` continues the
    numbering in an ``src`` that already holds batches, e.g. files that
    land between two runs of one checkpoint. Each frame is written
    once with ``coalesce(1)`` (a 0-row frame still writes one file)
    into a hidden directory in ``src``, which file listings skip, and
    its one part file is renamed into place."""
    src = src or scratch_dir("ip_feed_")
    for n, frame in enumerate(frames, start):
        with tempfile.TemporaryDirectory(prefix=".stage_", dir=src) as tmp:
            frame.coalesce(1).write.mode("overwrite").parquet(tmp)
            parts = glob.glob(os.path.join(tmp, "part-*.parquet"))
            if len(parts) != 1:
                raise RuntimeError(
                    f"batch {n}: expected one part file, got {parts}"
                )
            dst = os.path.join(src, f"b{n}.parquet")
            os.replace(parts[0], dst)
            os.utime(dst, (STAGE_MTIME_S + n, STAGE_MTIME_S + n))
    return src
