"""Bounded (AvailableNow) streaming runs that never leave a query
running: one that does not finish within ``TIMEOUT_S`` is stopped and
reported with ``TimeoutError``, a failed one re-raises its error, and
the wait is a plain check, so it also holds under ``python -O``."""

from __future__ import annotations

import time

from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from intelligencepipeline_spark.scratch import scratch_dir

TIMEOUT_S = 300  # wall-clock bound for one bounded run, all its queries


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
