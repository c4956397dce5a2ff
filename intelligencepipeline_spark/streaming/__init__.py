from intelligencepipeline_spark.streaming.bounded import (
    await_available_now,
    run_available_now,
)
from intelligencepipeline_spark.streaming.pipeline import (
    consolidate_stream,
    consolidate_to_bucketed_table,
    read_bucketed_snapshot,
    session_window_reassembly,
    snapshot_versions,
    vacuum_bucketed_snapshot,
    stream_stream_chunk_join,
)
from intelligencepipeline_spark.streaming.rollup import (
    read_rollup,
    rollup_cascade_sink,
    streaming_rollup_finest,
)
from intelligencepipeline_spark.streaming.dedup import (
    streaming_dedup_content,
    streaming_dedup_exact,
)
from intelligencepipeline_spark.streaming.stateful import (
    streaming_first_seen,
    streaming_rate_limit,
    streaming_running_stats,
)

__all__ = [
    "await_available_now",
    "run_available_now",
    "read_rollup",
    "rollup_cascade_sink",
    "streaming_rollup_finest",
    "consolidate_stream",
    "consolidate_to_bucketed_table",
    "read_bucketed_snapshot",
    "session_window_reassembly",
    "snapshot_versions",
    "vacuum_bucketed_snapshot",
    "stream_stream_chunk_join",
    "streaming_dedup_content",
    "streaming_dedup_exact",
    "streaming_first_seen",
    "streaming_rate_limit",
    "streaming_running_stats",
]
