"""Structured Streaming jobs: watermarked windows, session windows,
stream-stream joins, bounded-state dedup, the foreachBatch runner with
its versioned MERGE sink, and the applyInPandasWithState stateful
operator."""

from .jobs import (
    deduped_stream,
    events_stream,
    merge_batch,
    purchases_after_views,
    read_merge_target,
    run_available_now,
    run_foreach_batch,
    session_counts,
    windowed_counts,
)
from .stateful import stateful_user_totals

__all__ = [
    "deduped_stream",
    "events_stream",
    "merge_batch",
    "purchases_after_views",
    "read_merge_target",
    "run_available_now",
    "run_foreach_batch",
    "session_counts",
    "stateful_user_totals",
    "windowed_counts",
]
