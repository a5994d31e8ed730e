"""Structured Streaming extensions over the events table (SURVEY
§2.10: net-new surface -- the reference is batch-only)."""

from conversation_analysis_tools_spark.streaming.events import (
    read_event_stream,
    tumbling_counts,
    sliding_counts,
    session_aggregate,
    drain,
    enrich_with_dim,
    dedup_first,
)

__all__ = [
    "read_event_stream",
    "tumbling_counts",
    "sliding_counts",
    "session_aggregate",
    "drain",
    "enrich_with_dim",
    "dedup_first",
]
