"""Structured Streaming pack: watermarked windows, sessionization,
custom stateful sessionization (SURVEY.md §7 v2 stretch, realized)."""

from dask_felleskomponenter_spark.streaming.ops import (
    EVENTS_SCHEMA,
    SESSION_SCHEMA,
    run_to_memory_sink,
    sessionize_events,
    sessionize_stateful,
    stream_dedup,
    stream_dedup_ingest,
    stream_events,
    stream_interval_join,
    stream_neardup_ingest,
    windowed_event_counts,
)

__all__ = [
    "EVENTS_SCHEMA",
    "SESSION_SCHEMA",
    "run_to_memory_sink",
    "sessionize_events",
    "sessionize_stateful",
    "stream_dedup",
    "stream_dedup_ingest",
    "stream_events",
    "stream_interval_join",
    "stream_neardup_ingest",
    "windowed_event_counts",
]
