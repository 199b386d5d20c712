"""Structured Streaming jobs: windowed counts, sessionization, stateful
running aggregates, checkpointed file→parquet ingest."""

from b2b_data_pipeline_indiamart_spark.streaming.jobs import (
    dedup_stream,
    event_stream_schema,
    view_click_attribution,
    read_event_stream,
    running_user_totals,
    psi_reference,
    start_drift_monitor_sink,
    start_memory_sink,
    start_incremental_rollup,
    start_neardup_suppress_sink,
    start_embedding_neardup_suppress_sink,
    read_state_store,
    start_parquet_ingest,
    stateful_sessionize,
    streaming_decontaminate,
    streaming_session_aggregate,
    windowed_event_counts,
)

__all__ = [
    "event_stream_schema",
    "read_event_stream",
    "windowed_event_counts",
    "streaming_session_aggregate",
    "running_user_totals",
    "stateful_sessionize",
    "dedup_stream",
    "streaming_decontaminate",
    "view_click_attribution",
    "start_memory_sink",
    "start_incremental_rollup",
    "start_neardup_suppress_sink",
    "start_embedding_neardup_suppress_sink",
    "read_state_store",
    "start_parquet_ingest",
    "psi_reference",
    "start_drift_monitor_sink",
]
