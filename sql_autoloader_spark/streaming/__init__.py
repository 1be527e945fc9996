"""Structured Streaming surface: streaming auto-load, event-stream
operators (SURVEY §2G event/stream ops), and the streaming CDC feed."""

from sql_autoloader_spark.streaming.cdc_source import (
    TableChangesDataSource,
    read_changes_stream,
    read_warehouse_changes_stream,
    stream_rollup,
)
from sql_autoloader_spark.streaming.pipeline import (
    autoload_stream,
    compact_signature_store,
    dedup_stream,
    fuzzy_dedup_stream,
    sessionized_counts,
    user_activity_state,
    windowed_event_counts,
)

__all__ = [
    "TableChangesDataSource",
    "autoload_stream",
    "compact_signature_store",
    "dedup_stream",
    "fuzzy_dedup_stream",
    "read_changes_stream",
    "read_warehouse_changes_stream",
    "sessionized_counts",
    "stream_rollup",
    "user_activity_state",
    "windowed_event_counts",
]
