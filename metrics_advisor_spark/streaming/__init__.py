"""Structured Streaming re-skin of the batch pipeline (SURVEY.md §2.8, §7.11)."""

from metrics_advisor_spark.streaming.pipeline import (
    SIGNAL_SCHEMA,
    detect_anomalies_stateful,
    latest_by_key_stream,
    run_to_memory,
    session_stats_stream,
    stream_signals,
    streaming_audio_gate,
    streaming_exact_dedup,
    streaming_flagship,
    streaming_ksigma,
    streaming_neardup_gate,
    streaming_xcorr,
    windowed_stats,
)

__all__ = [
    "SIGNAL_SCHEMA",
    "detect_anomalies_stateful",
    "latest_by_key_stream",
    "run_to_memory",
    "session_stats_stream",
    "stream_signals",
    "streaming_audio_gate",
    "streaming_exact_dedup",
    "streaming_flagship",
    "streaming_ksigma",
    "streaming_neardup_gate",
    "streaming_xcorr",
    "windowed_stats",
]
