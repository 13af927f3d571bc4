"""Structured Streaming surface.

The reference is batch-only (its only streaming reference is a
shutdown guard, reference assets/gold.py:31-33); its hand-rolled
watermark-incremental load (gold.py:56-65) maps naturally onto
Structured Streaming with Trigger.AvailableNow + checkpointed state.
This module provides the streaming-native variants of the event-window
operators in suite/events.py — same results, incremental execution.
"""

from nyc_etl_pipeline_spark.streaming.events import (
    run_available_now,
    stream_session_windows,
    stream_tumbling_counts,
)

__all__ = [
    "run_available_now",
    "stream_tumbling_counts",
    "stream_session_windows",
]
