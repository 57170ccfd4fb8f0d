"""Structured Streaming slice (SURVEY.md §2.9)."""

from banksy_spark.streaming.core import (
    attribution_join,
    file_stats_manifest,
    kde_cell_density,
    hopping_hourly_sums,
    ohlc_candles,
    session_window_counts,
    read_events_stream,
    tumbling_daily_counts,
)

__all__ = [
    "read_events_stream",
    "file_stats_manifest",
    "kde_cell_density",
    "tumbling_daily_counts",
    "hopping_hourly_sums",
    "ohlc_candles",
    "session_window_counts",
    "attribution_join",
]
