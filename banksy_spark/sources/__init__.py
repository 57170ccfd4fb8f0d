"""Driver-side source/sink adapters (SURVEY.md §2.1)."""

from banksy_spark.sources.adapters import (
    blob_to_df,
    poll_until_valid,
    send_notifications,
)

__all__ = [
    "poll_until_valid",
    "blob_to_df",
    "send_notifications",
]
