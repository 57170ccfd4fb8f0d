"""Python DataSource V2 streaming NOTIFICATION sink — the reference's
push-notification sink (SURVEY §2.1 K3, arbitrage_scanner.py:478-502)
as a real ``df.writeStream.format("notify")`` target, completing the
DSv2 story in both directions (source: sources/scrape_source.py).

Semantics contract (``adapters.push_lines``, the rule
``adapters.send_notifications`` also applies; tested in
tests/test_sources.py):
- per micro-batch, ALL alert lines are sorted and combined into ONE
  message joined by newlines (the reference posts one push per scan);
- the min-batch rule: fewer than ``min_batch`` (default 2,
  arbitrage_scanner.py:434) alert rows in the epoch → nothing sent;
- delivery is an append of the combined message to the notification
  log at ``path`` — exactly-once per epoch because the append happens
  in the driver-side ``commit()`` (Spark calls commit once per
  successfully completed micro-batch; a retried batch re-runs
  ``write()`` but not a second ``commit``).

Why this shape scales: the alert set is post-aggregation tiny by
construction (decide_alerts already rate-limited it), so partitions
ship their lines inside WriterCommitMessages — the documented channel
for small per-partition results — and the external POST happens once,
driver-side, where a phone-push belongs. A high-volume sink would
instead write per-partition and commit a manifest; that variant is
``write_append`` (io.py) + foreachBatch, already covered.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamWriter,
    WriterCommitMessage,
)

from banksy_spark.sources.adapters import push_lines


@dataclass
class _Lines(WriterCommitMessage):
    lines: list = field(default_factory=list)


class _NotifyStreamWriter(DataSourceStreamWriter):
    def __init__(self, options: dict) -> None:
        self._path = options.get("path")
        if not self._path:
            raise ValueError("notify sink needs option path=<log file>")
        self._col = options.get("message_col", "combined")
        self._min_batch = int(options.get("min_batch", "2"))

    def write(self, iterator) -> _Lines:
        return _Lines(lines=[row[self._col] for row in iterator])

    def commit(self, messages, batchId: int) -> None:
        lines = (ln for m in messages if m is not None for ln in m.lines)
        push_lines(lines, self._append_push, self._min_batch)

    def _append_push(self, message: str) -> None:
        os.makedirs(os.path.dirname(self._path) or ".", exist_ok=True)
        with open(self._path, "a", encoding="utf-8") as f:
            f.write(message + "\n\x1e\n")  # RS-delimited pushes

    def abort(self, messages, batchId: int) -> None:
        pass  # nothing was externally visible before commit


class NotifyDataSource(DataSource):
    """``format("notify")`` — options: ``path`` (required),
    ``message_col`` (default 'combined'), ``min_batch`` (default 2)."""

    @classmethod
    def name(cls) -> str:
        return "notify"

    def schema(self) -> str:  # accepts whatever the alert frame carries
        return "combined STRING"

    def streamWriter(self, schema, overwrite: bool) -> _NotifyStreamWriter:
        return _NotifyStreamWriter(self.options)


def register_notify_sink(spark) -> None:
    """Idempotent registration of the notify DSv2 sink."""
    spark.dataSource.register(NotifyDataSource)


def read_pushes(path: str) -> list[str]:
    """Parse the notification log back into the list of pushes (each
    push is the newline-joined combined message) — the test/audit
    accessor."""
    if not os.path.exists(path):
        return []
    with open(path, encoding="utf-8") as f:
        raw = f.read()
    return [p.strip("\n") for p in raw.split("\n\x1e\n") if p.strip()]
