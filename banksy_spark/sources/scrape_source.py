"""Python DataSource V2 scrape source (SURVEY.md §2.1 S2; VERDICT r4
item 6): the reference's ``while True`` scrape-retry loop
(bovada_pull.py:14-42) as an honest rate-limited custom DataSource —
``spark.read.format("scrape")`` for the one-shot batch form and
``spark.readStream.format("scrape")`` for the incremental form.  The
attempt rule is written once, in the stream reader's step; the batch
reader drives that step to its terminal offset.

Semantics contract (mirrors ``adapters.poll_until_valid`` exactly,
stream==batch tested in tests/test_sources.py):

- one fetch attempt per tick, paced at ``interval_s`` (the reference's
  2 s sleep, bovada_pull.py:40);
- validity predicate: payload length >= ``min_len`` (the reference's
  ``len >= 250`` check, :34) plus an optional ``must_contain``
  substring;
- give-up: after attempt k fails with (k-1)*interval_s >= timeout_s
  (the reference's 60 s budget, :34-38) the source goes terminal and
  emits nothing — zero rows, downstream parse yields an empty frame;
- on the first valid payload the source emits exactly one row
  ``(attempt INT, payload STRING)`` and goes terminal.

The fetch callable cannot ride through DSv2's string-only options, so
it is injected as an importable **factory path** ``module:function``
(option ``fetcher``); the factory runs once per reader and returns the
zero-arg fetch callable, so scripted/test fetchers keep their state in
the process that actually performs the reads. That matters because the
Python DataSource API executes reads in a separate Python runner, not
the driver REPL — ``sys_path`` (path-separated) lets callers make the
factory importable there.

Scale: scraping is not distributed work — the batch reader is a single
input partition and the stream reader is a SimpleDataSourceStreamReader
(driver-side reads, the API's intended shape for low-throughput
sources). The heavy work (parse, normalize, join) happens downstream on
the emitted payload as ordinary distributed DataFrame ops. The offset
carries (attempt, done, payload) so ``readBetweenOffsets`` replays a
committed micro-batch without refetching — restart-safe exactly-once
delivery of the single payload row.
"""

from __future__ import annotations

import importlib
import os
import sys
import time
from collections.abc import Callable, Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

SCRAPE_SCHEMA = "attempt INT, payload STRING"


def _resolve_fetch(options: dict) -> Callable[[], str | None]:
    for p in reversed((options.get("sys_path") or "").split(os.pathsep)):
        if p and p not in sys.path:
            sys.path.insert(0, p)
    path = options.get("fetcher")
    if not path or ":" not in path:
        raise ValueError(
            "scrape source needs option fetcher='module:factory_function'"
        )
    mod_name, fn_name = path.split(":", 1)
    factory = getattr(importlib.import_module(mod_name), fn_name)
    return factory()


def _make_valid(options: dict) -> Callable[[str], bool]:
    min_len = int(options.get("min_len", "250"))
    must = options.get("must_contain")

    def is_valid(payload: str) -> bool:
        if len(payload) < min_len:
            return False
        return must is None or must in payload

    return is_valid


class _ScrapeBatchReader(DataSourceReader):
    """One-shot form: the whole retry loop inside a single read() —
    the DSv2 twin of ``blob_to_df(poll_until_valid(fetch, ...))`` —
    run as the stream reader's steps from the initial offset until one
    is terminal."""

    def __init__(self, options: dict) -> None:
        self._options = dict(options)

    def partitions(self):
        return [InputPartition(0)]

    def read(self, partition) -> Iterator[tuple]:
        stream = _ScrapeStreamReader(self._options)
        offset = stream.initialOffset()
        while not offset["done"]:
            rows, offset = stream.read(offset)
            yield from rows


class _ScrapeStreamReader(SimpleDataSourceStreamReader):
    """Incremental form: ONE fetch attempt per micro-batch, paced by
    the trigger plus an in-reader floor of ``interval_s`` between
    consecutive fetches; offsets carry the full terminal state so
    recovery replays instead of refetching."""

    def __init__(self, options: dict) -> None:
        self._options = dict(options)
        self._fetch: Callable[[], str | None] | None = None
        self._is_valid = _make_valid(self._options)
        self._timeout_s = float(self._options.get("timeout_s", "60"))
        self._interval_s = float(self._options.get("interval_s", "2"))
        self._last_fetch: float | None = None

    def initialOffset(self) -> dict:
        return {"attempt": 0, "done": False, "payload": None}

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        if start.get("done"):
            return iter([]), start
        if self._fetch is None:
            self._fetch = _resolve_fetch(self._options)
        # rate limit: never two fetches closer than interval_s
        if self._last_fetch is not None and self._interval_s > 0:
            wait = self._interval_s - (time.monotonic() - self._last_fetch)
            if wait > 0:
                time.sleep(wait)
        attempt = int(start.get("attempt", 0)) + 1
        self._last_fetch = time.monotonic()
        payload = self._fetch()
        if payload is not None and self._is_valid(payload):
            end = {"attempt": attempt, "done": True, "payload": payload}
            return iter([(attempt, payload)]), end
        if (attempt - 1) * self._interval_s >= self._timeout_s:
            return iter([]), {"attempt": attempt, "done": True, "payload": None}
        return iter([]), {"attempt": attempt, "done": False, "payload": None}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        # deterministic replay from offset state — no refetch
        if end.get("payload") is not None and not start.get("done"):
            return iter([(int(end["attempt"]), end["payload"])])
        return iter([])

    def commit(self, end: dict) -> None:
        pass


class ScrapeDataSource(DataSource):
    """``format("scrape")`` — options: ``fetcher`` (module:factory,
    required), ``min_len``, ``must_contain``, ``timeout_s``,
    ``interval_s``, ``sys_path``."""

    @classmethod
    def name(cls) -> str:
        return "scrape"

    def schema(self) -> str:
        return SCRAPE_SCHEMA

    def reader(self, schema) -> DataSourceReader:
        return _ScrapeBatchReader(self.options)

    def simpleStreamReader(self, schema) -> SimpleDataSourceStreamReader:
        return _ScrapeStreamReader(self.options)


def register_scrape_source(spark) -> None:
    """Idempotent registration of the scrape DSv2 source."""
    spark.dataSource.register(ScrapeDataSource)
