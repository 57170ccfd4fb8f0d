"""Scrape-edge and alert-edge adapters (SURVEY.md §2.1 S1/S2/S5/K3).

These are deliberately driver-side: scraping and push notifications are
not distributed work. The analytics engine sees only DataFrames; the
network edges are injected as plain callables so tests (and the batch
harness) swap in fakes — the reference hard-wires Selenium and Pushover
instead (bovada_pull.py:14-42, arbitrage_scanner.py:493-502).
"""

from __future__ import annotations

import re
import time
from collections.abc import Callable, Iterable
from html import unescape

from pyspark.sql import DataFrame, SparkSession


def poll_until_valid(
    fetch: Callable[[], str],
    is_valid: Callable[[str], bool] | None = None,
    min_len: int = 250,
    timeout_s: float = 60.0,
    interval_s: float = 2.0,
    sleep: Callable[[float], None] = time.sleep,
    clock: Callable[[], float] = time.monotonic,
) -> str | None:
    """S2: the reference's scrape retry loop (bovada_pull.py:14-42):
    re-fetch every ``interval_s`` until the payload is valid (default:
    length ≥ 250 chars, :34), give up after ``timeout_s`` (:34-38) and
    return None — the downstream parse then yields zero rows, which is
    exactly how parse_bovada treats an invalid payload.

    ``sleep``/``clock`` are injectable for deterministic tests.
    """
    if is_valid is None:
        is_valid = lambda payload: len(payload) >= min_len  # noqa: E731
    start = clock()
    while True:
        payload = fetch()
        if payload is not None and is_valid(payload):
            return payload
        if clock() - start >= timeout_s:
            return None
        sleep(interval_s)


def blob_to_df(spark: SparkSession, payload: str | None) -> DataFrame:
    """S5: one scraped text blob → a one-row DataFrame seeding the
    parse expression tree (bovada_pull.py:52 analog). None (scrape gave
    up) becomes an empty frame with the same schema."""
    rows = [(payload,)] if payload is not None else []
    return spark.createDataFrame(rows, "payload string")


# --- S1: HTML <table> → rows (arbitrage_scanner.py:44-58) -------------------

_TABLE_RE = re.compile(r"<table\b.*?</table\s*>", re.I | re.S)
_TR_RE = re.compile(r"<tr\b.*?</tr\s*>", re.I | re.S)
_CELL_RE = re.compile(r"<(th|td)\b[^>]*>(.*?)</\1\s*>", re.I | re.S)
_TAG_RE = re.compile(r"<[^>]+>")


def _cell_text(fragment: str) -> str:
    # BeautifulSoup's `col.text.strip()` analog: drop nested markup,
    # decode entities, strip only the ends (:53)
    return unescape(_TAG_RE.sub("", fragment)).strip()


def parse_html_tables(html: str) -> list[list[list[str]]]:
    """S1: every ``<table>`` on a page as a list of stripped-text rows
    — the driver-side twin of the reference's BeautifulSoup loop
    (arbitrage_scanner.py:48-55: find table, ``find_all('tr')``, cells
    = ``find_all(['th','td'])``, ``.text.strip()``).  Regex-based on
    purpose (no HTML lib in the engine's dependency set); nested
    tables are out of scope, like the reference's flat odds pages.
    Rows may be ragged — ``promote_header`` squares them the way
    ``pd.DataFrame(data)`` does."""
    tables = []
    for t in _TABLE_RE.findall(html):
        rows = []
        for tr in _TR_RE.findall(t):
            rows.append([_cell_text(m.group(2)) for m in _CELL_RE.finditer(tr)])
        tables.append(rows)
    return tables


def first_table_rows(html: str) -> list[list[str]]:
    """The reference scrapes ONLY the first table per page
    (``soup.find('table')``, arbitrage_scanner.py:50)."""
    tables = parse_html_tables(html)
    return tables[0] if tables else []


def promote_header(
    rows: list[list[str]],
) -> tuple[list[str], list[list[str | None]]]:
    """The reference's scrape cleanup (arbitrage_scanner.py:61-66):
    drop the banner row 0, drop rows with a blank first cell or a
    missing second cell, promote the NEXT row to the header — the
    header row is itself scraped data, not ``<th>`` metadata — and
    delete mid-table repeats of that header (the rows the reference
    removes per bookie column at :142-143).  Ragged data rows pad to
    the header width with None (``pd.DataFrame``'s NaN fill)."""
    body = [r for r in rows[1:] if r and r[0] != "" and len(r) >= 2]
    if not body:
        return [], []
    header = body[0]
    width = len(header)
    data: list[list[str | None]] = []
    for r in body[1:]:
        if r == header:
            continue
        data.append((list(r) + [None] * width)[:width])
    return header, data


def scrape_tables_to_df(
    spark: SparkSession,
    pages: dict[str, str],
    schema: str,
    label_col: str = "Sport",
    seq_col: str | None = None,
) -> DataFrame:
    """S1 end-to-end: one HTML page per label (the reference's
    per-sport scrape loop, arbitrage_scanner.py:45-58) → first table →
    header promotion → one labelled DataFrame.  ``schema`` names the
    wanted columns; each is filled with the page label (``label_col``),
    the 1-based row number within its page (``seq_col``), or the
    promoted-header column of that name.  A page whose header lacks a
    wanted column raises ``ValueError`` naming the page and the missing
    columns, rather than silently misaligning."""
    want = [f.split()[0].strip("`") for f in schema.split(",")]
    data_cols = [c for c in want if c not in (label_col, seq_col)]
    out: list[tuple] = []
    for label, html in pages.items():
        header, data = promote_header(first_table_rows(html))
        missing = [c for c in data_cols if c not in header]
        if missing:
            raise ValueError(
                f"scrape_tables_to_df: page {label!r} is missing columns "
                f"{missing} (header {header})"
            )
        for seq, r in enumerate(data, start=1):
            vals = dict(zip(header, r))
            vals[label_col] = label
            if seq_col is not None:
                vals[seq_col] = seq
            out.append(tuple(vals[c] for c in want))
    return spark.createDataFrame(out, schema)


def push_lines(
    lines: Iterable[str], post: Callable[[str], None], min_batch: int = 2
) -> int:
    """K3's push rule (arbitrage_scanner.py:434, 493-502): sort the
    alert lines, send nothing below ``min_batch``, else POST them as
    ONE newline-joined message.  Sorting makes the push independent of
    the order rows arrive in (partition or task-completion order).
    Returns the number of lines sent (0 = nothing sent)."""
    ordered = sorted(lines)
    if len(ordered) < min_batch:
        return 0
    post("\n".join(ordered))
    return len(ordered)


def send_notifications(
    alerts: DataFrame,
    post: Callable[[str], None],
    message_col: str = "combined",
    min_batch: int = 2,
) -> int:
    """K3: the notification sink (arbitrage_scanner.py:478-502): join
    the (tiny, already-aggregated) alert rows into one message and POST
    it. The reference requires >1 row to send (:434, min_batch=2).

    The collect here is intentional and bounded: decide_alerts already
    reduced to the per-day rate-limited alert set; a sink that POSTs to
    a phone is driver-side by nature.  Returns the number of alert
    lines sent (0 = below min_batch, nothing sent).
    """
    rows = alerts.select(message_col).collect()
    return push_lines((r[message_col] for r in rows), post, min_batch)
