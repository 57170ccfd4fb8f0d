"""The reference's ``while True`` scan loop as ONE continuously-running
streaming app (VERDICT r6 item 6; bovada_pull.py:14, arbitrage_scanner
end-to-end): scraped odds pages → HTML-table parse → normalize →
arbitrage → sign audit + daily rate limit → push notification + keyed
alert-log state.

Composition of already-verified parts — the point of this module is the
WIRING and its replay story:

 - parse: ``sources.adapters.scrape_tables_to_df`` (first table,
   header promotion, columns picked by header name), driver-side like
   the reference's BeautifulSoup loop;
 - analytics: ``pipelines.normalize_odds`` / ``find_arbitrage`` /
   ``decide_alerts`` — pure DataFrame functions, identical in batch and
   inside ``foreachBatch``;
 - state: the alert log is an append-only parquet table, one file per
   committing epoch (compacted at 64) written by ``io.upsert_batch``
   and read by ``io.read_appended`` (each epoch whole or not at all);
 - delivery: ``adapters.send_notifications`` (min-batch rule) through
   an injected ``post`` callable.

Replay: Structured Streaming redelivers a failed micro-batch, so
``process_scan_epoch`` must converge when re-run with the same
(pages, alert_ts).  The gate is the alert log itself: an epoch's new
log rows are keyed (Team, updated_at=alert_ts), so a replayed epoch's
candidates anti-join away against the state the first delivery
already committed — nothing re-sends and nothing is appended
(tests/test_streaming.py proves stream == batch over 3 micro-batches
plus a replayed epoch, and replays after a crash at each step of the
epoch).  Delivery is at-least-once with convergent state, not
exactly-once: the epoch posts before it commits, so a crash between
the send and the rename of the epoch's file re-sends that epoch's
alerts on replay (an outbox would close that window; it is not built).

Scale: the scrape edge is driver-side by nature (one page fetch per
sport per tick); everything from ``normalize_odds`` on is a distributed
plan, and the state table is rows-per-alert tiny.  A fact-grain state
would move to a table format's MERGE — same call shape.
"""

from __future__ import annotations

from collections import defaultdict
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

RAW_SCHEMA = (
    "_seq bigint, Team string, Sport string, "
    "DraftKings string, FanDuel string, Caesars string"
)
BOOKIES = ["DraftKings", "FanDuel", "Caesars"]
PAYLOAD_SCHEMA = "sport string, payload string, alert_ts string"
LOG_SCHEMA = "Team string, updated_at timestamp, combined string"


def pages_to_raw(spark: SparkSession, pages: dict[str, str]) -> DataFrame:
    """Scraped HTML pages → the wide raw odds frame normalize_odds
    consumes (the reference's original_df, arbitrage_scanner.py:44-70):
    first table, header promoted, per-page row sequence for the
    adjacent-pair game ids.  A page whose header lacks a needed column
    raises ``ValueError`` naming the sport and the columns."""
    from banksy_spark.sources import adapters

    return adapters.scrape_tables_to_df(
        spark, pages, RAW_SCHEMA, label_col="Sport", seq_col="_seq"
    )


def read_alert_log(spark: SparkSession, state_path: str) -> DataFrame:
    """Current alert-log state, read with the log schema (no inference
    job); an empty frame with that schema before the first commit.  Any
    read error propagates rather than reading as "no alerts sent yet",
    which would reset the daily cap."""
    from banksy_spark.io import read_appended

    return read_appended(spark, state_path, LOG_SCHEMA)


def process_scan_epoch(
    spark: SparkSession,
    pages: dict[str, str],
    alert_ts: str,
    state_path: str,
    post: Callable[[str], None],
    *,
    min_margin: int = 3,
    max_per_day: int = 3,
    min_batch: int = 2,
) -> int:
    """ONE scan cycle — the body of the reference's loop, pure in
    (pages, alert_ts, current state).  Returns the number of alert
    lines delivered (0 on replay or below min_batch)."""
    from banksy_spark.io import upsert_batch
    from banksy_spark.pipelines import decide_alerts, find_arbitrage, normalize_odds
    from banksy_spark.sources.adapters import send_notifications

    raw = pages_to_raw(spark, pages)
    odds = normalize_odds(raw, BOOKIES)
    opps = find_arbitrage(odds, BOOKIES).withColumn(
        "alert_ts", F.lit(alert_ts).cast("timestamp")
    )
    log = read_alert_log(spark, state_path)
    to_send, new_log = decide_alerts(
        opps, log, min_margin, max_per_day, odds=odds, bookies=BOOKIES
    )
    # replay gate: a redelivered epoch re-presents the same alert_ts;
    # rows the first delivery already committed anti-join away, so the
    # send count drops to 0 and the commit appends nothing.  The key
    # collect is the epoch's one decision action: it fills the
    # checkpoint that the send and the commit read, and names the
    # commit's file.
    fresh = new_log.join(
        log, ["Team", "updated_at", "combined"], "left_anti"
    ).localCheckpoint(eager=False)
    keys = [tuple(r) for r in fresh.select("Team", "updated_at").collect()]
    sent = send_notifications(fresh, post, min_batch=min_batch) if keys else 0
    upsert_batch(fresh, state_path, ["Team", "updated_at"], keys=keys)
    return sent


def run_scan_stream(
    spark: SparkSession,
    payload_dir: str,
    checkpoint: str,
    state_path: str,
    post: Callable[[str], None],
    *,
    min_margin: int = 3,
    max_per_day: int = 3,
    min_batch: int = 2,
    available_now: bool = True,
):
    """The continuously-running form: a file stream of scraped payload
    rows (sport, payload, alert_ts — one row per page per scan cycle)
    drives ``process_scan_epoch`` once per scan inside foreachBatch.
    ``available_now=True`` drains what's there and stops (the test
    harness mode); False runs the reference's endless loop."""
    src = spark.readStream.schema(PAYLOAD_SCHEMA).parquet(payload_dir)

    def process(batch: DataFrame, _epoch_id: int) -> None:
        rows = batch.collect()  # pages-per-scan: driver-sized by design
        if not rows:
            return
        by_ts: dict[str, dict[str, str]] = defaultdict(dict)
        for r in rows:
            by_ts[r["alert_ts"]][r["sport"]] = r["payload"]
        for ts in sorted(by_ts):
            process_scan_epoch(
                spark,
                by_ts[ts],
                ts,
                state_path,
                post,
                min_margin=min_margin,
                max_per_day=max_per_day,
                min_batch=min_batch,
            )

    writer = (
        src.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
