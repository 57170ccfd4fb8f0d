"""Pipeline golden tests (SURVEY §5.2 items 2-4).

Expected values are computed independently in the test with plain
Python following the reference's formulas (pandas semantics are the
reference's semantics), not by re-running the pipeline.
"""

from __future__ import annotations

import datetime
import os
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from banksy_spark.pipelines import (
    decide_alerts,
    find_arbitrage,
    normalize_odds,
    parse_bovada,
)

BOOKIES = ["DraftKings", "FanDuel", "Caesars"]

# FIXTURES.md A1-shaped wide scrape: header noise, rank prefixes,
# ' +' tails, N/A and empty cells, EVEN odds. Adjacent pairs = games.
RAW_ROWS = [
    # _seq, Team, Sport, DraftKings, FanDuel, Caesars
    (0, "Team", "NFL", "DraftKings", "FanDuel", "Caesars"),       # stray header
    (1, "3 Seattle Seahawks", "NFL", "+145 +", "EVEN", "N/A"),    # ML game 1
    (2, "Cardinals", "NFL", "-160", "-155", "+130"),
    (3, "Bills", "NFL", "-3.5 -110", "-3.5 -105", "N/A"),         # Spread game 2
    (4, "Jets", "NFL", "+3.5 -110", "+3.5 +120", ""),
    (5, "Packers", "NFL", "o47.5 -105", "o47.5 -110", "N/A"),     # O/U game 3
    (6, "Bears", "NFL", "u47.5 even", "u47.5 -120", "N/A"),
]
RAW_SCHEMA = "_seq bigint, Team string, Sport string, DraftKings string, FanDuel string, Caesars string"


def _ref_decimal(am: float) -> float:
    # arbitrage_scanner.py:360-366
    if am > 0:
        return am / 100.0 + 1.0
    if am < 0:
        return 100.0 / abs(am) + 1.0
    return 1.0


def _ref_margin(first_am: float, second_am: float) -> tuple[float, int]:
    # first/second by Team sort order; stakes :368-370, margin :378
    d1, d2 = _ref_decimal(first_am), _ref_decimal(second_am)
    stake2 = round(100.0 * d1 / d2, 2)  # pandas round = banker's
    total = 100.0 + stake2
    payout = 100.0 * d1
    return stake2, round((payout - total) / total * 100.0)


@pytest.fixture()
def raw(spark):
    return spark.createDataFrame(RAW_ROWS, RAW_SCHEMA)


def test_normalize_odds_golden(spark, raw):
    out = normalize_odds(raw, BOOKIES)
    rows = {(r.game_id, r.Team, r.bet_type, r.info): r for r in out.collect()}

    # header row dropped, 3 games, ML has no Line rows (:131-132)
    assert len(rows) == 2 + 4 + 4
    # rank prefix + ' +' tail cleanup (:76-87)
    assert (1, "Seattle Seahawks", "ML", "Payout") in rows
    r = rows[(1, "Seattle Seahawks", "ML", "Payout")]
    assert (r.DraftKings, r.FanDuel, r.Caesars) == ("+145", "+100", None)  # EVEN→+100, N/A→NULL
    # o/u line sign mapping (:177-181)
    assert rows[(3, "Packers", "Over/Under", "Line")].DraftKings == "+47.5"
    assert rows[(3, "Bears", "Over/Under", "Line")].DraftKings == "-47.5"
    # 'even' lowercase payout also normalized (bovada_pull.py:152-154)
    assert rows[(3, "Bears", "Over/Under", "Payout")].DraftKings == "+100"
    # pair integrity: exactly 2 teams per (game, bet_type, info)
    from collections import Counter

    c = Counter((g, bt, i) for (g, _, bt, i) in rows)
    assert set(c.values()) == {2}


def test_find_arbitrage_golden(spark, raw):
    opps = find_arbitrage(normalize_odds(raw, BOOKIES), BOOKIES)
    got = {(r.game_id, r.Team): r for r in opps.collect()}

    # game 1 ML: best 145 (Seattle/DK) + 130 (Cardinals/Caesars) = 275 > 0
    # game 2 Spread: best -105 (FanDuel) + 120 (FanDuel) = 15 > 0
    # game 3 O/U: -105 + 100 = -5 → no opportunity
    assert set(got) == {(1, "Seattle Seahawks"), (1, "Cardinals"), (2, "Bills"), (2, "Jets")}

    stake2, margin1 = _ref_margin(130.0, 145.0)  # Cardinals first by name
    assert got[(1, "Cardinals")].stake == 100.0
    assert got[(1, "Seattle Seahawks")].stake == stake2
    assert got[(1, "Seattle Seahawks")].profit_margin == margin1 == 19
    assert got[(1, "Seattle Seahawks")].best_bookie == "DraftKings"
    assert got[(1, "Cardinals")].best_bookie == "Caesars"

    stake2b, margin2 = _ref_margin(-105.0, 120.0)  # Bills first by name
    assert got[(2, "Jets")].stake == stake2b
    assert got[(2, "Jets")].profit_margin == margin2 == 3
    assert got[(2, "Jets")].rendered_odds == "+120"


def test_fault_injection_surfaces_opportunity(spark):
    """Reproduces arbitrage_scanner.py:257-263: inject a +225 payout and
    assert the opportunity surfaces with the exact reference margin."""
    rows = [r for r in RAW_ROWS]
    rows[6] = (6, "Bears", "NFL", "u47.5 +225", "u47.5 -120", "N/A")
    raw = spark.createDataFrame(rows, RAW_SCHEMA)
    opps = find_arbitrage(normalize_odds(raw, BOOKIES), BOOKIES)
    got = {(r.game_id, r.Team): r for r in opps.collect()}
    assert (3, "Bears") in got and (3, "Packers") in got
    stake2, margin = _ref_margin(225.0, -105.0)  # Bears first by name
    assert got[(3, "Packers")].stake == stake2
    assert got[(3, "Packers")].profit_margin == margin == 22


def test_decide_alerts_rate_limit(spark, raw):
    opps = find_arbitrage(normalize_odds(raw, BOOKIES), BOOKIES).withColumn(
        "alert_ts", F.lit("2024-05-01 12:00:00").cast("timestamp")
    )
    # Cardinals already notified 3× today; Seattle once yesterday
    log = spark.createDataFrame(
        [
            ("Cardinals", datetime.datetime(2024, 5, 1, 8, 0)),
            ("Cardinals", datetime.datetime(2024, 5, 1, 9, 0)),
            ("Cardinals", datetime.datetime(2024, 5, 1, 10, 0)),
            ("Seattle Seahawks", datetime.datetime(2024, 4, 30, 9, 0)),
        ],
        "Team string, updated_at timestamp",
    )
    to_send, new_log = decide_alerts(
        opps, log, odds=normalize_odds(raw, BOOKIES), bookies=BOOKIES
    )
    teams = {r.Team for r in to_send.collect()}
    assert "Cardinals" not in teams          # rate-limited (<3/day, :459)
    assert {"Seattle Seahawks", "Bills", "Jets"} <= teams
    # the new log appends one entry per sent alert
    assert new_log.count() == to_send.count()
    assert set(new_log.columns) == {"Team", "updated_at", "combined"}
    # property: merged log never exceeds 3 per (team, day) after a send
    merged = log.select("Team", "updated_at").unionByName(
        new_log.select("Team", "updated_at")
    )
    per_day = merged.groupBy("Team", F.to_date("updated_at")).count()
    assert per_day.agg(F.max("count")).first()[0] <= 3


BLOB = (
    "Bovada Sportsbook — live odds feed. " + "x" * 220 + " "
    "1/12/24 7:05 PM SeahawksCardinals + -3.5(-110) +3.5(-105) -180 +155 "
    "O 47.5(-105) U 47.5(-115) "
    "1/13/24 6:30 PM PackersBears + -7(-110) +7(EVEN) EVEN +170 "
    "O 44.5(-110) U 44.5(-105) "
    "1/14/24 NFL Bets "
    "1/15/24 8:00 PM RamsSeahawks + -2.5(-110) +2.5(-110) -130 +110 "
    "O 41(-110) U 41(-110) "
    "1/16/24 7:10 PM Red SoxYankees + -1.5(-140) +1.5(+120) -115 -105 "
    "O 8.5(-110) U 8.5(-110)"
)


def test_parse_bovada_golden(spark):
    blob = spark.createDataFrame([(BLOB,)], "payload string")
    out = parse_bovada(blob)
    rows = {(r.Team, r.bet_type, r.info): r.Bovada for r in out.collect()}

    # 3 games × 10 rows; junk ' Bets' segment dropped (:56); the repeat
    # Seahawks matchup drops the WHOLE RamsSeahawks game (:156-162)
    assert out.count() == 30
    assert not any(t == "Rams" for (t, _, _) in rows)
    # multi-word team names survive: the ' + ' marker split keeps
    # 'Red SoxYankees' whole, the camel walk splits at 'Y' (space
    # before 'S' is not a boundary, bovada_pull.py:105-118)
    assert rows[("Red Sox", "ML", "Payout")] == "-115"
    assert rows[("Yankees", "Spread", "Payout")] == "+120"

    assert rows[("Seahawks", "ML", "Payout")] == "-180"
    assert rows[("Cardinals", "ML", "Payout")] == "+155"
    assert rows[("Seahawks", "Spread", "Line")] == "-3.5"
    assert rows[("Seahawks", "Spread", "Payout")] == "-110"
    assert rows[("Cardinals", "Over/Under", "Line")] == "-47.5"
    assert rows[("Cardinals", "Over/Under", "Payout")] == "-115"
    # EVEN normalization in both payout positions (:152-154)
    assert rows[("Packers", "ML", "Payout")] == "+100"
    assert rows[("Bears", "Spread", "Payout")] == "+100"
    # dates rode along with their segment (:46-52)
    dates = {r.date for r in out.select("date").collect()}
    assert dates == {"1/12/24", "1/13/24", "1/16/24"}


def test_parse_bovada_rejects_short_payload(spark):
    blob = spark.createDataFrame([("1/12/24 7:05 PM AB + 1(2)",)], "payload string")
    assert parse_bovada(blob).count() == 0  # validity gate (:34)


def test_decide_alerts_sign_audit(spark):
    """arbitrage_scanner.py:426-431: a spread pair whose best-bookie
    lines share a sign (scrape glitch) must not alert; ML games carry no
    lines and pass (NaN sign group, nunique 0 != 1)."""
    rows = [
        (1, "Alpha", "NFL", "+3.5 -110", "+3.5 +120", "N/A"),   # same-sign lines!
        (2, "Beta", "NFL", "+3.5 +130", "+3.5 -105", "N/A"),
        (3, "Gamma", "NFL", "+150", "EVEN", "N/A"),             # ML game
        (4, "Delta", "NFL", "-120", "+135", "N/A"),
    ]
    raw = spark.createDataFrame(rows, RAW_SCHEMA.replace("_seq bigint", "_seq int"))
    odds = normalize_odds(raw, BOOKIES)
    opps = find_arbitrage(odds, BOOKIES).withColumn(
        "alert_ts", F.lit("2024-05-01 12:00:00").cast("timestamp")
    )
    empty_log = spark.createDataFrame([], "Team string, updated_at timestamp")
    to_send, _ = decide_alerts(opps, empty_log, odds=odds, bookies=BOOKIES)
    teams = {r.Team for r in to_send.collect()}
    assert "Alpha" not in teams and "Beta" not in teams  # same-sign spread dropped
    assert {"Gamma", "Delta"} <= teams                   # ML passes the audit


def flaky_bovada_fetch():
    """Fetcher factory for ``format("scrape")`` (option
    ``fetcher=module:function``): two bad attempts, then BLOB."""
    calls = {"n": 0}

    def fetch():
        calls["n"] += 1
        return [None, "too short", BLOB][min(calls["n"], 3) - 1]

    return fetch


def test_end_to_end_scrape_to_alerts_stream_equals_batch(spark, raw, tmp_path):
    """The reference's whole run, composed on the engine: flaky scrape
    (2 bad attempts, then a valid payload) → bovada parse → enrichment
    join onto the normalized scanner table → arbitrage scan over all 4
    bookies → rate-limited alert decision. The run fed by the streaming
    ``format("scrape")`` source must produce byte-identical alerts to
    the driver-side-poll run."""
    from banksy_spark.sources import blob_to_df, poll_until_valid
    from banksy_spark.sources.scrape_source import register_scrape_source

    def downstream(payload_df):
        bov = parse_bovada(payload_df).select("Team", "bet_type", "info", "Bovada")
        all_bookies = BOOKIES + ["Bovada"]
        odds = normalize_odds(raw, BOOKIES).join(
            bov, ["Team", "bet_type", "info"], "left"
        )
        opps = find_arbitrage(odds, all_bookies).withColumn(
            "alert_ts", F.lit("2024-05-01 12:00:00").cast("timestamp")
        )
        empty_log = spark.createDataFrame([], "Team string, updated_at timestamp")
        to_send, _ = decide_alerts(opps, empty_log, odds=odds, bookies=all_bookies)
        return to_send

    register_scrape_source(spark)
    # the source's Python runner imports this module (from tests/) and,
    # through it, banksy_spark (from the repo root)
    here = Path(__file__).resolve()
    q = (
        spark.readStream.format("scrape")
        .option("fetcher", f"{__name__}:flaky_bovada_fetch")
        .option("sys_path", os.pathsep.join(map(str, here.parents[:2])))
        .option("interval_s", "0.01")
        .load()
        .writeStream.format("memory")
        .queryName("e2e_scrape_payloads")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        # the source's offset stops moving once it is terminal
        q.processAllAvailable()
    finally:
        q.stop()
    payloads = spark.sql("SELECT * FROM e2e_scrape_payloads")
    assert [r.attempt for r in payloads.collect()] == [3]
    streamed = downstream(payloads.select("payload"))
    batch = downstream(
        blob_to_df(spark, poll_until_valid(flaky_bovada_fetch(), interval_s=0))
    )

    cols = sorted(streamed.columns)
    got = sorted(map(tuple, streamed.select(*cols).collect()))
    want = sorted(map(tuple, batch.select(*cols).collect()))
    assert got == want and len(want) > 0


def test_phoenix_wall_ts_is_fixed_utc_minus_7(spark):
    """arbitrage_scanner.py:509 stamps log rows in America/Phoenix wall
    time; Arizona has no DST so the offset is -7h in January AND July
    (a tz-database conversion would agree year-round)."""
    from banksy_spark.pipelines import phoenix_wall_ts

    df = spark.createDataFrame(
        [("2024-01-15 03:30:00",), ("2024-07-15 03:30:00",)], "ts string"
    ).select(F.col("ts").cast("timestamp").alias("ts"))
    got = [
        str(r["wall"])
        for r in df.select(phoenix_wall_ts("ts").alias("wall"))
        .orderBy("wall")
        .collect()
    ]
    assert got == ["2024-01-14 20:30:00", "2024-07-14 20:30:00"]
