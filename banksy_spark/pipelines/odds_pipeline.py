"""Entry point A (arbitrage scan) + C (alert decision) as library
functions (arbitrage_scanner.py:60-209, 269-293, 323-514).

Input contract (FIXTURES.md A1): a wide scraped-odds table
  _seq bigint   — scrape order, the reified row order (SURVEY §4.3.1)
  Team string   — may carry rank prefixes ('3 Seattle') and ' +' tails
  Sport string
  <bookie> string × N — '<line> <payout>' / '<payout>' / 'N/A' / ''

Rows come in adjacent pairs (two teams of one game) per Sport in _seq
order; stray repeated header rows (Team == 'Team') may appear.

Scale posture: everything partitions by (Sport) then (Sport, game_id);
the only unpartitioned window is the per-sport pair numbering, which at
100 TB would ride on the scraper's shard id (games never span shards).
The aggregates are window/pivot forms — no merge-back self-joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from banksy_spark.functions.odds import (
    american_to_decimal,
    normalize_even_odds,
    sign_prefix,
)
from banksy_spark.functions.text import extract_second_word, first_token, last_token
from banksy_spark.operators.reshape import melt, pair_id


def _ident(name: str) -> str:
    """Backtick-quote a column name for safe use inside F.expr — bookie
    names with spaces, dashes, or reserved words must parse as a single
    identifier, not as SQL."""
    return "`" + name.replace("`", "``") + "`"


def normalize_odds(raw: DataFrame, bookies: list[str]) -> DataFrame:
    """Wide scraped odds → canonical long odds table (FIXTURES.md A6):
    (Sport, game_id, Team, bet_type, info ∈ {Line, Payout},
    <bookie> × N).

    Mirrors arbitrage_scanner.py: header-row drop (:61-66,142-143),
    team cleanup (:76-87), bet-type classify (:90-99), adjacent-pair
    game ids (:103-119), Line/Payout row expansion (:122-133), odds
    token fixes 'EVEN'→'+100' / 'o'→'+' / 'u'→'-' (:172-181).

    The bet-type classifier inspects the first bookie column,
    ``bookies[0]``. The reference hard-wires the Bet365 column
    (arbitrage_scanner.py:90-99); exact reference parity comes from
    listing Bet365 first in ``bookies``.
    """
    # 1. stray header rows: the scrape repeats the header as data
    df = raw.filter((F.col("Team") != "Team") & (F.col("Team") != "") & F.col("Team").isNotNull())

    # 2. team cleanup (:76-84): strip '^\\d+ ' rank prefixes, then the
    #    reference's extract_second_word quirk. The rstrip(' +') belongs
    #    to the BOOKIE columns (:86-87), handled in carve below — the
    #    reference never strips tails from Team.
    team = F.regexp_replace(F.col("Team"), r"^\d+ ", "")
    team = extract_second_word(team)
    df = df.withColumn("Team", team)

    # 3. adjacent pairs → game id, per sport, in scrape order
    w = Window.partitionBy("Sport").orderBy("_seq")
    df = df.withColumn("game_id", pair_id(F.row_number().over(w)))

    # 4. classify bet type from the probe bookie's cleaned value (:90-99;
    #    the rstrip at :86-87 runs before the classifier)
    probe = F.expr(f"trim(TRAILING ' +' FROM {_ident(bookies[0])})")
    bet_type = (
        F.when(probe.rlike("[ou]"), "Over/Under")
        .when(F.length(probe).isin(4, 5), "ML")
        .when(probe.rlike("[+-]"), "Spread")
        .otherwise("ERROR")
    )
    df = df.withColumn("bet_type", bet_type)

    # 5. Line/Payout row expansion — explode with the label attached
    #    (replaces the reference's duplicate-then-blank parity trick,
    #    arbitrage_scanner.py:122-133; ML has no Line rows :131-132)
    df = df.withColumn(
        "info",
        F.explode(
            F.when(F.col("bet_type") == "ML", F.array(F.lit("Payout"))).otherwise(
                F.array(F.lit("Line"), F.lit("Payout"))
            )
        ),
    )

    # 6. per-bookie value carving + token fixes (:86-87 rstrip ' +',
    #    :146-181 token fixes, :254-255 N/A handling)
    def carve(b: str):
        raw_v = F.expr(f"trim(TRAILING ' +' FROM {_ident(b)})")
        line = first_token(raw_v)
        payout = last_token(raw_v)
        v = F.when(F.col("info") == "Line", line).otherwise(payout)
        v = F.when(raw_v.isin("N/A", ""), None).otherwise(v)  # :254-255
        v = normalize_even_odds(v)  # :172-176
        # :177-181 'o'→'+' (shown as +total), 'u'→'-' on lines
        v = F.when(
            F.col("info") == "Line",
            F.regexp_replace(F.regexp_replace(v, "^o", "+"), "^u", "-"),
        ).otherwise(v)
        return v.alias(b)

    return df.select(
        "Sport", "game_id", "Team", "bet_type", "info", *[carve(b) for b in bookies]
    )


def find_arbitrage(odds: DataFrame, bookies: list[str]) -> DataFrame:
    """The arbitrage test + stake/margin math
    (arbitrage_scanner.py:269-293, 336-378).

    Per (Sport, game_id, bet_type): best payout per team across bookies
    (row-wise greatest :277), sum of the two teams' best American odds
    via a window — positive ⇒ arbitrage (:280-293, window replaces the
    reference's groupby-merge-back, SURVEY §4.2). Stakes normalize to
    $100 on the first side (:368-370); profit margin in % (:378).

    Returns one row per (game, bet_type, Team) of an arbitrage
    opportunity: best_bookie, max_payout, stake, profit_margin.
    """
    pay = odds.filter(F.col("info") == "Payout")
    nums = [F.col(b).cast("double").alias(b) for b in bookies]
    pay = pay.select("Sport", "game_id", "Team", "bet_type", *nums)

    max_payout = F.greatest(*[F.col(b) for b in bookies])
    pay = pay.withColumn("max_payout", max_payout)
    # argmax bookie, first-match-wins column order (:350-355)
    pay = pay.withColumn(
        "best_bookie",
        F.coalesce(
            *[F.when(F.col(b) == F.col("max_payout"), F.lit(b)) for b in bookies]
        ),
    )

    g = Window.partitionBy("Sport", "game_id", "bet_type")
    pay = pay.withColumn("arb_sum", F.sum("max_payout").over(g))
    pay = pay.withColumn("n_sides", F.count("*").over(g))
    opps = pay.filter((F.col("arb_sum") > 0) & (F.col("n_sides") == 2))
    # the both-sides-EVEN pseudo-arbitrage (+100/+100 sums to 200 but
    # pays nothing) is excluded, mirroring the reference's
    # `~((MaxPayout == 100) & (Arbitrage Calc == 200))` filter
    opps = opps.filter(~((F.col("max_payout") == 100) & (F.col("arb_sum") == 200)))

    # stake math: first side (by Team order within the game) stakes 100,
    # the second equalizes payouts (:360-370)
    wseq = Window.partitionBy("Sport", "game_id", "bet_type").orderBy("Team")
    d_own = american_to_decimal(F.col("max_payout"))
    d_other = american_to_decimal(
        F.first("max_payout").over(
            wseq.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        )
    )
    seq = F.row_number().over(wseq)
    stake = F.when(seq == 1, F.lit(100.0)).otherwise(F.lit(100.0) * d_other / d_own)
    opps = opps.withColumn("stake", F.bround(stake, 2))  # pandas round = HALF_EVEN (SURVEY §4.3.3)

    total_stake = F.sum("stake").over(g)
    payout_first = F.lit(100.0) * d_other  # both sides pay the same by construction
    margin = (payout_first - total_stake) / total_stake * 100.0
    opps = opps.withColumn("profit_margin", F.bround(margin, 0).cast("int"))

    return opps.select(
        "Sport", "game_id", "bet_type", "Team", "best_bookie",
        "max_payout", sign_prefix(F.col("max_payout").cast("int")).alias("rendered_odds"),
        "stake", "profit_margin",
    )


def decide_alerts(
    opps: DataFrame,
    log: DataFrame,
    min_margin: int = 3,
    max_per_day: int = 3,
    odds: DataFrame | None = None,
    bookies: list[str] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Entry point C (arbitrage_scanner.py:323-514): threshold filter
    (≥3% :401), sign audit (:426-431), daily rate limit (<3 per Team per
    calendar day against the notification log :434-461), message build
    (:478-491).

    ``opps``: find_arbitrage output + an ``alert_ts`` timestamp column.
    ``log``: prior notifications (Team string, updated_at timestamp).
    ``odds``/``bookies``: the canonical long odds table — when given,
    each candidate's best-bookie Line value is joined back and games
    whose line signs don't differ are dropped (a Spread pair quoted
    '+3.5'/'+3.5' is a scrape glitch, not a hedge; ML rows carry no
    Line so their sign set is empty and they pass, matching the
    reference's NaN behavior).
    Returns (to_send, new_log_entries) — pure, so it runs identically
    in batch or inside foreachBatch (banksy_spark.streaming).
    """
    cand = opps.filter(F.col("profit_margin") >= min_margin)

    if odds is not None and bookies is not None:
        lines = melt(
            odds.filter(F.col("info") == "Line"),
            id_vars=["Sport", "game_id", "Team", "bet_type"],
            value_vars=bookies,
            var_name="best_bookie",
            value_name="line_value",
        )
        cand = cand.join(
            lines, ["Sport", "game_id", "Team", "bet_type", "best_bookie"], "left"
        )
        sign = F.substring("line_value", 1, 1)
        gw = Window.partitionBy("Sport", "game_id")
        n_signs = F.size(F.collect_set(sign).over(gw))  # collect_set drops NULLs
        cand = cand.withColumn("_n_signs", n_signs).filter(F.col("_n_signs") != 1).drop(
            "_n_signs", "line_value"
        )

    sent_today = log.groupBy(
        "Team", F.to_date("updated_at").alias("day")
    ).agg(F.count("*").alias("n_sent"))

    cand = cand.withColumn("day", F.to_date("alert_ts"))
    joined = cand.join(sent_today, ["Team", "day"], "left")
    to_send = joined.filter(
        F.col("n_sent").isNull() | (F.col("n_sent") < max_per_day)
    ).drop("n_sent")

    message_line = F.concat(
        F.col("Sport"), F.lit(" game "), F.col("game_id").cast("string"),
        F.lit(" "), F.col("bet_type"),
        F.lit(": "), F.col("Team"),
        F.lit(" @ "), F.col("rendered_odds"),
        F.lit(" ("), F.col("best_bookie"),
        F.lit(") margin "), F.col("profit_margin").cast("string"), F.lit("%"),
    )
    to_send = to_send.withColumn("combined", message_line)

    new_log = to_send.select(
        "Team", F.col("alert_ts").alias("updated_at"), "combined"
    )
    return to_send, new_log


def phoenix_wall_ts(utc_ts):
    """Phoenix wall-clock stamp for notification-log rows.

    The reference writes ``updated_at`` as the America/Phoenix wall
    time of the send instant (``datetime.now(pytz.timezone(
    'America/Phoenix'))``, arbitrage_scanner.py:509), and its daily
    rate limit buckets those wall times with ``.dt.date``
    (arbitrage_scanner.py:445-456) — so every pipeline timestamp is a
    Phoenix WALL value, which is why ``decide_alerts`` treats
    ``alert_ts`` / ``updated_at`` as already-local naive timestamps.
    Callers that hold a UTC instant convert it here before stamping.

    Arizona does not observe DST, so America/Phoenix is a FIXED UTC-7
    offset for all time — plain interval arithmetic, identical in every
    engine, with no tz database or ICU dependency.
    """
    col = F.col(utc_ts) if isinstance(utc_ts, str) else utc_ts
    return col - F.expr("INTERVAL 7 HOURS")
