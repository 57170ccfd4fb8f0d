"""The ``scan_epochs`` workload: seeded odds pages through the scan app.

One sample is one ``streaming.app.process_scan_epoch`` call: HTML pages
for three sports go in, alerts come out through an injected ``post``
callable, and the alert log (a parquet table) is read and rewritten.

Everything here is derived from the seed through ``random.Random``
seeded with strings (seeded via SHA-512, so stable across processes).
Python's ``hash()`` is never used: ``PYTHONHASHSEED`` randomizes it per
process, which would make the inputs, and so the alert count, drift
between identical runs.

``expected_posts`` is an independent pure-Python model of the
normalize → arbitrage → sign audit → daily rate limit → send path.  It
works on the generated rows, not on the HTML, and gives the messages
the app must deliver for the same epochs; ``check_state`` verifies the
invariants of the committed alert log.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import random
import statistics
import time
from decimal import ROUND_HALF_EVEN, Decimal

SPORTS = ("MLB", "NFL", "NBA")
BOOKIES = ("DraftKings", "FanDuel", "Caesars")  # streaming.app.BOOKIES
GAMES_PER_SPORT = 60
NA_RATE = 0.08  # share of odds cells scraped as 'N/A'
# ARB_RATE, GLITCH_RATE and SEED_TEAMS_PER_DAY are chosen, not taken from
# a source: with them every epoch finds alerts, commits and posts (the
# run reports the shares), so each sample takes the app's full path.
ARB_RATE = 0.12  # share of games where one bookie quotes a stale price
GLITCH_RATE = 0.03  # share of spread games whose two lines share a sign
MIN_MARGIN = 3
MAX_PER_DAY = 3
MIN_BATCH = 2
# One epoch every six hours from START; the alert log is seeded with a
# half-year of history before START plus morning alerts on each day the
# epochs can reach, so the daily cap suppresses some alerts every day.
START = dt.datetime(2024, 7, 1, 3, 0, 0)
EPOCH_STEP = dt.timedelta(hours=6)
MAX_EPOCHS = 400
HISTORY_DAYS = 182
SEED_TEAMS_PER_DAY = 90  # teams with prior alerts on a seeded day


def team_names(sport: str) -> list[str]:
    return [f"{sport.title()}{i:03d}" for i in range(2 * GAMES_PER_SPORT)]


def alert_ts(epoch: int) -> str:
    return (START + epoch * EPOCH_STEP).strftime("%Y-%m-%d %H:%M:%S")


# --- inputs ---------------------------------------------------------------


def _price(v: int, rng: random.Random) -> str:
    if v == 100 and rng.random() < 0.5:
        return "EVEN"
    return f"+{v}" if v > 0 else str(v)


def _american(fair: int, edge: int) -> int:
    """American odds for an implied price ``fair - edge`` on the
    +100/-100 scale: 130 → +130, 90 → -110."""
    v = fair - edge
    return v if v >= 100 else -(200 - v)


def epoch_rows(seed: int, epoch: int) -> dict[str, list[tuple[str, ...]]]:
    """Per sport, the scraped table rows of one scan: (Team, DraftKings,
    FanDuel, Caesars) strings, two adjacent rows per game.  Each bookie
    quotes both sides with its own vig, so the best prices of a game sum
    below zero, except where one bookie's price is stale (ARB_RATE of
    the games), which opens an arbitrage of a few percent."""
    out: dict[str, list[tuple[str, ...]]] = {}
    for sport in SPORTS:
        teams = team_names(sport)
        kinds = random.Random(f"{seed}:{sport}:kinds")
        rng = random.Random(f"{seed}:{sport}:{epoch}")
        rows: list[tuple[str, ...]] = []
        for g in range(GAMES_PER_SPORT):
            kind = kinds.choice(("ML", "ML", "Spread", "OU"))
            # fair price of the underdog side, mirrored for the favourite
            fair = rng.randint(100, 250) if kind == "ML" else 100
            line = rng.choice((1.5, 2.5, 3.5, 4.5, 6.5, 7.5))
            total = rng.choice((7.5, 8.5, 41.5, 44.5, 47.5, 210.5, 224.5))
            glitch = rng.random() < GLITCH_RATE
            stale = rng.randrange(2 * len(BOOKIES)) if rng.random() < ARB_RATE else None
            for side in (0, 1):
                cells = []
                for b in range(len(BOOKIES)):
                    if rng.random() < NA_RATE:
                        cells.append("N/A")
                        continue
                    edge = rng.randint(5, 20)
                    if stale == side * len(BOOKIES) + b:
                        edge = -rng.randint(5, 45)
                    own = fair if side == 1 else 200 - fair
                    p = _price(_american(own, edge), rng)
                    if kind == "ML":
                        cells.append(p)
                    elif kind == "Spread":
                        sign = "-" if side == 0 and not glitch else "+"
                        cells.append(f"{sign}{line} {p}")
                    else:
                        cells.append(f"{'ou'[side]}{total} {p}")
                rows.append((teams[2 * g + side], *cells))
        out[sport] = rows
    return out


def render_page(rows: list[tuple[str, ...]]) -> str:
    """The scraped page shape the app parses: a banner row, the header
    as a data row, and one <tr> per team, with a repeated header row
    mid-table like the real odds pages carry."""
    header = "<tr><td>Team</td>" + "".join(f"<td>{b}</td>" for b in BOOKIES) + "</tr>"
    trs = [
        "<tr>" + "".join(f"<td>{c}</td>" for c in r) + "</tr>" for r in rows
    ]
    trs.insert(len(trs) // 2, header)
    return (
        f"<html><body><table><tr><td colspan='{len(BOOKIES) + 1}'>Odds</td></tr>"
        + header
        + "".join(trs)
        + "</table></body></html>"
    )


def epoch_pages(seed: int, epoch: int) -> dict[str, str]:
    return {s: render_page(r) for s, r in epoch_rows(seed, epoch).items()}


def seed_log_rows(seed: int) -> list[tuple[str, dt.datetime, str]]:
    """Prior alerts: up to MAX_PER_DAY per team per day, every one at or
    above MIN_MARGIN, for HISTORY_DAYS before START and for the morning
    hours (before the first epoch) of each day the epochs can reach."""
    rng = random.Random(f"{seed}:log")
    teams = [(s, t) for s in SPORTS for t in team_names(s)]
    last_day = (START + MAX_EPOCHS * EPOCH_STEP).date()
    day = START.date() - dt.timedelta(days=HISTORY_DAYS)
    rows = []
    while day <= last_day:
        for sport, team in rng.sample(teams, SEED_TEAMS_PER_DAY):
            for k in range(rng.randint(1, MAX_PER_DAY)):
                ts = dt.datetime.combine(day, dt.time(0, 10 * k + rng.randint(0, 9)))
                odds = rng.randint(105, 200)
                margin = rng.randint(MIN_MARGIN, 9)
                rows.append((
                    team, ts,
                    f"{sport} game {rng.randint(1, GAMES_PER_SPORT)} ML: {team} @ "
                    f"+{odds} ({rng.choice(BOOKIES)}) margin {margin}%",
                ))
        day += dt.timedelta(days=1)
    return rows


# --- reference model --------------------------------------------------------


def _bround(x: float, places: int) -> float:
    # Spark's bround rounds the decimal rendering of the double, HALF_EVEN
    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-places), ROUND_HALF_EVEN))


def _to_decimal(odds: float | None) -> float:
    if odds is not None and odds > 0:
        return odds / 100.0 + 1.0
    if odds is not None and odds < 0:
        return 100.0 / abs(odds) + 1.0
    return 1.0


def _bet_type(probe: str) -> str:
    if "o" in probe or "u" in probe:
        return "Over/Under"
    if len(probe) in (4, 5):
        return "ML"
    if "+" in probe or "-" in probe:
        return "Spread"
    return "ERROR"


def _carve(raw: str, info: str) -> str | None:
    v = raw.rstrip(" +")
    if v in ("N/A", ""):
        return None
    toks = v.split(" ")
    v = toks[0] if info == "Line" else toks[-1]
    if v in ("EVEN", "even"):
        v = "+100"
    if info == "Line":
        if v.startswith("o"):
            v = "+" + v[1:]
        elif v.startswith("u"):
            v = "-" + v[1:]
    return v


def _epoch_alerts(rows_by_sport, ts: dt.datetime, sent_per_day) -> list[tuple[str, str]]:
    """(Team, message) for every alert the epoch's decision emits."""
    out = []
    for sport, rows in rows_by_sport.items():
        games: dict[tuple[int, str], list] = {}
        for i, (team, *cells) in enumerate(rows):
            game = i // 2 + 1
            btype = _bet_type(cells[0].rstrip(" +"))
            pays = [_carve(c, "Payout") for c in cells]
            lines = [_carve(c, "Line") for c in cells] if btype != "ML" else None
            nums = [float(p) if p is not None else None for p in pays]
            present = [n for n in nums if n is not None]
            mp = max(present) if present else None
            best = next((b for b, n in zip(BOOKIES, nums) if mp is not None and n == mp), None)
            games.setdefault((game, btype), []).append((team, mp, best, lines))
        cands_by_game: dict[int, list] = {}
        for (game, btype), sides in games.items():
            if len(sides) != 2:
                continue
            present = [s[1] for s in sides if s[1] is not None]
            arb_sum = sum(present) if present else None
            if arb_sum is None or arb_sum <= 0:
                continue
            # SQL's NOT(max_payout = 100 AND arb_sum = 200): a NULL payout
            # makes the predicate NULL, which the filter drops
            kept = [s for s in sides if not (s[1] in (100, None) and arb_sum == 200)]
            kept.sort(key=lambda s: s[0])
            if not kept:
                continue
            d_other = _to_decimal(kept[0][1])
            stakes = [
                100.0 if k == 0 else _bround(100.0 * d_other / _to_decimal(s[1]), 2)
                for k, s in enumerate(kept)
            ]
            total = 0.0
            for st in stakes:
                total += st
            margin = int(_bround((100.0 * d_other - total) / total * 100.0, 0))
            if margin < MIN_MARGIN:
                continue
            for team, mp, best, lines in kept:
                line = lines[BOOKIES.index(best)] if lines is not None and best else None
                cands_by_game.setdefault(game, []).append(
                    (team, mp, best, btype, game, margin, line)
                )
        for game, cands in cands_by_game.items():
            signs = {c[6][:1] for c in cands if c[6] is not None}
            if len(signs) == 1:
                continue
            for team, mp, best, btype, game_id, margin, _ in cands:
                if sent_per_day.get((team, ts.date()), 0) >= MAX_PER_DAY:
                    continue
                odds = int(mp)
                rendered = f"+{odds}" if odds > 0 else str(odds)
                out.append((
                    team,
                    f"{sport} game {game_id} {btype}: {team} @ {rendered} "
                    f"({best}) margin {margin}%",
                ))
    return out


def expected_posts(seed: int, epochs: int) -> tuple[list[str], list[int]]:
    """The notification texts the app must post over epochs 0..n-1, and
    per epoch the number of alert rows it must commit (an epoch commits
    its alerts even when there are too few to post)."""
    sent: dict[tuple[str, dt.date], int] = {}
    for team, ts, _ in seed_log_rows(seed):
        sent[(team, ts.date())] = sent.get((team, ts.date()), 0) + 1
    posts, committed = [], []
    for e in range(epochs):
        ts = START + e * EPOCH_STEP
        alerts = _epoch_alerts(epoch_rows(seed, e), ts, sent)
        for team, _ in alerts:
            sent[(team, ts.date())] = sent.get((team, ts.date()), 0) + 1
        committed.append(len(alerts))
        if len(alerts) >= MIN_BATCH:
            posts.append("\n".join(sorted(m for _, m in alerts)))
    return posts, committed


def digest(posts: list[str]) -> str:
    h = hashlib.sha256()
    for p in posts:
        h.update(p.encode())
        h.update(b"\x1e")
    return h.hexdigest()


def check_state(rows, expected_rows: int) -> list[str]:
    """Invariants of the committed alert log; returns the violations."""
    problems = []
    keys = [(r[0], r[1]) for r in rows]
    if len(set(keys)) != len(keys):
        problems.append(f"{len(keys) - len(set(keys))} repeated (Team, updated_at) keys")
    per_day: dict[tuple[str, dt.date], int] = {}
    for team, ts, _ in rows:
        per_day[(team, ts.date())] = per_day.get((team, ts.date()), 0) + 1
    over = sum(1 for n in per_day.values() if n > MAX_PER_DAY)
    if over:
        problems.append(f"{over} (Team, day) pairs above max_per_day={MAX_PER_DAY}")
    low = [c for _, _, c in rows if int(c.rsplit("margin ", 1)[1].rstrip("%")) < MIN_MARGIN]
    if low:
        problems.append(f"{len(low)} alerts below min_margin={MIN_MARGIN}")
    if len(rows) != expected_rows:
        problems.append(f"state has {len(rows)} rows, expected {expected_rows}")
    return problems


# --- workload ---------------------------------------------------------------

# The epochs fall from ~1.4x to the plateau over about six epochs from
# a fresh session (measured on 4 vCPUs), so six run before timing starts.
WARMUP_EPOCHS = 6


class ScanEpochs:
    """One sample is one epoch.  The warm-up epochs run through the same
    path and the same state as the timed ones, so the model check covers
    every epoch the app ran."""

    # untraced samples a run takes at least, however long they last
    MIN_SAMPLES = 3
    # per-layer metrics of layers this workload never reaches: their
    # wrappers are installed, so they report measured zeros
    NOT_EXERCISED = ("registry.resolve_s", "registry.resolve_calls", "suite.build_s", "suite.build_jobs")

    def __init__(self, spark, seed: int, root: str, work: str, tracer, counters) -> None:
        self.spark, self.seed = spark, seed
        self.tracer, self.counters = tracer, counters
        self.state = os.path.join(work, "alert_log")
        self.posts: list[str] = []
        self.epochs = 0
        self.ops = 0
        self.seeded_rows = 0
        self.committed: list[int] = []  # alert rows per epoch, from the model
        self.latencies: list[float] = []  # untraced samples
        self.traced: list[dict[str, float]] = []  # per traced sample
        self.commits: list[tuple[int, int]] = []  # (epoch, rows written), traced
        self._decided = None  # (new_log, log) of the last traced epoch
        self.warmup: list[float] = []  # seconds per warm-up epoch

    def setup(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        rows = seed_log_rows(self.seed)
        self.seeded_rows = len(rows)
        team, ts, combined = zip(*rows)
        table = pa.table({
            "Team": pa.array(team, pa.string()),
            "updated_at": pa.array(ts, pa.timestamp("us", tz="UTC")),
            "combined": pa.array(combined, pa.string()),
        })
        os.makedirs(self.state)
        pq.write_table(table, os.path.join(self.state, "part-00000.parquet"))
        self._keep_decision()
        self.warmup = [self._epoch(traced=False) for _ in range(WARMUP_EPOCHS)]

    def _keep_decision(self) -> None:
        """Keep the decision frames of a traced epoch for the planning
        probe in ``_plan_s``."""
        from banksy_spark import pipelines

        decide = pipelines.decide_alerts

        def keep(opps, log, *args, **kwargs):
            to_send, new_log = decide(opps, log, *args, **kwargs)
            if self.tracer.enabled:
                self._decided = (new_log, log)
            return to_send, new_log

        pipelines.decide_alerts = keep

    def _epoch(self, traced: bool) -> float:
        from banksy_spark.streaming import app

        e = self.epochs
        pages = epoch_pages(self.seed, e)
        self.ops += 1
        self.epochs += 1
        self.tracer.sample = f"e{e}"
        self.tracer.enabled = traced
        self.counters.tag(f"e{e}")
        t0 = time.perf_counter()
        try:
            app.process_scan_epoch(
                self.spark, pages, alert_ts(e), self.state, self.posts.append,
                min_margin=MIN_MARGIN, max_per_day=MAX_PER_DAY, min_batch=MIN_BATCH,
            )
        finally:
            self.tracer.enabled = False
        return time.perf_counter() - t0

    def _plan_s(self) -> float:
        """Planning of the epoch's decision (the plan its eager
        checkpoint runs), probed on a fresh Dataset after the epoch."""
        new_log, log = self._decided
        probe = new_log.join(log, ["Team", "updated_at", "combined"], "left_anti")
        t0 = time.perf_counter()
        probe._jdf.queryExecution().executedPlan()
        return time.perf_counter() - t0

    def sample(self, traced: bool) -> None:
        e = self.epochs
        self._decided = None
        latency = self._epoch(traced)
        if not traced:
            self.latencies.append(latency)
            return
        self_s, calls, root = self.tracer.self_times(f"e{e}")
        layer = {f"{k}_s": v for k, v in self_s.items()}
        layer["latency_s"] = root
        layer["layers_sum_s"] = sum(self_s.values())
        layer["registry.resolve_calls"] = calls.get("registry.resolve", 0)
        run = self.counters.read([f"e{e}", f"e{e}:io"])
        layer.update({f"engine.{k}": v for k, v in run.items()})
        layer["engine.plan_s"] = self._plan_s()
        self.traced.append(layer)
        self.commits.append((e, self.counters.read([f"e{e}:io"])["output_records"]))

    @property
    def n_untraced(self) -> int:
        return len(self.latencies)

    @property
    def n_traced(self) -> int:
        return len(self.traced)

    def p50_s(self) -> float:
        return statistics.median(self.latencies)

    def traced_latency_s(self) -> float:
        return statistics.median(layer["latency_s"] for layer in self.traced)

    def check(self) -> list[str]:
        """The delivered posts against the model, and the invariants of
        the committed alert log."""
        want, self.committed = expected_posts(self.seed, self.epochs)
        problems = []
        if digest(self.posts) != digest(want):
            problems.append(
                f"posts digest {digest(self.posts)[:12]} != model {digest(want)[:12]} "
                f"({len(self.posts)} vs {len(want)} posts)"
            )
        rows = [tuple(r) for r in self.spark.read.parquet(self.state).collect()]
        problems += check_state(rows, self.seeded_rows + sum(self.committed))
        return problems

    def layer_totals(self) -> dict[str, float]:
        """io.write_amp: rows the traced epochs' commits wrote per new
        alert row (the model, checked above, gives the new rows)."""
        new = sum(self.committed[e] for e, _ in self.commits)
        return {"io.write_amp": sum(w for _, w in self.commits) / new} if new else {}

    def describe(self) -> dict:
        """The workload's parameters, and how many epochs took the alert
        path: ARB_RATE, the spread-sign glitch rate and
        SEED_TEAMS_PER_DAY decide whether an epoch commits and posts."""
        n = self.epochs
        return {
            "sports": len(SPORTS), "games_per_sport": GAMES_PER_SPORT,
            "bookies": len(BOOKIES), "na_rate": NA_RATE, "arb_rate": ARB_RATE,
            "glitch_rate": GLITCH_RATE,
            "seed_teams_per_day": SEED_TEAMS_PER_DAY,
            "seeded_log_rows": self.seeded_rows, "epochs": n,
            "warmup_s": self.warmup, "posts": len(self.posts),
            "commit_share": sum(1 for c in self.committed if c) / n if n else None,
            "post_share": len(self.posts) / n if n else None,
        }
