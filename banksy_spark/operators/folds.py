"""Ordered per-key folds: each recurrence is written once, as a step
kernel, and run by one function, :func:`fold`, on bounded and
streaming frames alike.

Every operator here that emits one row per input row is a left fold
whose per-row update reads the previous row's state. For EWMA, CUSUM,
Holt, capped sessions, Kaplan-Meier and the capped balance no window
function can express that; the Markov pairing, daily rate limit, SPRT,
rolling correlation, Bollinger bands, last-touch attribution and
first-seen flag have window forms (their oracles), and are folds so a
stream can run them with a bounded carry. Each is one :class:`Fold`:

- ``step(carry, *cols) -> (carry, outs)`` folds ONE key's rows in sort
  order. ``cols`` are the ``inputs`` columns as Python lists; ``outs``
  holds one list per ``outputs`` column, aligned with the input rows.
  The carry is a tuple shaped like ``state``, so a stream stores it in
  ``GroupState`` as is. A step never mutates its carry in place: a
  bounded fold starts every key from the same ``init`` object.
- Python floats are IEEE binary64 with the same +,-,*,/ rounding as the
  JVM and DuckDB, so a step that replays the oracle's operation order
  yields the oracle's bits; each step states the order it keeps, and
  the DuckDB oracle hashes plus tests/test_folds.py pin it.

:func:`fold` emits the input columns followed by the step's outputs and
picks its plan from ``df.isStreaming`` (``applyInPandasWithState``
rejects bounded frames, and a stream has no total order to sort):

- bounded — ``repartition(key)`` → ``sortWithinPartitions(key,
  *order)`` → ``mapInPandas``. A key's rows sit in one partition, in
  order, but may span Arrow batches, so the iterator carries the carry
  across batches and resets it when the key changes. Memory is one
  Arrow batch whatever the series length: no series is ever collected
  into one row.
- streaming — ``groupBy(key).applyInPandasWithState``. Spark clusters a
  micro-batch's rows by key but hands a key's chunks over in arbitrary
  order, so the group is concatenated and sorted before the step; the
  carry lives in ``GroupState``. Across micro-batches the ingestion
  contract holds the order: a key's timeline must not interleave across
  batches (time-split files in modification order locally; a source
  partitioned by the key in production).
"""

from __future__ import annotations

import math
import sys
from collections.abc import Callable, Iterator
from typing import Any, NamedTuple

import numpy as np
import pandas as pd
from pyspark import cloudpickle
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

# Ship this module's kernels and drivers to the Python workers by value:
# a worker started outside the repo root cannot import banksy_spark.
cloudpickle.register_pickle_by_value(sys.modules[__name__])


class Fold(NamedTuple):
    step: Callable[..., tuple[tuple, tuple[list, ...]]]
    init: tuple  # carry before a key's first row
    inputs: tuple[str, ...]  # columns handed to ``step``, in this order
    outputs: str  # DDL of the columns ``step`` returns
    state: str  # DDL of the carry


def _names(ddl: str) -> list[str]:
    return [c.split()[0] for c in ddl.split(",")]


def _schema(df: DataFrame, kernel: Fold) -> str:
    cols = [f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema]
    return ", ".join([*cols, kernel.outputs])


def fold(
    df: DataFrame, kernel: Fold, key: str | None, order: tuple[str, ...]
) -> DataFrame:
    """Run ``kernel`` per ``key`` over ``df`` in ``order``; on a stream
    the carry is kept in the state store across micro-batches.
    ``key=None`` folds a bounded frame as one series."""
    if not df.isStreaming:
        return _fold_batch(df, kernel, key, order)
    if key is None:
        raise ValueError("a streaming fold needs a key: a stream has no single series order")
    return _fold_stream(df, kernel, key, order)


def _fold_batch(
    df: DataFrame, kernel: Fold, key: str | None, order: tuple[str, ...]
) -> DataFrame:
    names = _names(kernel.outputs)

    def run(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry, last = kernel.init, None
        for pdf in pdfs:
            if not len(pdf):
                continue
            cols = [pdf[c].tolist() for c in kernel.inputs]
            if key is None:
                keys, starts = None, [0]
            else:
                arr = pdf[key].to_numpy()
                keys = arr.tolist()
                starts = [0, *(np.flatnonzero(arr[1:] != arr[:-1]) + 1).tolist()]
            outs: list[list] = [[] for _ in names]
            for s, e in zip(starts, [*starts[1:], len(pdf)]):
                if keys is not None and (s or keys[s] != last):
                    carry, last = kernel.init, keys[s]
                carry, part = kernel.step(carry, *(c[s:e] for c in cols))
                for o, p in zip(outs, part):
                    o.extend(p)
            yield pdf.assign(**dict(zip(names, outs)))

    if key is None:
        placed = df.repartition(1).sortWithinPartitions(*order)
    else:
        placed = df.repartition(key).sortWithinPartitions(key, *order)
    return placed.mapInPandas(run, _schema(df, kernel))


def _fold_stream(
    df: DataFrame, kernel: Fold, key: str, order: tuple[str, ...]
) -> DataFrame:
    names = _names(kernel.outputs)

    def group(
        _key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        carry = tuple(state.get) if state.exists else kernel.init
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True)
            pdf = pdf.sort_values(list(order), ignore_index=True)
            carry, outs = kernel.step(carry, *(pdf[c].tolist() for c in kernel.inputs))
            yield pdf.assign(**dict(zip(names, outs)))
        state.update(carry)

    return df.groupBy(key).applyInPandasWithState(
        group,
        outputStructType=_schema(df, kernel),
        stateStructType=kernel.state,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- EWMA: acc = acc*0.75 + 0.25*x, zero-seeded -----------------------------
# Op order per step: (acc*0.75) + (0.25*x), the oracle's list_reduce
# lambda. A NULL value reaches the step as NaN and every later row of
# the key reads NULL, as in the oracle (its list() keeps the NULL).
def _ewma(carry, value):
    (acc,) = carry
    out = []
    push = out.append
    for x in value:
        acc = acc * 0.75 + 0.25 * x
        push(acc)
    return (acc,), (out,)


EWMA = Fold(_ewma, (0.0,), ("value",), "ewma double", "acc double")


# --- CUSUM: S_t = greatest(0, ((S + x) - mu) - 0.5*sigma) -------------------
# Left-associative like the oracle's `acc + x - mu - 0.5e0 * sigma`. The
# clamp keeps NaN (NaN < 0.0 is false), as Spark's and DuckDB's greatest
# do; drift is NULL where S is NaN, a NULL compared. mu/sigma are
# per-key constants carried as columns.
def _cusum(carry, cents, mu, sigma):
    (acc,) = carry
    m, hs, lim = mu[0], 0.5 * sigma[0], 4.0 * sigma[0]
    s_pos, drift = [], []
    for x in cents:
        v = ((acc + float(x)) - m) - hs
        acc = 0.0 if v < 0.0 else v
        s_pos.append(acc)
        drift.append(acc > lim if acc == acc else None)
    return (acc,), (s_pos, drift)


CUSUM = Fold(
    _cusum,
    (0.0,),
    ("cents", "mu", "sigma"),
    "s_pos double, drift boolean",
    "acc double",
)


# --- Holt linear: l_1 = x_1, b_1 = 0; then ----------------------------------
#   l' = 0.5*x + 0.5*(l + b)
#   b' = 0.5*(l' - l) + 0.5*b     [the oracle re-inlines l' textually:
#                                  same bits, l' is the same rounded value]
def _holt(carry, cents):
    t, lvl, trd = carry
    level, trend, fc = [], [], []
    for x in cents:
        x = float(x)
        if t == 0:
            lvl, trd = x, 0.0
        else:
            nl = 0.5 * x + 0.5 * (lvl + trd)
            trd = 0.5 * (nl - lvl) + 0.5 * trd
            lvl = nl
        t += 1
        level.append(lvl)
        trend.append(trd)
        fc.append(lvl + trd)
    return (t, lvl, trd), (level, trend, fc)


HOLT = Fold(
    _holt,
    (0, 0.0, 0.0),
    ("cents",),
    "level double, trend double, forecast_next double",
    "t bigint, l double, b double",
)


# --- Capped sessionization: new session iff first event, gap, or cap -------
# Integer microseconds end to end — no rounding, only the branch
# structure must match the oracle's CASE.
def capped_sessions(gap_us: int, cap_us: int) -> Fold:
    def step(carry, ts_us):
        sid, prev, anchor = carry
        out = []
        push = out.append
        for t in ts_us:
            if prev is None or t - prev > gap_us or t - anchor > cap_us:
                sid += 1
                anchor = t
            prev = t
            push(sid)
        return (sid, prev, anchor), (out,)

    return Fold(
        step,
        (0, None, None),
        ("ts_us",),
        "session_id bigint",
        "sid bigint, prev_us bigint, anchor_us bigint",
    )


# --- Kaplan-Meier product-limit: S *= (1 - d/n_at_risk) ---------------------
# Op order per step: the division first (ints < 2^53 convert exactly),
# then the subtraction, then the multiply — the oracle's factor order.
def _km(carry, d, n_at_risk):
    (acc,) = carry
    out = []
    for di, ni in zip(d, n_at_risk):
        acc = acc * (1.0 - float(di) / float(ni))
        out.append(acc)
    return (acc,), (out,)


KM = Fold(_km, (1.0,), ("d", "n_at_risk"), "survival double", "acc double")


# --- Capped running balance: acc' = clamp(acc + (value - offset), 0, cap) --
# One IEEE add then min/max per event, the oracle's list_reduce order.
# The clamp makes the recurrence non-linear (no window frame expresses
# it) and perfectly state-incremental: the history is one double.
def capped_balance(cap: float, offset: float) -> Fold:
    def step(carry, value):
        (acc,) = carry
        out = []
        for v in value:
            acc = max(0.0, min(cap, acc + (v - offset)))
            out.append(acc)
        return (acc,), (out,)

    return Fold(step, (0.0,), ("value",), "capped_balance double", "balance double")


# --- Markov successor pairing: from_type = the key's previous event_type ----
# lead() over the per-key order, computed incrementally: the carry is the
# last event_type and whether there was one, so a key's first row in a
# later chunk pairs with the last row of the earlier one. has_prev is
# false only on a key's first row; from_type may be NULL on a paired row.
def _markov(carry, event_type):
    last, seen = carry
    has_prev = [seen, *[True] * (len(event_type) - 1)]
    return (event_type[-1], True), ([last, *event_type[:-1]], has_prev)


MARKOV = Fold(
    _markov,
    (None, False),
    ("event_type",),
    "from_type string, has_prev boolean",
    "last_type string, seen boolean",
)


# --- Daily rate limit: nth_today = the row's rank in its run of one day -----
# The reference's per-key quota counter (arbitrage_scanner.py:434-461):
# a change of day, an out-of-order regression included, restarts it.
def _rate_limit(carry, day):
    cur, n = carry
    out = []
    for d in day:
        n = n + 1 if d == cur else 1
        cur = d
        out.append(n)
    return (cur, n), (out,)


RATE_LIMIT = Fold(
    _rate_limit, (None, 0), ("day",), "nth_today bigint", "day date, n bigint"
)


# --- Wald SPRT: llr = k*ln(p1/p0) + (n-k)*ln((1-p1)/(1-p0)) ----------------
# The ln factors are computed once here, so every row uses the same IEEE
# constants as ml_sprt_sequential; int->double conversion is exact below
# 2^53. decision is set on the one row whose llr first leaves
# (ln(beta/(1-alpha)), ln((1-beta)/alpha)); later rows keep counting.
def sprt(p0: float, p1: float, alpha: float, beta: float) -> Fold:
    l1 = math.log(p1 / p0)
    l0 = math.log((1 - p1) / (1 - p0))
    a = math.log((1 - beta) / alpha)
    b = math.log(beta / (1 - alpha))

    def step(carry, event_type):
        n, k, decided = carry
        ns, ks, llrs, decision = [], [], [], []
        for t in event_type:
            n += 1
            k += t == "purchase"
            llr = k * l1 + (n - k) * l0
            hit = not decided and (llr >= a or llr <= b)
            decided = decided or hit
            ns.append(n)
            ks.append(k)
            llrs.append(llr)
            decision.append(("accept_h1" if llr >= a else "accept_h0") if hit else None)
        return (n, k, decided), (ns, ks, llrs, decision)

    return Fold(
        step,
        (0, 0, False),
        ("event_type",),
        "n bigint, k bigint, llr double, decision string",
        "n bigint, k bigint, decided boolean",
    )


# --- Rolling Pearson correlation over the last `window` (x, y) rows ---------
# Moments are Python ints (the oracle's DECIMAL(38,0) sums, exactly);
# the IEEE tail is the oracle's: num and the two centred sums of squares
# convert int->double independently (correctly rounded), multiply, sqrt
# (correctly rounded), divide. corr7 is NULL before the window fills
# (rn < window) and where either variance is 0.
def rolling_corr(window: int) -> Fold:
    def step(carry, x, y):
        xs, ys, rn = carry
        rns, corr = [], []
        for xi, yi in zip(x, y):
            xs, ys = [*xs, xi][-window:], [*ys, yi][-window:]
            rn += 1
            rns.append(rn)
            if rn < window:
                corr.append(None)
                continue
            n, sx, sy = len(xs), sum(xs), sum(ys)
            da = n * sum(v * v for v in xs) - sx * sx
            db = n * sum(v * v for v in ys) - sy * sy
            if da <= 0 or db <= 0:
                corr.append(None)
                continue
            sxy = sum(a * b for a, b in zip(xs, ys))
            corr.append(float(n * sxy - sx * sy) / math.sqrt(float(da) * float(db)))
        return (xs[1 - window :], ys[1 - window :], rn), (rns, corr)

    return Fold(
        step,
        ([], [], 0),
        ("x", "y"),
        "rn bigint, corr7 double",
        "xs array<bigint>, ys array<bigint>, rn bigint",
    )


# --- Bollinger bands: trailing mean +- 2 sigma over the last `window` rows --
# Moments are Python ints (the oracle's DECIMAL(38,0) sums); the IEEE
# tail keeps the oracle's order: correctly rounded int->double, sqrt,
# then (2.0 * sqrt) / k. Every row emits; a partial leading window uses
# k = rows so far, as the oracle's ROWS frame does.
def bollinger(window: int) -> Fold:
    def step(carry, cents):
        (vals,) = carry
        mid, lower, upper, up = [], [], [], []
        for x in cents:
            vals = [*vals, x][-window:]
            k = len(vals)
            s1 = sum(vals)
            s2 = sum(v * v for v in vals)
            m = float(s1) / k
            sd = 2.0 * math.sqrt(float(k * s2 - s1 * s1)) / k
            mid.append(m)
            lower.append(m - sd)
            upper.append(m + sd)
            up.append(float(x) > m + sd)
        return (vals[1 - window :],), (mid, lower, upper, up)

    return Fold(
        step,
        ([],),
        ("cents",),
        "mid double, lower_band double, upper_band double, breakout_up boolean",
        "vals array<bigint>",
    )


# --- Last-touch attribution: a purchase takes the key's latest click/view ---
# The batch query's last(ignorenulls) window over (ts, event_id), run
# incrementally: the carry is the latest touch's type and µs; a purchase
# more than 7 days after it reads NULL. Integer µs, no rounding.
_LOOKBACK_US = 7 * 24 * 3600 * 1_000_000


def _attribution(carry, event_type, ts_us):
    ch, ch_ts = carry
    out = []
    for t, ts in zip(event_type, ts_us):
        hit = t == "purchase" and ch is not None and ts <= ch_ts + _LOOKBACK_US
        out.append(ch if hit else None)
        if t == "click" or t == "view":
            ch, ch_ts = t, ts
    return (ch, ch_ts), (out,)


ATTRIBUTION = Fold(
    _attribution,
    (None, None),
    ("event_type", "ts_us"),
    "channel string",
    "ch_type string, ch_ts_us bigint",
)


# --- First seen: true on a key's first row over the life of the stream -----
def _first_seen(carry, event_id):
    (seen,) = carry
    return (True,), ([not seen, *[False] * (len(event_id) - 1)],)


FIRST_SEEN = Fold(_first_seen, (False,), ("event_id",), "first boolean", "seen boolean")
