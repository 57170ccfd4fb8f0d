"""Ordered per-key folds: each recurrence is written once, as a step
kernel, and run by one batch driver and one stream driver.

The recurrences here (EWMA, CUSUM, Holt, capped sessions, Kaplan-Meier,
the capped balance and Markov successor pairing) are left folds whose
per-row update reads the previous row's state, so no window function
can express them. Each is one :class:`Fold`:

- ``step(carry, *cols) -> (carry, outs)`` folds ONE key's rows in sort
  order. ``cols`` are the ``inputs`` columns as Python lists; ``outs``
  holds one list per ``outputs`` column, aligned with the input rows.
  The carry is a tuple shaped like ``state``, so the stream driver
  stores it in ``GroupState`` as is.
- Python floats are IEEE binary64 with the same +,-,*,/ rounding as the
  JVM and DuckDB, so a step that replays the oracle's operation order
  yields the oracle's bits; each step states the order it keeps, and
  the DuckDB oracle hashes plus tests/test_folds.py pin it.

Two drivers run every kernel; both emit the input columns followed by
the step's outputs:

- :func:`fold_batch` — ``repartition(key)`` → ``sortWithinPartitions(key,
  *order)`` → ``mapInPandas``. A key's rows sit in one partition, in
  order, but may span Arrow batches, so the iterator carries the carry
  across batches and resets it when the key changes. Memory is one
  Arrow batch whatever the series length: no series is ever collected
  into one row.
- :func:`fold_stream` — ``groupBy(key).applyInPandasWithState``. Spark
  clusters a micro-batch's rows by key but hands a key's chunks over in
  arbitrary order, so the group is concatenated and sorted before the
  step; the carry lives in ``GroupState``. Across micro-batches the
  ingestion contract holds the order: a key's timeline must not
  interleave across batches (time-split files in modification order
  locally; a source partitioned by the key in production).

``applyInPandasWithState`` rejects batch frames, hence two drivers.
"""

from __future__ import annotations

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


def _schema(df: DataFrame, fold: Fold) -> str:
    cols = [f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema]
    return ", ".join([*cols, fold.outputs])


def fold_batch(
    df: DataFrame, fold: Fold, key: str | None, order: tuple[str, ...]
) -> DataFrame:
    """Run ``fold`` per ``key`` over a bounded frame in ``order``;
    ``key=None`` folds the whole frame as one series."""
    names = _names(fold.outputs)

    def run(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry, last = fold.init, None
        for pdf in pdfs:
            if not len(pdf):
                continue
            cols = [pdf[c].tolist() for c in fold.inputs]
            if key is None:
                keys, starts = None, [0]
            else:
                arr = pdf[key].to_numpy()
                keys = arr.tolist()
                starts = [0, *(np.flatnonzero(arr[1:] != arr[:-1]) + 1).tolist()]
            outs: list[list] = [[] for _ in names]
            for s, e in zip(starts, [*starts[1:], len(pdf)]):
                if keys is not None and (s or keys[s] != last):
                    carry, last = fold.init, keys[s]
                carry, part = fold.step(carry, *(c[s:e] for c in cols))
                for o, p in zip(outs, part):
                    o.extend(p)
            yield pdf.assign(**dict(zip(names, outs)))

    if key is None:
        placed = df.repartition(1).sortWithinPartitions(*order)
    else:
        placed = df.repartition(key).sortWithinPartitions(key, *order)
    return placed.mapInPandas(run, _schema(df, fold))


def fold_stream(
    df: DataFrame, fold: Fold, key: str, order: tuple[str, ...]
) -> DataFrame:
    """Run ``fold`` per ``key`` over a (possibly streaming) frame, the
    carry kept in the state store across micro-batches."""
    names = _names(fold.outputs)

    def group(
        _key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        carry = tuple(state.get) if state.exists else fold.init
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True)
            pdf = pdf.sort_values(list(order), ignore_index=True)
            carry, outs = fold.step(carry, *(pdf[c].tolist() for c in fold.inputs))
            yield pdf.assign(**dict(zip(names, outs)))
        state.update(carry)

    return df.groupBy(key).applyInPandasWithState(
        group,
        outputStructType=_schema(df, fold),
        stateStructType=fold.state,
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
# last event_type, so a key's first row in a later chunk pairs with the
# last row of the earlier one. NULL from_type marks a row with no pair.
def _markov(carry, event_type):
    (last,) = carry
    return (event_type[-1],), ([last, *event_type[:-1]],)


MARKOV = Fold(_markov, (None,), ("event_type",), "from_type string", "last_type string")
