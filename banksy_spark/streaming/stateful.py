"""Custom stateful streaming operators: per-key state kept in Spark's
state store across micro-batches (SURVEY.md §2.9).

Every operator here that emits one row per input row is a step kernel
in ``operators/folds.py``: :func:`~banksy_spark.operators.folds.fold_stream`
keeps its carry in the state store, and its batch twin runs the same
kernel through :func:`~banksy_spark.operators.folds.fold_batch` so the
DuckDB oracle can check it. Each entry point is a ``select`` → fold →
``where``/``select`` wrapper; tests/test_streaming.py proves every
stream equal to its batch twin across micro-batches.

The rate limiter is the streaming form of the reference's notification
limiter (arbitrage_scanner.py:434-461): per user it remembers how many
alerts the current calendar day has consumed and passes events through
only while the day's quota lasts; the counter lives in the state store,
so there is no external log table and no per-batch join.

The two summary operators (Space-Saving heavy hitters, the A-ES
reservoir) emit a per-shard summary in update mode, not one row per
input row, and drive ``applyInPandasWithState`` themselves.

Scale: state is partitioned by the groupBy key, one state row per
active key; a GroupStateTimeout would expire idle keys in a production
deployment.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from banksy_spark.operators.folds import (
    ATTRIBUTION,
    CUSUM,
    EWMA,
    FIRST_SEEN,
    HOLT,
    MARKOV,
    RATE_LIMIT,
    bollinger,
    capped_balance,
    capped_sessions,
    fold_batch,
    fold_stream,
    rolling_corr,
    sprt,
)

# --- Daily rate limit ---------------------------------------------------------


def _by_day(events: DataFrame) -> DataFrame:
    return events.select("event_id", "user_id", "ts", F.to_date("ts").alias("day"))


def _within_quota(folded: DataFrame, max_per_day: int) -> DataFrame:
    return folded.where(F.col("nth_today") <= max_per_day).select(
        "event_id", "user_id", "day", "nth_today"
    )


def rate_limit_stateful(events: DataFrame, max_per_day: int = 3) -> DataFrame:
    """Per-user daily quota over a (possibly streaming) events frame: the
    first ``max_per_day`` events of each calendar day pass, in (ts,
    event_id) order. State is one (day, count) pair per user.

    Known gap: because only the latest day is carried, an event for an
    earlier day that arrives in a later micro-batch (late or replayed
    data) restarts that day's count at 1 and can pass up to
    ``max_per_day`` more. The quota holds only under ``fold_stream``'s
    contract that a user's timeline does not interleave across
    batches."""
    folded = fold_stream(_by_day(events), RATE_LIMIT, "user_id", ("ts", "event_id"))
    return _within_quota(folded, max_per_day)


def rate_limit_batch(events: DataFrame, max_per_day: int = 3) -> DataFrame:
    """Batch twin of :func:`rate_limit_stateful`: the same kernel through
    ``fold_batch``, whose mapInPandas shape keeps million-user inputs off
    the per-group ``applyInPandas`` overhead (measured 7.3 s vs <2 s at
    sf0.1)."""
    folded = fold_batch(_by_day(events), RATE_LIMIT, "user_id", ("ts", "event_id"))
    return _within_quota(folded, max_per_day)


# --- SPRT experiment monitor -------------------------------------------------


def sprt_monitor_stateful(
    events: DataFrame,
    p0: float = 0.15,
    p1: float = 0.25,
    alpha: float = 0.05,
    beta: float = 0.05,
) -> DataFrame:
    """Streaming Wald SPRT per day: the early-stopping experiment
    monitor that fires its accept/reject decision the moment the
    running purchase-rate LLR crosses a Wald boundary — no waiting for
    the day to close. State is one (n, k, decided) triple per day;
    decided days keep counting but never re-emit.

    Batch twin: ``ml_sprt_sequential`` (oracle-checked); the parity
    test replays the same events through both paths.
    """
    keyed = events.select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        "ts",
        "event_id",
        "event_type",
    )
    folded = fold_stream(keyed, sprt(p0, p1, alpha, beta), "day", ("ts", "event_id"))
    return folded.where(F.col("decision").isNotNull()).select(
        "day",
        F.col("n").alias("n_at_decision"),
        F.col("k").alias("k_at_decision"),
        "llr",
        "decision",
    )


# --- Rolling bivariate correlation -------------------------------------------

_RC_COLS = ("brand", "day", "x", "y")


def _full_windows(folded: DataFrame, window: int) -> DataFrame:
    return folded.where(F.col("rn") >= window).select(*_RC_COLS, "corr7")


def rolling_corr_stateful(daily: DataFrame, window: int = 7) -> DataFrame:
    """Streaming rolling 7-observation Pearson correlation per brand —
    the state-incremental twin of the oracle-checked ``w_rolling_corr``
    (suite/round8b.py): windowed moments fold one daily observation at
    a time, so the state store carries only the last ``window - 1``
    (x, y) pairs + a row counter per brand, not the series.

    Input: a (possibly streaming) frame of DAILY grains
    (brand string, day string 'yyyy-MM-dd', x bigint, y bigint) — at
    100 TB the daily aggregate runs upstream (watermarked windowed agg
    or a foreachBatch rollup) and THIS operator sees one row per
    (brand, day), i.e. calendar-bounded state and traffic.
    """
    folded = fold_stream(daily.select(*_RC_COLS), rolling_corr(window), "brand", ("day",))
    return _full_windows(folded, window)


def rolling_corr_batch(daily: DataFrame, window: int = 7) -> DataFrame:
    """Batch replay of :func:`rolling_corr_stateful`: the same kernel
    through ``fold_batch``, so the DuckDB window-form oracle can
    value-check the per-observation fold the state store runs
    incrementally."""
    folded = fold_batch(daily.select(*_RC_COLS), rolling_corr(window), "brand", ("day",))
    return _full_windows(folded, window)


# --- Rolling Bollinger bands --------------------------------------------------

_BB_COLS = ("pri", "day", "cents")


def bollinger_stateful(daily: DataFrame, window: int = 20) -> DataFrame:
    """Streaming Bollinger bands per series key — the state-incremental
    twin of the oracle-checked ``w_bollinger_bands``: the state store
    carries only the last ``window - 1`` integer observations per key.
    Input: a (possibly streaming) daily frame (pri string, day string
    'yyyy-MM-dd', cents bigint); at 100 TB the daily rollup runs
    upstream, so state and traffic are calendar-bounded per key."""
    return fold_stream(daily.select(*_BB_COLS), bollinger(window), "pri", ("day",))


def bollinger_batch(daily: DataFrame, window: int = 20) -> DataFrame:
    """Batch replay of :func:`bollinger_stateful`: the same kernel
    through ``fold_batch``, so the DuckDB window-form oracle
    value-checks the per-observation fold the state store runs
    incrementally."""
    return fold_batch(daily.select(*_BB_COLS), bollinger(window), "pri", ("day",))


# --- EWMA, CUSUM, Holt, sessions, capped balance, Markov pairs ---------------


def ewma_stream(events: DataFrame) -> DataFrame:
    """Per-user incremental EWMA (alpha=0.25, zero-seeded, (ts,
    event_id) order) — the streaming twin of ``w_ewma``; state is one
    double per user."""
    out = fold_stream(
        events.select("user_id", "event_id", "ts", "value"),
        EWMA,
        "user_id",
        ("ts", "event_id"),
    )
    return out.select("user_id", "event_id", "ewma")


def cusum_stream(
    daily: DataFrame, params: dict[str, tuple[float, float]]
) -> DataFrame:
    """Incremental CUSUM over a (pri, day, cents) stream — the twin of
    ``w_cusum_changepoint``. (mu, sigma) per key are TRAINED on history
    (``suite.round5.cusum_parts``) and frozen as detector constants: the
    standard fit-offline/monitor-online split of a sequential test.
    State is one double per key."""
    fitted = daily.sparkSession.createDataFrame(
        [(k, mu, sigma) for k, (mu, sigma) in params.items()],
        "pri string, mu double, sigma double",
    )
    out = fold_stream(
        daily.select("pri", "day", "cents").join(fitted, "pri"),
        CUSUM,
        "pri",
        ("day",),
    )
    return out.select("pri", "day", "cents", "s_pos", "drift")


def holt_stream(daily: DataFrame) -> DataFrame:
    """Incremental Holt level+trend over a (pri, day, cents) stream —
    the twin of ``w_holt_linear``; state is (t, level, trend) per key."""
    return fold_stream(daily.select("pri", "day", "cents"), HOLT, "pri", ("day",))


def capped_sessions_stream(events: DataFrame) -> DataFrame:
    """Per-user incremental gap+cap session assignment — the twin of
    ``w_capped_sessions``: session id, last-event µs and session-start
    anchor µs carry across micro-batches, so a session spanning a batch
    boundary is neither re-opened nor re-capped."""
    from banksy_spark.suite.round5e import _CAP_US, _GAP_US

    out = fold_stream(
        events.select("user_id", "event_id", F.unix_micros("ts").alias("ts_us")),
        capped_sessions(_GAP_US, _CAP_US),
        "user_id",
        ("ts_us", "event_id"),
    )
    return out.select("user_id", "event_id", "session_id")


_CB_COLS = ("event_id", "user_id", "ts", "value")


def capped_balance_stateful(
    events: DataFrame, cap: float = 100.0, offset: float = 50.0
) -> DataFrame:
    """Streaming token-bucket balance per user — the state-incremental
    twin of the oracle-checked ``w_capped_running_sum``. State is ONE
    double per user regardless of history length (the clamp saturates,
    so no buffer is ever needed) — the classic streaming primitive:
    rate limiters, inventory levels, prepaid balances. Input columns:
    event_id bigint, user_id bigint, ts timestamp, value double."""
    out = fold_stream(
        events.select(*_CB_COLS),
        capped_balance(cap, offset),
        "user_id",
        ("ts", "event_id"),
    )
    return out.select("event_id", "user_id", "capped_balance")


def capped_balance_batch(
    events: DataFrame, cap: float = 100.0, offset: float = 50.0
) -> DataFrame:
    """Batch replay of :func:`capped_balance_stateful`: the same kernel
    through ``fold_batch``, whose mapInPandas shape replaced a per-group
    ``applyInPandas`` whose invocation overhead dominated at ~1.5k users
    (3.25 s vs 1.2 s at sf0.1)."""
    out = fold_batch(
        events.select(*_CB_COLS),
        capped_balance(cap, offset),
        "user_id",
        ("ts", "event_id"),
    )
    return out.select("event_id", "user_id", "capped_balance")


def _markov_pairs(folded: DataFrame) -> DataFrame:
    # the oracle's lead() pairs: every row but a key's first, dropping
    # the pair whose successor (this row's own type) is NULL
    paired = F.col("has_prev") & F.col("event_type").isNotNull()
    return folded.where(paired).select(
        "from_type", F.col("event_type").alias("to_type")
    )


_MK_COLS = ("user_id", "ts", "event_id", "event_type")


def markov_pairs_stateful(events: DataFrame) -> DataFrame:
    """Streaming first-order transition pairs per user — the
    state-incremental twin of ``stream_markov_transitions``'s lead()
    stage. State is the last event_type per user and whether there
    was one (a NULL type is a real predecessor). Transition COUNTS
    need no further state: they are an ordinary associative groupBy
    over the emitted pairs, which is why the operator emits pairs."""
    folded = fold_stream(
        events.select(*_MK_COLS), MARKOV, "user_id", ("ts", "event_id")
    )
    return _markov_pairs(folded)


def markov_pairs_batch(events: DataFrame) -> DataFrame:
    """Batch replay of :func:`markov_pairs_stateful`: the same kernel
    through ``fold_batch``."""
    folded = fold_batch(
        events.select(*_MK_COLS), MARKOV, "user_id", ("ts", "event_id")
    )
    return _markov_pairs(folded)


# --- Last-touch attribution, first-seen dedup --------------------------------


def attribution_stream(events: DataFrame) -> DataFrame:
    """Per-user incremental last-touch attribution: the window pass of
    the registered query ``stream_attribution`` (7-day lookback, (ts,
    event_id) order) run with the latest click/view touchpoint (type +
    event-time µs) carried across micro-batches. Emits one row per
    attributed purchase; tests/test_streaming.py proves they
    re-aggregate to the batch query's per-channel totals exactly."""
    folded = fold_stream(
        events.select(
            "user_id",
            "event_id",
            "event_type",
            F.unix_micros("ts").alias("ts_us"),
            "value",
        ),
        ATTRIBUTION,
        "user_id",
        ("ts_us", "event_id"),
    )
    return folded.where(F.col("channel").isNotNull()).select(
        "user_id", "event_id", "channel", "value"
    )


def first_seen_stream(events: DataFrame) -> DataFrame:
    """Streaming first-seen dedup: each user's earliest event by (ts,
    event_id) in the first micro-batch that sees the user, emitted once
    over the life of the stream; every later occurrence is suppressed.
    The unbounded-state cousin of ``dropDuplicatesWithinWatermark``
    (streaming.core): no watermark bounds the memory, the state store
    keeps one boolean per user ever seen — the shape of a "have we ever
    ingested this id" gate."""
    folded = fold_stream(
        events.select("user_id", "event_id", "ts"),
        FIRST_SEEN,
        "user_id",
        ("ts", "event_id"),
    )
    return folded.where(F.col("first")).select("user_id", "event_id", "ts")


def first_seen_batch(events: DataFrame) -> DataFrame:
    """Window-form reference for :func:`first_seen_stream`: each user's
    earliest row by (ts, event_id) — what the stream emits when a
    user's earliest event arrives in the first micro-batch that sees
    the user (a source replayed in event-time order)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        events.select("user_id", "event_id", "ts")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


# --- Space-Saving heavy hitters ----------------------------------------------

_SS_OUT_SCHEMA = "shard int, item string, est_count bigint, max_err bigint"
_SS_STATE_SCHEMA = (
    "items array<string>, counts array<long>, errs array<long>"
)


def _make_space_saving(capacity: int):
    """Metwally et al.'s Space-Saving summary as a per-shard stateful
    fold: at most ``capacity`` (item, count, err) tracked entries; an
    unseen item evicts the current minimum and INHERITS its count
    (err = that inherited floor, the classic over-count bound). Emits
    the full summary each micro-batch (update semantics downstream).

    Guarantees (per shard): any item with true count > N/capacity is
    in the summary, and true_count <= est_count <= true_count + err.
    Summaries from different shards merge by summing est/err per item
    and re-truncating — the same mergeability story as the batch CMS
    (a_heavy_hitters_cms, suite/round4.py)."""

    def _fold(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            items, counts, errs = state.get
            summary = {
                it: [c, e] for it, c, e in zip(items, counts, errs)
            }
        else:
            summary = {}
        for pdf in pdfs:
            for it in pdf["item"]:
                if it in summary:
                    summary[it][0] += 1
                elif len(summary) < capacity:
                    summary[it] = [1, 0]
                else:
                    evict = min(summary, key=lambda k: (summary[k][0], k))
                    floor = summary[evict][0]
                    del summary[evict]
                    summary[it] = [floor + 1, floor]
        items = sorted(summary)
        state.update(
            (
                list(items),
                [summary[i][0] for i in items],
                [summary[i][1] for i in items],
            )
        )
        yield pd.DataFrame(
            {
                "shard": key[0],
                "item": items,
                "est_count": [summary[i][0] for i in items],
                "max_err": [summary[i][1] for i in items],
            }
        )

    return _fold


def heavy_hitters_stateful(
    events: DataFrame, item_col: str, capacity: int = 16, n_shards: int = 8
) -> DataFrame:
    """Streaming heavy hitters: Space-Saving summaries per hash shard,
    maintained in the state store across micro-batches. State is
    ``n_shards * capacity`` tracked entries TOTAL regardless of key
    cardinality or stream length — the bounded-memory contrast to an
    exact streaming count (whose state grows with distinct keys).
    Consumers merge the shard summaries (sum est/err per item) for the
    global view; the update-mode emission re-publishes each shard's
    summary whenever it changes.

    .. warning:: State-compatibility break (round-9 fix). The shard key
       changed from ``abs(xxhash64 % n)`` to ``pmod(xxhash64, n)`` —
       the abs form folded the +k/-k residues onto one shard. Because
       state is keyed by shard (NoTimeout, update mode), a query
       RESTARTED from a pre-fix checkpoint would rehash items onto new
       shards while the old shards retain their stale Space-Saving
       summaries and never re-emit; consumers merging per-shard
       summaries would double-count those items. Upgrading requires a
       FRESH checkpoint location (or a new queryName): do not resume a
       pre-fix checkpoint across this change."""
    # pmod, not abs(%): abs folds residues +k and -k onto one shard,
    # halving every shard's share except 0's — pmod keeps them uniform
    keyed = events.select(
        F.pmod(F.xxhash64(F.col(item_col)), F.lit(n_shards))
        .cast("int")
        .alias("shard"),
        F.col(item_col).alias("item"),
    )
    return keyed.groupBy("shard").applyInPandasWithState(
        _make_space_saving(capacity),
        outputStructType=_SS_OUT_SCHEMA,
        stateStructType=_SS_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- A-ES weighted reservoir (without replacement) ----------------------------

_RV_OUT_SCHEMA = (
    "shard int, doc_id bigint, weight bigint, es_key double, "
    "smp_rank int, n_seen bigint"
)
_RV_STATE_SCHEMA = (
    "ids array<long>, ws array<long>, keys array<double>, seen long"
)


def _merge_truncate(
    res: list[tuple[float, int, int]], seen: int, pdf: pd.DataFrame, k: int
) -> tuple[list[tuple[float, int, int]], int]:
    """Merge ``pdf``'s (es_key, doc_id, weight) candidates into the
    reservoir ``res`` and keep its top ``k`` by es_key DESC, doc_id ASC
    — the exact ordering of suite.round13d.llm_sample_reservoir's
    window form. Merge-and-truncate IS the A-ES without-replacement
    semantics, the reason the estimator works as a streaming and
    distributed fold at all."""
    cand = zip(
        pdf["es_key"].astype("float64"),
        pdf["doc_id"].astype("int64"),
        pdf["weight"].astype("int64"),
    )
    # Python float sort == SQL double sort (es_key is never NaN)
    res = sorted([*res, *cand], key=lambda t: (-t[0], t[1]))[:k]
    return res, seen + len(pdf)


def _reservoir_frame(shard: int, res: list, seen: int) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "shard": pd.array([shard] * len(res), dtype="int32"),
            "doc_id": pd.array([i for _, i, _ in res], dtype="int64"),
            "weight": pd.array([w for _, _, w in res], dtype="int64"),
            "es_key": pd.array([e for e, _, _ in res], dtype="float64"),
            "smp_rank": pd.array(range(1, len(res) + 1), dtype="int32"),
            "n_seen": pd.array([seen] * len(res), dtype="int64"),
        }
    )


def _make_reservoir(k: int):
    """Per-shard Efraimidis–Spirakis reservoir fold: state holds the
    current top-``k`` docs; each micro-batch's chunks merge into it
    through :func:`_merge_truncate`. Emits the full reservoir each
    batch (update semantics) plus the monotone ``n_seen`` counter so a
    consumer (and the stream==batch test) can identify the final
    emission per shard."""

    def _fold(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            ids, ws, keys, seen = state.get
            res = list(zip(keys, ids, ws))
        else:
            res, seen = [], 0
        for pdf in pdfs:
            res, seen = _merge_truncate(res, seen, pdf, k)
        state.update(
            (
                [int(i) for _, i, _ in res],
                [int(w) for _, _, w in res],
                [float(e) for e, _, _ in res],
                seen,
            )
        )
        yield _reservoir_frame(key[0], res, seen)

    return _fold


def reservoir_stateful(scored: DataFrame, k: int = 50) -> DataFrame:
    """Streaming per-shard A-ES reservoir over a ``(shard, doc_id,
    weight, es_key)`` stream: state is at most ``k`` rows per shard
    REGARDLESS of stream length — the bounded-memory weighted sample
    the batch query llm_sample_reservoir takes in one pass. Shard
    reservoirs merge downstream by union + re-truncate (the same
    mergeability the fold itself exploits per batch)."""
    return scored.groupBy("shard").applyInPandasWithState(
        _make_reservoir(k),
        outputStructType=_RV_OUT_SCHEMA,
        stateStructType=_RV_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def reservoir_batch(scored: DataFrame, k: int = 50) -> DataFrame:
    """Batch replay of :func:`reservoir_stateful`: the same
    merge-and-truncate over each complete shard via applyInPandas, so a
    per-shard-window DuckDB oracle can value-check the ordering the
    state-store variant runs incrementally."""

    def replay(key, pdf):  # no type hints: applyInPandas infers
        return _reservoir_frame(key[0], *_merge_truncate([], 0, pdf, k))

    return scored.groupBy("shard").applyInPandas(replay, _RV_OUT_SCHEMA)
