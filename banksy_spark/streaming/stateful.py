"""Custom stateful operators: per-key state kept in Spark's state store
across micro-batches (SURVEY.md §2.9), written once for bounded and
streaming frames.

Every operator here that emits one row per input row is a step kernel
in ``operators/folds.py`` wrapped as input ``select`` → ``folds.fold``
→ ``where``/``select``. ``fold`` picks its plan from ``isStreaming``: a
stream keeps the carry in the state store, a bounded frame folds each
sorted partition in one ``mapInPandas`` pass. The suite queries call
these same functions on bounded frames, so the DuckDB oracle checks the
logic the stream runs; tests/test_streaming.py runs each operator on a
two-micro-batch stream and on the bounded frame and compares them.

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

from banksy_spark.operators import folds

# --- Daily rate limit ---------------------------------------------------------


def rate_limit(events: DataFrame, max_per_day: int = 3) -> DataFrame:
    """Per-user daily quota: the first ``max_per_day`` events of each
    calendar day pass, in (ts, event_id) order. On a stream the state
    is one (day, count) pair per user.

    Known gap: because only the latest day is carried, an event for an
    earlier day that arrives in a later micro-batch (late or replayed
    data) restarts that day's count at 1 and can pass up to
    ``max_per_day`` more. The quota holds only under ``fold``'s stream
    contract that a user's timeline does not interleave across
    batches."""
    by_day = events.select("event_id", "user_id", "ts", F.to_date("ts").alias("day"))
    folded = folds.fold(by_day, folds.RATE_LIMIT, "user_id", ("ts", "event_id"))
    return folded.where(F.col("nth_today") <= max_per_day).select(
        "event_id", "user_id", "day", "nth_today"
    )


# --- SPRT experiment monitor -------------------------------------------------


def sprt_monitor(
    events: DataFrame,
    p0: float = 0.15,
    p1: float = 0.25,
    alpha: float = 0.05,
    beta: float = 0.05,
) -> DataFrame:
    """Wald SPRT per day: the early-stopping experiment monitor that
    fires its accept/reject decision the moment the running
    purchase-rate LLR crosses a Wald boundary — on a stream, no waiting
    for the day to close. State is one (n, k, decided) triple per day;
    decided days keep counting but never re-emit.

    Window-form reference: ``ml_sprt_sequential`` (oracle-checked); the
    parity test replays the same events through both."""
    keyed = events.select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        "ts",
        "event_id",
        "event_type",
    )
    folded = folds.fold(keyed, folds.sprt(p0, p1, alpha, beta), "day", ("ts", "event_id"))
    return folded.where(F.col("decision").isNotNull()).select(
        "day",
        F.col("n").alias("n_at_decision"),
        F.col("k").alias("k_at_decision"),
        "llr",
        "decision",
    )


# --- Rolling bivariate correlation, Bollinger bands ---------------------------

_RC_COLS = ("brand", "day", "x", "y")


def rolling_corr(daily: DataFrame, window: int = 7) -> DataFrame:
    """Rolling 7-observation Pearson correlation per brand — the
    state-incremental form of the oracle-checked ``w_rolling_corr``
    (suite/round8b.py): windowed moments fold one daily observation at
    a time, so the state store carries only the last ``window - 1``
    (x, y) pairs + a row counter per brand, not the series.

    Input: DAILY grains (brand string, day string 'yyyy-MM-dd', x
    bigint, y bigint) — at 100 TB the daily aggregate runs upstream
    (watermarked windowed agg or a foreachBatch rollup) and a stream
    sees one row per (brand, day), i.e. calendar-bounded state and
    traffic.
    """
    folded = folds.fold(
        daily.select(*_RC_COLS), folds.rolling_corr(window), "brand", ("day",)
    )
    return folded.where(F.col("rn") >= window).select(*_RC_COLS, "corr7")


def bollinger(daily: DataFrame, window: int = 20) -> DataFrame:
    """Bollinger bands per series key — the state-incremental form of
    the oracle-checked ``w_bollinger_bands``: the state store carries
    only the last ``window - 1`` integer observations per key. Input: a
    daily frame (pri string, day string 'yyyy-MM-dd', cents bigint); at
    100 TB the daily rollup runs upstream, so state and traffic are
    calendar-bounded per key."""
    return folds.fold(
        daily.select("pri", "day", "cents"), folds.bollinger(window), "pri", ("day",)
    )


# --- EWMA, CUSUM, Holt, sessions, capped balance, Markov pairs ---------------


def ewma(events: DataFrame) -> DataFrame:
    """Per-user EWMA (alpha=0.25, zero-seeded, (ts, event_id) order) —
    ``w_ewma``; on a stream the state is one double per user."""
    out = folds.fold(
        events.select("event_id", "user_id", "ts", "value"),
        folds.EWMA,
        "user_id",
        ("ts", "event_id"),
    )
    return out.select("event_id", "user_id", "ewma")


def cusum(daily: DataFrame, fitted: DataFrame) -> DataFrame:
    """One-sided CUSUM over a (pri, day, cents) series — the fold of
    ``w_cusum_changepoint``. ``fitted`` holds (pri, mu, sigma), TRAINED
    on history (``suite.round5.cusum_parts``) and frozen as detector
    constants: the standard fit-offline/monitor-online split of a
    sequential test. On a stream the state is one double per key."""
    out = folds.fold(
        daily.select("pri", "day", "cents").join(fitted, "pri"),
        folds.CUSUM,
        "pri",
        ("day",),
    )
    return out.select("pri", "day", "cents", "s_pos", "drift")


def holt(daily: DataFrame) -> DataFrame:
    """Holt level+trend over a (pri, day, cents) series — the fold of
    ``w_holt_linear``; on a stream the state is (t, level, trend) per
    key."""
    return folds.fold(daily.select("pri", "day", "cents"), folds.HOLT, "pri", ("day",))


_GAP_US = 1800 * 1_000_000  # 30-min inactivity gap
_CAP_US = 4 * 3600 * 1_000_000  # 4-hour max session length


def capped_sessions(events: DataFrame) -> DataFrame:
    """Per-user gap+cap session assignment — the fold of
    ``w_capped_sessions``: on a stream, session id, last-event µs and
    session-start anchor µs carry across micro-batches, so a session
    spanning a batch boundary is neither re-opened nor re-capped."""
    out = folds.fold(
        events.select("event_id", "user_id", F.unix_micros("ts").alias("ts_us")),
        folds.capped_sessions(_GAP_US, _CAP_US),
        "user_id",
        ("ts_us", "event_id"),
    )
    return out.select("event_id", "user_id", "session_id")


def capped_balance(
    events: DataFrame, cap: float = 100.0, offset: float = 50.0
) -> DataFrame:
    """Token-bucket balance per user — the fold form of the
    oracle-checked ``w_capped_running_sum``. State is ONE double per
    user regardless of history length (the clamp saturates, so no
    buffer is ever needed) — the classic streaming primitive: rate
    limiters, inventory levels, prepaid balances. Input columns:
    event_id bigint, user_id bigint, ts timestamp, value double."""
    out = folds.fold(
        events.select("event_id", "user_id", "ts", "value"),
        folds.capped_balance(cap, offset),
        "user_id",
        ("ts", "event_id"),
    )
    return out.select("event_id", "user_id", "capped_balance")


def markov_pairs(events: DataFrame) -> DataFrame:
    """First-order transition pairs per user — the state-incremental
    form of ``stream_markov_transitions``'s lead() stage. State is the
    last event_type per user and whether there was one (a NULL type is
    a real predecessor). Transition COUNTS need no further state: they
    are an ordinary associative groupBy over the emitted pairs, which
    is why the operator emits pairs."""
    folded = folds.fold(
        events.select("user_id", "ts", "event_id", "event_type"),
        folds.MARKOV,
        "user_id",
        ("ts", "event_id"),
    )
    # the oracle's lead() pairs: every row but a key's first, dropping
    # the pair whose successor (this row's own type) is NULL
    paired = F.col("has_prev") & F.col("event_type").isNotNull()
    return folded.where(paired).select(
        "from_type", F.col("event_type").alias("to_type")
    )


# --- Last-touch attribution, first-seen dedup --------------------------------


def attribution(events: DataFrame) -> DataFrame:
    """Per-user last-touch attribution: the window pass of the
    registered query ``stream_attribution`` (7-day lookback, (ts,
    event_id) order) run with the latest click/view touchpoint (type +
    event-time µs) carried across micro-batches. Emits one row per
    attributed purchase; tests/test_streaming.py proves they
    re-aggregate to the batch query's per-channel totals exactly."""
    folded = folds.fold(
        events.select(
            "user_id",
            "event_id",
            "event_type",
            F.unix_micros("ts").alias("ts_us"),
            "value",
        ),
        folds.ATTRIBUTION,
        "user_id",
        ("ts_us", "event_id"),
    )
    return folded.where(F.col("channel").isNotNull()).select(
        "user_id", "event_id", "channel", "value"
    )


def first_seen(events: DataFrame) -> DataFrame:
    """First-seen dedup: each user's earliest event by (ts, event_id);
    on a stream, in the first micro-batch that sees the user, emitted
    once over the life of the stream, every later occurrence
    suppressed. The unbounded-state cousin of
    ``dropDuplicatesWithinWatermark`` (streaming.core): no watermark
    bounds the memory, the state store keeps one boolean per user ever
    seen — the shape of a "have we ever ingested this id" gate."""
    folded = folds.fold(
        events.select("user_id", "event_id", "ts"),
        folds.FIRST_SEEN,
        "user_id",
        ("ts", "event_id"),
    )
    return folded.where(F.col("first")).select("user_id", "event_id", "ts")


def first_seen_batch(events: DataFrame) -> DataFrame:
    """Window-form reference for :func:`first_seen`: each user's
    earliest row by (ts, event_id) — what a stream emits when a user's
    earliest event arrives in the first micro-batch that sees the user
    (a source replayed in event-time order)."""
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


def reservoir(scored: DataFrame, k: int = 50) -> DataFrame:
    """Per-shard A-ES reservoir over a ``(shard, doc_id, weight,
    es_key)`` frame: at most ``k`` rows per shard REGARDLESS of input
    length — the bounded-memory weighted sample the batch query
    llm_sample_reservoir takes in one pass. Shard reservoirs merge
    downstream by union + re-truncate (the same mergeability the fold
    itself exploits per batch). On a stream the reservoir is state and
    re-emits per micro-batch; a bounded frame merges each complete
    shard once through the same :func:`_merge_truncate`."""
    if scored.isStreaming:
        return scored.groupBy("shard").applyInPandasWithState(
            _make_reservoir(k),
            outputStructType=_RV_OUT_SCHEMA,
            stateStructType=_RV_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    def replay(key, pdf):  # no type hints: applyInPandas infers
        return _reservoir_frame(key[0], *_merge_truncate([], 0, pdf, k))

    return scored.groupBy("shard").applyInPandas(replay, _RV_OUT_SCHEMA)
