"""Custom stateful streaming operator exemplar:
``applyInPandasWithState`` (SURVEY.md §2.9 / driver brief: "custom
stateful operators").

The operator is the streaming-native form of the reference's
notification rate limiter (arbitrage_scanner.py:434-461): per key it
remembers how many alerts each calendar day has already consumed and
passes events through only while the day's quota lasts — but unlike the
foreachBatch variant (streaming.core), the counter lives in Spark's
state store, so there is no external log table and no per-batch join.

Scale: state is partitioned by user_id (the groupBy key), one state row
per active user; a GroupStateTimeout would expire idle users in a
production deployment.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from banksy_spark.operators.folds import (
    CUSUM,
    EWMA,
    HOLT,
    MARKOV,
    capped_balance,
    capped_sessions,
    fold_batch,
    fold_stream,
)

_OUT_SCHEMA = "user_id bigint, event_id bigint, day string, nth_today int"
_STATE_SCHEMA = "day string, n int"


def _make_limiter(max_per_day: int):
    """Build the per-group quota counter with the quota captured in the
    closure (cloudpickle ships closures to the workers fine)."""

    def _limit_group(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        # State = (current day, sends so far). Vectorized per batch:
        # consecutive same-day runs get a cumcount; only the first run
        # can continue the carried-over day's quota (a day change —
        # including out-of-order regressions, matching the reference's
        # transition semantics — resets the counter).
        day, n = state.get if state.exists else (None, 0)
        # Materialize + globally order the group first: chunks of one key
        # can arrive in arbitrary order (Spark clusters by key only), so a
        # per-chunk sort would fold out of event-time order.
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True)
            pdf = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
            r_day = pdf["ts"].dt.strftime("%Y-%m-%d")
            run = (r_day != r_day.shift()).cumsum()
            nth = pdf.groupby(run).cumcount() + 1
            if day is not None and r_day.iloc[0] == day:
                nth = nth.where(run != run.iloc[0], nth + n)
            day = r_day.iloc[-1]
            n = int(min(nth[run == run.iloc[-1]].max(), max_per_day))
            keep = nth <= max_per_day
            yield pd.DataFrame(
                {
                    "user_id": key[0],
                    "event_id": pdf.loc[keep, "event_id"],
                    "day": r_day[keep],
                    "nth_today": nth[keep].astype("int32"),
                }
            )
        state.update((day, n))

    return _limit_group


_BATCH_OUT_SCHEMA = "event_id bigint, user_id bigint, day date, nth_today bigint"


def rate_limit_batch(events: DataFrame, max_per_day: int = 3) -> DataFrame:
    """Batch twin of :func:`rate_limit_stateful`: identical per-key
    quota semantics (first ``max_per_day`` events per calendar day
    pass, ordered by (ts, event_id)), replayed over a bounded frame so
    the DuckDB oracle can verify the quota logic the state-store
    variant runs incrementally.

    Shape: ``repartition(user_id) + sortWithinPartitions + mapInPandas``
    rather than ``groupBy().applyInPandas`` — with high-cardinality keys
    (millions of users) the per-group invocation overhead of
    applyInPandas dominates (measured 7.3 s vs <2 s at sf0.1); the
    map form runs ONE vectorized groupby-cumcount per ~10k-row Arrow
    batch. A (user_id, day) group may straddle a batch boundary, so the
    per-partition iterator carries the last group's key and count across
    batches — the same carry logic the state store performs across
    micro-batches.
    """

    def limit(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry_key, carry_n = None, 0
        for pdf in pdfs:
            if not len(pdf):
                continue
            uid = pdf["user_id"].to_numpy()
            day = pdf["ts"].dt.date.to_numpy()
            nth = (pdf.groupby([uid, day]).cumcount() + 1).to_numpy()
            if carry_key == (uid[0], day[0]):
                nth = nth + ((uid == uid[0]) & (day == day[0])) * carry_n
            carry_key = (uid[-1], day[-1])
            carry_n = int(nth[(uid == uid[-1]) & (day == day[-1])].max())
            out = pd.DataFrame(
                {
                    "event_id": pdf["event_id"].to_numpy(),
                    "user_id": uid,
                    "day": day,
                    "nth_today": nth,
                }
            )
            yield out[out["nth_today"] <= max_per_day]

    return (
        events.select("event_id", "user_id", "ts")
        .repartition("user_id")
        .sortWithinPartitions("user_id", "ts", "event_id")
        .mapInPandas(limit, _BATCH_OUT_SCHEMA)
    )


def rate_limit_stateful(events: DataFrame, max_per_day: int = 3) -> DataFrame:
    """Stateful rate limiter over a (possibly streaming) events frame.

    The per-group Python runs on Arrow batches (pandas), the state store
    holds one tiny tuple per user — this is the pattern for operators
    Spark lacks natively (SURVEY brief: applyInPandasWithState for
    custom stateful semantics).
    """
    return events.select("user_id", "event_id", "ts").groupBy("user_id").applyInPandasWithState(
        _make_limiter(max_per_day),
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- SPRT experiment monitor -------------------------------------------------

_SPRT_OUT_SCHEMA = (
    "day string, n_at_decision bigint, k_at_decision bigint, "
    "llr double, decision string"
)
_SPRT_STATE_SCHEMA = "n bigint, k bigint, decided boolean"


def _make_sprt(p0: float, p1: float, alpha: float, beta: float):
    """Per-day Wald SPRT fold: state carries (trials, successes,
    decided); the decision row is emitted exactly once, in the
    micro-batch whose events push the running LLR across a boundary.
    Same LLR algebra as the oracle-checked batch twin
    (suite/round8b.py:ml_sprt_sequential): the ln factors are computed
    HERE once and closed over, so stream and batch use the identical
    IEEE constants."""
    import math

    l1 = math.log(p1 / p0)
    l0 = math.log((1 - p1) / (1 - p0))
    a = math.log((1 - beta) / alpha)
    b = math.log(beta / (1 - alpha))

    def _fold(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        n0, k0, decided = state.get if state.exists else (0, 0, False)
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True)
            # chunk arrival order within a batch is arbitrary — restore
            # event-time order before folding (cross-batch order is the
            # ingestion contract, as for every streaming fold here)
            pdf = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
            p = (pdf["event_type"] == "purchase").to_numpy(np.int64)
            k = k0 + np.cumsum(p)
            n = n0 + np.arange(1, len(p) + 1, dtype=np.int64)
            if not decided:
                llr = k * l1 + (n - k) * l0
                crossed = (llr >= a) | (llr <= b)
                if crossed.any():
                    i = int(np.argmax(crossed))
                    decided = True
                    yield pd.DataFrame(
                        {
                            "day": [key[0]],
                            "n_at_decision": [int(n[i])],
                            "k_at_decision": [int(k[i])],
                            "llr": [float(llr[i])],
                            "decision": [
                                "accept_h1" if llr[i] >= a else "accept_h0"
                            ],
                        }
                    )
            n0, k0 = int(n[-1]), int(k[-1])
        state.update((n0, k0, decided))

    return _fold


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
    return keyed.groupBy("day").applyInPandasWithState(
        _make_sprt(p0, p1, alpha, beta),
        outputStructType=_SPRT_OUT_SCHEMA,
        stateStructType=_SPRT_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
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


# --- Rolling bivariate correlation -------------------------------------------

_RC_OUT_SCHEMA = (
    "brand string, day string, x bigint, y bigint, corr7 double"
)
_RC_STATE_SCHEMA = (
    "days array<string>, xs array<long>, ys array<long>, rn bigint"
)


def _rolling_corr_fold(window: int):
    """Per-brand rolling-window Pearson fold shared by the streaming
    state operator and the batch replay twin.

    Window moments are computed in PYTHON INTS (arbitrary precision —
    the same exactness class as the batch query's DECIMAL(38,0) sums),
    and the final r runs the identical IEEE sequence as round8b's
    _CORR7 expression: num and the two centered sum-of-squares convert
    int->double independently (correctly rounded, same as Spark's
    string-routed CAST), multiply, sqrt (correctly rounded in
    java.lang.Math, glibc and CPython alike), divide — so stream,
    batch-replay and the window query emit bit-identical doubles.
    int64 state bounds: x (daily unit sum) and y (daily cent sum) fit
    bigint far past sf100; the window MOMENTS would not, which is why
    they are folded in Python ints and never stored."""
    import math

    def _step(buf: list[tuple[str, int, int]], rn: int, day: str, x: int, y: int):
        buf.append((day, x, y))
        if len(buf) > window:
            buf.pop(0)
        rn += 1
        if rn < window:
            return buf, rn, None
        n = len(buf)
        sx = sum(r[1] for r in buf)
        sy = sum(r[2] for r in buf)
        sxx = sum(r[1] * r[1] for r in buf)
        syy = sum(r[2] * r[2] for r in buf)
        sxy = sum(r[1] * r[2] for r in buf)
        da = n * sxx - sx * sx
        db = n * syy - sy * sy
        if da > 0 and db > 0:
            corr = float(n * sxy - sx * sy) / math.sqrt(float(da) * float(db))
        else:
            corr = None
        return buf, rn, corr

    def _fold(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            days, xs, ys, rn = state.get
            buf = [(d, int(x), int(y)) for d, x, y in zip(days, xs, ys)]
        else:
            buf, rn = [], 0
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True)
            # chunk order within a batch is arbitrary; event-time order
            # across batches is the ingestion contract (as for SPRT/EWMA)
            pdf = pdf.sort_values("day").reset_index(drop=True)
            out: dict[str, list] = {"day": [], "x": [], "y": [], "corr7": []}
            for day, x, y in zip(pdf["day"], pdf["x"], pdf["y"]):
                buf, rn, corr = _step(buf, rn, str(day), int(x), int(y))
                if rn >= window:
                    out["day"].append(str(day))
                    out["x"].append(int(x))
                    out["y"].append(int(y))
                    out["corr7"].append(corr)
            if out["day"]:
                yield pd.DataFrame(
                    {
                        "brand": key[0],
                        "day": out["day"],
                        "x": pd.array(out["x"], dtype="int64"),
                        "y": pd.array(out["y"], dtype="int64"),
                        "corr7": pd.array(out["corr7"], dtype="float64"),
                    }
                )
        state.update(
            (
                [r[0] for r in buf[-(window - 1):]],
                [r[1] for r in buf[-(window - 1):]],
                [r[2] for r in buf[-(window - 1):]],
                rn,
            )
        )

    return _fold


def rolling_corr_stateful(daily: DataFrame, window: int = 7) -> DataFrame:
    """Streaming rolling 7-observation Pearson correlation per brand —
    the state-incremental twin of the oracle-checked ``w_rolling_corr``
    (suite/round8b.py): windowed moments fold one daily observation at
    a time, so the state store carries only the last ``window - 1``
    (day, x, y) rows + a row counter per brand, not the series.

    Input: a (possibly streaming) frame of DAILY grains
    (brand string, day string 'yyyy-MM-dd', x bigint, y bigint) — at
    100 TB the daily aggregate runs upstream (watermarked windowed agg
    or a foreachBatch rollup) and THIS operator sees one row per
    (brand, day), i.e. calendar-bounded state and traffic.
    """
    return daily.groupBy("brand").applyInPandasWithState(
        _rolling_corr_fold(window),
        outputStructType=_RC_OUT_SCHEMA,
        stateStructType=_RC_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def rolling_corr_batch(daily: DataFrame, window: int = 7) -> DataFrame:
    """Batch replay of :func:`rolling_corr_stateful`: the SAME fold
    (shared ``_rolling_corr_fold`` step) over a bounded daily frame via
    repartition(brand) + sortWithinPartitions + applyInPandas, so the
    DuckDB window-form oracle can value-check the per-observation fold
    the state-store variant runs incrementally. Brand cardinality is
    small and each group is calendar-bounded, so the per-group
    applyInPandas overhead that pushed rate_limit_batch to the
    mapInPandas form does not apply here."""
    fold = _rolling_corr_fold(window)

    def replay(key, pdf):  # no type hints: applyInPandas infers
        # eval type from the schema; hints trigger a UserWarning probe
        class _Static:
            exists = False

            def update(self, _):
                pass

        frames = list(fold(key, iter([pdf]), _Static()))
        if not frames:
            return pd.DataFrame(
                {
                    "brand": pd.array([], dtype="str"),
                    "day": pd.array([], dtype="str"),
                    "x": pd.array([], dtype="int64"),
                    "y": pd.array([], dtype="int64"),
                    "corr7": pd.array([], dtype="float64"),
                }
            )
        return pd.concat(frames, ignore_index=True)

    return daily.groupBy("brand").applyInPandas(replay, _RC_OUT_SCHEMA)


# --- Rolling Bollinger bands --------------------------------------------------

_BB_OUT_SCHEMA = (
    "pri string, day string, cents bigint, mid double, "
    "lower_band double, upper_band double, breakout_up boolean"
)
_BB_STATE_SCHEMA = "vals array<long>"


def _bollinger_fold(window: int):
    """Per-series trailing mean ± 2σ fold shared by the streaming
    operator and the batch replay twin — the state-incremental form of
    w_bollinger_bands (suite/round5o.py). Moments are Python ints
    (≡ the batch DECIMAL(38,0) sums exactly); the IEEE tail mirrors
    the batch expression: int→double conversions are correctly
    rounded (same as the string-routed CAST), sqrt is correctly
    rounded, and ((2.0 · sqrt)/k) preserves the operation order, so
    stream, replay and window query emit bit-identical bands. Unlike
    the gated rolling-corr, Bollinger emits EVERY row (partial leading
    windows use k = rows so far, matching the batch frame)."""
    import math

    def _fold(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        buf = [int(v) for v in state.get[0]] if state.exists else []
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True)
            pdf = pdf.sort_values("day").reset_index(drop=True)
            out: dict[str, list] = {
                "day": [], "cents": [], "mid": [],
                "lower_band": [], "upper_band": [], "breakout_up": [],
            }
            for day, cents in zip(pdf["day"], pdf["cents"]):
                x = int(cents)
                frame = buf[-(window - 1):] + [x]
                k = len(frame)
                s1 = sum(frame)
                s2 = sum(v * v for v in frame)
                mid = float(s1) / k
                sd = 2.0 * math.sqrt(float(k * s2 - s1 * s1)) / k
                out["day"].append(str(day))
                out["cents"].append(x)
                out["mid"].append(mid)
                out["lower_band"].append(mid - sd)
                out["upper_band"].append(mid + sd)
                out["breakout_up"].append(float(x) > mid + sd)
                buf = frame
            yield pd.DataFrame(
                {
                    "pri": key[0],
                    "day": out["day"],
                    "cents": pd.array(out["cents"], dtype="int64"),
                    "mid": pd.array(out["mid"], dtype="float64"),
                    "lower_band": pd.array(out["lower_band"], dtype="float64"),
                    "upper_band": pd.array(out["upper_band"], dtype="float64"),
                    "breakout_up": pd.array(out["breakout_up"], dtype="boolean"),
                }
            )
        state.update(([int(v) for v in buf[-(window - 1):]],))

    return _fold


def bollinger_stateful(daily: DataFrame, window: int = 20) -> DataFrame:
    """Streaming Bollinger bands per series key — the state-incremental
    twin of the oracle-checked ``w_bollinger_bands``: the state store
    carries only the last ``window - 1`` integer observations per key.
    Input: a (possibly streaming) daily frame (pri string, day string
    'yyyy-MM-dd', cents bigint); at 100 TB the daily rollup runs
    upstream, so state and traffic are calendar-bounded per key."""
    return daily.groupBy("pri").applyInPandasWithState(
        _bollinger_fold(window),
        outputStructType=_BB_OUT_SCHEMA,
        stateStructType=_BB_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def bollinger_batch(daily: DataFrame, window: int = 20) -> DataFrame:
    """Batch replay of :func:`bollinger_stateful` (same shared fold)
    via groupBy(pri).applyInPandas, so the DuckDB window-form oracle
    value-checks the per-observation fold the state store runs
    incrementally. Series keys are few and calendar-bounded."""
    fold = _bollinger_fold(window)

    def replay(key, pdf):  # no type hints: applyInPandas infers
        # eval type from the schema; hints trigger a UserWarning probe
        class _Static:
            exists = False

            def update(self, _):
                pass

        frames = list(fold(key, iter([pdf]), _Static()))
        if not frames:
            return pd.DataFrame(
                {
                    "pri": pd.array([], dtype="str"),
                    "day": pd.array([], dtype="str"),
                    "cents": pd.array([], dtype="int64"),
                    "mid": pd.array([], dtype="float64"),
                    "lower_band": pd.array([], dtype="float64"),
                    "upper_band": pd.array([], dtype="float64"),
                    "breakout_up": pd.array([], dtype="boolean"),
                }
            )
        return pd.concat(frames, ignore_index=True)

    return daily.groupBy("pri").applyInPandas(replay, _BB_OUT_SCHEMA)


# --- Ordered per-key folds ----------------------------------------------------
# Each recurrence is one step kernel in operators/folds.py; fold_stream
# keeps its carry in the state store, fold_batch replays it over a
# bounded frame. tests/test_streaming.py proves every stream here equal
# to its batch twin on a time-split stream.


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
    return folded.where(F.col("from_type").isNotNull()).select(
        "from_type", F.col("event_type").alias("to_type")
    )


_MK_COLS = ("user_id", "ts", "event_id", "event_type")


def markov_pairs_stateful(events: DataFrame) -> DataFrame:
    """Streaming first-order transition pairs per user — the
    state-incremental twin of ``stream_markov_transitions``'s lead()
    stage. State is the last event_type per user. Transition COUNTS
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


# --- A-ES weighted reservoir (without replacement) ----------------------------

_RV_OUT_SCHEMA = (
    "shard int, doc_id bigint, weight bigint, es_key double, "
    "smp_rank int, n_seen bigint"
)
_RV_STATE_SCHEMA = (
    "ids array<long>, ws array<long>, keys array<double>, seen long"
)


def _make_reservoir(k: int):
    """Per-shard Efraimidis–Spirakis reservoir fold: state holds the
    current top-``k`` docs by A-ES key (es_key DESC, doc_id ASC — the
    exact ordering of suite.round13d.llm_sample_reservoir's window
    form); each micro-batch merges its candidates into the reservoir
    and re-truncates. Merge-and-truncate IS the A-ES without-
    replacement semantics — the reason the estimator works as a
    streaming/distributed fold at all. Emits the full reservoir each
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
            seen += len(pdf)
            res.extend(
                zip(
                    pdf["es_key"].astype("float64"),
                    pdf["doc_id"].astype("int64"),
                    pdf["weight"].astype("int64"),
                )
            )
            # Python float sort == SQL double sort (es_key is never NaN)
            res.sort(key=lambda t: (-t[0], t[1]))
            del res[k:]
        state.update(
            (
                [int(i) for _, i, _ in res],
                [int(w) for _, _, w in res],
                [float(e) for e, _, _ in res],
                seen,
            )
        )
        yield pd.DataFrame(
            {
                "shard": pd.array([key[0]] * len(res), dtype="int32"),
                "doc_id": pd.array([i for _, i, _ in res], dtype="int64"),
                "weight": pd.array([w for _, _, w in res], dtype="int64"),
                "es_key": pd.array([e for e, _, _ in res], dtype="float64"),
                "smp_rank": pd.array(range(1, len(res) + 1), dtype="int32"),
                "n_seen": pd.array([seen] * len(res), dtype="int64"),
            }
        )

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
    """Batch replay of :func:`reservoir_stateful`: the SAME fold over
    each complete shard via applyInPandas, so a per-shard-window DuckDB
    oracle can value-check the merge-and-truncate ordering the
    state-store variant runs incrementally."""
    fold = _make_reservoir(k)

    def replay(key, pdf):  # no type hints: applyInPandas infers
        class _Static:
            exists = False

            def update(self, _):
                pass

        frames = list(fold(key, iter([pdf]), _Static()))
        return pd.concat(frames, ignore_index=True)

    return scored.groupBy("shard").applyInPandas(replay, _RV_OUT_SCHEMA)
