"""Round-5 continuation, batch 3: time-series surface completions —
linear interpolation of missing values, sequence-pattern matching
(MATCH_RECOGNIZE-lite), Holt double exponential smoothing, and the
nearest-in-time (bidirectional as-of) join.

These close out the time-series family around the existing members
(forward fill, gap-fill resample, EWMA, CUSUM, TWAP, backward as-of,
as-of with tolerance): interpolation is the imputation step real
feature pipelines run after resampling; Holt adds a trend state to the
EWMA recursion; the nearest join is the two-sided as-of variant; and
sequence-pattern matching covers the funnel-with-exclusion queries
MATCH_RECOGNIZE answers in other engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from banksy_spark.suite.registry import T, query
from banksy_spark.suite.round5 import _DAILY_DUCK, cusum_parts

# --- linear interpolation of sparse values ---------------------------------


@query(
    "w_linear_interpolate",
    oracle="""
    SELECT event_id, user_id,
           epoch_us(ts) AS ts_us,
           CASE WHEN prev_ts IS NULL THEN next_val
                WHEN next_ts IS NULL THEN prev_val
                WHEN next_ts = prev_ts THEN prev_val
                ELSE prev_val + (next_val - prev_val)
                     * (CAST(epoch_us(ts) - prev_ts AS DOUBLE)
                        / CAST(next_ts - prev_ts AS DOUBLE))
           END AS value_interp
    FROM (
      SELECT event_id, user_id, ts,
             last_value(pval IGNORE NULLS) OVER w_prev AS prev_val,
             last_value(pts IGNORE NULLS) OVER w_prev AS prev_ts,
             first_value(pval IGNORE NULLS) OVER w_next AS next_val,
             first_value(pts IGNORE NULLS) OVER w_next AS next_ts
      FROM (
        SELECT event_id, user_id, ts,
               CASE WHEN event_type = 'purchase' THEN value END AS pval,
               CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END AS pts
        FROM events
      )
      WINDOW
        w_prev AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        w_next AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    """,
    note="Linear time interpolation (pandas interpolate(method='time'), "
    "distributed): purchase events are the known points; every other "
    "event's value is interpolated between its temporal neighbours as "
    "prev + (next-prev)·(t-t_prev)/(t_next-t_prev) on exact-µs integer "
    "timestamps, falling back to the single known neighbour at series "
    "edges. Both directions come from ONE user-keyed exchange (the ffill "
    "and bfill windows share partitioning and sort; Spark plans one "
    "Exchange + one Sort feeding both frames). Known rows reproduce "
    "their own value exactly (t-t_prev = 0 ⇒ +0.0). All arithmetic is "
    "deterministic IEEE on integer-µs inputs — bit-identical across "
    "engines.",
)
def w_linear_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("event_type") == "purchase", F.col("value")).alias("pval"),
        F.when(
            F.col("event_type") == "purchase", F.unix_micros("ts")
        ).alias("pts"),
    )
    order = [F.col("ts"), F.col("event_id")]
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    x = e.select(
        "event_id",
        "user_id",
        "ts",
        F.last("pval", ignorenulls=True).over(w_prev).alias("prev_val"),
        F.last("pts", ignorenulls=True).over(w_prev).alias("prev_ts"),
        F.first("pval", ignorenulls=True).over(w_next).alias("next_val"),
        F.first("pts", ignorenulls=True).over(w_next).alias("next_ts"),
    )
    ts_us = F.unix_micros("ts")
    linear = F.col("prev_val") + (F.col("next_val") - F.col("prev_val")) * (
        (ts_us - F.col("prev_ts")).cast("double")
        / (F.col("next_ts") - F.col("prev_ts")).cast("double")
    )
    return x.select(
        "event_id",
        "user_id",
        ts_us.alias("ts_us"),
        F.when(F.col("prev_ts").isNull(), F.col("next_val"))
        .when(F.col("next_ts").isNull(), F.col("prev_val"))
        .when(F.col("next_ts") == F.col("prev_ts"), F.col("prev_val"))
        .otherwise(linear)
        .alias("value_interp"),
    )


# --- sequence-pattern matching (MATCH_RECOGNIZE-lite) ----------------------

# a view followed by a purchase with only non-error, non-purchase
# activity between them (the "clean funnel" MATCH_RECOGNIZE pattern
# VIEW (CLICK|SIGNUP|VIEW)* PURCHASE)
_FUNNEL_RE = "view(,(click|signup|view))*,purchase"


@query(
    "w_sequence_pattern",
    oracle=f"""
    SELECT user_id,
           regexp_matches(seq, '{_FUNNEL_RE}') AS clean_funnel,
           n_events
    FROM (
      SELECT user_id,
             string_agg(event_type, ',' ORDER BY ts, event_id) AS seq,
             COUNT(*) AS n_events
      FROM events GROUP BY user_id
    )
    """,
    note="Sequence-pattern matching over per-user event strings — the "
    "MATCH_RECOGNIZE-lite form: PATTERN (view (click|signup|view)* "
    "purchase) detects a view→purchase funnel uninterrupted by errors. "
    "Each user's ordered event types collapse to one delimited string "
    "(deterministic: array_sort on (ts, event_id, type) structs == the "
    "oracle's ordered string_agg) and the pattern is a single regex "
    "match. The pattern is RE2-safe (alternation only, no lookaround) so "
    "DuckDB's RE2 and Spark's Java regex agree; existence (rlike) is "
    "used, not extraction, so greediness semantics can't diverge. "
    "Scale: one exchange on user_id; per-user strings are bounded by "
    "session length — for unbounded histories the same pattern runs per "
    "session window instead.",
)
def w_sequence_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", "event_type"))
                ),
                lambda x: x["event_type"],
            ),
            ",",
        ).alias("seq"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return per_user.select(
        "user_id",
        F.col("seq").rlike(_FUNNEL_RE).alias("clean_funnel"),
        "n_events",
    )


# --- Holt double exponential smoothing (level + trend) ---------------------

# alpha = beta = 0.5: exactly representable in binary, so the fold is a
# sequence of exact IEEE halvings — bit-identical across engines.
# The oracle iterates with a RECURSIVE CTE, not list_reduce: DuckDB's
# list_reduce evaluates struct fields sequentially against a
# partially-updated accumulator ({'u': acc.u+1, 'v': acc.u} yields
# v = u_new), which silently corrupts coupled recurrences; a recursive
# CTE's columns all read the previous iteration's row.


@query(
    "w_holt_linear",
    oracle=f"""
    WITH RECURSIVE daily AS ({_DAILY_DUCK}),
    idx AS (
      SELECT pri, day, cents, CAST(cents AS DOUBLE) AS x,
             ROW_NUMBER() OVER (PARTITION BY pri ORDER BY day) AS t
      FROM daily
    ),
    holt AS (
      SELECT pri, day, cents, t, x AS level, CAST(0 AS DOUBLE) AS trend
      FROM idx WHERE t = 1
      UNION ALL
      SELECT d.pri, d.day, d.cents, d.t,
             0.5e0 * d.x + 0.5e0 * (h.level + h.trend),
             0.5e0 * (0.5e0 * d.x + 0.5e0 * (h.level + h.trend) - h.level)
               + 0.5e0 * h.trend
      FROM holt h JOIN idx d ON d.pri = h.pri AND d.t = h.t + 1
    )
    SELECT pri, day, cents, level, trend,
           level + trend AS forecast_next
    FROM holt
    """,
    note="Holt double exponential smoothing (level + trend) over the "
    "per-priority daily revenue series — the trend-aware upgrade of "
    "w_ewma, initialised l₁=x₁, b₁=0, α=β=0.5 (exactly representable, "
    "so both engines' folds are identical IEEE halving sequences). "
    "Spark runs streaming/stateful.py:holt, the HOLT step kernel of "
    "operators/folds.py through fold: ONE linear-time pass per sorted "
    "partition carrying O(1) "
    "state (t, l, b) across Arrow batches; the oracle "
    "folds each row's expanding prefix, and every prefix of a left fold "
    "IS the shorter fold. forecast_next = l + b is the one-step-ahead "
    "prediction a pipeline alerts on. Scale: one exchange on the series "
    "key, memory one Arrow batch; an unbounded series runs the same "
    "holt function as a stream, its state in the state store.",
)
def w_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    from banksy_spark.streaming.stateful import holt

    daily, _ = cusum_parts(spark, sf_dir)
    return holt(daily)


# --- nearest-in-time (bidirectional as-of) join ----------------------------


@query(
    "j_asof_nearest",
    oracle="""
    WITH err AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'
    ),
    pur AS (
      SELECT event_id, user_id, ts, value FROM events
      WHERE event_type = 'purchase'
    ),
    prev AS (
      SELECT e.event_id, p.event_id AS p_id, p.value AS p_value,
             epoch_us(p.ts) AS p_ts,
             ROW_NUMBER() OVER (PARTITION BY e.event_id
                                ORDER BY p.ts DESC, p.event_id DESC) AS rn
      FROM err e JOIN pur p ON p.user_id = e.user_id AND p.ts <= e.ts
    ),
    nxt AS (
      SELECT e.event_id, p.event_id AS p_id, p.value AS p_value,
             epoch_us(p.ts) AS p_ts,
             ROW_NUMBER() OVER (PARTITION BY e.event_id
                                ORDER BY p.ts ASC, p.event_id ASC) AS rn
      FROM err e JOIN pur p ON p.user_id = e.user_id AND p.ts > e.ts
    )
    SELECT e.event_id, e.user_id,
           CASE WHEN pv.p_id IS NULL THEN nx.p_id
                WHEN nx.p_id IS NULL THEN pv.p_id
                WHEN nx.p_ts - epoch_us(e.ts) < epoch_us(e.ts) - pv.p_ts
                THEN nx.p_id ELSE pv.p_id END AS nearest_purchase_id,
           CASE WHEN pv.p_id IS NULL THEN nx.p_ts - epoch_us(e.ts)
                WHEN nx.p_id IS NULL THEN epoch_us(e.ts) - pv.p_ts
                WHEN nx.p_ts - epoch_us(e.ts) < epoch_us(e.ts) - pv.p_ts
                THEN nx.p_ts - epoch_us(e.ts)
                ELSE epoch_us(e.ts) - pv.p_ts END AS gap_us,
           CASE WHEN pv.p_id IS NULL THEN nx.p_value
                WHEN nx.p_id IS NULL THEN pv.p_value
                WHEN nx.p_ts - epoch_us(e.ts) < epoch_us(e.ts) - pv.p_ts
                THEN nx.p_value ELSE pv.p_value END AS purchase_value
    FROM err e
    LEFT JOIN prev pv ON pv.event_id = e.event_id AND pv.rn = 1
    LEFT JOIN nxt nx ON nx.event_id = e.event_id AND nx.rn = 1
    """,
    note="Nearest-in-time join (bidirectional as-of, merge_asof "
    "direction='nearest'): each error event matches its temporally "
    "closest purchase in EITHER direction, ties going backward "
    "(strict < for the forward side), tie-within-side by event_id. The "
    "oracle materialises per-error candidate sets quadratically; Spark "
    "computes both sides from ONE union + user-keyed sort — a "
    "forward-fill window carries the last purchase at-or-before each "
    "error and a backward-fill window the first after — so cost is "
    "O(n log n) per user partition, never |errors|×|purchases|. "
    "Purchases sort before errors at equal timestamps (inclusive "
    "backward match), exact-µs integer gap arithmetic.",
)
def j_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "events")
    err = e.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts", F.lit(1).alias("is_err")
    )
    pur = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.lit(0).alias("is_err"), "value"
    )
    u = err.withColumn("value", F.lit(None).cast("double")).unionByName(pur)
    # purchases (is_err=0) sort before errors at the same (ts, ...) so
    # the inclusive backward window sees a same-µs purchase; within a
    # side, event_id breaks ties exactly like the oracle's rn=1 pick
    order = [F.col("ts"), F.col("is_err"), F.col("event_id")]
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    pcol = F.when(
        F.col("is_err") == 0,
        F.struct(
            F.unix_micros("ts").alias("p_ts"),
            F.col("event_id").alias("p_id"),
            F.col("value").alias("p_value"),
        ),
    )
    x = (
        u.withColumn("prev", F.last(pcol, ignorenulls=True).over(w_prev))
        .withColumn("nxt", F.first(pcol, ignorenulls=True).over(w_next))
        .filter(F.col("is_err") == 1)
    )
    # forward candidates must be strictly after; a same-µs purchase is
    # the backward match (it sorted before the error). The backward
    # window can only surface larger-event_id same-µs purchases as
    # `nxt`, which the oracle excludes — null them out.
    e_ts = F.unix_micros("ts")
    nxt_ok = F.when(F.col("nxt.p_ts") > e_ts, F.col("nxt"))
    x = x.withColumn("nxt", nxt_ok)
    take_next = F.col("prev").isNull() | (
        F.col("nxt").isNotNull()
        & ((F.col("nxt.p_ts") - e_ts) < (e_ts - F.col("prev.p_ts")))
    )
    pick = F.when(take_next, F.col("nxt")).otherwise(F.col("prev"))
    return x.select(
        "event_id",
        "user_id",
        pick["p_id"].alias("nearest_purchase_id"),
        F.when(take_next, F.col("nxt.p_ts") - e_ts)
        .otherwise(e_ts - F.col("prev.p_ts"))
        .alias("gap_us"),
        pick["p_value"].alias("purchase_value"),
    )
