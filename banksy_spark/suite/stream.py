"""Streaming-shaped semantics, batch-checkable (SURVEY.md §2.9).

The reference has no streaming runtime, but three behaviors are
stateful-over-time: the daily notification rate limit
(arbitrage_scanner.py:434-461), finished-game suppression (:214-252) and
keep-earliest dedup (bovada_pull.py:156-162). Each is expressed here as
a pure batch DataFrame query over `events` so the DuckDB oracle can
verify it; `banksy_spark.streaming` runs the same logic incrementally
under Structured Streaming (foreachBatch / watermark variants).

Scale: every query shuffles once on its natural key (user_id or
(user_id, day)); windows partition by the same key, so 1000 executors
each own a disjoint key range. Event-time skew is handled by AQE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from banksy_spark.suite.registry import T, query


@query(
    "stream_tumbling_daily",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
    FROM events GROUP BY 1, 2
    """,
    note="§2.9 tumbling 1-day window aggregate (the notification-day bucket, "
    "arbitrage_scanner.py:447). Spark uses window(ts, '1 day'); DECIMAL sum for "
    "order-independence.",
)
def stream_tumbling_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("value_sum"),
        )
        .select(F.col("w.start").cast("date").alias("day"), "event_type", "n_events", "value_sum")
    )


@query(
    "stream_rate_limit",
    oracle="""
    SELECT event_id, user_id, CAST(ts AS DATE) AS day, CAST(rn AS BIGINT) AS nth_today
    FROM (
      SELECT event_id, user_id, ts,
             row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                ORDER BY ts, event_id) AS rn
      FROM events
    ) WHERE rn <= 3
    """,
    note="§2.9 stateful rate limit: first 3 events per (user, calendar day) pass, the rest "
    "are suppressed (<3 notifications/team/day, arbitrage_scanner.py:434-461)",
)
def stream_rate_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "events")
    day = F.to_date("ts")
    w = Window.partitionBy("user_id", day).orderBy("ts", "event_id")
    return (
        e.withColumn("nth_today", F.row_number().over(w).cast("bigint"))
        .filter(F.col("nth_today") <= 3)
        .select("event_id", "user_id", day.alias("day"), "nth_today")
    )


@query(
    "stream_rate_limit_stateful",
    oracle="""
    SELECT event_id, user_id, CAST(ts AS DATE) AS day, CAST(rn AS BIGINT) AS nth_today
    FROM (
      SELECT event_id, user_id, ts,
             row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                ORDER BY ts, event_id) AS rn
      FROM events
    ) WHERE rn <= 3
    """,
    note="§2.9 stateful rate limit, custom-operator form: the quota replay "
    "(banksy_spark.streaming.stateful.rate_limit — the RATE_LIMIT step kernel "
    "through operators/folds.py:fold; the same function runs a stream with the state "
    "store) verified against the same window-form oracle as stream_rate_limit. "
    "Proves the Arrow-batched per-key quota logic, not just the window rewrite "
    "(arbitrage_scanner.py:434-461).",
)
def stream_rate_limit_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    from banksy_spark.streaming.stateful import rate_limit

    return rate_limit(T(spark, sf_dir, "events"), max_per_day=3)


@query(
    "stream_suppress_terminal",
    oracle="""
    SELECT event_id, user_id, event_type FROM events
    WHERE user_id NOT IN (
      SELECT user_id FROM events
      WHERE event_type = 'error' AND ts < TIMESTAMP '2024-01-05 00:00:00'
    )
    """,
    note="§2.9 finished-game suppression: once a terminal status is observed for a key, "
    "drop all its rows — anti-join (arbitrage_scanner.py:214-252). Terminal = an early "
    "error, so both kept and dropped keys exist in the testdata.",
)
def stream_suppress_terminal(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "events")
    terminal = (
        e.filter(
            (F.col("event_type") == "error") & (F.col("ts") < F.lit("2024-01-05 00:00:00"))
        )
        .select("user_id")
        .distinct()
    )
    return e.join(terminal, "user_id", "left_anti").select("event_id", "user_id", "event_type")


@query(
    "stream_dedup_earliest",
    oracle="""
    SELECT user_id, event_type, event_id, value
    FROM events
    QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) = 1
    """,
    note="§2.9 keep-earliest dedup per key within the stream "
    "(second-matchup drop, bovada_pull.py:156-162)",
)
def stream_dedup_earliest(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        e.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", "event_type", "event_id", "value")
    )


@query(
    "stream_json_props",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
           COUNT(*) AS n
    FROM events GROUP BY event_type
    """,
    note="Extension: semi-structured JSON props column (events.props) — "
    "get_json_object + cast + aggregate (SURVEY §2.7 'extension territory')",
)
def stream_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return e.groupBy("event_type").agg(
        F.sum(k).cast("bigint").alias("k_sum"), F.count("*").alias("n")
    )


@query(
    "stream_sessionize",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN CAST(FLOOR(epoch(ts)) AS BIGINT)
                       - CAST(FLOOR(epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)))
                              AS BIGINT) > 1800
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sess AS (
      SELECT user_id, event_id,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id,
             ts
      FROM flagged
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id, COUNT(*) AS n_events,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start
    FROM sess GROUP BY 1, 2
    """,
    note="Extension: gap-based sessionization (30-min gap) — lag + running sum, the "
    "session-window analog of Structured Streaming's session windows",
)
def stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    new_session = F.when(F.lag("ts").over(w).isNull() | (gap > 1800), 1).otherwise(0)
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sess = e.withColumn("session_id", F.sum(new_session).over(run).cast("bigint"))
    return sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
    )


@query(
    "stream_asof_join",
    oracle="""
    SELECT e.event_id, e.user_id,
           strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS error_at,
           s.event_id AS last_signup_id,
           strftime(s.ts, '%Y-%m-%d %H:%M:%S') AS signup_at
    FROM (SELECT * FROM events WHERE event_type = 'error') e
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
      ON e.user_id = s.user_id AND e.ts >= s.ts
    """,
    note="As-of join (brief's custom-operator example): each error event matched to "
    "the most recent prior signup of the same user. Spark lacks ASOF JOIN, so it is "
    "composed: union both sides tagged, forward-fill the last signup over a "
    "(user, ts) window, keep the error rows — one shuffle on user_id, no range "
    "explosion. Oracle uses DuckDB's native ASOF JOIN, so the composition is checked "
    "against a real asof implementation.",
)
def stream_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "events")
    errors = e.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts", F.lit(None).cast("bigint").alias("signup_id"),
        F.lit(None).cast("timestamp").alias("signup_ts"), F.lit(1).alias("is_err"),
    )
    signups = e.filter(F.col("event_type") == "signup").select(
        "event_id", "user_id", "ts", F.col("event_id").alias("signup_id"),
        F.col("ts").alias("signup_ts"), F.lit(0).alias("is_err"),
    )
    both = errors.unionByName(signups)
    # order: by event time; at equal ts the signup sorts first so an
    # error at the same instant still sees it (ASOF's ts >= ts)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_err", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = both.withColumn(
        "last_signup_id", F.last("signup_id", ignorenulls=True).over(w)
    ).withColumn("last_signup_ts", F.last("signup_ts", ignorenulls=True).over(w))
    return filled.filter(F.col("is_err") == 1).select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("error_at"),
        "last_signup_id",
        F.date_format("last_signup_ts", "yyyy-MM-dd HH:mm:ss").alias("signup_at"),
    )


@query(
    "j_range_broadcast",
    oracle="""
    SELECT e.event_id, e.value, b.tier
    FROM events e
    LEFT JOIN (VALUES ('low', 0.0, 0.33), ('mid', 0.33, 0.66), ('high', 0.66, 1e9))
      AS b(tier, lo, hi)
      ON e.value >= b.lo AND e.value < b.hi
    """,
    note="Range join (brief's custom-operator example): events banded into value "
    "tiers by a non-equi range predicate. The tier table is tiny and broadcasts, so "
    "the non-equi condition costs a 3-row nested-loop per row — the right plan for "
    "band lookups at any scale (never a shuffle, never a cartesian blow-up).",
)
def j_range_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "events")
    bands = spark.createDataFrame(
        [("low", 0.0, 0.33), ("mid", 0.33, 0.66), ("high", 0.66, 1e9)],
        "tier string, lo double, hi double",
    )
    joined = e.join(
        F.broadcast(bands),
        (F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi")),
        "left",
    )
    return joined.select("event_id", "value", "tier")


@query(
    "stream_rollup_multigrain",
    oracle="""
    SELECT grain, bucket, event_type, n_events
    FROM (
      SELECT 'day' AS grain, strftime(date_trunc('day', ts), '%Y-%m-%d') AS bucket,
             event_type, COUNT(*) AS n_events
      FROM events GROUP BY 2, 3
      UNION ALL
      SELECT 'month', strftime(date_trunc('month', ts), '%Y-%m-%d'),
             event_type, COUNT(*)
      FROM events GROUP BY 2, 3
    )
    """,
    note="Hypertable-style continuous-aggregate rollup (brief's custom-operator "
    "example): the same events aggregated at day and month grain in ONE pass via "
    "GROUPING SETS — Catalyst expands the sets without rescanning, where the naive "
    "form is two scans + union. Oracle uses the two-scan form, proving equivalence.",
)
def stream_rollup_multigrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "events").select(
        "event_type",
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day_b"),
        F.date_format(F.date_trunc("month", F.col("ts")), "yyyy-MM-dd").alias("month_b"),
    )
    # DataFrame interpolation instead of a fixed-name session temp view
    # (collision + leak hazard under concurrent execution — ADVICE r12).
    return e.sparkSession.sql(
        """
        SELECT CASE WHEN day_b IS NOT NULL THEN 'day' ELSE 'month' END AS grain,
               COALESCE(day_b, month_b) AS bucket, event_type,
               COUNT(*) AS n_events
        FROM {e}
        GROUP BY GROUPING SETS ((day_b, event_type), (month_b, event_type))
        """,
        e=e,
    )


@query(
    "stream_interval_join",
    oracle="""
    SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id,
           CAST(FLOOR(epoch(p.ts)) AS BIGINT) - CAST(FLOOR(epoch(c.ts)) AS BIGINT)
             AS lag_sec
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts < p.ts
    """,
    note="Interval (stream-stream) join: each purchase matched to the same user's "
    "clicks in the preceding 30 minutes — the attribution-window shape of Spark's "
    "watermarked stream-stream joins, batch-checkable here. Scale: equi-key user_id "
    "carries the shuffle; the time bound prunes the per-key cross product, and on a "
    "stream the same bound is exactly what lets watermarks expire join state.",
)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from banksy_spark.streaming.core import attribution_join

    e = T(spark, sf_dir, "events")
    joined = attribution_join(
        e.filter(F.col("event_type") == "purchase"),
        e.filter(F.col("event_type") == "click"),
        window_minutes=30,
    )
    lag_sec = F.unix_timestamp("p_ts") - F.unix_timestamp("c_ts")
    return joined.select("purchase_id", "click_id", "user_id", lag_sec.alias("lag_sec"))
