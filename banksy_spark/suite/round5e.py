"""Round-5 continuation, batch 4: rolling exact median, per-domain
quota sampling, partition-skew diagnostics, and capped sessionization.

- w_rolling_median_7: exact rolling median over a trailing row frame —
  the robust-smoothing twin of the mean-based rolling family.
- llm_domain_cap: deterministic per-source document cap — the quota
  step real corpus pipelines run so one domain can't dominate a crawl.
- dq_skew_report: the partition-skew profile (key-count distribution +
  heavy hitters) an engineer reads BEFORE choosing join/partition keys;
  the diagnostic twin of the salted-join operators.
- w_capped_sessions: sessionization with BOTH a 30-min inactivity gap
  and a 4-hour max-session-length cap. The cap makes the recurrence a
  true fold (the running session-start anchor feeds its own update), so
  Spark runs a step kernel through ``fold`` (operators/folds.py, as
  w_cusum_changepoint) and the oracle is a recursive CTE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from banksy_spark.streaming.stateful import _CAP_US, _GAP_US, capped_sessions
from banksy_spark.suite.registry import T, query

# --- exact rolling median --------------------------------------------------


@query(
    "w_rolling_median_7",
    oracle="""
    SELECT event_id, user_id, value,
           CASE WHEN len(win) % 2 = 1
                THEN win[(len(win) + 1) // 2]
                ELSE (win[len(win) // 2] + win[len(win) // 2 + 1]) / 2e0
           END AS rolling_median
    FROM (
      SELECT event_id, user_id, value,
             list_sort(list(value) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS win
      FROM events
    )
    """,
    note="Exact rolling median over the trailing 7 events per user — the "
    "robust (outlier-immune) smoother next to the rolling means/EWMA "
    "family. Both engines collect the trailing row frame, sort it, and "
    "take the exact middle (mean of middles for even partial frames at "
    "the series head) — identical doubles, identical (a+b)/2 halving. "
    "Scale: one user-keyed exchange; the frame is O(7) per row, so "
    "memory is flat regardless of series length — unlike percentile_disc "
    "over an unbounded frame this never rebuilds a full-history sketch.",
)
def w_rolling_median_7(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, Window.currentRow)
    )
    win = F.array_sort(F.collect_list("value").over(w))
    k = F.size(win)
    med = F.when(
        k % 2 == 1, F.element_at(win, ((k + 1) / 2).cast("int"))
    ).otherwise(
        (
            F.element_at(win, (k / 2).cast("int"))
            + F.element_at(win, (k / 2).cast("int") + 1)
        )
        / 2.0
    )
    return e.select("event_id", "user_id", "value", med.alias("rolling_median"))


# --- per-domain quota cap --------------------------------------------------

_DOMAIN_CAP = 60


@query(
    "llm_domain_cap",
    oracle=f"""
    SELECT doc_id, source, rk AS keep_rank
    FROM (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY md5(CAST(doc_id AS VARCHAR))) AS rk
      FROM documents
    )
    WHERE rk <= {_DOMAIN_CAP}
    """,
    note=f"Per-domain quota sampling: keep at most {_DOMAIN_CAP} documents "
    "per source, chosen by md5(doc_id) rank — deterministic, "
    "content-independent, and stable as the corpus grows (a doc already "
    "kept is only evicted by a hash-smaller newcomer, never reshuffled). "
    "This is the anti-domination step crawl pipelines run before "
    "training-mix math (llm_domain_mix). One exchange on source; for a "
    "colossal domain the rank prunes with a two-phase top-K "
    "(per-partition heads first) rather than a full sort — Spark's "
    "window TopK pushdown handles the rank<=K filter.",
)
def llm_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.md5(F.col("doc_id").cast("string")))
    return (
        d.withColumn("keep_rank", F.row_number().over(w))
        .filter(F.col("keep_rank") <= _DOMAIN_CAP)
        .select(
            "doc_id", "source",
            F.col("keep_rank").cast("bigint").alias("keep_rank"),
        )
    )


# --- partition-skew diagnostics --------------------------------------------


@query(
    "dq_skew_report",
    oracle="""
    WITH kc AS (
      SELECT l_orderkey AS key, COUNT(*) AS cnt
      FROM lineitem GROUP BY 1
    ),
    ranked AS (
      SELECT key, cnt,
             ROW_NUMBER() OVER (ORDER BY cnt, key) AS rn,
             COUNT(*) OVER () AS n
      FROM kc
    )
    SELECT
      MAX(n) AS n_keys,
      MAX(CASE WHEN rn = n THEN cnt END) AS max_cnt,
      MAX(CASE WHEN 2 * rn >= n AND 2 * (rn - 1) < n THEN cnt END) AS p50_cnt,
      MAX(CASE WHEN 100 * rn >= 99 * n AND 100 * (rn - 1) < 99 * n THEN cnt END)
        AS p99_cnt,
      MAX(CASE WHEN rn = n THEN key END) AS heaviest_key,
      CAST(MAX(CASE WHEN rn = n THEN cnt END) AS DOUBLE)
        / (CAST(SUM(cnt) AS DOUBLE) / MAX(n)) AS skew_ratio
    FROM ranked
    """,
    note="Partition-skew diagnostic for a prospective shuffle key: the "
    "key-count distribution (nearest-rank p50/p99 via the first-rank-at-"
    "or-above-threshold rule, ties on count broken by key so the "
    "heaviest key is deterministic), the heaviest key itself, and the "
    "max/mean skew ratio — the number that decides between a plain "
    "shuffle, AQE skew split, or the salted operators (operators/"
    "skew.py). Shape: one exchange to count keys, then the rank over "
    "|distinct keys| rows rides operators/ordinals.py — key counts "
    "repeat heavily (most orders have 1-7 lines), so the hot count "
    "values become singleton buckets sub-split by key: exactly the "
    "skew-proof shape a key-cardinality diagnostic itself needs. Total "
    "key count attaches as a literal; no single-partition window.",
)
def dq_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from banksy_spark.operators.ordinals import global_ordinals

    kc = (
        T(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_orderkey").alias("key"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)  # sampled + counted + ranked: agg once
    )
    ranked = global_ordinals(
        kc, ["cnt", "key"], row_number="rn", total_count="n"
    )
    n, rn, cnt = F.col("n"), F.col("rn"), F.col("cnt")
    return ranked.agg(
        F.max(n).alias("n_keys"),
        F.max(F.when(rn == n, cnt)).alias("max_cnt"),
        F.max(F.when((2 * rn >= n) & (2 * (rn - 1) < n), cnt)).alias("p50_cnt"),
        F.max(
            F.when((100 * rn >= 99 * n) & (100 * (rn - 1) < 99 * n), cnt)
        ).alias("p99_cnt"),
        F.max(F.when(rn == n, F.col("key"))).alias("heaviest_key"),
        (
            F.max(F.when(rn == n, cnt)).cast("double")
            / (F.sum(cnt).cast("double") / F.max(n))
        ).alias("skew_ratio"),
    )


# --- capped sessionization (gap + max-length rule) -------------------------


@query(
    "w_capped_sessions",
    oracle=f"""
    WITH RECURSIVE idx AS (
      SELECT event_id, user_id, epoch_us(ts) AS ts_us,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS t
      FROM events
    ),
    walk AS (
      SELECT event_id, user_id, ts_us, t,
             1 AS session_id, ts_us AS anchor_us
      FROM idx WHERE t = 1
      UNION ALL
      SELECT d.event_id, d.user_id, d.ts_us, d.t,
             CASE WHEN d.ts_us - w.ts_us > {_GAP_US}
                    OR d.ts_us - w.anchor_us > {_CAP_US}
                  THEN w.session_id + 1 ELSE w.session_id END,
             CASE WHEN d.ts_us - w.ts_us > {_GAP_US}
                    OR d.ts_us - w.anchor_us > {_CAP_US}
                  THEN d.ts_us ELSE w.anchor_us END
      FROM walk w JOIN idx d ON d.user_id = w.user_id AND d.t = w.t + 1
    )
    SELECT event_id, user_id, CAST(session_id AS BIGINT) AS session_id
    FROM walk
    """,
    note="Sessionization with BOTH a 30-min inactivity gap and a 4-hour "
    "max-session-length cap — the industrial session rule (pure gap "
    "sessions can stretch forever under steady activity). The cap makes "
    "this a true recurrence: whether this event starts a new session "
    "depends on the running session-start anchor, which its own updates "
    "feed — NOT expressible as lag + running sum (stream_sessionize's "
    "shape). Spark runs streaming/stateful.py:capped_sessions, the "
    "capped-sessions step kernel of operators/folds.py through fold (one "
    "linear-time mapInPandas pass per sorted partition, O(1) state per "
    "user); the oracle walks a recursive CTE. Integer-µs comparisons, so "
    "both engines branch identically. Scale: one exchange on user_id, "
    "memory one Arrow batch; on an unbounded stream the same function "
    "keeps the carry in the state store.",
)
def w_capped_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return capped_sessions(T(spark, sf_dir, "events"))