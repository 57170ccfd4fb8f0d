"""Round-4 continuation, batch 3: year-over-year growth, new-vs-returning
user counts, incremental corpus dedup (new batch vs existing corpus —
the 100 TB ingestion shape), and bounded-depth BFS distances.

Same parity rules as the rest of the suite (registry.py docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from banksy_spark.suite.llm import _band_pairs, _lsh_oracle_ctes
from banksy_spark.suite.registry import T, query

# --- Year-over-year revenue growth -----------------------------------------


@query(
    "a_yoy_growth",
    oracle="""
    WITH m AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY 1
    ), joined AS (
      SELECT cur.month,
             CAST(CAST(cur.rev AS VARCHAR) AS DOUBLE) AS revenue,
             CAST(CAST(prev.rev AS VARCHAR) AS DOUBLE) AS revenue_prev_year
      FROM m cur LEFT JOIN m prev ON cur.month = prev.month + INTERVAL 12 MONTH
    )
    SELECT month, revenue, revenue_prev_year,
           revenue / revenue_prev_year - 1e0 AS yoy_growth
    FROM joined
    """,
    note="Year-over-year growth per order month. The naive form is LAG(12) "
    "over the month series — which silently misaligns if any month is "
    "absent; the calendar-join form (month = prev.month + 12 months) is "
    "gap-proof, and the join runs on the POST-aggregate month table (~80 "
    "rows), broadcast. Revenue aggregates in DECIMAL, converts once through "
    "VARCHAR, and the growth ratio divides the identical double values in "
    "both engines (IEEE division is deterministic given equal operands). "
    "First-year months keep NULL prev/growth via the left join. Scale: one "
    "map-side-combinable agg over orders; everything after is dimension- "
    "table sized.",
)
def a_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    m = o.groupBy(F.date_trunc("month", "o_orderdate").alias("month")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev")
    )
    cur = m.select(
        "month", F.col("rev").cast("string").cast("double").alias("revenue")
    )
    prev = m.select(
        (F.col("month") + F.expr("INTERVAL 12 MONTHS")).alias("month"),
        F.col("rev").cast("string").cast("double").alias("revenue_prev_year"),
    )
    return cur.join(F.broadcast(prev), "month", "left").select(
        "month",
        "revenue",
        "revenue_prev_year",
        (F.col("revenue") / F.col("revenue_prev_year") - F.lit(1.0)).alias(
            "yoy_growth"
        ),
    )


# --- New vs returning users per day ----------------------------------------


@query(
    "a_new_vs_returning",
    oracle="""
    WITH ud AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
      FROM events GROUP BY 1, 2
    ), flagged AS (
      SELECT user_id, day, MIN(day) OVER (PARTITION BY user_id) AS first_day
      FROM ud
    )
    SELECT day,
           CAST(SUM(CASE WHEN day = first_day THEN 1 ELSE 0 END)
                AS BIGINT) AS new_users,
           CAST(SUM(CASE WHEN day <> first_day THEN 1 ELSE 0 END)
                AS BIGINT) AS returning_users
    FROM flagged GROUP BY day
    """,
    note="Daily new-vs-returning split: a user is 'new' on their first "
    "active day, 'returning' on every later active day. One distinct-ish "
    "aggregate to (user, day) grain, then a MIN window over user_id — the "
    "explicit repartition on user_id lets the (user_id, day) agg (superset "
    "key) and the window share ONE exchange, the same trick as "
    "j_argmin_supplier. All-integer flags, map-side combinable final agg to "
    "|days| rows. Scale: no join against a first-seen lookup table — the "
    "window computes first-touch in the same pass; the streaming twin keeps "
    "min-day as per-user keyed state.",
)
def a_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    ud = (
        ev.select(
            "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
        )
        .repartition("user_id")
        .groupBy("user_id", "day")
        .agg(F.lit(1).alias("_one"))
    )
    w = Window.partitionBy("user_id")
    flagged = ud.select("user_id", "day", F.min("day").over(w).alias("first_day"))
    is_new = F.col("day") == F.col("first_day")
    return flagged.groupBy("day").agg(
        F.sum(F.when(is_new, 1).otherwise(0)).alias("new_users"),
        F.sum(F.when(~is_new, 1).otherwise(0)).alias("returning_users"),
    )


# --- Incremental corpus dedup ----------------------------------------------

_EST16_DUCK = " + ".join(
    f"(CASE WHEN sa.sig[{i + 1}] = sb.sig[{i + 1}] THEN 1 ELSE 0 END)"
    for i in range(16)
)


@query(
    "llm_dedup_incremental",
    oracle=f"""
    WITH {_lsh_oracle_ctes(with_hs=False)},
    exact_hit AS (
      SELECT DISTINCT i.doc_id
      FROM documents i JOIN documents e ON md5(i.text) = md5(e.text)
      WHERE i.doc_id % 10 = 9 AND e.doc_id % 10 <> 9
    ),
    cand AS (
      SELECT CASE WHEN doc_a % 10 = 9 THEN doc_a ELSE doc_b END AS new_id,
             CASE WHEN doc_a % 10 = 9 THEN doc_b ELSE doc_a END AS old_id
      FROM pairs
      WHERE (doc_a % 10 = 9) <> (doc_b % 10 = 9)
    ),
    near AS (
      SELECT DISTINCT c.new_id AS doc_id
      FROM cand c
      JOIN sigs sa ON sa.doc_id = c.new_id
      JOIN sigs sb ON sb.doc_id = c.old_id
      WHERE ({_EST16_DUCK}) >= 12
    )
    SELECT d.doc_id,
           CASE WHEN eh.doc_id IS NOT NULL THEN 'exact_dup'
                WHEN nr.doc_id IS NOT NULL THEN 'near_dup'
                ELSE 'new' END AS verdict
    FROM documents d
    LEFT JOIN exact_hit eh ON eh.doc_id = d.doc_id
    LEFT JOIN near nr ON nr.doc_id = d.doc_id
    WHERE d.doc_id % 10 = 9
    """,
    note="Incremental dedup of an incoming batch (doc_id%10=9 stands in for "
    "'today's crawl') against the existing corpus — THE shape that makes "
    "dedup sustainable at 100 TB: the corpus is never re-deduped against "
    "itself; only the new batch's hashes and band keys join against the "
    "persisted corpus index. Stage 1: exact content-hash semi-join → "
    "'exact_dup'. Stage 2: LSH band-collision candidates restricted to "
    "new-vs-existing pairs, verified by MinHash slot agreement (>=12/16 ~ "
    "est jaccard 0.75) → 'near_dup'. Survivors are 'new'. Reuses the "
    "suite's shared MinHash(16)/LSH(4x4) machinery (llm.py) so the sketch "
    "is oracle-identical. Scale: both probes are keyed joins (md5; "
    "(band_id, band_key)) sized by the DAILY batch, not the corpus; in "
    "production the corpus side is the already-materialized sig/band table "
    "and the verify join touches only candidate doc_ids.",
)
def llm_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    is_inc = F.col("doc_id") % 10 == 9
    inc_ids = d.filter(is_inc).select("doc_id", F.md5("text").alias("h"))
    ex_hashes = d.filter(~is_inc).select(F.md5("text").alias("h")).distinct()
    exact = (
        inc_ids.join(ex_hashes, "h", "left_semi")
        .select("doc_id")
        .withColumn("is_exact", F.lit(1))
    )

    # r14 opt (guide §2.5, §6): this query built its own
    # sigs_from_docs(d).persist() WITHOUT fan_out, so the MinHash ran
    # as ONE ~0.7 s task — and under AQE its four consumer subtrees
    # (band self-join a/b + sig_a/sig_b) materialize concurrently
    # before the lazy persist populates, so the event log showed FOUR
    # duplicate single-task sig builds per run. The shared _lsh_sigs is
    # the identical computation (same tokenize/filter/MinHash) with the
    # r13 fan_out and the r14 eager materialization.
    from banksy_spark.suite.llm import _lsh_sigs

    sigs = _lsh_sigs(spark, sf_dir, with_hs=False)
    pairs = _band_pairs(sigs)
    a_new = F.col("doc_a") % 10 == 9
    b_new = F.col("doc_b") % 10 == 9
    cand = pairs.filter(a_new != b_new).select(
        F.when(a_new, F.col("doc_a")).otherwise(F.col("doc_b")).alias("new_id"),
        F.when(a_new, F.col("doc_b")).otherwise(F.col("doc_a")).alias("old_id"),
    )
    sa = sigs.select(F.col("doc_id").alias("new_id"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("old_id"), F.col("sig").alias("sig_b"))
    near = (
        cand.join(sa, "new_id")
        .join(sb, "old_id")
        .filter(
            F.expr("size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), v -> v))")
            >= 12
        )
        .select(F.col("new_id").alias("doc_id"))
        .distinct()
        .withColumn("is_near", F.lit(1))
    )

    return (
        d.filter(is_inc)
        .select("doc_id")
        .join(F.broadcast(exact), "doc_id", "left")
        .join(F.broadcast(near), "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("is_exact").isNotNull(), "exact_dup")
            .when(F.col("is_near").isNotNull(), "near_dup")
            .otherwise("new")
            .alias("verdict"),
        )
    )


# --- Bounded-depth BFS distances -------------------------------------------

_BFS_N = 500
_BFS_ROUNDS = 4


def _bfs_round_sql(prev: str, out: str) -> str:
    return f"""{out} AS (
      SELECT node, MIN(dist) AS dist FROM (
        SELECT node, dist FROM {prev}
        UNION ALL
        SELECT e.v AS node, p.dist + 1 AS dist
        FROM {prev} p JOIN edges e ON e.u = p.node
      ) GROUP BY node
    )"""


@query(
    "graph_bfs_distance",
    oracle=f"""
    WITH e0 AS (
      SELECT DISTINCT o_custkey % {_BFS_N} AS u, o_orderkey % {_BFS_N} AS v
      FROM orders WHERE o_custkey % {_BFS_N} <> o_orderkey % {_BFS_N}
    ),
    edges AS (SELECT u, v FROM e0 UNION SELECT v AS u, u AS v FROM e0),
    d0 AS (SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist),
    {",".join(_bfs_round_sql(f"d{i}", f"d{i + 1}") for i in range(_BFS_ROUNDS + 1))}
    SELECT d.node, d.dist, probe.frontier_delta
    FROM d{_BFS_ROUNDS} d CROSS JOIN (
      SELECT CAST(COUNT(*) AS BIGINT) AS frontier_delta
      FROM d{_BFS_ROUNDS + 1} nxt
      LEFT JOIN d{_BFS_ROUNDS} cur ON cur.node = nxt.node
      WHERE cur.node IS NULL OR nxt.dist < cur.dist
    ) probe
    """,
    note="Bounded-depth BFS (4 hops) from node 0 over the same derived "
    "order graph family as graph_triangle_count, symmetrized. Each round "
    "is expand-along-edges + MIN-regroup — the Pregel iteration written as "
    "a join+agg pair, unrolled identically in both engines so the oracle "
    "is exact. The Spark loop persists each frontier table: without the "
    "cut, lineage doubles per round and round k replays rounds 1..k-1. "
    "Scale: each round shuffles on node id only; the full-table (not "
    "delta-frontier) formulation is deliberate for parity — production "
    "would keep the semi-naive delta frontier, noted in GraphX/Pregel "
    "literature, with identical join keys. Depth-exceeded detector: the "
    "frontier_delta column counts nodes one MORE round would add or "
    "improve — 0 proves the 4-round budget covered the reachable "
    "eccentricity; both engines compute it, so a truncating budget can "
    "never pass silently (pytest drives a deeper fixture to non-zero).",
)
def graph_bfs_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from banksy_spark.operators.graph import bfs_distances

    o = T(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % _BFS_N).alias("u"),
        (F.col("o_orderkey") % _BFS_N).alias("v"),
    )
    e0 = o.filter(F.col("u") != F.col("v")).distinct()
    edges = (
        e0.unionByName(e0.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .persist()
    )
    return bfs_distances(edges, source=0, rounds=_BFS_ROUNDS)


# --- Watermark lateness audit ----------------------------------------------


@query(
    "stream_late_rows_audit",
    oracle="""
    WITH arr AS (
      SELECT user_id % 8 AS part, ts,
             MAX(ts) OVER (PARTITION BY user_id % 8 ORDER BY event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS wm
      FROM events
    )
    SELECT part,
           CAST(SUM(CASE WHEN ts < wm - INTERVAL 1 HOUR THEN 1 ELSE 0 END)
                AS BIGINT) AS late_rows,
           COUNT(*) AS total_rows
    FROM arr GROUP BY part
    """,
    note="Watermark lateness audit: replay the arrival log (event_id = "
    "arrival order, user_id%8 = the source partition) and count rows that a "
    "1-hour watermark would have dropped — event-time ts older than the "
    "partition's running max event-time minus the delay at the moment of "
    "arrival. This is the batch tool for CHOOSING a watermark delay before "
    "deploying the streaming job: sweep the delay, read the drop rate. The "
    "first row per partition has NULL watermark and counts on-time in both "
    "engines (NULL comparison falls to ELSE). Scale: one window per source "
    "partition in arrival order — exactly the per-partition monotonic pass "
    "a streaming source performs; no global sort.",
)
def stream_late_rows_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    w = (
        Window.partitionBy("part")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    arr = ev.select(
        (F.col("user_id") % 8).alias("part"), "ts", "event_id"
    ).withColumn("wm", F.max("ts").over(w))
    is_late = F.col("ts") < F.col("wm") - F.expr("INTERVAL 1 HOUR")
    return arr.groupBy("part").agg(
        F.sum(F.when(is_late, 1).otherwise(0)).alias("late_rows"),
        F.count(F.lit(1)).alias("total_rows"),
    )


# --- Chi-square contingency (per-cell, no float reduction) -----------------


@query(
    "a_chi2_contingency",
    oracle="""
    WITH cell AS (
      SELECT event_type, user_id % 4 AS cohort, COUNT(*) AS obs
      FROM events GROUP BY 1, 2
    ), rt AS (
      SELECT event_type, SUM(obs) AS row_tot FROM cell GROUP BY 1
    ), ct AS (
      SELECT cohort, SUM(obs) AS col_tot FROM cell GROUP BY 1
    ), n AS (SELECT SUM(obs) AS n FROM cell)
    SELECT c.event_type, c.cohort, c.obs,
           CAST(r.row_tot * t.col_tot AS DOUBLE) / n.n AS expected,
           (c.obs - CAST(r.row_tot * t.col_tot AS DOUBLE) / n.n)
             * (c.obs - CAST(r.row_tot * t.col_tot AS DOUBLE) / n.n)
             / (CAST(r.row_tot * t.col_tot AS DOUBLE) / n.n) AS contrib
    FROM cell c
    JOIN rt r ON r.event_type = c.event_type
    JOIN ct t ON t.cohort = c.cohort
    CROSS JOIN n
    """,
    note="Chi-square contingency grid (event_type x user cohort): observed "
    "counts, expected counts under independence, and the per-cell chi2 "
    "contribution. The output deliberately stays PER CELL — the chi2 total "
    "is a 20-term float sum whose value depends on addition order, so the "
    "engine emits the order-free per-cell terms and the caller folds them "
    "(or sorts and folds) — same policy as the suite's other float-sum "
    "boundaries. Every expected value divides identical doubles (integer "
    "products < 2^53 cast exactly), so parity is bit-exact. Scale: one "
    "count agg over the fact table; the marginals are tiny re-aggregations "
    "of the 20-row cell grid, broadcast back onto it.",
)
def a_chi2_contingency(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    cell = ev.groupBy(
        "event_type", (F.col("user_id") % 4).alias("cohort")
    ).agg(F.count(F.lit(1)).alias("obs"))
    cell = cell.persist()
    rt = cell.groupBy("event_type").agg(F.sum("obs").alias("row_tot"))
    ct = cell.groupBy("cohort").agg(F.sum("obs").alias("col_tot"))
    n = cell.agg(F.sum("obs").alias("n"))
    expected = (F.col("row_tot") * F.col("col_tot")).cast("double") / F.col("n")
    return (
        cell.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "cohort")
        .crossJoin(F.broadcast(n))
        .select(
            "event_type",
            "cohort",
            "obs",
            expected.alias("expected"),
            ((F.col("obs") - expected) * (F.col("obs") - expected) / expected).alias(
                "contrib"
            ),
        )
    )


# --- Session bounce rate ----------------------------------------------------


@query(
    "a_bounce_rate",
    oracle="""
    WITH seq AS (
      SELECT user_id, ts,
             CASE WHEN LAG(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) IS NULL
                    OR epoch_us(ts) - epoch_us(LAG(ts) OVER (
                         PARTITION BY user_id ORDER BY ts, event_id))
                       > 1800000000
                  THEN 1 ELSE 0 END AS brk,
             event_id
      FROM events
    ), sess AS (
      SELECT user_id, ts,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS sid
      FROM seq
    ), agg AS (
      SELECT user_id, sid, MIN(ts) AS start_ts, COUNT(*) AS n_events
      FROM sess GROUP BY 1, 2
    )
    SELECT CAST(date_trunc('day', start_ts) AS DATE) AS day,
           COUNT(*) AS sessions,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS bounces,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS bounce_rate
    FROM agg GROUP BY 1
    """,
    note="Daily bounce rate: sessionize per user with a 30-minute gap rule "
    "(lag + running break-sum, tie-broken on event_id), then the share of "
    "single-event sessions per day of session start. Builds on the same "
    "gaps-and-islands machinery as stream_sessionize but aggregates it into "
    "the product metric. The ratio is one double division per output row "
    "with integer-exact operands. Scale: both windows and the session agg "
    "share the user_id exchange; the day agg collapses to |days| rows "
    "map-side.",
)
def a_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag(F.col("ts")).over(wo))
    brk = F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0)
    sess = ev.select(
        "user_id", "ts", "event_id", F.sum(brk).over(wo).alias("sid")
    )
    agg = sess.groupBy("user_id", "sid").agg(
        F.min("ts").alias("start_ts"), F.count(F.lit(1)).alias("n_events")
    )
    bounces = F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
    return agg.groupBy(
        F.date_trunc("day", "start_ts").cast("date").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("sessions"),
        bounces.alias("bounces"),
        (bounces.cast("double") / F.count(F.lit(1))).alias("bounce_rate"),
    )


# --- Left-outer interval join (watermark null-emission semantics) ----------


@query(
    "stream_interval_left_join",
    oracle="""
    SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id,
           CAST(FLOOR(epoch(p.ts)) AS BIGINT) - CAST(FLOOR(epoch(c.ts)) AS BIGINT)
             AS lag_sec
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts < p.ts
    """,
    note="LEFT OUTER interval join: stream_interval_join's attribution "
    "window, but purchases with NO click in the preceding 30 minutes "
    "survive with NULL click columns — exactly the rows a watermarked "
    "stream-stream LEFT join emits once the watermark passes the window "
    "bound and proves no match can still arrive. Batch-checkable here; the "
    "streaming twin needs watermarks on BOTH sides for state expiry and "
    "emits the null row at expiry, not at arrival. Scale: same equi-key "
    "user_id shuffle as the inner form; the outer side adds no data "
    "movement, only the unmatched-row pass-through.",
)
def stream_interval_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    cond = (
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("c_ts") < F.col("p_ts"))
    )
    return p.join(c, cond, "left").select(
        "purchase_id",
        "click_id",
        F.col("p_user").alias("user_id"),
        (F.unix_timestamp("p_ts") - F.unix_timestamp("c_ts")).alias("lag_sec"),
    )
