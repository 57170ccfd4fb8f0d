"""Round-5 continuation, batch 7: survival analysis, decision-tree
split scoring, signal peak detection, and graph recommendations.

- a_survival_km: the Kaplan-Meier product-limit estimator over user
  lifetimes — THE survival/churn curve. The running Π(1 - d/n) is a
  single-scalar ordered fold (safe for DuckDB list_reduce — the
  in-place hazard documented at round5d applies to STRUCT accumulators,
  not scalars; Spark runs a step kernel through the same batch fold
  driver as EWMA/CUSUM — operators/folds.py).
- ml_gini_split: weighted Gini impurity of candidate split thresholds
  for a numeric feature vs a binary label — the exact split-scoring
  primitive inside decision-tree training, all-rational arithmetic (no
  libm entropy logs, same reason llm_keywords_tfidf avoids ln).
- w_peak_detection: strict local maxima with a prominence floor over
  per-user event series (lag/lead windows).
- j_graph_2hop_recs: friend-of-friend recommendations — 2-hop
  neighbors that aren't direct neighbors, scored by common-neighbor
  count, deterministic top-3 per node.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from banksy_spark.suite.registry import T, query
from banksy_spark.suite.round4d import _BFS_N

# --- Kaplan-Meier survival curve -------------------------------------------


@query(
    "a_survival_km",
    oracle="""
    WITH life AS (
      SELECT user_id,
             MAX(epoch_us(ts) // 86400000000)
               - MIN(epoch_us(ts) // 86400000000) AS t_death
      FROM events GROUP BY user_id
    ),
    ev AS (
      SELECT t_death AS t, COUNT(*) AS d FROM life GROUP BY 1
    ),
    risk AS (
      SELECT t, d,
             SUM(d) OVER (ORDER BY t DESC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS n_at_risk
      FROM ev
    ),
    seq AS (
      SELECT t, d, n_at_risk,
             list(1e0 - CAST(d AS DOUBLE) / n_at_risk)
               OVER (ORDER BY t
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS fs
      FROM risk
    )
    SELECT t, d, CAST(n_at_risk AS BIGINT) AS n_at_risk,
           list_reduce(list_prepend(CAST(1 AS DOUBLE), fs),
                       (acc, x) -> acc * x) AS survival
    FROM seq
    """,
    note="Kaplan-Meier product-limit survival curve over user lifetimes "
    "(t = days from first to last activity; the fully-observed case — "
    "censoring would subtract a second counter from the risk set): at "
    "each distinct death time S(t) multiplies by (1 - d_t/n_t), with "
    "n_t the suffix-sum of deaths ≥ t. The running product is an "
    "ordered SCALAR fold — Spark runs the KM step kernel once over the "
    "curve with O(1) state (operators/folds.py fold, one key, linear "
    "time), DuckDB folds each row's expanding "
    "prefix (a scalar accumulator, so the round5d struct-field hazard "
    "does not apply); both multiply identical IEEE factors in identical "
    "order. Scale: the event table collapses to |users| rows in one "
    "exchange, then |distinct t| ≈ observation-window days.",
)
def a_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    day = F.floor(F.unix_micros("ts") / F.lit(86_400_000_000))
    life = (
        T(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg((F.max(day) - F.min(day)).alias("t_death"))
    )
    ev = life.groupBy(F.col("t_death").alias("t")).agg(
        F.count(F.lit(1)).alias("d")
    )
    w_suffix = (
        Window.orderBy(F.desc("t"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    risk = ev.withColumn("n_at_risk", F.sum("d").over(w_suffix))
    from banksy_spark.operators.folds import KM, fold

    return fold(risk, KM, None, ("t",))


# --- Gini split scoring ----------------------------------------------------

_SPLIT_THRESHOLDS = [50_000, 100_000, 150_000, 200_000, 250_000,
                     300_000, 350_000, 400_000, 450_000]


@query(
    "ml_gini_split",
    oracle=f"""
    WITH lab AS (
      SELECT o_totalprice AS x,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders
    ),
    th AS (SELECT CAST(unnest({_SPLIT_THRESHOLDS}) AS BIGINT) AS thr),
    split AS (
      SELECT t.thr,
             SUM(CASE WHEN l.x <= t.thr THEN 1 ELSE 0 END) AS n_l,
             SUM(CASE WHEN l.x <= t.thr THEN l.y ELSE 0 END) AS pos_l,
             SUM(CASE WHEN l.x > t.thr THEN 1 ELSE 0 END) AS n_r,
             SUM(CASE WHEN l.x > t.thr THEN l.y ELSE 0 END) AS pos_r,
             COUNT(*) AS n
      FROM lab l CROSS JOIN th t
      GROUP BY 1
    )
    SELECT thr, CAST(n_l AS BIGINT) AS n_l, CAST(n_r AS BIGINT) AS n_r,
           (n_l * (1e0 - (CAST(pos_l AS DOUBLE) / n_l)
                         * (CAST(pos_l AS DOUBLE) / n_l)
                       - (CAST(n_l - pos_l AS DOUBLE) / n_l)
                         * (CAST(n_l - pos_l AS DOUBLE) / n_l))
            + n_r * (1e0 - (CAST(pos_r AS DOUBLE) / n_r)
                          * (CAST(pos_r AS DOUBLE) / n_r)
                        - (CAST(n_r - pos_r AS DOUBLE) / n_r)
                          * (CAST(n_r - pos_r AS DOUBLE) / n_r))) / n
             AS weighted_gini
    FROM split
    """,
    note="Decision-tree split scoring: weighted Gini impurity of nine "
    "candidate thresholds on order price against the finished-status "
    "label — the exact primitive a distributed tree trainer evaluates "
    "per (feature, threshold). Gini (1 - Σp²) is pure rational "
    "arithmetic on integer counts, so parity is exact where entropy's "
    "ln() would drift by libm ulps. Shape: ONE pass over the fact "
    "builds all nine candidate contingencies as conditional sums "
    "(threshold list broadcast-crossed, |thresholds|×|rows| evaluated "
    "map-side, 9-row aggregate out) — the same one-pass-many-candidates "
    "trick a_q14_promo_share uses for its share. The argmin is the "
    "9-row frame's job downstream.",
)
def ml_gini_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    lab = T(spark, sf_dir, "orders").select(
        F.col("o_totalprice").alias("x"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    th = spark.createDataFrame(
        [(t,) for t in _SPLIT_THRESHOLDS], "thr bigint"
    )
    split = (
        lab.crossJoin(F.broadcast(th))
        .groupBy("thr")
        .agg(
            F.sum(F.when(F.col("x") <= F.col("thr"), 1).otherwise(0)).alias("n_l"),
            F.sum(F.when(F.col("x") <= F.col("thr"), F.col("y")).otherwise(0)).alias("pos_l"),
            F.sum(F.when(F.col("x") > F.col("thr"), 1).otherwise(0)).alias("n_r"),
            F.sum(F.when(F.col("x") > F.col("thr"), F.col("y")).otherwise(0)).alias("pos_r"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    def gini(n, pos):
        p = pos.cast("double") / n
        q = (n - pos).cast("double") / n
        return F.lit(1.0) - p * p - q * q

    n_l, n_r = F.col("n_l"), F.col("n_r")
    weighted = (
        n_l * gini(n_l, F.col("pos_l")) + n_r * gini(n_r, F.col("pos_r"))
    ) / F.col("n")
    return split.select("thr", "n_l", "n_r", weighted.alias("weighted_gini"))


# --- peak detection --------------------------------------------------------

_PROMINENCE = 50.0


@query(
    "w_peak_detection",
    oracle=f"""
    SELECT event_id, user_id, value
    FROM (
      SELECT event_id, user_id, value,
             lag(value) OVER w AS prev_v,
             lead(value) OVER w AS next_v
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    WHERE prev_v IS NOT NULL AND next_v IS NOT NULL
      AND value > prev_v AND value > next_v
      AND value - greatest(prev_v, next_v) > {_PROMINENCE}
    """,
    note="Signal peak detection over per-user event series: strict local "
    f"maxima whose prominence over the taller neighbour exceeds "
    f"{_PROMINENCE} — the spike-alert primitive (lag/lead over one "
    "user-keyed sort; interior points only). Exact double comparisons, "
    "no arithmetic beyond subtraction. Scale: one exchange, O(1) state "
    "per row; a windowed-prominence variant (scipy-style) widens the "
    "frame but keeps the same single-pass shape.",
)
def w_peak_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    x = e.select(
        "event_id",
        "user_id",
        "value",
        F.lag("value").over(w).alias("prev_v"),
        F.lead("value").over(w).alias("next_v"),
    )
    return x.filter(
        F.col("prev_v").isNotNull()
        & F.col("next_v").isNotNull()
        & (F.col("value") > F.col("prev_v"))
        & (F.col("value") > F.col("next_v"))
        & (
            F.col("value") - F.greatest("prev_v", "next_v") > _PROMINENCE
        )
    ).select("event_id", "user_id", "value")


# --- 2-hop graph recommendations -------------------------------------------


@query(
    "j_graph_2hop_recs",
    oracle=f"""
    WITH e0 AS (
      SELECT DISTINCT o_custkey % {_BFS_N} AS u, o_orderkey % {_BFS_N} AS v
      FROM orders WHERE o_custkey % {_BFS_N} <> o_orderkey % {_BFS_N}
        AND o_orderkey % 23 = 0
    ),
    edges AS (SELECT u, v FROM e0 UNION SELECT v, u FROM e0),
    two_hop AS (
      SELECT a.u AS node, b.v AS rec, COUNT(*) AS common
      FROM edges a JOIN edges b ON b.u = a.v
      WHERE b.v <> a.u
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT t.node, t.rec, t.common
      FROM two_hop t
      LEFT JOIN edges d ON d.u = t.node AND d.v = t.rec
      WHERE d.u IS NULL
    )
    SELECT node, rec, common
    FROM (
      SELECT node, rec, common,
             ROW_NUMBER() OVER (PARTITION BY node
                                ORDER BY common DESC, rec) AS rk
      FROM scored
    )
    WHERE rk <= 3
    """,
    note="Friend-of-friend recommendations on the shared BFS graph "
    "fixture: 2-hop neighbours that are NOT direct neighbours, scored "
    "by common-neighbour count, deterministic top-3 per node "
    "(count DESC, id tiebreak). Shape: one self-join on the pivot "
    "vertex (the wedge join graph_triangle_count also uses — at scale, "
    "degree-orient or salt the hottest pivots), an anti-join removes "
    "direct edges BEFORE the per-node top-k window. The oracle keeps "
    "the same candidate algebra in plain SQL.",
)
def j_graph_2hop_recs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # thin the modulo graph (1-in-23 orders): the raw fixture goes
    # near-complete at sf0.1 (58k distinct edges over 500 nodes), which
    # makes ANY 2-hop enumeration Σdeg² ≈ N³ — a property of the
    # synthetic graph, not the operator. Real social graphs are sparse;
    # the thinned degree (~25) models that honestly.
    o = T(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 23 == 0).select(
        (F.col("o_custkey") % _BFS_N).alias("u"),
        (F.col("o_orderkey") % _BFS_N).alias("v"),
    )
    e0 = o.filter(F.col("u") != F.col("v")).distinct()
    edges = e0.unionByName(
        e0.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).distinct()
    a = edges.select(F.col("u").alias("node"), F.col("v").alias("mid"))
    b = edges.select(F.col("u").alias("mid"), F.col("v").alias("rec"))
    two_hop = (
        a.join(b, "mid")
        .filter(F.col("rec") != F.col("node"))
        .groupBy("node", "rec")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    direct = edges.select(F.col("u").alias("node"), F.col("v").alias("rec"))
    scored = two_hop.join(direct, ["node", "rec"], "left_anti")
    w = Window.partitionBy("node").orderBy(F.desc("common"), F.col("rec"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("node", "rec", "common")
    )
