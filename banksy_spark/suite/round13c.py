"""Round-13 third batch: connected components, the privacy-trio
closer, resampling-based inference, and kernel density estimation.

- graph_connected_components: the operator library's convergence-
  guaranteed CC (operators/graph.py:connected_components — alternating
  large-star/small-star iterated to a VERIFIED fixed point, with the
  bounded-driver union-find shortcut for metadata-sized edge sets)
  surfaced as a first-class graph-family query on the order-graph
  fixture, checked against a genuine recursive-CTE oracle.
- dq_t_closeness: completes the release-gate privacy trio started by
  dq_k_anonymity (group too small) and dq_l_diversity (group too
  uniform): a group can pass both yet still leak if its sensitive
  DISTRIBUTION diverges from the corpus — ordered-EMD t-closeness.
- ml_permutation_test / ml_bootstrap_poisson_ci: the two standard
  resampling readouts of an experimentation platform, built on
  DETERMINISTIC hash-randomization (Knuth multiplicative scramble →
  uniform) so both engines replay the identical pseudo-random draws.
  The bootstrap is the Poisson(1)-weight form — the only bootstrap
  that works at 100 TB because it needs no index join and no global
  resample table, just one map-side weight per (user, replicate).
- ml_tost_equivalence: two-one-sided-tests equivalence readout —
  "the arms are the SAME within margin", the ship/no-ship complement
  of ml_experiment_power's MDE planning.
- a_kde_epanechnikov: grid-blocked kernel density estimation with the
  Epanechnikov kernel — polynomial, so the weight is exact IEEE
  arithmetic in both engines (a Gaussian's exp() is not
  cross-engine reproducible), quantized to an integer ppm grid
  BEFORE summation so the aggregate is an order-independent BIGINT.

All six are beyond-reference analytics (the reference — a single-node
odds scraper, arbitrage_scanner.py:1-514 — has no graph, privacy,
inference, or density layer); notes argue the 100 TB scale bar.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from banksy_spark.streaming.core import _KDE_WQ, kde_cell_density
from banksy_spark.suite.registry import T, query
from banksy_spark.suite.round13 import _CENTS

# --- graph_connected_components ----------------------------------------------

# Intra-block edges ONLY (graph_label_propagation's fixture minus the
# cross-block noise): 10 disjoint 50-node id blocks whose 1-in-3-order
# edges leave genuinely separate components — sparse enough at small
# SF that blocks shatter into several components, dense at sf0.1.
_CC_E0 = """
      SELECT DISTINCT o_custkey % 500 AS u, o_orderkey % 500 AS v
      FROM __ORDERS__
      WHERE o_custkey % 500 <> o_orderkey % 500
        AND FLOOR((o_custkey % 500) / 50.0)
            = FLOOR((o_orderkey % 500) / 50.0)
        AND o_orderkey % 3 = 0
"""


@query(
    "graph_connected_components",
    oracle=f"""
    WITH RECURSIVE e0 AS ({_CC_E0.replace("__ORDERS__", "orders")}),
    edges AS (SELECT u, v FROM e0 UNION SELECT v AS u, u AS v FROM e0),
    reach(node, lbl) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM edges) base
      UNION
      SELECT r.node, e.v FROM reach r JOIN edges e ON e.u = r.lbl
    ),
    labels AS (
      SELECT node, MIN(lbl) AS component FROM reach GROUP BY node
    )
    SELECT component,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(MAX(node) AS BIGINT) AS max_node
    FROM labels GROUP BY component
    """,
    note="Connected components surfaced as a first-class graph-family "
    "query: label every node with its component's MINIMUM node id, "
    "then report the component histogram (component = min id, size, "
    "max node). Rides operators/graph.py:connected_components — "
    "alternating large-star/small-star (Kiveris et al., 'Connected "
    "Components in MapReduce and Beyond', SoCC'14) iterated to a "
    "VERIFIED fixed point (the loop checks the edge set stopped "
    "changing; O(log^2 n) rounds bound, raises rather than returning "
    "an under-merged answer), with the bounded-driver union-find "
    "shortcut when the canonical edge set is metadata-sized — the "
    "same discipline llm_dedup_clusters already relies on for dedup "
    "cluster closure, here exercised on a GENERAL graph whose "
    "components the oracle recomputes from scratch via a genuine "
    "recursive-CTE transitive closure reduced by MIN per node "
    "(closure rows bounded by sum of squared component sizes — the "
    "fixture's 50-node id blocks cap it at 25k). Convergence-"
    "guaranteed, unlike a fixed-depth min-propagation unroll: the "
    "fixture graph at sf0.01 needs 12 hash-min rounds (measured), "
    "which a depth budget would silently truncate. Scale: each "
    "distributed round is one edge-grain shuffle + one node-keyed "
    "MIN; the star transforms strictly shrink edge lists, and "
    "metadata-sized graphs (dedup collision graphs, fence adjacency) "
    "take ONE bounded collect instead of O(log n) shuffle rounds. "
    "Fixture: LPA's block graph MINUS the cross-block noise, leaving "
    "real SF-dependent component structure (27 components at "
    "sf0.001, 22 at sf0.01, 10 at sf0.1).",
)
def graph_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from banksy_spark.operators.graph import connected_components

    o = T(spark, sf_dir, "orders")
    e0 = spark.sql(_CC_E0.replace("__ORDERS__", "{o}"), o=o)
    labels = connected_components(e0, src="u", dst="v")
    return labels.groupBy(F.col("lab").alias("component")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.max("node").cast("bigint").alias("max_node"),
    )


# --- dq_t_closeness ----------------------------------------------------------

# Ordered sensitive classes: fixed account-balance bands (0..4). The
# thresholds are literals, so the classifier is identical text in both
# engines — no quantile estimation, no data-derived cutpoints.
_TC_CLS = (
    "CASE WHEN c_acctbal < 1000 THEN 0 WHEN c_acctbal < 3000 THEN 1"
    " WHEN c_acctbal < 5000 THEN 2 WHEN c_acctbal < 7000 THEN 3 ELSE 4 END"
)

_TC_T = 0.2  # release threshold on the ordered EMD

# Ordered EMD over 5 classes = mean |cumulative P - cumulative Q| at
# the 4 interior boundaries (the 5th cumulative difference is 0 by
# normalization). Pure scalar IEEE arithmetic from exact BIGINT
# counts, in one fixed textual order. Shared-snippet layout (the
# ml_cuped_stratified discipline): the Spark side method-chains on a
# checkpointed group frame — a CTE form would re-inline the fact scan
# per reference (grp feeds both gtot and cums) — while the oracle
# assembles the SAME snippets as a CTE chain.
_TC_GRP_SQL = f"""
      SELECT c_nationkey, c_mktsegment,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN cls = 0 THEN 1 ELSE 0 END) AS BIGINT) AS k0,
             CAST(SUM(CASE WHEN cls = 1 THEN 1 ELSE 0 END) AS BIGINT) AS k1,
             CAST(SUM(CASE WHEN cls = 2 THEN 1 ELSE 0 END) AS BIGINT) AS k2,
             CAST(SUM(CASE WHEN cls = 3 THEN 1 ELSE 0 END) AS BIGINT) AS k3
      FROM (SELECT c_nationkey, c_mktsegment, {_TC_CLS} AS cls
            FROM __CUSTOMER__) base
      GROUP BY c_nationkey, c_mktsegment
"""

_TC_GTOT_EXPRS = [
    "CAST(SUM(n) AS BIGINT) AS gn",
    "CAST(SUM(k0) AS BIGINT) AS g0",
    "CAST(SUM(k1) AS BIGINT) AS g1",
    "CAST(SUM(k2) AS BIGINT) AS g2",
    "CAST(SUM(k3) AS BIGINT) AS g3",
]

_TC_E_EXPRS = [
    "CAST(k0 AS DOUBLE) / n - CAST(g0 AS DOUBLE) / gn AS e1",
    "(CAST(k0 AS DOUBLE) / n - CAST(g0 AS DOUBLE) / gn)"
    " + (CAST(k1 AS DOUBLE) / n - CAST(g1 AS DOUBLE) / gn) AS e2",
    "((CAST(k0 AS DOUBLE) / n - CAST(g0 AS DOUBLE) / gn)"
    " + (CAST(k1 AS DOUBLE) / n - CAST(g1 AS DOUBLE) / gn))"
    " + (CAST(k2 AS DOUBLE) / n - CAST(g2 AS DOUBLE) / gn) AS e3",
    "(((CAST(k0 AS DOUBLE) / n - CAST(g0 AS DOUBLE) / gn)"
    " + (CAST(k1 AS DOUBLE) / n - CAST(g1 AS DOUBLE) / gn))"
    " + (CAST(k2 AS DOUBLE) / n - CAST(g2 AS DOUBLE) / gn))"
    " + (CAST(k3 AS DOUBLE) / n - CAST(g3 AS DOUBLE) / gn) AS e4",
]

_TC_FINAL_EXPRS = [
    "c_nationkey",
    "c_mktsegment",
    "n AS group_size",
    "(ABS(e1) + ABS(e2) + ABS(e3) + ABS(e4)) / 4 AS t_emd",
    "(ABS(e1) + ABS(e2) + ABS(e3) + ABS(e4)) / 4"
    f" > CAST({_TC_T} AS DOUBLE) AS breach",
]

_TC_SQL = f"""
    WITH grp AS ({_TC_GRP_SQL}),
    gtot AS (SELECT {", ".join(_TC_GTOT_EXPRS)} FROM grp),
    cums AS (
      SELECT c_nationkey, c_mktsegment, n, {", ".join(_TC_E_EXPRS)}
      FROM grp CROSS JOIN gtot
    )
    SELECT {", ".join(_TC_FINAL_EXPRS)} FROM cums
"""


@query(
    "dq_t_closeness",
    oracle=_TC_SQL.replace("__CUSTOMER__", "customer"),
    note="t-closeness audit — completes the release-gate privacy trio: "
    "dq_k_anonymity catches groups too SMALL, dq_l_diversity groups "
    "too UNIFORM, and t-closeness catches the remaining leak — a "
    "group whose sensitive DISTRIBUTION diverges from the corpus "
    "baseline (an attacker who knows the quasi-identifiers learns the "
    "group's skew even when l distinct values are present). Sensitive "
    "attribute = fixed account-balance bands (ordered, literal "
    "thresholds — no data-derived cutpoints), distance = the ordered "
    "EMD: mean |cumulative P - cumulative Q| at the 4 interior class "
    "boundaries, the Li/Li/Venkatasubramanian ICDE'07 form for "
    "ordered attributes. Parity: class counts are exact BIGINTs from "
    "one conditional aggregate; the EMD is scalar IEEE divisions and "
    "additions in ONE fixed textual order (cumulative sums written "
    "out literally, not via a window), so both engines produce "
    "bit-identical doubles. Scale: ONE fact scan — the fact exchanges "
    "once on the (nation, segment) quasi-identifier with map-side "
    "combine, the checkpointed group frame feeds BOTH the 1-row "
    "global re-aggregate (metadata-sized, broadcast back) and the "
    "per-group EMD projection — no per-class pivot join, no window; "
    "output is QI-cardinality rows regardless of fact size.",
)
def dq_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = T(spark, sf_dir, "customer")
    grp = spark.sql(
        _TC_GRP_SQL.replace("__CUSTOMER__", "{c}"), c=c
    ).localCheckpoint(eager=False)
    gtot = grp.selectExpr(*_TC_GTOT_EXPRS)
    cums = grp.crossJoin(F.broadcast(gtot)).selectExpr(
        "c_nationkey", "c_mktsegment", "n", *_TC_E_EXPRS
    )
    return cums.selectExpr(*_TC_FINAL_EXPRS)


# --- deterministic hash-randomization (shared by the resampling pair) -------

_RS_B = 200  # replicates / permutations
_RS_A = 2654435761  # Knuth multiplicative constant (llm_shuffle_shards)
_RS_P = 1000000007
# ABS(user_id) % 100003 bounds the multiplicand so h*A stays < 2^63
# in BOTH engines (DuckDB errors on int64 overflow; Spark wraps).
_RS_UH = f"(ABS(user_id) % 100003) * {_RS_A}"

_RS_SERIES_DUCK = f"SELECT unnest(generate_series(1, {_RS_B})) AS b"

# Per-user total exact cents + the designed arm (the experiment
# fixture's user_id % 2 assignment, ml_cuped_adjustment's convention).
_RS_PU = f"""
      SELECT user_id, user_id % 2 AS arm,
             CAST(SUM({_CENTS}) AS BIGINT) AS c
      FROM __EVENTS__ GROUP BY user_id
"""

# Shared-snippet layout (the ml_cuped_stratified discipline): every
# arithmetic fragment below appears VERBATIM in both the oracle CTE
# chain and the Spark method chain. The Spark side checkpoints the
# user-grain frame once — a CTE form would re-inline the fact scan for
# each of its two consumers (observed stats + replicate draws) — and
# replicates via a map-side explode(sequence(1, B)) rather than a join.
_RS_OBS_EXPRS = [
    "CAST(COUNT(*) AS BIGINT) AS n_users",
    "CAST(SUM(CASE WHEN arm = 1 THEN c ELSE 0 END) AS BIGINT) AS os1",
    "CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS on1",
    "CAST(SUM(CASE WHEN arm = 0 THEN c ELSE 0 END) AS BIGINT) AS os0",
    "CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS on0",
]

_RS_OBS_DIFF = (
    "CASE WHEN on1 > 0 AND on0 > 0 THEN"
    " CAST(os1 AS DOUBLE) / on1 - CAST(os0 AS DOUBLE) / on0 END"
)

_RS_OBS_KEYS = ["n_users", "os1", "on1", "os0", "on0"]

# --- ml_permutation_test -----------------------------------------------------

_PT_FLIP = f"(({_RS_UH} + b * 40507) % {_RS_P}) % 2"

_PT_REP_PAIRS = [
    ("CAST(SUM(CASE WHEN flip = 1 THEN c ELSE 0 END) AS BIGINT)", "s1"),
    ("CAST(SUM(CASE WHEN flip = 1 THEN 1 ELSE 0 END) AS BIGINT)", "n1"),
    ("CAST(SUM(CASE WHEN flip = 0 THEN c ELSE 0 END) AS BIGINT)", "s0"),
    ("CAST(SUM(CASE WHEN flip = 0 THEN 1 ELSE 0 END) AS BIGINT)", "n0"),
]

_PT_DIFF = (
    "CASE WHEN n1 > 0 AND n0 > 0 THEN"
    " CAST(s1 AS DOUBLE) / n1 - CAST(s0 AS DOUBLE) / n0 END AS diff"
)

_PT_EXTREME = (
    f"CAST(SUM(CASE WHEN ABS(diff) >= ABS({_RS_OBS_DIFF})"
    " THEN 1 ELSE 0 END) AS BIGINT)"
)
_PT_PVALUE = (
    "(CAST(1 AS DOUBLE)"
    f" + SUM(CASE WHEN ABS(diff) >= ABS({_RS_OBS_DIFF})"
    f" THEN 1 ELSE 0 END)) / {_RS_B + 1}"
)

_PT_ORACLE = f"""
    WITH pu AS ({_RS_PU.replace("__EVENTS__", "events")}),
    series AS ({_RS_SERIES_DUCK}),
    obs AS (SELECT {", ".join(_RS_OBS_EXPRS)} FROM pu),
    draws AS (
      SELECT b, {_PT_FLIP} AS flip, c
      FROM pu CROSS JOIN series
    ),
    reps AS (
      SELECT b, {", ".join(f"{e} AS {a}" for e, a in _PT_REP_PAIRS)}
      FROM draws GROUP BY b
    ),
    rd AS (SELECT b, {_PT_DIFF} FROM reps)
    SELECT n_users,
           ({_RS_OBS_DIFF}) / 100 AS obs_diff,
           {_PT_EXTREME} AS n_extreme,
           {_PT_PVALUE} AS p_value
    FROM rd CROSS JOIN obs
    GROUP BY {", ".join(_RS_OBS_KEYS)}
"""


@query(
    "ml_permutation_test",
    oracle=_PT_ORACLE,
    note=f"Two-sample permutation test on the experiment's per-user "
    f"spend — the assumption-free significance readout next to "
    f"a_ab_test_ztest's normal approximation: {_RS_B} label "
    "permutations, p = (1 + #{{|perm diff| >= |observed diff|}}) / "
    f"({_RS_B + 1}). DETERMINISTIC randomization: permutation b "
    "reassigns each user by a Knuth multiplicative scramble of "
    "(user, b) mod 2 — both engines replay the identical draws, so "
    "the permuted group sums (exact BIGINT cents), every IEEE mean "
    "diff, and the extreme count match bit-for-bit. The multiplicand "
    "is bounded (ABS(user_id) % 100003) so the scramble never "
    "overflows int64 under either engine's semantics. Scale: ONE "
    "fact scan to a CHECKPOINTED user-grain frame feeding both the "
    "observed stats and the draws; the B-fold expansion is a "
    "map-side explode of a literal sequence — no replicate join at "
    "all — and per-(b) partial aggregation combines map-side, so "
    "the shuffle carries B*4 cells, not B*users rows. Replicates "
    "with an empty arm yield NULL diff and drop out of the extreme "
    "count through the same CASE in both engines.",
)
def ml_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "events")
    pu = spark.sql(
        _RS_PU.replace("__EVENTS__", "{e}"), e=e
    ).localCheckpoint(eager=False)
    obs = pu.selectExpr(*_RS_OBS_EXPRS)
    draws = pu.select(
        "user_id", "c", F.explode(F.sequence(F.lit(1), F.lit(_RS_B))).alias("b")
    ).selectExpr("b", f"{_PT_FLIP} AS flip", "c")
    reps = draws.groupBy("b").agg(
        *[F.expr(e_).alias(a) for e_, a in _PT_REP_PAIRS]
    )
    rd = reps.selectExpr("b", _PT_DIFF)
    return (
        rd.crossJoin(F.broadcast(obs))
        .groupBy(*_RS_OBS_KEYS)
        .agg(
            F.expr(_PT_EXTREME).alias("n_extreme"),
            F.expr(_PT_PVALUE).alias("p_value"),
        )
        .selectExpr(
            "n_users",
            f"({_RS_OBS_DIFF}) / 100 AS obs_diff",
            "n_extreme",
            "p_value",
        )
    )


# --- ml_bootstrap_poisson_ci -------------------------------------------------

# Poisson(1) pmf cumulative thresholds (literal doubles, identical
# text): P(0)=e^-1, then +e^-1, +e^-1/2, +e^-1/6; weights capped at 4
# (P(w>=5) ~ 0.4% -- the standard truncated-Poisson bootstrap).
_BS_U = f"CAST((({_RS_UH} + b * 48611 + 7919) % {_RS_P}) AS DOUBLE) / {_RS_P}"
_BS_W = (
    f"CASE WHEN {_BS_U} < 0.36787944117144233 THEN 0"
    f" WHEN {_BS_U} < 0.7357588823428847 THEN 1"
    f" WHEN {_BS_U} < 0.9196986029286058 THEN 2"
    f" WHEN {_BS_U} < 0.9810118431238462 THEN 3 ELSE 4 END"
)

_BS_REP_PAIRS = [
    ("CAST(SUM(CASE WHEN arm = 1 THEN w ELSE 0 END) AS BIGINT)", "w1"),
    ("CAST(SUM(CASE WHEN arm = 1 THEN w * c ELSE 0 END) AS BIGINT)", "wc1"),
    ("CAST(SUM(CASE WHEN arm = 0 THEN w ELSE 0 END) AS BIGINT)", "w0"),
    ("CAST(SUM(CASE WHEN arm = 0 THEN w * c ELSE 0 END) AS BIGINT)", "wc0"),
]

_BS_DIFF = "CAST(wc1 AS DOUBLE) / w1 - CAST(wc0 AS DOUBLE) / w0 AS diff"

_BS_LO = (
    "MAX(CASE WHEN rk = CAST(CEIL(0.025 * nv) AS BIGINT) THEN diff END)"
)
_BS_HI = (
    "MAX(CASE WHEN rk = nv + 1 - CAST(CEIL(0.025 * nv) AS BIGINT)"
    " THEN diff END)"
)

_BS_ORACLE = f"""
    WITH pu AS ({_RS_PU.replace("__EVENTS__", "events")}),
    series AS ({_RS_SERIES_DUCK}),
    obs AS (SELECT {", ".join(_RS_OBS_EXPRS)} FROM pu),
    draws AS (
      SELECT b, arm, c, {_BS_W} AS w
      FROM pu CROSS JOIN series
    ),
    reps AS (
      SELECT b, {", ".join(f"{e} AS {a}" for e, a in _BS_REP_PAIRS)}
      FROM draws GROUP BY b
    ),
    rd AS (
      SELECT b, {_BS_DIFF}
      FROM reps WHERE w1 > 0 AND w0 > 0
    ),
    ranked AS (
      SELECT diff,
             ROW_NUMBER() OVER (ORDER BY diff, b) AS rk,
             CAST(COUNT(*) OVER () AS BIGINT) AS nv
      FROM rd
    )
    SELECT nv AS n_reps,
           ({_RS_OBS_DIFF}) / 100 AS obs_diff,
           {_BS_LO} / 100 AS diff_lo,
           {_BS_HI} / 100 AS diff_hi,
           {_BS_LO} <= 0 AND {_BS_HI} >= 0 AS covers_zero
    FROM ranked CROSS JOIN obs
    GROUP BY nv, {", ".join(_RS_OBS_KEYS)}
"""


@query(
    "ml_bootstrap_poisson_ci",
    oracle=_BS_ORACLE,
    note=f"Poisson-bootstrap 95% CI for the arm mean-spend difference — "
    "THE bootstrap that works at 100 TB: instead of materializing B "
    "resample tables (an index join per replicate), each user gets a "
    f"deterministic truncated-Poisson(1) weight per replicate ({_RS_B} "
    "replicates; truncated-at-4 pmf thresholds as literal doubles), "
    "so the whole resample is one map-side expression — the "
    "large-scale-experimentation-platform standard. Randomization is "
    "the same Knuth-scramble-as-uniform as ml_permutation_test (a "
    "different additive seed decorrelates the two), so both engines "
    "draw identical weights; per-replicate weighted sums stay exact "
    "BIGINT (w <= 4, integer cents), means/diffs are IEEE text. The "
    "percentile CI takes order statistics rank ceil(0.025*n) and its "
    "mirror over the B replicate diffs — a global window over <= "
    f"{_RS_B} POST-AGG rows (plan-audit allowlisted, bounded by the "
    "replicate constant, not data size). Replicates with an "
    "empty-weight arm drop out identically in both engines before "
    "ranking. Scale: ONE fact scan to a CHECKPOINTED user-grain "
    "frame; the expansion is a map-side explode of a literal "
    "sequence with per-(b) map-side combine (B*4 shuffled cells); "
    "ranking input is B rows.",
)
def ml_bootstrap_poisson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    e = T(spark, sf_dir, "events")
    pu = spark.sql(
        _RS_PU.replace("__EVENTS__", "{e}"), e=e
    ).localCheckpoint(eager=False)
    obs = pu.selectExpr(*_RS_OBS_EXPRS)
    draws = pu.select(
        "user_id",
        "arm",
        "c",
        F.explode(F.sequence(F.lit(1), F.lit(_RS_B))).alias("b"),
    ).selectExpr("b", "arm", "c", f"{_BS_W} AS w")
    reps = draws.groupBy("b").agg(
        *[F.expr(e_).alias(a) for e_, a in _BS_REP_PAIRS]
    )
    rd = reps.filter("w1 > 0 AND w0 > 0").selectExpr("b", _BS_DIFF)
    ranked = rd.select(
        "diff",
        F.row_number().over(W.orderBy("diff", "b")).alias("rk"),
        F.count(F.lit(1)).over(W.partitionBy()).cast("bigint").alias("nv"),
    )
    return (
        ranked.crossJoin(F.broadcast(obs))
        .groupBy("nv", *_RS_OBS_KEYS)
        .agg(
            F.expr(f"{_BS_LO} / 100").alias("diff_lo"),
            F.expr(f"{_BS_HI} / 100").alias("diff_hi"),
            F.expr(f"{_BS_LO} <= 0 AND {_BS_HI} >= 0").alias("covers_zero"),
        )
        .selectExpr(
            "nv AS n_reps",
            f"({_RS_OBS_DIFF}) / 100 AS obs_diff",
            "diff_lo",
            "diff_hi",
            "covers_zero",
        )
    )


# --- ml_tost_equivalence -----------------------------------------------------

_TOST_DELTA = 50.0  # equivalence margin, cents
_TOST_Z = 1.6448536269514722  # z_{0.95}: two one-sided 5% tests

_TOST_SQL = f"""
    WITH pu AS (
      SELECT user_id, user_id % 3 AS stratum, user_id % 2 AS arm,
             CAST(SUM({_CENTS}) AS BIGINT) AS c
      FROM __EVENTS__ GROUP BY user_id
    ),
    cells AS (
      SELECT stratum,
             CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN arm = 1 THEN c ELSE 0 END) AS BIGINT) AS s1,
             CAST(SUM(CASE WHEN arm = 1 THEN CAST(c AS DECIMAL(38,0)) * c
                  ELSE CAST(0 AS DECIMAL(38,0)) END) AS DECIMAL(38,0)) AS q1,
             CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
             CAST(SUM(CASE WHEN arm = 0 THEN c ELSE 0 END) AS BIGINT) AS s0,
             CAST(SUM(CASE WHEN arm = 0 THEN CAST(c AS DECIMAL(38,0)) * c
                  ELSE CAST(0 AS DECIMAL(38,0)) END) AS DECIMAL(38,0)) AS q0
      FROM pu GROUP BY stratum
    ),
    stats AS (
      SELECT stratum, n1, n0,
             CASE WHEN n1 > 0 AND n0 > 0 THEN
               CAST(s1 AS DOUBLE) / n1 - CAST(s0 AS DOUBLE) / n0 END AS diff,
             CASE WHEN n1 > 1 AND n0 > 1 THEN
               CAST(CAST(n1 AS DECIMAL(38,0)) * q1
                    - CAST(s1 AS DECIMAL(38,0)) * s1 AS DOUBLE)
                 / (CAST(n1 AS DOUBLE) * (n1 - 1)) / n1
               + CAST(CAST(n0 AS DECIMAL(38,0)) * q0
                      - CAST(s0 AS DECIMAL(38,0)) * s0 AS DOUBLE)
                 / (CAST(n0 AS DOUBLE) * (n0 - 1)) / n0
             END AS se2
      FROM cells
    )
    SELECT stratum, n0 AS n_c, n1 AS n_t, diff / 100 AS mean_diff,
           z_lower, z_upper,
           CASE WHEN z_lower IS NULL OR z_upper IS NULL THEN FALSE
                ELSE z_lower > CAST({_TOST_Z} AS DOUBLE)
                     AND z_upper < -CAST({_TOST_Z} AS DOUBLE) END
             AS equivalent
    FROM (
      SELECT stratum, n1, n0, diff,
             CASE WHEN se2 > 0 THEN
               (diff + CAST({_TOST_DELTA} AS DOUBLE)) / SQRT(se2) END
               AS z_lower,
             CASE WHEN se2 > 0 THEN
               (diff - CAST({_TOST_DELTA} AS DOUBLE)) / SQRT(se2) END
               AS z_upper
      FROM stats
    ) scored
"""


@query(
    "ml_tost_equivalence",
    oracle=_TOST_SQL.replace("__EVENTS__", "events"),
    note="TOST equivalence readout (two one-sided tests, Schuirmann "
    "1987) per stratum: the ship/no-ship COMPLEMENT of the "
    "superiority z-test — 'the arms are the SAME within ±50 cents' is "
    "what a holdback or infra-migration experiment must show, and "
    "absence of significance is NOT evidence of equivalence. "
    "Equivalent iff (diff + delta)/se > z_0.95 AND (diff - delta)/se "
    "< -z_0.95 on the per-user mean-spend difference. Parity: "
    "per-(stratum, arm) moments folded in ONE conditional aggregate "
    "over the user-grain frame — firsts BIGINT, seconds "
    "DECIMAL(38,0) (n*q overflows int64 at sf0.1, the "
    "ml_cuped_adjustment precedent) — then Welch se and both z's as "
    "identical scalar IEEE text with one correctly-rounded SQRT; "
    "degenerate strata (an arm with n<=1 or zero variance) yield "
    "NULL z / FALSE through the same CASE guards in both engines. "
    "Scale: one fact scan -> user grain -> 3-row stratum aggregate; "
    "completes the experimentation lifecycle plan(power) -> "
    "guard(SRM) -> read(CUPED/DiD/permutation/bootstrap) -> "
    "monitor(group-sequential) -> decide(TOST).",
)
def ml_tost_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "events")
    return spark.sql(_TOST_SQL.replace("__EVENTS__", "{e}"), e=e)


# --- a_kde_epanechnikov ------------------------------------------------------

_KDE_CELL = 8.0  # grid pitch; ALSO the bandwidth h, which makes the
                 # one-ring scatter EXACT (see note)

_KDE_PTS = """
      SELECT value AS px, CAST(user_id % 100 AS DOUBLE) AS py
      FROM __EVENTS__
"""


@query(
    "a_kde_epanechnikov",
    oracle=f"""
    WITH pts AS ({_KDE_PTS.replace("__EVENTS__", "events")}),
    scat AS (
      SELECT CAST(FLOOR(px / 8.0) AS BIGINT) AS ix,
             CAST(FLOOR(py / 8.0) AS BIGINT) AS iy,
             CAST(FLOOR(px / 8.0) AS BIGINT) + dx.i AS jx,
             CAST(FLOOR(py / 8.0) AS BIGINT) + dy.i AS jy,
             px, py
      FROM pts,
           LATERAL (SELECT unnest(range(-1, 2)) AS i) dx,
           LATERAL (SELECT unnest(range(-1, 2)) AS i) dy
    ),
    dens AS (
      SELECT jx, jy,
             CAST(SUM({_KDE_WQ}) AS BIGINT) AS density_ppm,
             CAST(SUM(CASE WHEN jx = ix AND jy = iy THEN 1 ELSE 0 END)
               AS BIGINT) AS n_pts
      FROM scat GROUP BY jx, jy
    )
    SELECT jx AS ix, jy AS iy, n_pts, density_ppm
    FROM dens WHERE n_pts > 0
    """,
    note="Grid-blocked kernel density estimation with the Epanechnikov "
    "kernel, evaluated at every OCCUPIED cell center — the heatmap/"
    "hotspot surface a_hex_rollup's raw counts feed, with proper "
    "kernel weighting instead of binning. Kernel max(0, 1 - d2/h2) "
    "is POLYNOMIAL, so the weight is plain IEEE arithmetic as "
    "identical text (a Gaussian's exp() is not cross-engine "
    "bit-reproducible); each weight is FLOOR-quantized to an integer "
    "ppm grid per row BEFORE summation, so the cell aggregate is an "
    "order-independent BIGINT sum. Bandwidth h = cell pitch makes "
    "the one-ring scatter EXACT, not approximate: a point at |dcell| "
    ">= 2 sits at least 1.5 cells = 12 > h from the target center, "
    "where the clamped kernel is identically 0 — so ring-1 coverage "
    "loses nothing. Scale: the fact scatters 9x map-side (explode of "
    "a literal 3x3 ring — no join), one hash aggregate on the target "
    "cell key, occupancy filter rides the same aggregate (n_pts > "
    "0); shuffle volume = 9x fact pre-combine, cell-cardinality "
    "after. The training-data analog: embedding-space density "
    "screens over a 2-D projection.",
)
def a_kde_epanechnikov(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "events")
    pts = spark.sql(_KDE_PTS.replace("__EVENTS__", "{e}"), e=e)
    dens = kde_cell_density(pts)
    return dens.filter(F.col("n_pts") > 0).select(
        F.col("jx").alias("ix"), F.col("jy").alias("iy"), "n_pts", "density_ppm"
    )
