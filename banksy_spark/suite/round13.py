"""Round-13 additions: the experimentation-readout family CUPED opened
(round-12 verdict item 3b) plus the spatial family's third round
(item 3a).

Experimentation (all compose ml_cuped_adjustment's parity
architecture — every moment an EXACT integer-cent sum, scalar IEEE
ops as identical SQL text in both engines, no double accumulating
across rows):

- ml_cuped_stratified: post-stratified CUPED — per-stratum theta from
  pooled within-stratum moments, per-arm adjusted mean as the
  stratum-weighted combination. The weighted combination over the 3
  strata is an ORDER-PINNED fold (conditional-MAX pivot + explicit
  parenthesized addition), never a SUM over doubles.
- ml_srm_check: sample-ratio-mismatch chi-square per traffic segment —
  the guardrail every experimentation platform runs before reading any
  metric.
- ml_diff_in_diff: the 2x2 difference-in-differences estimator over
  the same pre/post split.
- ml_group_sequential: interim-look monitoring — cumulative per-look
  z-statistic vs a Pocock-style constant boundary, composing
  ml_sprt_sequential's sequential-testing surface.

Spatial (composes round12.py's exact-geometry machinery):

- j_trajectory_fence_crossing: segment-segment intersection join —
  local trajectory steps (consecutive per-user points) against the
  nation-derived rhombus fence edges, grid-blocked candidates, exact
  strict orientation (cross-product sign) test. The geofence
  enter/exit-detection shape.
- a_hex_rollup: hexagonal-bin density rollup (the H3-style heatmap
  aggregation) via the two-lattice nearest-center method — argmin of
  exact squared distances instead of cube rounding, so there is no
  round-half parity hazard.

Added later in the round:

- j_polygon_overlap_join: polygon-polygon overlap/containment join —
  grid+bbox candidates, pure-expression classifier over the
  (center, half-diagonal) rhombus parameterization.
- ml_experiment_power: MDE planning readout per segment, completing
  the plan -> guard -> read -> monitor experimentation lifecycle.
- a_hex_smoothing: hex-grid neighborhood smoothing — scatter-gather
  through a broadcast 14-row literal stencil over a_hex_rollup's
  cached base cell frame (the distributed stencil form: no fact
  self-join, shuffle volume = 7x hex cardinality).

All nine are beyond-reference experimentation/spatial operators (the
reference, a single-node odds scraper — arbitrage_scanner.py:1-514 —
has no experimentation or spatial layer); design notes cite the
brief's 100 TB scale bar instead of reference lines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from banksy_spark.suite.registry import T, query
from banksy_spark.suite.round12 import _PG_POLY_SQL, _nation_rhombi

# ---------------------------------------------------------------------------
# Shared experimentation snippets. Identical text in both engines; the
# cent cast is the CUPED-proven exact-money pattern (value is 2-dp by
# data contract, so CAST(value*100 AS DECIMAL(18,2)) -> BIGINT is
# exact).
_SPLIT_TS = "TIMESTAMP '2024-01-15 00:00:00'"
_CENTS = "CAST(CAST(value * 100 AS DECIMAL(18,2)) AS BIGINT)"


def _per_user_sql(src: str, extra_key: str = "") -> str:
    """Per-user pre/post exact-cent sums (user grain, ONE fact scan).
    extra_key adds a derived stratum column; both engines run the
    identical text with only the source relation differing."""
    key = f" user_id % 3 AS stratum," if extra_key == "stratum" else ""
    return f"""
      SELECT user_id, user_id % 2 AS arm,{key}
             CAST(SUM(CASE WHEN ts < {_SPLIT_TS}
                  THEN {_CENTS} ELSE 0 END) AS BIGINT) AS pre_c,
             CAST(SUM(CASE WHEN ts >= {_SPLIT_TS}
                  THEN {_CENTS} ELSE 0 END) AS BIGINT) AS post_c
      FROM {src} GROUP BY user_id
    """


# --- ml_cuped_stratified ----------------------------------------------------

# (stratum, arm) cell moments: first moments exact BIGINT, second /
# cross moments DECIMAL(38,0) (n*spt overflows int64 at sf0.1 — same
# justification as ml_cuped_adjustment).
def _strat_cells_sql(src: str) -> str:
    return f"""
      SELECT stratum, arm, CAST(COUNT(*) AS BIGINT) AS n_c,
             CAST(SUM(pre_c) AS BIGINT) AS sp_c,
             CAST(SUM(post_c) AS BIGINT) AS st_c,
             CAST(SUM(CAST(pre_c AS DECIMAL(38,0)) * pre_c) AS DECIMAL(38,0))
               AS spp_c,
             CAST(SUM(CAST(pre_c AS DECIMAL(38,0)) * post_c) AS DECIMAL(38,0))
               AS spt_c
      FROM ({_per_user_sql(src, "stratum")}) per_user
      GROUP BY stratum, arm
    """


# Pooled WITHIN-stratum theta from the cell sums (exact integer sums
# are associative, so stratum-sum == pooled within-stratum sum and the
# fact is never re-read). Zero-variance strata take the theta=0 CASE
# arm in both engines instead of 0/0 NaN. Every stage below is a
# shared EXPRESSION list so the Spark side can run DataFrame methods
# on the persisted cells frame (spark.sql DataFrame interpolation does
# NOT hit the cache — measured 3 fact scans — while method chaining on
# the cached frame plans InMemoryTableScan) with text identical to the
# oracle's CTE chain.
_STRAT_MOM_EXPRS = [
    "CAST(SUM(n_c) AS BIGINT) AS n_s",
    "CAST(SUM(sp_c) AS BIGINT) AS sp_s",
    "CAST(SUM(st_c) AS BIGINT) AS st_s",
    "CAST(SUM(spp_c) AS DECIMAL(38,0)) AS spp_s",
    "CAST(SUM(spt_c) AS DECIMAL(38,0)) AS spt_s",
]
_STRAT_COV = (
    "CAST(CAST(n_s AS DECIMAL(38,0)) * spt_s"
    " - CAST(sp_s AS DECIMAL(38,0)) * st_s AS DOUBLE) AS cov_n2"
)
_STRAT_VARP = (
    "CAST(CAST(n_s AS DECIMAL(38,0)) * spp_s"
    " - CAST(sp_s AS DECIMAL(38,0)) * sp_s AS DOUBLE) AS varp_n2"
)
_STRAT_THETA = (
    "CASE WHEN varp_n2 = 0 THEN 0.0 ELSE cov_n2 / varp_n2 END AS theta_s"
)
_STRAT_TOTAL = "CAST(SUM(n_s) AS BIGINT) AS n"

# Per-cell contribution to the post-stratified arm mean: pooled
# stratum weight (n_s / n) times the CUPED-adjusted cell mean. One
# scalar IEEE expression per cell — the cross-row combination happens
# in the ORDER-PINNED pivot below, never as a float SUM.
_STRAT_CONTRIB = (
    "(CAST(n_s AS DOUBLE) / n)"
    " * (CAST(st_c AS DOUBLE) / n_c"
    " - theta_s * (CAST(sp_c AS DOUBLE) / n_c"
    " - CAST(sp_s AS DOUBLE) / n_s)) AS contrib"
)

# Conditional-MAX pivot + explicit parenthesization pins the addition
# order of the 3 stratum contributions — a float SUM over the strata
# would be reduce-order-sensitive across engines. Strata that lost all
# users under a fuzz regime contribute COALESCE 0 in both engines.
_STRAT_FINAL_EXPRS = [
    "CAST(SUM(n_c) AS BIGINT) AS n_users",
    "CAST(SUM(st_c) AS DOUBLE) / SUM(n_c) / 100 AS mean_post",
    "((COALESCE(MAX(CASE WHEN stratum = 0 THEN contrib END), 0.0)"
    " + COALESCE(MAX(CASE WHEN stratum = 1 THEN contrib END), 0.0))"
    " + COALESCE(MAX(CASE WHEN stratum = 2 THEN contrib END), 0.0))"
    " / 100 AS mean_adjusted",
    "MAX(CASE WHEN stratum = 0 THEN theta_s END) AS theta_s0",
    "MAX(CASE WHEN stratum = 1 THEN theta_s END) AS theta_s1",
    "MAX(CASE WHEN stratum = 2 THEN theta_s END) AS theta_s2",
]


@query(
    "ml_cuped_stratified",
    oracle=f"""
    WITH cells AS ({_strat_cells_sql("events")}),
    moments AS (
      SELECT stratum, {", ".join(_STRAT_MOM_EXPRS)}
      FROM cells GROUP BY stratum
    ),
    derived AS (
      SELECT stratum, n_s, sp_s, st_s, {_STRAT_COV}, {_STRAT_VARP}
      FROM moments
    ),
    strata AS (
      SELECT stratum, n_s, sp_s, st_s, {_STRAT_THETA} FROM derived
    ),
    totals AS (SELECT {_STRAT_TOTAL} FROM strata),
    cellx AS (
      SELECT arm, stratum, n_c, st_c, theta_s, {_STRAT_CONTRIB}
      FROM cells JOIN strata USING (stratum) CROSS JOIN totals
    )
    SELECT arm, {", ".join(_STRAT_FINAL_EXPRS)} FROM cellx GROUP BY arm
    """,
    note="Post-stratified CUPED readout: strata = user cohort "
    "(user_id % 3), per-stratum theta from pooled WITHIN-stratum "
    "pre/post moments, per-arm adjusted mean = sum over strata of "
    "(n_s/n) * (cell post mean - theta_s * (cell pre mean - stratum "
    "pre mean)) — the variance-reduction form experimentation "
    "platforms use when assignment is stratified or the covariate "
    "relationship differs by cohort. Parity architecture is "
    "ml_cuped_adjustment's: every moment is an exact integer-cent sum "
    "(BIGINT firsts, DECIMAL(38,0) seconds — n*spt overflows int64 at "
    "sf0.1), theta/means are scalar IEEE ops with identical SQL text "
    "in both engines, and the cross-stratum combination is an ORDER-"
    "PINNED fold: conditional-MAX pivot over the 3 strata plus "
    "explicitly parenthesized addition, because a float SUM across "
    "rows is reduce-order-sensitive. Zero-variance strata take the "
    "theta=0 CASE arm; strata emptied by a fuzz regime contribute "
    "COALESCE 0 identically in both engines. Scale: ONE fact scan -> "
    "user-keyed shuffle builds per_user -> one (stratum, arm) "
    "aggregate yields the 6-row cells frame, which is persisted and "
    "feeds strata (3 rows), totals (1 row) and the final pivot — "
    "nothing downstream of cells ever re-reads the fact (the "
    "unpersisted form re-inlines the whole per_user build per "
    "consumer, same measurement as ml_cuped_adjustment).",
)
def ml_cuped_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "events")
    # cells is the ONLY frame that touches the fact; persist the 6-row
    # result so strata/totals/final fan out from the cached build via
    # DataFrame METHODS (cached-bounded-frame discipline,
    # ml_cuped_adjustment pattern — spark.sql DataFrame interpolation
    # bypasses the CacheManager and re-planned 3 fact scans).
    cells = spark.sql(_strat_cells_sql("{e}"), e=e).persist()
    moments = cells.groupBy("stratum").agg(
        *[F.expr(x) for x in _STRAT_MOM_EXPRS]
    )
    derived = moments.selectExpr(
        "stratum", "n_s", "sp_s", "st_s", _STRAT_COV, _STRAT_VARP
    )
    strata = derived.selectExpr("stratum", "n_s", "sp_s", "st_s", _STRAT_THETA)
    totals = strata.agg(F.expr(_STRAT_TOTAL))
    cellx = (
        cells.join(strata, "stratum")
        .crossJoin(F.broadcast(totals))
        .selectExpr("arm", "stratum", "n_c", "st_c", "theta_s", _STRAT_CONTRIB)
    )
    return cellx.groupBy("arm").agg(*[F.expr(x) for x in _STRAT_FINAL_EXPRS])


# --- ml_srm_check -----------------------------------------------------------

_SRM_SQL = """
    WITH seg AS (
      SELECT event_type,
             CAST(COUNT(DISTINCT CASE WHEN user_id % 2 = 0
                  THEN user_id END) AS BIGINT) AS n0,
             CAST(COUNT(DISTINCT CASE WHEN user_id % 2 = 1
                  THEN user_id END) AS BIGINT) AS n1
      FROM __EVENTS__ GROUP BY event_type
    )
    SELECT event_type, n0, n1,
           ((CAST(n0 AS DOUBLE) - ex) * (CAST(n0 AS DOUBLE) - ex)
            + (CAST(n1 AS DOUBLE) - ex) * (CAST(n1 AS DOUBLE) - ex)) / ex
             AS chi2,
           ((CAST(n0 AS DOUBLE) - ex) * (CAST(n0 AS DOUBLE) - ex)
            + (CAST(n1 AS DOUBLE) - ex) * (CAST(n1 AS DOUBLE) - ex)) / ex
             > CAST(10.828 AS DOUBLE) AS srm_flag
    FROM (SELECT event_type, n0, n1,
                 (CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE)) / 2 AS ex
          FROM seg) sized
"""


@query(
    "ml_srm_check",
    oracle=_SRM_SQL.replace("__EVENTS__", "events"),
    note="Sample-ratio-mismatch guardrail per traffic segment: distinct "
    "users exposed per arm per event_type, 1-df chi-square against the "
    "designed 50/50 split, flagged at the p<0.001 critical value "
    "10.828 — the check every experimentation platform runs BEFORE "
    "reading any metric (a mismatched ratio invalidates the readout). "
    "Counts are exact integers (two COUNT DISTINCTs in one aggregate — "
    "Spark plans the expand + two-phase distinct, no second fact "
    "scan); chi2 is a handful of scalar IEEE ops as identical SQL text "
    "in both engines, so parity is bit-exact. ex > 0 whenever the "
    "segment row exists (a group implies >= 1 event => >= 1 user), so "
    "the division is ANSI-safe by construction. Scale: one fact scan, "
    "one distinct-expand shuffle keyed (event_type, user_id) — "
    "segment cardinality is metadata-sized, user cardinality carries "
    "the shuffle; no all-pairs shape anywhere.",
)
def ml_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "events")
    return spark.sql(_SRM_SQL.replace("__EVENTS__", "{e}"), e=e)


# --- ml_diff_in_diff --------------------------------------------------------

_DID_SQL = f"""
    WITH per_user AS ({_per_user_sql("__EVENTS__")}),
    cells AS (
      SELECT CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
             CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN arm = 0 THEN pre_c ELSE 0 END) AS BIGINT)
               AS sp0,
             CAST(SUM(CASE WHEN arm = 1 THEN pre_c ELSE 0 END) AS BIGINT)
               AS sp1,
             CAST(SUM(CASE WHEN arm = 0 THEN post_c ELSE 0 END) AS BIGINT)
               AS st0,
             CAST(SUM(CASE WHEN arm = 1 THEN post_c ELSE 0 END) AS BIGINT)
               AS st1
      FROM per_user
    )
    SELECT n0, n1,
           CASE WHEN n0 > 0 THEN CAST(sp0 AS DOUBLE) / n0 / 100 END
             AS mean_pre_c,
           CASE WHEN n0 > 0 THEN CAST(st0 AS DOUBLE) / n0 / 100 END
             AS mean_post_c,
           CASE WHEN n1 > 0 THEN CAST(sp1 AS DOUBLE) / n1 / 100 END
             AS mean_pre_t,
           CASE WHEN n1 > 0 THEN CAST(st1 AS DOUBLE) / n1 / 100 END
             AS mean_post_t,
           CASE WHEN n0 > 0 AND n1 > 0 THEN
             ((CAST(st1 AS DOUBLE) / n1 - CAST(sp1 AS DOUBLE) / n1)
              - (CAST(st0 AS DOUBLE) / n0 - CAST(sp0 AS DOUBLE) / n0)) / 100
           END AS did
    FROM cells
"""


@query(
    "ml_diff_in_diff",
    oracle=_DID_SQL.replace("__EVENTS__", "events"),
    note="The 2x2 difference-in-differences estimator over the CUPED "
    "pre/post split: per-user period outcomes (exact cents), four "
    "arm x period cell means, DiD = (post_t - pre_t) - (post_c - "
    "pre_c) — the causal readout when treatment start is a calendar "
    "date rather than a randomized exposure. Every cell sum is an "
    "exact BIGINT folded in ONE conditional aggregate over the "
    "user-grain frame (no join between arms, no second scan); the "
    "five output doubles are scalar IEEE ops as identical SQL text. "
    "An arm emptied by a fuzz regime yields NULL means/did through "
    "the same CASE guard in both engines (ANSI-safe: no division by "
    "a zero count can execute). Scale: one fact scan -> user-keyed "
    "shuffle -> single global aggregate; output is one row.",
)
def ml_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "events")
    return spark.sql(_DID_SQL.replace("__EVENTS__", "{e}"), e=e)


# --- ml_group_sequential ----------------------------------------------------

# Interim looks = Jan-2024 weeks (calendar-bounded by the fixture/fuzz
# data contract): days 1-7, 8-14, 15-21, 22-28, 29-31 fold to looks
# 1..5. Division is double (both engines), FLOOR/LEAST exact.
_GS_LOOK = (
    "LEAST(CAST(FLOOR((EXTRACT(DAY FROM ts) - 1) / 7.0) AS INT), 4) + 1"
)

_GS_SQL = f"""
    WITH looks AS (
      SELECT {_GS_LOOK} AS look, user_id % 2 AS arm, {_CENTS} AS c
      FROM __EVENTS__
    ),
    la AS (
      SELECT look,
             CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
             CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN arm = 0 THEN c ELSE 0 END) AS BIGINT) AS s0,
             CAST(SUM(CASE WHEN arm = 1 THEN c ELSE 0 END) AS BIGINT) AS s1,
             CAST(SUM(CASE WHEN arm = 0 THEN CAST(c AS DECIMAL(38,0)) * c
                  ELSE CAST(0 AS DECIMAL(38,0)) END) AS DECIMAL(38,0)) AS q0,
             CAST(SUM(CASE WHEN arm = 1 THEN CAST(c AS DECIMAL(38,0)) * c
                  ELSE CAST(0 AS DECIMAL(38,0)) END) AS DECIMAL(38,0)) AS q1
      FROM looks GROUP BY look
    ),
    cum AS (
      SELECT look,
             CAST(SUM(n0) OVER (ORDER BY look ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS BIGINT) AS cn0,
             CAST(SUM(n1) OVER (ORDER BY look ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS BIGINT) AS cn1,
             CAST(SUM(s0) OVER (ORDER BY look ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS BIGINT) AS cs0,
             CAST(SUM(s1) OVER (ORDER BY look ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS BIGINT) AS cs1,
             CAST(SUM(q0) OVER (ORDER BY look ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS DECIMAL(38,0)) AS cq0,
             CAST(SUM(q1) OVER (ORDER BY look ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS DECIMAL(38,0)) AS cq1
      FROM la
    ),
    stats AS (
      SELECT look, cn0, cn1,
             CASE WHEN cn0 > 0 THEN CAST(cs0 AS DOUBLE) / cn0 END AS mc_c,
             CASE WHEN cn1 > 0 THEN CAST(cs1 AS DOUBLE) / cn1 END AS mt_c,
             CAST(CAST(cn0 + cn1 AS DECIMAL(38,0)) * (cq0 + cq1)
                  - CAST(cs0 + cs1 AS DECIMAL(38,0)) * (cs0 + cs1)
                  AS DOUBLE) AS var_n2
      FROM cum
    )
    SELECT look, cn0 AS n_c, cn1 AS n_t,
           mc_c / 100 AS mean_c, mt_c / 100 AS mean_t, z,
           CASE WHEN z IS NULL THEN FALSE
                ELSE ABS(z) > CAST(2.413 AS DOUBLE) END AS crossed
    FROM (
      SELECT look, cn0, cn1, mc_c, mt_c,
             CASE WHEN cn0 > 0 AND cn1 > 0 AND var_n2 > 0 THEN
               (mt_c - mc_c)
               / SQRT((var_n2 / (CAST(cn0 + cn1 AS DOUBLE)
                                 * CAST(cn0 + cn1 AS DOUBLE)))
                      * (CAST(1 AS DOUBLE) / cn0 + CAST(1 AS DOUBLE) / cn1))
             END AS z
      FROM stats
    ) scored
"""


@query(
    "ml_group_sequential",
    oracle=_GS_SQL.replace("__EVENTS__", "events"),
    note="Group-sequential A/B monitoring readout: weekly interim looks "
    "over the Jan-2024 calendar, cumulative per-arm event-grain "
    "moments at each look, running two-sample z-statistic against the "
    "Pocock constant boundary 2.413 (K=5, alpha=0.05 two-sided) — "
    "composes ml_sprt_sequential's sequential-testing surface with "
    "the interim-look schedule real platforms publish. Event-grain z "
    "(each observation one event) is the monitoring dashboard's form; "
    "the user-grain confirmatory readout is ml_cuped_adjustment/"
    "ml_diff_in_diff. Parity: per-look moments are exact (BIGINT "
    "firsts, DECIMAL(38,0) seconds), the cumulative fold is a window "
    "SUM over EXACT integers (order-insensitive), and z is scalar "
    "IEEE ops incl. one correctly-rounded SQRT as identical SQL text. "
    "Looks with an empty arm or zero variance yield NULL z / FALSE "
    "crossed through the same CASE guards in both engines (ANSI-safe). "
    "Scale: one fact scan -> one 5-group aggregate; the cumulative "
    "window runs over <= 5 POST-AGG rows (bounded by the look "
    "schedule K, not data size — plan-audit allowlisted like "
    "ml_lift_gains' decile frame).",
)
def ml_group_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "events")
    return spark.sql(_GS_SQL.replace("__EVENTS__", "{e}"), e=e)


# --- j_trajectory_fence_crossing --------------------------------------------

_TRAJ_CELL = 8.0  # candidate-blocking grid cell (round12 _PG_CELL scale)
_TRAJ_MAX_STEP = 12.0  # local-motion bound: |dx|,|dy| <= 12 per step


def _ccw(ax: str, ay: str, bx: str, by: str, cx: str, cy: str) -> str:
    """Orientation cross product sign — exact strict-intersection
    primitive; identical text in both engines."""
    return (
        f"(({bx} - {ax}) * ({cy} - {ay}) - ({by} - {ay}) * ({cx} - {ax}))"
    )


# Strict proper-intersection predicate between trajectory segment
# (sx1,sy1)-(sx2,sy2) and fence edge (x1,y1)-(x2,y2): endpoints of each
# strictly on opposite sides of the other's supporting line. Touching /
# collinear contact is excluded by the strict < — and because both
# engines evaluate the identical IEEE expression, the classification is
# bit-identical regardless.
_TRAJ_PRED = (
    f"({_ccw('sx1', 'sy1', 'sx2', 'sy2', 'x1', 'y1')}"
    f" * {_ccw('sx1', 'sy1', 'sx2', 'sy2', 'x2', 'y2')} < CAST(0 AS DOUBLE)"
    f" AND {_ccw('x1', 'y1', 'x2', 'y2', 'sx1', 'sy1')}"
    f" * {_ccw('x1', 'y1', 'x2', 'y2', 'sx2', 'sy2')} < CAST(0 AS DOUBLE))"
)

# Per-user consecutive points (ordered by ts with the event_id
# tie-break — l_linenumber lesson) form trajectory steps; the
# local-motion filter keeps each step's bbox within a 3x3 cell block.
_TRAJ_SEGS = f"""
      SELECT user_id, seg_id, sx1, sy1, sx2, sy2
      FROM (
        SELECT user_id, event_id AS seg_id, value AS sx1,
               CAST(event_id % 100 AS DOUBLE) AS sy1,
               LEAD(value) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id) AS sx2,
               LEAD(CAST(event_id % 100 AS DOUBLE)) OVER (PARTITION BY
                 user_id ORDER BY ts, event_id) AS sy2
        FROM __EVENTS__
      ) stepped
      WHERE sx2 IS NOT NULL
        AND ABS(sx2 - sx1) <= CAST({_TRAJ_MAX_STEP!r} AS DOUBLE)
        AND ABS(sy2 - sy1) <= CAST({_TRAJ_MAX_STEP!r} AS DOUBLE)
"""


# The 4 numbered edges (edge_id, x1, y1, x2, y2) of each rhombus in
# ``polys`` (poly_id, cx, cy, dx, dy), CCW from the +x vertex.
_EDGES_DUCK = """
      SELECT poly_id, 0 AS edge_id, cx + dx AS x1, cy AS y1,
             cx AS x2, cy + dy AS y2 FROM polys
      UNION ALL SELECT poly_id, 1, cx, cy + dy, cx - dx, cy FROM polys
      UNION ALL SELECT poly_id, 2, cx - dx, cy, cx, cy - dy FROM polys
      UNION ALL SELECT poly_id, 3, cx, cy - dy, cx + dx, cy FROM polys
"""


def _rhombus_edges(polys: DataFrame) -> DataFrame:
    """Spark form of _EDGES_DUCK: one literal-arity stack, no union."""
    return polys.selectExpr(
        "poly_id",
        "stack(4,"
        " 0, cx + dx, cy, cx, cy + dy,"
        " 1, cx, cy + dy, cx - dx, cy,"
        " 2, cx - dx, cy, cx, cy - dy,"
        " 3, cx, cy - dy, cx + dx, cy"
        ") AS (edge_id, x1, y1, x2, y2)",
    )


@query(
    "j_trajectory_fence_crossing",
    oracle=f"""
    WITH segs AS ({_TRAJ_SEGS.replace("__EVENTS__", "events")}),
    polys AS ({_PG_POLY_SQL}),
    edges AS ({_EDGES_DUCK}),
    ecover AS (
      SELECT e.*, ix.i AS ix, iy.i AS iy
      FROM edges e,
           LATERAL (SELECT unnest(range(
             CAST(FLOOR(LEAST(x1, x2) / {_TRAJ_CELL}) AS BIGINT),
             CAST(FLOOR(GREATEST(x1, x2) / {_TRAJ_CELL}) AS BIGINT) + 1))
             AS i) ix,
           LATERAL (SELECT unnest(range(
             CAST(FLOOR(LEAST(y1, y2) / {_TRAJ_CELL}) AS BIGINT),
             CAST(FLOOR(GREATEST(y1, y2) / {_TRAJ_CELL}) AS BIGINT) + 1))
             AS i) iy
    ),
    scover AS (
      SELECT s.*, ix.i AS ix, iy.i AS iy
      FROM segs s,
           LATERAL (SELECT unnest(range(
             CAST(FLOOR(LEAST(sx1, sx2) / {_TRAJ_CELL}) AS BIGINT),
             CAST(FLOOR(GREATEST(sx1, sx2) / {_TRAJ_CELL}) AS BIGINT) + 1))
             AS i) ix,
           LATERAL (SELECT unnest(range(
             CAST(FLOOR(LEAST(sy1, sy2) / {_TRAJ_CELL}) AS BIGINT),
             CAST(FLOOR(GREATEST(sy1, sy2) / {_TRAJ_CELL}) AS BIGINT) + 1))
             AS i) iy
    ),
    cand AS (
      SELECT DISTINCT s.user_id, s.seg_id, s.sx1, s.sy1, s.sx2, s.sy2,
             e.poly_id, e.edge_id, e.x1, e.y1, e.x2, e.y2
      FROM scover s JOIN ecover e ON s.ix = e.ix AND s.iy = e.iy
    )
    SELECT user_id, seg_id, poly_id,
           CAST(COUNT(*) AS BIGINT) AS n_edges_crossed
    FROM cand WHERE {_TRAJ_PRED}
    GROUP BY user_id, seg_id, poly_id
    """,
    note="Segment-segment intersection join — geofence boundary-crossing "
    "detection: consecutive per-user points form trajectory steps "
    "(ts-ordered with the event_id tie-break), the 25 nation-derived "
    "rhombus fences contribute 100 edges, and a step matches a fence "
    "when it STRICTLY crosses an edge (both orientation cross-product "
    "pairs change sign — exact arithmetic, no division anywhere). "
    "Candidates come ONLY from grid-cell collisions: the local-motion "
    "bound (|dx|,|dy| <= 12 per step — GPS-glitch teleports are not "
    "boundary crossings) caps a step's bbox at a 3x3 cell block, edge "
    "coverage is metadata-sized (100 edges x <= ~6 cells, broadcast), "
    "and a DISTINCT collapses multi-cell pair collisions before the "
    "exact test — never segments x edges. Parity: every coordinate "
    "and the cross products are identical IEEE expression text in "
    "both engines, so even boundary-adjacent classifications agree "
    "bit-for-bit. Scale: the segment build is one user-keyed window "
    "(fact grain), the candidate join is broadcast, the DISTINCT and "
    "final aggregate are keyed at candidate/(seg, poly) grain — "
    "bounded by cell-local density exactly like j_knn_grid_join.",
)
def j_trajectory_fence_crossing(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "events")
    segs = spark.sql(_TRAJ_SEGS.replace("__EVENTS__", "{e}"), e=e)
    # same rhombus spec as the oracle's polys CTE (// is DuckDB's
    # integer division, DIV is Spark's — the only dialect split)
    polys = _nation_rhombi(spark, sf_dir)
    edges = _rhombus_edges(polys)

    def cover(df: DataFrame, xa: str, xb: str, ya: str, yb: str) -> DataFrame:
        return df.select(
            "*",
            F.explode(
                F.sequence(
                    F.floor(F.least(xa, xb) / _TRAJ_CELL).cast("bigint"),
                    F.floor(F.greatest(xa, xb) / _TRAJ_CELL).cast("bigint"),
                )
            ).alias("ix"),
        ).select(
            "*",
            F.explode(
                F.sequence(
                    F.floor(F.least(ya, yb) / _TRAJ_CELL).cast("bigint"),
                    F.floor(F.greatest(ya, yb) / _TRAJ_CELL).cast("bigint"),
                )
            ).alias("iy"),
        )

    ecover = cover(edges, "x1", "x2", "y1", "y2")
    scover = cover(segs, "sx1", "sx2", "sy1", "sy2")
    cand = (
        scover.join(F.broadcast(ecover), ["ix", "iy"])
        .select(
            "user_id", "seg_id", "sx1", "sy1", "sx2", "sy2",
            "poly_id", "edge_id", "x1", "y1", "x2", "y2",
        )
        .distinct()
    )
    return (
        cand.filter(F.expr(_TRAJ_PRED))
        .groupBy("user_id", "seg_id", "poly_id")
        .agg(F.count("*").cast("bigint").alias("n_edges_crossed"))
    )


# --- a_hex_rollup -----------------------------------------------------------

# Pointy-top hexagons with circumradius R = 7.5: centers form TWO
# rectangular lattices (horizontal pitch W = sqrt(3)*R, vertical pitch
# 3R = 22.5), lattice B offset by (W/2, 1.5R = 11.25). The nearest
# rectangular-lattice point is independent per-axis FLOOR(v/pitch+0.5)
# (exact — no round-half-mode divergence), and the nearer of the two
# lattice candidates IS the nearest hex center, whose Voronoi cell is
# the hexagon. W is irrational but computed by the identical
# SQRT-expression text in both engines, so every derived coordinate is
# bit-identical.
_HEX_W = "(SQRT(CAST(3 AS DOUBLE)) * CAST(7.5 AS DOUBLE))"
_HEX_VP = "CAST(22.5 AS DOUBLE)"  # vertical pitch 3R
_HEX_VOFF = "CAST(11.25 AS DOUBLE)"  # lattice-B vertical offset 1.5R
_HEX_HALF = "CAST(0.5 AS DOUBLE)"

# Base hex-cell aggregate (lat, qi, qj, n_events, sum_cents) — shared
# by a_hex_rollup (which decorates it with centers) and a_hex_smoothing
# (which scatters it through the neighbor stencil).
_HEX_BASE_SQL = f"""
      WITH pts AS (
        SELECT value AS x, CAST(user_id % 100 AS DOUBLE) AS y,
               {_CENTS} AS c
        FROM __EVENTS__
      ),
      cand AS (
        SELECT x, y, c,
               CAST(FLOOR(x / {_HEX_W} + {_HEX_HALF}) AS BIGINT) AS ia,
               CAST(FLOOR(y / {_HEX_VP} + {_HEX_HALF}) AS BIGINT) AS ja,
               CAST(FLOOR((x - {_HEX_W} / CAST(2 AS DOUBLE)) / {_HEX_W}
                    + {_HEX_HALF}) AS BIGINT) AS ib,
               CAST(FLOOR((y - {_HEX_VOFF}) / {_HEX_VP} + {_HEX_HALF})
                    AS BIGINT) AS jb
        FROM pts
      ),
      scored AS (
        SELECT x, y, c, ia, ja, ib, jb,
               (x - ia * {_HEX_W}) * (x - ia * {_HEX_W})
               + (y - ja * {_HEX_VP}) * (y - ja * {_HEX_VP}) AS da2,
               (x - (ib * {_HEX_W} + {_HEX_W} / CAST(2 AS DOUBLE)))
               * (x - (ib * {_HEX_W} + {_HEX_W} / CAST(2 AS DOUBLE)))
               + (y - (jb * {_HEX_VP} + {_HEX_VOFF}))
               * (y - (jb * {_HEX_VP} + {_HEX_VOFF})) AS db2
        FROM cand
      ),
      assigned AS (
        SELECT CASE WHEN db2 < da2 THEN 1 ELSE 0 END AS lat,
               CASE WHEN db2 < da2 THEN ib ELSE ia END AS qi,
               CASE WHEN db2 < da2 THEN jb ELSE ja END AS qj,
               c
        FROM scored
      )
      SELECT lat, qi, qj,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(c) AS BIGINT) AS sum_cents
      FROM assigned GROUP BY lat, qi, qj
"""

_HEX_SQL = f"""
    WITH base AS ({_HEX_BASE_SQL})
    SELECT lat, qi, qj,
           CASE WHEN lat = 1 THEN qi * {_HEX_W} + {_HEX_W} / CAST(2 AS DOUBLE)
                ELSE qi * {_HEX_W} END AS hex_cx,
           CASE WHEN lat = 1 THEN qj * {_HEX_VP} + {_HEX_VOFF}
                ELSE qj * {_HEX_VP} END AS hex_cy,
           n_events, sum_cents,
           CAST(sum_cents AS DOUBLE) / n_events / 100 AS avg_value
    FROM base
"""


@query(
    "a_hex_rollup",
    oracle=_HEX_SQL.replace("__EVENTS__", "events"),
    note="Hexagonal-bin density rollup (the H3-style heatmap aggregation, "
    "a_tile_pyramid's hex twin): pointy-top hexagons R=7.5 assigned by "
    "the TWO-LATTICE nearest-center method — hex centers are the union "
    "of two rectangular lattices, the nearest point of each lattice is "
    "an exact per-axis FLOOR(v/pitch + 0.5), and the argmin of the two "
    "exact squared distances is the true hex assignment (hexagons ARE "
    "the Voronoi cells of the center set). Chosen over the textbook "
    "axial cube-rounding precisely because it needs NO round() — "
    "engines disagree on round-half modes, FLOOR and comparisons "
    "cannot. W = sqrt(3)*R is irrational but derived from the "
    "identical SQRT text in both engines, so candidates, distances "
    "and the argmin comparison are all bit-identical; group keys are "
    "the INTEGER lattice coords (lat, qi, qj), never grouped-by "
    "doubles, with centers recomputed from the keys post-agg. Money "
    "aggregates in exact cents. Scale: pure map-side assignment "
    "(whole-stage codegen, zero joins) + ONE hash aggregate keyed by "
    "hex cell — partial aggregation collapses each map partition to "
    "its local hex set before the shuffle, so shuffle volume is hex "
    "cardinality, not event cardinality.",
)
def a_hex_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "events")
    return spark.sql(_HEX_SQL.replace("__EVENTS__", "{e}"), e=e)


# --- j_polygon_overlap_join -------------------------------------------------

# Polygon-polygon classification join between two rhombus catalogs:
# A = the round-12 nation rhombi (x.5 grid), B = supplier-derived
# rhombi on an x.25 grid (different offsets so the catalogs interleave
# rather than align). Both catalogs are parameterized by (center,
# half-diagonals), so EVERY geometric predicate below is a pure scalar
# expression over 8 columns — the classification needs no edge tables
# and no joins beyond the grid-cell candidate equi-join.
_POV_CELL = 8.0

_B_POLY_SPARK = [
    "s_suppkey AS b_id",
    "CAST(15.25 AS DOUBLE) + (s_suppkey % 11) * 17 AS bcx",
    "CAST(5.25 AS DOUBLE) + (s_suppkey % 13) * 7 AS bcy",
    "CAST(2.75 AS DOUBLE) + (s_suppkey % 5) AS bdx",
    "CAST(3.25 AS DOUBLE) + (s_suppkey % 4) AS bdy",
]
_B_POLY_ORACLE = """
      SELECT s_suppkey AS b_id,
             CAST(15.25 AS DOUBLE) + (s_suppkey % 11) * 17 AS bcx,
             CAST(5.25 AS DOUBLE) + (s_suppkey % 13) * 7 AS bcy,
             CAST(2.75 AS DOUBLE) + (s_suppkey % 5) AS bdx,
             CAST(3.25 AS DOUBLE) + (s_suppkey % 4) AS bdy
      FROM supplier
"""
_A_POLY_ORACLE = """
      SELECT n_nationkey AS a_id,
             CAST(10.5 AS DOUBLE) + (n_nationkey % 5) * 40 AS acx,
             CAST(10.5 AS DOUBLE) + (n_nationkey // 5) * 18 AS acy,
             CAST(3.5 AS DOUBLE) + (n_nationkey % 7) AS adx,
             CAST(2.5 AS DOUBLE) + (n_nationkey % 5) AS ady
      FROM nation
"""


def _rhombus_verts(cx: str, cy: str, dx: str, dy: str):
    """The 4 rhombus vertices as expression pairs, CCW from +x."""
    return [
        (f"({cx} + {dx})", cy),
        (cx, f"({cy} + {dy})"),
        (f"({cx} - {dx})", cy),
        (cx, f"({cy} - {dy})"),
    ]


def _inside_expr(px: str, py: str, verts) -> str:
    """Crossing-number parity for point (px, py) vs the closed polygon
    given by expression vertices — same half-open ray rule as
    round12's _crossings_sql, but over COLUMN expressions. Rhombus
    edges always span a nonzero y interval (they connect an x-extreme
    vertex to a y-extreme vertex), so the intercept division is safe."""
    terms = []
    n = len(verts)
    for i in range(n):
        x1, y1 = verts[i]
        x2, y2 = verts[(i + 1) % n]
        terms.append(
            f"(CASE WHEN (({y1} > {py}) <> ({y2} > {py}))"
            f" AND ({px} < {x1} + ({py} - {y1}) * ({x2} - {x1})"
            f" / ({y2} - {y1})) THEN 1 ELSE 0 END)"
        )
    return "((" + " + ".join(terms) + ") % 2 = 1)"


# The classifier references PRE-PROJECTED vertex columns, not the
# nested (center ± half-diagonal) sub-expressions: materializing the
# 16 vertex coordinates as a named projection first shrinks the
# expression tree ~4x (the inlined form measured ~5 s of analysis/
# codegen-attempt time on a metadata-only query), and the IEEE values
# are identical either way because the vertex arithmetic is the same
# single add/subtract in both engines.
_POV_VERT_EXPRS = [
    "acx + adx AS av0x", "acy AS av0y",
    "acx AS av1x", "acy + ady AS av1y",
    "acx - adx AS av2x", "acy AS av2y",
    "acx AS av3x", "acy - ady AS av3y",
    "bcx + bdx AS bv0x", "bcy AS bv0y",
    "bcx AS bv1x", "bcy + bdy AS bv1y",
    "bcx - bdx AS bv2x", "bcy AS bv2y",
    "bcx AS bv3x", "bcy - bdy AS bv3y",
]
_A_VERTS = [(f"av{i}x", f"av{i}y") for i in range(4)]
_B_VERTS = [(f"bv{i}x", f"bv{i}y") for i in range(4)]

# Stage 2: one SMALL boolean flag per geometric test (8 vertex-parity
# flags + 16 edge-pair crossing flags). Keeping each expression tiny
# keeps every stage inside whole-stage codegen — the single-expression
# form tripped the JVM method-size fallback. The counts then fold the
# flags in fixed order (integer arithmetic, order-exact anyway).
_POV_FLAG_EXPRS = (
    [
        f"{_inside_expr(px, py, _A_VERTS)} AS in_b{i}_a"
        for i, (px, py) in enumerate(_B_VERTS)
    ]
    + [
        f"{_inside_expr(px, py, _B_VERTS)} AS in_a{i}_b"
        for i, (px, py) in enumerate(_A_VERTS)
    ]
    + [
        f"({_ccw(_A_VERTS[i][0], _A_VERTS[i][1], _A_VERTS[(i + 1) % 4][0], _A_VERTS[(i + 1) % 4][1], _B_VERTS[j][0], _B_VERTS[j][1])}"
        f" * {_ccw(_A_VERTS[i][0], _A_VERTS[i][1], _A_VERTS[(i + 1) % 4][0], _A_VERTS[(i + 1) % 4][1], _B_VERTS[(j + 1) % 4][0], _B_VERTS[(j + 1) % 4][1])}"
        f" < CAST(0 AS DOUBLE)"
        f" AND {_ccw(_B_VERTS[j][0], _B_VERTS[j][1], _B_VERTS[(j + 1) % 4][0], _B_VERTS[(j + 1) % 4][1], _A_VERTS[i][0], _A_VERTS[i][1])}"
        f" * {_ccw(_B_VERTS[j][0], _B_VERTS[j][1], _B_VERTS[(j + 1) % 4][0], _B_VERTS[(j + 1) % 4][1], _A_VERTS[(i + 1) % 4][0], _A_VERTS[(i + 1) % 4][1])}"
        f" < CAST(0 AS DOUBLE)) AS x_{i}{j}"
        for i in range(4)
        for j in range(4)
    ]
)


def _flag_sum(names) -> str:
    return (
        "("
        + " + ".join(f"(CASE WHEN {n} THEN 1 ELSE 0 END)" for n in names)
        + ")"
    )


_POV_VIN_AB = _flag_sum([f"in_b{i}_a" for i in range(4)])
_POV_VIN_BA = _flag_sum([f"in_a{i}_b" for i in range(4)])
_POV_NCROSS = _flag_sum([f"x_{i}{j}" for i in range(4) for j in range(4)])

# Convexity makes the classification exact from these three integers:
# for convex P, Q: P contains Q iff all 4 of Q's vertices are in P (and
# then no boundary crossing exists); any crossing or any vertex-in
# means the interiors meet; otherwise the bbox-colliding pair is
# disjoint. On-boundary contact resolves by the half-open ray / strict
# orientation rules — identically in both engines.
_POV_RELATION = """
    CASE WHEN vin_ab = 4 THEN 'a_contains_b'
         WHEN vin_ba = 4 THEN 'b_contains_a'
         WHEN n_cross > 0 OR vin_ab > 0 OR vin_ba > 0 THEN 'overlap'
         ELSE 'disjoint' END
"""


@query(
    "j_polygon_overlap_join",
    oracle=f"""
    WITH apolys AS ({_A_POLY_ORACLE}),
    bpolys AS ({_B_POLY_ORACLE}),
    acover AS (
      SELECT a.*, ix.i AS ix, iy.i AS iy
      FROM apolys a,
           LATERAL (SELECT unnest(range(
             CAST(FLOOR((acx - adx) / {_POV_CELL}) AS BIGINT),
             CAST(FLOOR((acx + adx) / {_POV_CELL}) AS BIGINT) + 1)) AS i) ix,
           LATERAL (SELECT unnest(range(
             CAST(FLOOR((acy - ady) / {_POV_CELL}) AS BIGINT),
             CAST(FLOOR((acy + ady) / {_POV_CELL}) AS BIGINT) + 1)) AS i) iy
    ),
    bcover AS (
      SELECT b.*, ix.i AS ix, iy.i AS iy
      FROM bpolys b,
           LATERAL (SELECT unnest(range(
             CAST(FLOOR((bcx - bdx) / {_POV_CELL}) AS BIGINT),
             CAST(FLOOR((bcx + bdx) / {_POV_CELL}) AS BIGINT) + 1)) AS i) ix,
           LATERAL (SELECT unnest(range(
             CAST(FLOOR((bcy - bdy) / {_POV_CELL}) AS BIGINT),
             CAST(FLOOR((bcy + bdy) / {_POV_CELL}) AS BIGINT) + 1)) AS i) iy
    ),
    cand AS (
      SELECT DISTINCT a_id, acx, acy, adx, ady, b_id, bcx, bcy, bdx, bdy
      FROM acover a JOIN bcover b ON a.ix = b.ix AND a.iy = b.iy
       AND bcx - bdx <= acx + adx AND bcx + bdx >= acx - adx
       AND bcy - bdy <= acy + ady AND bcy + bdy >= acy - ady
    ),
    verts AS (
      SELECT a_id, b_id, {", ".join(_POV_VERT_EXPRS)} FROM cand
    ),
    flags AS (
      SELECT a_id, b_id, {", ".join(_POV_FLAG_EXPRS)} FROM verts
    )
    SELECT a_id, b_id, vin_ab, vin_ba, n_cross,
           {_POV_RELATION} AS relation
    FROM (
      SELECT a_id, b_id,
             {_POV_VIN_AB} AS vin_ab,
             {_POV_VIN_BA} AS vin_ba,
             {_POV_NCROSS} AS n_cross
      FROM flags
    ) classified
    WHERE NOT (vin_ab = 0 AND vin_ba = 0 AND n_cross = 0)
    """,
    note="Polygon-polygon overlap/containment JOIN between two rhombus "
    "catalogs (nation-derived x.5 grid vs supplier-derived x.25 grid): "
    "grid-cell + bbox candidates, then an exact PURE-EXPRESSION "
    "classification — both catalogs are parameterized by (center, "
    "half-diagonals), so the 8 crossing-parity vertex tests and all "
    "16 strict edge-pair orientation tests compile to one scalar "
    "expression over 10 columns; no edge table, no per-edge join, no "
    "aggregate. Convexity makes the three integers (vin_ab, vin_ba, "
    "n_cross) a complete classifier: containment iff all 4 vertices "
    "inside, overlap iff any contact, else disjoint (emitted pairs "
    "are contacts only; the WHERE keeps bbox-colliding near-misses "
    "out of the result). On-boundary contact resolves via the "
    "half-open ray / strict-orientation rules — bit-identically in "
    "both engines, since every term is identical IEEE expression "
    "text. Scale: both catalogs are metadata-sized by nature and "
    "broadcast; candidates are bounded by cell-local density (bbox "
    "prune inside the join), the DISTINCT collapses multi-cell "
    "collisions at candidate grain, and the classifier is map-side "
    "codegen — never catalog x catalog.",
)
def j_polygon_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    apolys = _nation_rhombi(spark, sf_dir, prefix="a")
    bpolys = T(spark, sf_dir, "supplier").selectExpr(*_B_POLY_SPARK)

    def cover(df: DataFrame, cx: str, cy: str, dx: str, dy: str) -> DataFrame:
        return df.select(
            "*",
            F.explode(
                F.sequence(
                    F.floor((F.col(cx) - F.col(dx)) / _POV_CELL).cast("bigint"),
                    F.floor((F.col(cx) + F.col(dx)) / _POV_CELL).cast("bigint"),
                )
            ).alias("ix"),
        ).select(
            "*",
            F.explode(
                F.sequence(
                    F.floor((F.col(cy) - F.col(dy)) / _POV_CELL).cast("bigint"),
                    F.floor((F.col(cy) + F.col(dy)) / _POV_CELL).cast("bigint"),
                )
            ).alias("iy"),
        )

    acover = cover(apolys, "acx", "acy", "adx", "ady")
    bcover = cover(bpolys, "bcx", "bcy", "bdx", "bdy")
    cand = (
        acover.alias("a")
        .join(
            F.broadcast(bcover.alias("b")),
            F.expr(
                "a.ix = b.ix AND a.iy = b.iy"
                " AND bcx - bdx <= acx + adx AND bcx + bdx >= acx - adx"
                " AND bcy - bdy <= acy + ady AND bcy + bdy >= acy - ady"
            ),
        )
        .select(
            "a_id", "acx", "acy", "adx", "ady",
            "b_id", "bcx", "bcy", "bdx", "bdy",
        )
        .distinct()
    )
    verts = cand.selectExpr("a_id", "b_id", *_POV_VERT_EXPRS)
    flags = verts.selectExpr("a_id", "b_id", *_POV_FLAG_EXPRS)
    classified = flags.selectExpr(
        "a_id",
        "b_id",
        f"{_POV_VIN_AB} AS vin_ab",
        f"{_POV_VIN_BA} AS vin_ba",
        f"{_POV_NCROSS} AS n_cross",
    )
    return classified.filter(
        "NOT (vin_ab = 0 AND vin_ba = 0 AND n_cross = 0)"
    ).selectExpr("a_id", "b_id", "vin_ab", "vin_ba", "n_cross",
                 f"{_POV_RELATION} AS relation")


# --- ml_experiment_power ----------------------------------------------------

# Minimum-detectable-effect planning readout per traffic segment. The
# z-sum 1.959964 + 0.841621 (alpha=0.05 two-sided, 80% power) enters
# as ONE literal so both engines multiply the same double.
_POWER_Z = "CAST(2.801585 AS DOUBLE)"

_POWER_SQL = f"""
    WITH per_user AS (
      SELECT event_type, user_id, user_id % 2 AS arm,
             CAST(SUM({_CENTS}) AS BIGINT) AS spend_c
      FROM __EVENTS__ GROUP BY event_type, user_id
    ),
    seg AS (
      SELECT event_type,
             CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
             CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(SUM(spend_c) AS BIGINT) AS s,
             CAST(SUM(CAST(spend_c AS DECIMAL(38,0)) * spend_c)
                  AS DECIMAL(38,0)) AS q,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM per_user GROUP BY event_type
    )
    SELECT event_type, n0, n1,
           CAST(s AS DOUBLE) / n / 100 AS mean_spend,
           var_n2 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) / 10000
             AS var_spend,
           CASE WHEN n0 > 0 AND n1 > 0 AND var_n2 > 0 THEN
             {_POWER_Z} * SQRT((var_n2 / (CAST(n AS DOUBLE)
                                          * CAST(n AS DOUBLE)))
                 * (CAST(1 AS DOUBLE) / n0 + CAST(1 AS DOUBLE) / n1)) / 100
           END AS mde_abs,
           CASE WHEN n0 > 0 AND n1 > 0 AND var_n2 > 0 AND s > 0 THEN
             ({_POWER_Z} * SQRT((var_n2 / (CAST(n AS DOUBLE)
                                           * CAST(n AS DOUBLE)))
                 * (CAST(1 AS DOUBLE) / n0 + CAST(1 AS DOUBLE) / n1)) / 100)
             / (CAST(s AS DOUBLE) / n / 100)
           END AS mde_rel
    FROM (
      SELECT seg.*,
             CAST(CAST(n AS DECIMAL(38,0)) * q
                  - CAST(s AS DECIMAL(38,0)) * s AS DOUBLE) AS var_n2
      FROM seg
    ) sized
"""


@query(
    "ml_experiment_power",
    oracle=_POWER_SQL.replace("__EVENTS__", "events"),
    note="Experiment-planning power readout per traffic segment: "
    "user-level spend moments per event_type, population variance from "
    "exact integer moments, and the minimum detectable effect at "
    "alpha=0.05 two-sided / 80% power under the current arm split — "
    "MDE = (z_{{a/2}} + z_{{power}}) * sqrt(var * (1/n0 + 1/n1)), with "
    "the z-sum as ONE literal double. The answer to 'is this segment "
    "big enough to test in', computed before any experiment runs — "
    "completes the plan(power) -> guard(SRM) -> read(CUPED/DiD) -> "
    "monitor(group-sequential) lifecycle this family now covers. "
    "Parity: moments are exact (BIGINT firsts, DECIMAL(38,0) "
    "seconds), the variance numerator n*q - s*s computes in "
    "DECIMAL(38,0) and every double op afterwards is identical text "
    "with one correctly-rounded SQRT; degenerate segments (empty arm, "
    "zero variance) yield NULL through the same CASE guards "
    "(ANSI-safe). Scale: one fact scan -> (event_type, user) "
    "aggregate carries the only data-sized shuffle; the segment "
    "re-aggregate is metadata-sized.",
)
def ml_experiment_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "events")
    return spark.sql(_POWER_SQL.replace("__EVENTS__", "{e}"), e=e)


# --- a_hex_smoothing ---------------------------------------------------------

# The 6-neighbor stencil of the two-lattice hex grid, plus self. A
# pointy-top hex's neighbors sit at center distance W: the two
# same-lattice horizontal neighbors, and the four cells of the OTHER
# lattice at (±W/2, ±1.5R) — whose integer-coordinate offsets depend
# on the source lattice (derived in the design note). 14 literal rows
# as a UNION ALL chain so the identical text runs in both engines.
_HEX_STENCIL_SQL = " UNION ALL ".join(
    f"SELECT {s} AS src_lat, {d} AS dst_lat,"
    f" CAST({di} AS BIGINT) AS di, CAST({dj} AS BIGINT) AS dj"
    for (s, d, di, dj) in [
        (0, 0, 0, 0), (0, 0, 1, 0), (0, 0, -1, 0),
        (0, 1, 0, 0), (0, 1, -1, 0), (0, 1, 0, -1), (0, 1, -1, -1),
        (1, 1, 0, 0), (1, 1, 1, 0), (1, 1, -1, 0),
        (1, 0, 0, 0), (1, 0, 1, 0), (1, 0, 0, 1), (1, 0, 1, 1),
    ]
)

_HEX_SCATTER_SQL = """
      SELECT dst_lat, qi + di AS ti, qj + dj AS tj, n_events
      FROM {b} JOIN ({st}) stencil ON stencil.src_lat = {b_lat}
"""


def _hex_gather_sql(src: str) -> str:
    return f"""
      SELECT dst_lat, ti, tj,
             CAST(SUM(n_events) AS BIGINT) AS s_sum,
             CAST(COUNT(*) AS BIGINT) AS n_contrib
      FROM {src} GROUP BY dst_lat, ti, tj
    """


_HEX_SMOOTH_OUT = """
      SELECT lat, qi, qj, n_events, n_contrib,
             CAST(s_sum AS DOUBLE) / n_contrib AS smoothed_density
"""


@query(
    "a_hex_smoothing",
    oracle=f"""
    WITH base AS ({_HEX_BASE_SQL.replace("__EVENTS__", "events")}),
    stencil AS ({_HEX_STENCIL_SQL}),
    scattered AS (
      SELECT dst_lat, qi + di AS ti, qj + dj AS tj, n_events
      FROM base JOIN stencil ON stencil.src_lat = base.lat
    ),
    gathered AS ({_hex_gather_sql("scattered")})
    {_HEX_SMOOTH_OUT}
      FROM base JOIN gathered
        ON gathered.dst_lat = base.lat AND gathered.ti = base.qi
       AND gathered.tj = base.qj
    """,
    note="Hex-grid neighborhood smoothing (the heatmap denoise pass "
    "over a_hex_rollup's cells): each occupied hex SCATTERS its count "
    "to itself and its 6 neighbors through a 14-row literal stencil — "
    "on the two-lattice grid a hex's neighbors are the two same-"
    "lattice horizontal cells plus four other-lattice cells whose "
    "integer offsets depend on the source lattice (src A: B(i,j), "
    "B(i-1,j), B(i,j-1), B(i-1,j-1); src B: A(i,j), A(i+1,j), "
    "A(i,j+1), A(i+1,j+1); both same-lattice ±1) — then a GATHER "
    "aggregate keys on the target cell and the result joins back to "
    "occupied cells only. Scatter-gather is the distributed stencil "
    "form: no self-join of the fact, no windowing, shuffle volume = "
    "7x hex cardinality (metadata-sized), and the base cell frame is "
    "built ONCE from the fact and cached for its two consumers "
    "(scatter + output join). smoothed_density = exact integer "
    "neighborhood sum / exact present-neighbor count, one IEEE "
    "division — occupied-neighborhood mean, so sparse borders are "
    "averaged over their REAL support instead of diluted by empty "
    "cells. All stencil arithmetic is exact BIGINT; parity is the "
    "hex assignment's (identical SQRT-derived W text).",
)
def a_hex_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "events")
    # ONE fact scan: the base cell frame is cached and feeds both the
    # scatter and the output join (cached-bounded-frame discipline).
    base = spark.sql(_HEX_BASE_SQL.replace("__EVENTS__", "{e}"), e=e).persist()
    stencil = spark.sql(_HEX_STENCIL_SQL)
    # Unqualified join conditions: base's and the stencil's column
    # names are disjoint, and DataFrame-API joins don't register the
    # SQL-side relation aliases.
    scattered = (
        base.join(F.broadcast(stencil), F.expr("src_lat = lat"))
        .selectExpr("dst_lat", "qi + di AS ti", "qj + dj AS tj", "n_events")
    )
    gathered = scattered.groupBy("dst_lat", "ti", "tj").agg(
        F.expr("CAST(SUM(n_events) AS BIGINT) AS s_sum"),
        F.expr("CAST(COUNT(*) AS BIGINT) AS n_contrib"),
    )
    out = base.join(
        gathered,
        F.expr("dst_lat = lat AND ti = qi AND tj = qj"),
    )
    return out.selectExpr(
        "lat", "qi", "qj", "n_events", "n_contrib",
        "CAST(s_sum AS DOUBLE) / n_contrib AS smoothed_density",
    )
