"""Round-12 additions: spatial point-in-polygon and the storage-layer
manifest-pruning twin.

- f_point_in_polygon: exact point-in-polygon (crossing-number / ray
  cast) against a broadcast-literal polygon set — the second spatial
  shape after the grid joins (j_spatial_grid_join radius semantics,
  j_knn_grid_join ranked kNN): region tagging / geofencing, the shape
  behind "which delivery zone / census tract / geofence is this point
  in". The polygon set is tiny by nature (a planner broadcasts it);
  the per-point test is a pure columnar expression, so the operator is
  map-side at any scale.
- o_manifest_prune: the planner's file-pruning arithmetic as data —
  join a literal query-predicate set against the min/max file-stats
  manifest (o_file_skipping_stats' shape) and report files read vs
  skipped and rows scanned per query. This is the measurable form of
  "how much does clustering save THIS workload", computed from
  metadata alone.

Both are beyond-reference training/analytics-pipeline operators in the
same spirit as the round-11 storage family (the reference, a
single-node odds scraper, has no spatial or storage layer); design
notes cite the brief's scale bar instead of reference lines. The
streaming twin of the manifest (incremental per-file stats maintained
across micro-batches) lives in banksy_spark/streaming/core.py
(file_stats_manifest) with a stream==batch pytest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from banksy_spark.streaming.core import file_stats_manifest
from banksy_spark.suite.registry import T, query
from banksy_spark.suite.round11 import _FILE_ROWS, _MANIFEST_DUCK

# --- Point-in-polygon (crossing number over a literal polygon set) ---------

# Vertices chosen so no edge is horizontal (no zero dy — the crossing
# intercept never divides by zero) and every coordinate is an exactly-
# representable x.5 double, while the probe grid (x = value, a 2-dp
# double; y = user_id % 100, an integer cast) can never land ON a
# vertex or an integer-crossing edge — the on-boundary ambiguity class
# is excluded by construction, so both engines agree bit-for-bit.
_POLY_STAR = [  # concave 4-pointed star, x/y in [10.5, 90.5]
    (10.5, 10.5), (50.5, 30.5), (90.5, 10.5), (70.5, 50.5),
    (90.5, 90.5), (50.5, 70.5), (10.5, 90.5), (30.5, 50.5),
]
_POLY_TRI = [(100.5, 20.5), (160.5, 80.5), (220.5, 10.5)]


def _crossings_sql(verts: list[tuple[float, float]], px: str, py: str) -> str:
    """Crossing-number SQL for point (px, py) vs the closed polygon:
    one CASE term per edge, counted when the edge straddles the probe's
    horizontal ray and the ray-edge intercept lies right of the point.
    Every literal is CAST AS DOUBLE up front so both engines run the
    identical IEEE expression (a bare 10.5 parses as DECIMAL in both
    Spark and DuckDB, with engine-specific promotion rules)."""

    def d(v: float) -> str:
        return f"CAST({v!r} AS DOUBLE)"

    terms = []
    n = len(verts)
    for i in range(n):
        x1, y1 = verts[i]
        x2, y2 = verts[(i + 1) % n]
        terms.append(
            f"(CASE WHEN (({d(y1)} > {py}) <> ({d(y2)} > {py}))"
            f" AND ({px} < {d(x1)} + ({py} - {d(y1)}) * ({d(x2)} - {d(x1)})"
            f" / ({d(y2)} - {d(y1)})) THEN 1 ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ")"


_STAR_CROSS = _crossings_sql(_POLY_STAR, "x", "y")
_TRI_CROSS = _crossings_sql(_POLY_TRI, "x", "y")


@query(
    "f_point_in_polygon",
    oracle=f"""
    SELECT event_id, x, y, n_cross_star, in_star, in_tri,
           CASE WHEN in_star THEN 'star' WHEN in_tri THEN 'tri'
                ELSE 'outside' END AS region
    FROM (
      SELECT event_id, x, y,
             CAST({_STAR_CROSS} AS BIGINT) AS n_cross_star,
             {_STAR_CROSS} % 2 = 1 AS in_star,
             {_TRI_CROSS} % 2 = 1 AS in_tri
      FROM (
        SELECT event_id, value AS x, CAST(user_id % 100 AS DOUBLE) AS y
        FROM events
      )
    )
    """,
    note="Exact point-in-polygon via the crossing-number (ray-cast) test "
    "against a broadcast-literal polygon set: one CASE term per edge "
    "counts ray/edge crossings, odd parity = inside — correct for the "
    "CONCAVE star (a bbox or convex test would misclassify its notches). "
    "The generated SQL is identical text in both engines: every literal "
    "is pre-CAST to DOUBLE (no DECIMAL-promotion divergence) and the "
    "intercept division is a single correctly-rounded IEEE op, so parity "
    "is bit-exact; vertices sit on x.5 offsets while probes have 2-dp/"
    "integer coordinates, excluding the on-boundary ambiguity class by "
    "construction. Scale: the polygon set is metadata-sized by nature "
    "(the planner inlines or broadcasts it) and the test is a pure "
    "columnar expression — zero joins, zero shuffles, whole-stage "
    "codegen over the scan; a large polygon CATALOG composes this with "
    "the grid operator (j_spatial_grid_join) to bucket candidate "
    "(point, polygon) pairs first, exactly like the kNN join bounds its "
    "candidates.",
)
def f_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "events").select(
        "event_id",
        F.col("value").alias("x"),
        (F.col("user_id") % 100).cast("double").alias("y"),
    )
    scored = e.select(
        "event_id",
        "x",
        "y",
        F.expr(_STAR_CROSS).cast("bigint").alias("n_cross_star"),
        F.expr(f"{_STAR_CROSS} % 2 = 1").alias("in_star"),
        F.expr(f"{_TRI_CROSS} % 2 = 1").alias("in_tri"),
    )
    return scored.withColumn(
        "region",
        F.when(F.col("in_star"), F.lit("star"))
        .when(F.col("in_tri"), F.lit("tri"))
        .otherwise(F.lit("outside")),
    )


# --- Manifest pruning: per-query files-read / rows-scanned from stats ------

# (query_id, key_lo, key_hi, date_lo, date_hi) — None = unbounded dim.
# A file is skipped for a query iff ANY bounded dimension is disjoint
# from the file's [min, max] stats range.
_PRUNE_QUERIES = [
    ("q_key_hot", 10_000, 14_000, None, None),
    ("q_key_cold", 1, 2_000, None, None),
    ("q_date_1995", None, None, "1995-01-01", "1995-12-31"),
    ("q_key_date", 5_000, 8_000, "1996-01-01", "1996-06-30"),
]


def _skip_sql(key_lo, key_hi, date_lo, date_hi) -> str:
    """Skip verdict for one query's predicate vs a manifest row —
    identical SQL text in both engines (same column names)."""
    parts = []
    if key_lo is not None:
        parts.append(f"max_key < {key_lo} OR min_key > {key_hi}")
    if date_lo is not None:
        parts.append(
            f"max_date < DATE '{date_lo}' OR min_date > DATE '{date_hi}'"
        )
    return "(" + " OR ".join(parts) + ")"


def _prune_oracle() -> str:
    arms = "\n      UNION ALL ".join(
        f"SELECT '{qid}' AS query_id, {_skip_sql(klo, khi, dlo, dhi)} AS skip,"
        " n_rows FROM manifest"
        for qid, klo, khi, dlo, dhi in _PRUNE_QUERIES
    )
    return f"""
    WITH {_MANIFEST_DUCK}, per_q AS (
      {arms}
    )
    SELECT query_id,
           CAST(COUNT(*) AS BIGINT) AS files_total,
           CAST(SUM(CASE WHEN skip THEN 1 ELSE 0 END) AS BIGINT)
             AS files_skipped,
           CAST(SUM(CASE WHEN skip THEN 0 ELSE 1 END) AS BIGINT)
             AS files_read,
           CAST(SUM(CASE WHEN skip THEN 0 ELSE n_rows END) AS BIGINT)
             AS rows_scanned,
           CAST(SUM(CASE WHEN skip THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
             AS prune_ratio
    FROM per_q GROUP BY query_id
    """


@query(
    "o_manifest_prune",
    oracle=_prune_oracle(),
    note="The planner's file-pruning arithmetic as data: evaluate a "
    "literal workload of predicate queries (key-range hot/cold, a date "
    "year, a key+date conjunction) against the min/max file-stats "
    "manifest (o_file_skipping_stats' shape) and report per query how "
    "many files the stats alone skip and how many rows survive to be "
    "scanned. A file is skipped iff ANY bounded predicate dimension is "
    "disjoint from its stats range — the conjunction query shows pruning "
    "composing across dimensions, and the date query shows the "
    "clustering lesson again (uniform dates within key-ranged files "
    "prune nothing). Implementation: the workload is unrolled as one "
    "skip-verdict column per query over the manifest, then STACKed to "
    "(query_id, skip, n_rows) rows and aggregated — zero joins (the "
    "oracle states the same semantics as a UNION ALL), so the fact table "
    "is touched once by the manifest aggregate and everything after is "
    "metadata-sized. Scale: at 100 TB the manifest is ~10^6 listing "
    "rows; per-query verdicts are map-side expressions over it and the "
    "final aggregate is |workload|-row output — this is exactly the "
    "work a lakehouse planner does per query, run here for the whole "
    "workload in one pass.",
)
def o_manifest_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    manifest = file_stats_manifest(o, _FILE_ROWS)
    stack_args = ", ".join(
        f"'{qid}', {_skip_sql(klo, khi, dlo, dhi)}"
        for qid, klo, khi, dlo, dhi in _PRUNE_QUERIES
    )
    per_q = manifest.select(
        "n_rows",
        F.expr(
            f"stack({len(_PRUNE_QUERIES)}, {stack_args}) AS (query_id, skip)"
        ),
    )
    skip_i = F.when(F.col("skip"), 1).otherwise(0)
    return per_q.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("files_total"),
        F.sum(skip_i).cast("bigint").alias("files_skipped"),
        F.sum(1 - skip_i).cast("bigint").alias("files_read"),
        F.sum(F.when(F.col("skip"), 0).otherwise(F.col("n_rows")))
        .cast("bigint")
        .alias("rows_scanned"),
        (F.sum(skip_i).cast("double") / F.count(F.lit(1))).alias("prune_ratio"),
    )


# --- Geofence dwell time (point-in-polygon x ordered time attribution) -----


@query(
    "a_geofence_dwell",
    oracle=f"""
    WITH located AS (
      SELECT user_id, event_id, ts,
             CASE WHEN {_crossings_sql(_POLY_STAR,
                 "value", "CAST(user_id % 100 AS DOUBLE)")} % 2 = 1
                  THEN 'star' ELSE 'outside' END AS region
      FROM events
    ), hops AS (
      SELECT user_id, region, ts,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS next_ts
      FROM located
    )
    SELECT user_id, region,
           CAST(COUNT(*) AS BIGINT) AS n_intervals,
           CAST(SUM(epoch_us(next_ts) - epoch_us(ts)) AS BIGINT) AS dwell_us
    FROM hops WHERE next_ts IS NOT NULL
    GROUP BY user_id, region
    """,
    note="Geofence dwell time: how long each user spends inside the star "
    "polygon — the telemetry/fleet-analytics composition of the spatial "
    "test (f_point_in_polygon's crossing-number expression, inlined "
    "identically in both engines) with ordered time attribution (each "
    "inter-event interval is attributed to the region of its STARTING "
    "point, the standard dwell convention; the user's last event opens "
    "no interval). Interval lengths are exact integer microsecond "
    "differences (unix_micros/epoch_us — no float time math), so the "
    "per-(user, region) sums are bit-stable under any partitioning. "
    "Scale: region tagging is map-side; the lead window and the "
    "aggregate both key on user_id (fact-grain, never low-cardinality); "
    "one shuffle total since the aggregate reuses the window's "
    "partitioning keys.",
)
def a_geofence_dwell(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = T(spark, sf_dir, "events").select("user_id", "event_id", "ts", "value")
    star = _crossings_sql(_POLY_STAR, "value", "CAST(user_id % 100 AS DOUBLE)")
    located = e.select(
        "user_id",
        "event_id",
        "ts",
        F.when(F.expr(f"{star} % 2 = 1"), F.lit("star"))
        .otherwise(F.lit("outside"))
        .alias("region"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    hops = located.withColumn("next_ts", F.lead("ts").over(w)).filter(
        F.col("next_ts").isNotNull()
    )
    return hops.groupBy("user_id", "region").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_intervals"),
        F.sum(F.unix_micros("next_ts") - F.unix_micros("ts"))
        .cast("bigint")
        .alias("dwell_us"),
    )


# --- Tile pyramid: multi-resolution spatial rollup, coarse-from-fine -------

_TILE_FINE = 4.0  # finest cell size; each coarser level doubles it


@query(
    "a_tile_pyramid",
    oracle=f"""
    WITH fine AS (
      SELECT CAST(FLOOR(value / {_TILE_FINE}) AS BIGINT) AS cx,
             CAST(FLOOR(CAST(user_id % 100 AS DOUBLE) / {_TILE_FINE}) AS BIGINT)
               AS cy,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(CAST(value * 100 AS DECIMAL(18,2)) AS DECIMAL(38,2)))
               AS DECIMAL(38,2)) AS cents
      FROM events GROUP BY 1, 2
    ), mid AS (
      SELECT cx // 2 AS cx, cy // 2 AS cy,
             CAST(SUM(n) AS BIGINT) AS n,
             CAST(SUM(cents) AS DECIMAL(38,2)) AS cents
      FROM fine GROUP BY 1, 2
    ), coarse AS (
      SELECT cx // 2 AS cx, cy // 2 AS cy,
             CAST(SUM(n) AS BIGINT) AS n,
             CAST(SUM(cents) AS DECIMAL(38,2)) AS cents
      FROM mid GROUP BY 1, 2
    )
    SELECT 0 AS level, cx, cy, n, CAST(cents AS DOUBLE) / 100 AS value_sum
      FROM fine
    UNION ALL SELECT 1, cx, cy, n, CAST(cents AS DOUBLE) / 100 FROM mid
    UNION ALL SELECT 2, cx, cy, n, CAST(cents AS DOUBLE) / 100 FROM coarse
    """,
    note="Tile pyramid (map-tile / heatmap zoom levels): per-cell count "
    "and value sum at three resolutions, each coarser level computed by "
    "RE-AGGREGATING the next finer level's cells (cell id halves per "
    "level) — never by re-scanning the fact. That is the pyramid "
    "lesson at 100 TB: the fact is touched once by the finest "
    "aggregate; levels above it run on metadata-sized tile layers "
    "(bounded by the grid extent, independent of row count), unlike a "
    "GROUPING SETS form which shuffles the fact once per grain "
    "(a_cube_grouping states that contrast). value_sum stays on the "
    "suite's EXACT DECIMAL cent grid through every pyramid level — "
    "order-independent sums all the way up (re-adding DOUBLE cell sums "
    "was measured order-sensitive even over 4 values) — and converts "
    "to DOUBLE only at the output boundary, one identical division per "
    "cell in both engines. Plan: one fact shuffle (fine cells), two "
    "tiny re-aggregates, one union.",
)
def a_tile_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "events").select(
        F.floor(F.col("value") / _TILE_FINE).cast("bigint").alias("cx"),
        F.floor((F.col("user_id") % 100).cast("double") / _TILE_FINE)
        .cast("bigint")
        .alias("cy"),
        "value",
    )
    cents = F.expr("CAST(CAST(value * 100 AS DECIMAL(18,2)) AS DECIMAL(38,2))")
    # persist the finest tile layer: three consumers (its own output
    # level, mid's build, and transitively coarse's) would otherwise
    # each re-scan the FACT — the plan audit measured 3 scans/6
    # shuffles unpersisted vs 1 fact scan persisted. The layer is
    # grid-extent-bounded (metadata-sized), so caching it is free;
    # check.py/bench/tests release suite caches per query.
    fine = e.groupBy("cx", "cy").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(cents).cast("decimal(38,2)").alias("cents"),
    ).persist()

    def up(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.expr("cx DIV 2").alias("cx"), F.expr("cy DIV 2").alias("cy")
        ).agg(
            F.sum("n").cast("bigint").alias("n"),
            F.sum("cents").cast("decimal(38,2)").alias("cents"),
        )

    mid = up(fine)
    coarse = up(mid)

    def lvl(df: DataFrame, i: int) -> DataFrame:
        return df.select(
            F.lit(i).alias("level"),
            "cx",
            "cy",
            "n",
            (F.col("cents").cast("double") / 100).alias("value_sum"),
        )

    return lvl(fine, 0).unionByName(lvl(mid, 1)).unionByName(lvl(coarse, 2))


# --- Polygon-table join: grid-blocked candidates + exact crossing test -----

_PG_CELL = 8.0  # grid cell size for candidate blocking

# Per-edge crossing term over COLUMNS (px,py point; x1,y1,x2,y2 edge) —
# identical SQL text in both engines. Same ray-cast rule as
# _crossings_sql, but data-driven: the polygon set is a TABLE here.
_PG_EDGE_TERM = (
    "(CASE WHEN ((y1 > py) <> (y2 > py))"
    " AND (px < x1 + (py - y1) * (x2 - x1) / (y2 - y1))"
    " THEN 1 ELSE 0 END)"
)

# Rhombus polygons derived from nation (integer-exact vertex math, all
# coordinates on the x.5 grid, no horizontal edges by construction):
# center (cx, cy), half-diagonals (dx, dy).
_PG_POLY_SQL = """
  SELECT n_nationkey AS poly_id,
         CAST(10.5 AS DOUBLE) + (n_nationkey % 5) * 40 AS cx,
         CAST(10.5 AS DOUBLE) + (n_nationkey // 5) * 18 AS cy,
         CAST(3.5 AS DOUBLE) + (n_nationkey % 7) AS dx,
         CAST(2.5 AS DOUBLE) + (n_nationkey % 5) AS dy
  FROM nation
"""


def _nation_rhombi(
    spark: SparkSession, sf_dir: str, prefix: str = ""
) -> DataFrame:
    """Spark form of _PG_POLY_SQL (DIV is Spark's integer division, //
    DuckDB's — the only dialect split). A ``prefix`` names the columns
    {prefix}_id, {prefix}cx, {prefix}cy, {prefix}dx, {prefix}dy."""
    return T(spark, sf_dir, "nation").selectExpr(
        f"n_nationkey AS {prefix + '_id' if prefix else 'poly_id'}",
        f"CAST(10.5 AS DOUBLE) + (n_nationkey % 5) * 40 AS {prefix}cx",
        f"CAST(10.5 AS DOUBLE) + (n_nationkey DIV 5) * 18 AS {prefix}cy",
        f"CAST(3.5 AS DOUBLE) + (n_nationkey % 7) AS {prefix}dx",
        f"CAST(2.5 AS DOUBLE) + (n_nationkey % 5) AS {prefix}dy",
    )



@query(
    "j_polygon_grid_join",
    oracle=f"""
    WITH polys AS ({_PG_POLY_SQL}),
    edges AS (
      SELECT poly_id, cx + dx AS x1, cy AS y1, cx AS x2, cy + dy AS y2 FROM polys
      UNION ALL SELECT poly_id, cx, cy + dy, cx - dx, cy FROM polys
      UNION ALL SELECT poly_id, cx - dx, cy, cx, cy - dy FROM polys
      UNION ALL SELECT poly_id, cx, cy - dy, cx + dx, cy FROM polys
    ),
    coverage AS (
      SELECT poly_id, cx, cy, dx, dy, ix.i AS ix, iy.i AS iy
      FROM polys,
           LATERAL (SELECT unnest(range(
             CAST(FLOOR((cx - dx) / {_PG_CELL}) AS BIGINT),
             CAST(FLOOR((cx + dx) / {_PG_CELL}) AS BIGINT) + 1)) AS i) ix,
           LATERAL (SELECT unnest(range(
             CAST(FLOOR((cy - dy) / {_PG_CELL}) AS BIGINT),
             CAST(FLOOR((cy + dy) / {_PG_CELL}) AS BIGINT) + 1)) AS i) iy
    ),
    points AS (
      SELECT event_id AS id, value AS px,
             CAST(user_id % 100 AS DOUBLE) AS py,
             CAST(FLOOR(value / {_PG_CELL}) AS BIGINT) AS ix,
             CAST(FLOOR(CAST(user_id % 100 AS DOUBLE) / {_PG_CELL}) AS BIGINT)
               AS iy
      FROM events
    ),
    cand AS (
      SELECT p.id, p.px, p.py, c.poly_id
      FROM points p JOIN coverage c
        ON c.ix = p.ix AND c.iy = p.iy
       AND p.px >= c.cx - c.dx AND p.px <= c.cx + c.dx
       AND p.py >= c.cy - c.dy AND p.py <= c.cy + c.dy
    )
    SELECT id, poly_id, px, py FROM (
      SELECT cand.id, cand.poly_id, cand.px, cand.py,
             SUM({_PG_EDGE_TERM}) AS n_cross
      FROM cand JOIN edges ON edges.poly_id = cand.poly_id
      GROUP BY 1, 2, 3, 4
    ) WHERE n_cross % 2 = 1
    """,
    note="Point-in-polygon as a JOIN against a polygon TABLE — the scale "
    "path f_point_in_polygon's note promises: 25 rhombus regions derived "
    "from nation (integer-exact x.5-grid vertices, no horizontal edges "
    "by construction), grid-cell coverage exploded per polygon "
    "(metadata-sized: <= ~16 cells x 25 polygons), candidates = points "
    "equi-joined to coverage on their ONE cell with the bbox prune "
    "inside the join, then the exact crossing-number test evaluated "
    "RELATIONALLY: candidates join the 100-row edge table (broadcast) "
    "and crossings aggregate per (point, polygon), odd parity = inside. "
    "Both joins broadcast the polygon side; the only shuffle is the "
    "crossing aggregate, keyed on (point, polygon) — fact grain. "
    "Candidate volume is bounded by cell-local density exactly like "
    "j_knn_grid_join, never points x polygons; a point's cell meets a "
    "polygon's coverage at most once, so candidate rows are unique by "
    "construction. Parity: every coordinate derives from integer "
    "columns + 0.5 offsets (exactly representable), and the per-edge "
    "intercept is the same single-division IEEE expression text in both "
    "engines.",
)
def j_polygon_grid_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    polys = _nation_rhombi(spark, sf_dir)
    edges = polys.selectExpr(
        "poly_id",
        "stack(4, cx + dx, cy, cx, cy + dy,"
        " cx, cy + dy, cx - dx, cy,"
        " cx - dx, cy, cx, cy - dy,"
        " cx, cy - dy, cx + dx, cy) AS (x1, y1, x2, y2)",
    )
    coverage = polys.select(
        "poly_id",
        "cx",
        "cy",
        "dx",
        "dy",
        F.explode(
            F.sequence(
                F.floor((F.col("cx") - F.col("dx")) / _PG_CELL).cast("bigint"),
                F.floor((F.col("cx") + F.col("dx")) / _PG_CELL).cast("bigint"),
            )
        ).alias("ix"),
    ).select(
        "*",
        F.explode(
            F.sequence(
                F.floor((F.col("cy") - F.col("dy")) / _PG_CELL).cast("bigint"),
                F.floor((F.col("cy") + F.col("dy")) / _PG_CELL).cast("bigint"),
            )
        ).alias("iy"),
    )
    points = T(spark, sf_dir, "events").select(
        F.col("event_id").alias("id"),
        F.col("value").alias("px"),
        (F.col("user_id") % 100).cast("double").alias("py"),
        F.floor(F.col("value") / _PG_CELL).cast("bigint").alias("ix"),
        F.floor((F.col("user_id") % 100).cast("double") / _PG_CELL)
        .cast("bigint")
        .alias("iy"),
    )
    cand = points.join(F.broadcast(coverage), ["ix", "iy"]).filter(
        (F.col("px") >= F.col("cx") - F.col("dx"))
        & (F.col("px") <= F.col("cx") + F.col("dx"))
        & (F.col("py") >= F.col("cy") - F.col("dy"))
        & (F.col("py") <= F.col("cy") + F.col("dy"))
    ).select("id", "px", "py", "poly_id")
    crossed = (
        cand.join(F.broadcast(edges), "poly_id")
        .groupBy("id", "poly_id", "px", "py")
        .agg(F.sum(F.expr(_PG_EDGE_TERM)).alias("n_cross"))
    )
    return crossed.filter(F.col("n_cross") % 2 == 1).select(
        "id", "poly_id", "px", "py"
    )


# --- CUPED variance-reduced experiment readout ------------------------------

_CUPED_SPLIT = "2024-01-15"  # pre-period < split <= post-period

# Shared SQL snippets (identical text in both engines). Every moment is
# an EXACT integer-cent sum, so theta / means / rho^2 derive from
# order-independent quantities via a handful of scalar IEEE ops — no
# double accumulates across rows anywhere.
_CUPED_PER_USER = f"""
      SELECT user_id, user_id % 2 AS arm,
             CAST(SUM(CASE WHEN ts < TIMESTAMP '{_CUPED_SPLIT} 00:00:00'
                  THEN CAST(CAST(value * 100 AS DECIMAL(18,2)) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS pre_c,
             CAST(SUM(CASE WHEN ts >= TIMESTAMP '{_CUPED_SPLIT} 00:00:00'
                  THEN CAST(CAST(value * 100 AS DECIMAL(18,2)) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS post_c
      FROM events GROUP BY user_id
"""

# ALL moments (first + second, cross) aggregate per ARM in one pass
# over per_user; the pooled scalars then derive from the 2-row arms
# frame — exact integer sums are associative, so arm-sum == pooled
# sum, and the fact is scanned ONCE (a pooled-scalars aggregate
# directly over per_user was measured planning a second fact scan).
# Second moments run in DECIMAL(38,0) (n*spt overflows BIGINT at
# sf >= 0.1: 6e4 users x ~1e16 cents^2).
_CUPED_ARMS = """
      SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(pre_c) AS BIGINT) AS sp_a,
             CAST(SUM(post_c) AS BIGINT) AS st_a,
             CAST(SUM(CAST(pre_c AS DECIMAL(38,0)) * pre_c) AS DECIMAL(38,0))
               AS spp_a,
             CAST(SUM(CAST(pre_c AS DECIMAL(38,0)) * post_c) AS DECIMAL(38,0))
               AS spt_a,
             CAST(SUM(CAST(post_c AS DECIMAL(38,0)) * post_c) AS DECIMAL(38,0))
               AS stt_a
      FROM per_user GROUP BY arm
"""

_CUPED_SCALARS = """
      SELECT CAST(SUM(n_users) AS BIGINT) AS n,
             CAST(SUM(sp_a) AS BIGINT) AS sp,
             CAST(SUM(st_a) AS BIGINT) AS st,
             CAST(SUM(spp_a) AS DECIMAL(38,0)) AS spp,
             CAST(SUM(spt_a) AS DECIMAL(38,0)) AS spt,
             CAST(SUM(stt_a) AS DECIMAL(38,0)) AS stt
      FROM arms
"""

_CUPED_DERIVED = """
      SELECT n, sp, st,
             CAST(CAST(n AS DECIMAL(38,0)) * spt
                  - CAST(sp AS DECIMAL(38,0)) * st AS DOUBLE) AS cov_n2,
             CAST(CAST(n AS DECIMAL(38,0)) * spp
                  - CAST(sp AS DECIMAL(38,0)) * sp AS DOUBLE) AS varp_n2,
             CAST(CAST(n AS DECIMAL(38,0)) * stt
                  - CAST(st AS DECIMAL(38,0)) * st AS DOUBLE) AS vart_n2
      FROM scalars
"""

_CUPED_THETA = "(CASE WHEN varp_n2 = 0 THEN 0.0 ELSE cov_n2 / varp_n2 END)"
_CUPED_RHO2 = (
    "(CASE WHEN varp_n2 = 0 OR vart_n2 = 0 THEN 0.0"
    " ELSE (cov_n2 * cov_n2) / (varp_n2 * vart_n2) END)"
)
# column names across arms x derived are disjoint, so the final
# expressions are prefix-free — the SAME strings drive the oracle's
# SELECT and the Spark selectExpr
_CUPED_FINAL_COLS = [
    "arm",
    "n_users",
    "CAST(st_a AS DOUBLE) / n_users / 100 AS mean_post",
    f"(CAST(st_a AS DOUBLE) / n_users"
    f" - {_CUPED_THETA} * (CAST(sp_a AS DOUBLE) / n_users"
    f" - CAST(sp AS DOUBLE) / n)) / 100 AS mean_adjusted",
    f"{_CUPED_THETA} AS theta",
    f"{_CUPED_RHO2} AS rho2",
]
_CUPED_FINAL = (
    "SELECT " + ",\n           ".join(_CUPED_FINAL_COLS)
    + "\n    FROM arms CROSS JOIN derived"
)


@query(
    "ml_cuped_adjustment",
    oracle=f"""
    WITH per_user AS ({_CUPED_PER_USER}),
    arms AS ({_CUPED_ARMS}),
    scalars AS ({_CUPED_SCALARS}),
    derived AS ({_CUPED_DERIVED})
    {_CUPED_FINAL}
    """,
    note="CUPED variance-reduced experiment readout (the standard "
    "pre-period covariate adjustment every experimentation platform "
    "runs): per-user pre/post spend split at a fixed date, pooled "
    "theta = cov(pre, post)/var(pre), per-arm adjusted mean = "
    "mean(post) - theta*(mean(pre) - pooled mean(pre)), and rho^2 (the "
    "achieved variance-reduction fraction). Parity architecture: every "
    "moment is an EXACT integer-cent sum (per-event cents are exact, "
    "per-user sums are BIGINT, cross-moments run in DECIMAL(38,0) "
    "because n*spt overflows int64 at sf0.1) — so theta, means, and "
    "rho^2 derive from order-independent integers via a handful of "
    "scalar IEEE ops written as the identical SQL text in both "
    "engines; no double ever accumulates across rows. The arm means "
    "use the algebraic identity mean_adj = mean_post_arm - "
    "theta*(mean_pre_arm - mean_pre) instead of summing per-user "
    "adjusted doubles (which would be order-sensitive). Zero-variance "
    "regimes (all pre equal — sparse fuzz) take the theta=0 CASE arm "
    "in both engines instead of producing 0/0 NaN. Scale: ONE fact "
    "scan, one user-keyed shuffle builds per_user, one arm aggregate "
    "over it computes every moment; the pooled scalars derive from "
    "the 2-row arms frame (exact integer sums are associative), so "
    "nothing re-reads the fact — the naive pooled-aggregate form was "
    "measured planning a second fact scan and rewritten.",
)
def ml_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "events")
    # materialize the 2-row arms frame and fan out from the SAME
    # DataFrame object: a CTE (or a temp view over one) is re-inlined
    # per consumer — arms feeds both the pooled scalars and the final
    # join — which re-plans the whole per_user build and re-scans the
    # FACT (the unpersisted form measured 2 scans/4 exchanges vs 1
    # cached build). Same cached-bounded-frame discipline as
    # a_tile_pyramid. The downstream expressions are the identical SQL
    # snippet strings the oracle uses, applied via agg/selectExpr.
    # The events frame enters via spark.sql DataFrame interpolation
    # (no session temp view: a fixed-name view would collide under
    # concurrent execution and leak past the query — ADVICE r12).
    arms = spark.sql(
        f"""
    WITH events AS (SELECT * FROM {{e}}),
    per_user AS ({_CUPED_PER_USER})
    {_CUPED_ARMS}
    """,
        e=e,
    ).persist()
    scalars = arms.agg(
        F.expr("CAST(SUM(n_users) AS BIGINT) AS n"),
        F.expr("CAST(SUM(sp_a) AS BIGINT) AS sp"),
        F.expr("CAST(SUM(st_a) AS BIGINT) AS st"),
        F.expr("CAST(SUM(spp_a) AS DECIMAL(38,0)) AS spp"),
        F.expr("CAST(SUM(spt_a) AS DECIMAL(38,0)) AS spt"),
        F.expr("CAST(SUM(stt_a) AS DECIMAL(38,0)) AS stt"),
    )
    derived = scalars.selectExpr(
        "n",
        "sp",
        "st",
        "CAST(CAST(n AS DECIMAL(38,0)) * spt"
        " - CAST(sp AS DECIMAL(38,0)) * st AS DOUBLE) AS cov_n2",
        "CAST(CAST(n AS DECIMAL(38,0)) * spp"
        " - CAST(sp AS DECIMAL(38,0)) * sp AS DOUBLE) AS varp_n2",
        "CAST(CAST(n AS DECIMAL(38,0)) * stt"
        " - CAST(st AS DECIMAL(38,0)) * st AS DOUBLE) AS vart_n2",
    )
    return arms.crossJoin(F.broadcast(derived)).selectExpr(*_CUPED_FINAL_COLS)
