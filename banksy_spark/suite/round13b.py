"""Round-13 second batch: synchronized label-propagation community
detection and the nearest-edge distance join.

- graph_label_propagation: synchronous LPA over a block-structured
  modulo graph — each node adopts the most frequent label among its
  neighbors-plus-self per round (deterministic smallest-label
  tie-break), 3 unrolled rounds as ONE declarative plan with per-round
  lineage cuts (graph_kcore's fixed-depth-lazy-plan design,
  suite/round10.py). Completes the graph family: pagerank (influence),
  k-core (cohesion), triangles (closure), BFS (reachability), 2-hop
  (recommendation) — LPA adds community assignment, the partitioner
  every graph pipeline runs before per-community rollups.
- j_nearest_edge_join: distance-to-boundary join — each event point
  finds its nearest fence edge (exact point-to-segment squared
  distance, projection clamped to the segment) among candidates from
  its grid cell against a one-ring-dilated broadcast edge cover.
  Bounded-search semantics like j_knn_grid_join: "nearest edge within
  one cell ring", stated identically in the oracle. The proximity
  alerting / map-matching shape geofencing stacks run next to
  j_trajectory_fence_crossing's crossing detection.

Both are beyond-reference graph/spatial operators (the reference — a
single-node odds scraper, arbitrage_scanner.py:1-514 — has no graph or
spatial layer); design notes argue the brief's 100 TB scale bar.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from banksy_spark.suite.registry import T, query
from banksy_spark.suite.round12 import _PG_POLY_SQL, _nation_rhombi
from banksy_spark.suite.round13 import _EDGES_DUCK, _rhombus_edges

# --- graph_label_propagation -------------------------------------------------

_LPA_N = 500   # node id space (round4d._BFS_N convention)
_LPA_B = 50    # block width: 10 planted communities of 50 nodes
_LPA_R = 3     # synchronous vote rounds; the planted blocks stabilize
               # by round 2 at every tested SF, so 3 is a
               # proven-converged budget the oracle mirrors exactly

# Block-structured sparse graph: intra-block edges (1-in-3 orders)
# carry the community signal, 1-in-97 orders add cross-block noise.
# FLOOR(u/50) instead of integer division so the block arithmetic is
# the same text in both engines (no DIV/// dialect split).
_LPA_E0 = """
      SELECT DISTINCT o_custkey % 500 AS u, o_orderkey % 500 AS v
      FROM __ORDERS__
      WHERE o_custkey % 500 <> o_orderkey % 500
        AND ((FLOOR((o_custkey % 500) / 50.0)
              = FLOOR((o_orderkey % 500) / 50.0)
              AND o_orderkey % 3 = 0)
             OR o_orderkey % 97 = 0)
"""


def _lpa_round_duck(i: int) -> str:
    # AS MATERIALIZED is load-bearing (graph_kcore lesson): each round
    # references the previous labels twice (neighbor vote + self vote);
    # un-materialized CTEs re-inline the whole chain per reference.
    p = f"l{i - 1}"
    return f"""
    v{i} AS (
      SELECT e.u AS n, l.lbl FROM edges e JOIN {p} l ON l.n = e.v
      UNION ALL SELECT n, lbl FROM {p}
    ),
    c{i} AS (
      SELECT n, lbl, COUNT(*) AS c FROM v{i} GROUP BY n, lbl
    ),
    l{i} AS MATERIALIZED (
      SELECT n, lbl FROM (
        SELECT n, lbl,
               ROW_NUMBER() OVER (PARTITION BY n
                                  ORDER BY c DESC, lbl) AS rk
        FROM c{i}
      ) WHERE rk = 1
    )"""


@query(
    "graph_label_propagation",
    oracle=f"""
    WITH e0 AS MATERIALIZED ({_LPA_E0.replace("__ORDERS__", "orders")}),
    edges AS MATERIALIZED (
      SELECT u, v FROM e0 UNION SELECT v, u FROM e0
    ),
    l0 AS MATERIALIZED (
      SELECT DISTINCT u AS n, u AS lbl FROM edges
    ),
    {",".join(_lpa_round_duck(i) for i in range(1, _LPA_R + 1))}
    SELECT lbl AS community,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(MIN(n) AS BIGINT) AS min_node
    FROM l{_LPA_R} GROUP BY lbl
    """,
    note=f"Synchronous label propagation ({_LPA_R} rounds) — community "
    "detection over a block-structured sparse graph (10 planted "
    "50-node communities from intra-block orders plus 1-in-97 "
    "cross-block noise): every node starts labeled with its own id "
    "and each round adopts the most frequent label among its "
    "NEIGHBORS PLUS ITSELF, ties broken by smallest label. The "
    "self-vote is the standard damping that removes synchronous-LPA "
    "oscillation, and the (count DESC, label ASC) tie-break makes "
    "every round a deterministic pure function of the previous "
    "labeling — which is what lets a DuckDB oracle mirror the exact "
    "integer recurrence as unrolled MATERIALIZED CTEs. Same "
    "fixed-depth-lazy-plan design as graph_kcore/graph_pagerank: no "
    "driver-loop actions, each round = one edge-grain hash join "
    "(labels onto edge targets), one (node, label) count aggregate, "
    "and one per-node argmax window — all key-partitioned at node/"
    "edge grain, no all-pairs anywhere — with per-round lineage cuts "
    "so round r never replays rounds 1..r-1. At 100 TB the vote join "
    "shuffles on node id exactly like pagerank's rank-scatter; the "
    "label frame is nodes-sized (orders of magnitude below the edge "
    "fact). Output is the community histogram (label, size, min "
    "node) — all exact BIGINTs.",
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    e0 = spark.sql(_LPA_E0.replace("__ORDERS__", "{o}"), o=o)
    edges = (
        e0.unionByName(e0.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    lab = edges.select(F.col("u").alias("n"), F.col("u").alias("lbl")).distinct()
    w = Window.partitionBy("n").orderBy(F.desc("c"), F.col("lbl"))
    for _ in range(_LPA_R):
        votes = (
            edges.join(lab.withColumnRenamed("n", "v"), "v")
            .select(F.col("u").alias("n"), "lbl")
            .unionByName(lab)
        )
        cnt = votes.groupBy("n", "lbl").agg(F.count(F.lit(1)).alias("c"))
        lab = (
            cnt.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("n", "lbl")
            .localCheckpoint(eager=False)
        )
    return lab.groupBy(F.col("lbl").alias("community")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.min("n").cast("bigint").alias("min_node"),
    )


# --- j_nearest_edge_join -----------------------------------------------------

_NE_CELL = 8.0  # same blocking grid as j_trajectory_fence_crossing

# Exact point-to-segment squared distance: project the point onto the
# supporting line, clamp the parameter to [0, 1], square the residual.
# One division (by the edge's nonzero squared length); every term is
# the identical IEEE expression text in both engines, so the distance
# — and therefore the argmin pick — is bit-identical.
_NE_D2 = (
    "(px - (x1 + LEAST(GREATEST("
    "((px - x1) * (x2 - x1) + (py - y1) * (y2 - y1))"
    " / ((x2 - x1) * (x2 - x1) + (y2 - y1) * (y2 - y1)),"
    " CAST(0 AS DOUBLE)), CAST(1 AS DOUBLE)) * (x2 - x1)))"
    " * (px - (x1 + LEAST(GREATEST("
    "((px - x1) * (x2 - x1) + (py - y1) * (y2 - y1))"
    " / ((x2 - x1) * (x2 - x1) + (y2 - y1) * (y2 - y1)),"
    " CAST(0 AS DOUBLE)), CAST(1 AS DOUBLE)) * (x2 - x1)))"
    " + (py - (y1 + LEAST(GREATEST("
    "((px - x1) * (x2 - x1) + (py - y1) * (y2 - y1))"
    " / ((x2 - x1) * (x2 - x1) + (y2 - y1) * (y2 - y1)),"
    " CAST(0 AS DOUBLE)), CAST(1 AS DOUBLE)) * (y2 - y1)))"
    " * (py - (y1 + LEAST(GREATEST("
    "((px - x1) * (x2 - x1) + (py - y1) * (y2 - y1))"
    " / ((x2 - x1) * (x2 - x1) + (y2 - y1) * (y2 - y1)),"
    " CAST(0 AS DOUBLE)), CAST(1 AS DOUBLE)) * (y2 - y1)))"
)

_NE_PTS = """
      SELECT event_id, value AS px, CAST(user_id % 100 AS DOUBLE) AS py
      FROM __EVENTS__
"""

@query(
    "j_nearest_edge_join",
    oracle=f"""
    WITH pts AS ({_NE_PTS.replace("__EVENTS__", "events")}),
    polys AS ({_PG_POLY_SQL}),
    edges AS ({_EDGES_DUCK}),
    ecover AS (
      SELECT e.*, ix.i AS ix, iy.i AS iy
      FROM edges e,
           LATERAL (SELECT unnest(range(
             CAST(FLOOR(LEAST(x1, x2) / {_NE_CELL}) AS BIGINT),
             CAST(FLOOR(GREATEST(x1, x2) / {_NE_CELL}) AS BIGINT) + 1))
             AS i) ix,
           LATERAL (SELECT unnest(range(
             CAST(FLOOR(LEAST(y1, y2) / {_NE_CELL}) AS BIGINT),
             CAST(FLOOR(GREATEST(y1, y2) / {_NE_CELL}) AS BIGINT) + 1))
             AS i) iy
    ),
    dcover AS (
      SELECT DISTINCT poly_id, edge_id, x1, y1, x2, y2,
             ix + dx.i AS ix, iy + dy.i AS iy
      FROM ecover,
           LATERAL (SELECT unnest(range(-1, 2)) AS i) dx,
           LATERAL (SELECT unnest(range(-1, 2)) AS i) dy
    ),
    cand AS (
      SELECT p.event_id, p.px, p.py,
             d.poly_id, d.edge_id, d.x1, d.y1, d.x2, d.y2
      FROM pts p JOIN dcover d
        ON d.ix = CAST(FLOOR(p.px / {_NE_CELL}) AS BIGINT)
       AND d.iy = CAST(FLOOR(p.py / {_NE_CELL}) AS BIGINT)
    )
    SELECT event_id, poly_id, edge_id, d2
    FROM (
      SELECT event_id, poly_id, edge_id, {_NE_D2} AS d2,
             ROW_NUMBER() OVER (PARTITION BY event_id
               ORDER BY {_NE_D2}, poly_id, edge_id) AS rk
      FROM cand
    ) WHERE rk = 1
    """,
    note="Nearest-edge distance join — distance-to-boundary, the "
    "proximity-alerting / map-matching shape next to "
    "j_trajectory_fence_crossing's crossing detection: each event "
    "point finds its nearest fence edge by EXACT point-to-segment "
    "squared distance (projection parameter clamped to [0,1]; the "
    "one division is by the edge's nonzero squared length), argmin "
    "per point with the (d2, poly_id, edge_id) deterministic "
    "tie-break. BOUNDED-SEARCH semantics, stated identically in the "
    "oracle: candidates come only from the point's grid cell against "
    "a one-ring-DILATED edge cover (j_knn_grid_join's discipline "
    "flipped — the metadata-sized side is dilated so the fact side "
    "explodes 1x, not 9x), so points farther than one cell ring from "
    "every fence are absent from the result by definition. Scale: "
    "the dilated cover is ~100 edges x a few dozen cells, broadcast; "
    "the candidate join is map-side; the only shuffle is the "
    "per-point argmax window keyed on event_id (fact grain, "
    "WindowGroupLimit pushes the rank partial). Parity: the d2 "
    "expression is identical IEEE text in both engines, so even "
    "equidistant-corner picks agree bit-for-bit.",
)
def j_nearest_edge_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "events")
    pts = spark.sql(_NE_PTS.replace("__EVENTS__", "{e}"), e=e).selectExpr(
        "event_id", "px", "py",
        f"CAST(FLOOR(px / {_NE_CELL}) AS BIGINT) AS ix",
        f"CAST(FLOOR(py / {_NE_CELL}) AS BIGINT) AS iy",
    )
    polys = _nation_rhombi(spark, sf_dir)
    edges = _rhombus_edges(polys)
    ecover = edges.select(
        "*",
        F.explode(
            F.sequence(
                F.floor(F.least("x1", "x2") / _NE_CELL).cast("bigint"),
                F.floor(F.greatest("x1", "x2") / _NE_CELL).cast("bigint"),
            )
        ).alias("cx_i"),
    ).select(
        "*",
        F.explode(
            F.sequence(
                F.floor(F.least("y1", "y2") / _NE_CELL).cast("bigint"),
                F.floor(F.greatest("y1", "y2") / _NE_CELL).cast("bigint"),
            )
        ).alias("cy_i"),
    )
    dcover = (
        ecover.select(
            "*", F.explode(F.sequence(F.lit(-1), F.lit(1))).alias("dx_i")
        )
        .select("*", F.explode(F.sequence(F.lit(-1), F.lit(1))).alias("dy_i"))
        .select(
            "poly_id", "edge_id", "x1", "y1", "x2", "y2",
            (F.col("cx_i") + F.col("dx_i")).alias("ix"),
            (F.col("cy_i") + F.col("dy_i")).alias("iy"),
        )
        .distinct()
    )
    cand = pts.join(F.broadcast(dcover), ["ix", "iy"]).select(
        "event_id", "px", "py", "poly_id", "edge_id", "x1", "y1", "x2", "y2"
    )
    w = Window.partitionBy("event_id").orderBy(
        F.expr(_NE_D2), F.col("poly_id"), F.col("edge_id")
    )
    return (
        cand.withColumn("d2", F.expr(_NE_D2))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("event_id", "poly_id", "edge_id", "d2")
    )
