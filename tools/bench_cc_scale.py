"""Connected-components scale benchmark (round 7): prove both paths.

Round 7 gave ``operators.graph.connected_components`` a bounded
driver union-find fast path (edge sets ≤ ``graph.DRIVER_EDGES``) next to
the distributed large-star/small-star loop. The suite exercises the
driver path (LSH collision graphs are tiny) and pytest pins the two
paths bit-equal on small fixtures; this tool measures BOTH at a scale
no fixture reaches:

  dist_sec   distributed loop (DRIVER_EDGES = 0) on a multi-million-
             edge graph mixing a 100k-node chain (diameter 1e5 — the
             log-round worst case for star rounds), 1k dense 50-node
             circulant clusters, and a random sparse soup over 1M ids
  drv_sec    driver union-find on the same graph with DRIVER_EDGES
             raised above |E|
  equal      exact label equality of the two paths, verified IN SPARK
             (full-outer join, zero disagreeing rows), not by sampling

Expected findings (recorded in BASELINE.md):
- the distributed loop converges on the 100k chain in O(log n) rounds,
  validating the max_iter=50 backstop for any real graph;
- the driver path stays faster well past the default 500k threshold —
  the threshold is conservative, bounded by driver memory (16 B/edge),
  not by a crossover;
- both paths agree exactly at millions of edges.

Usage: python tools/bench_cc_scale.py  → one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from banksy_spark.operators import graph  # noqa: E402
from banksy_spark.session import get_spark  # noqa: E402

CHAIN_N = 100_000          # one path component: diameter 1e5
CLUSTERS = 1_000           # 1k disjoint 50-node circulant clusters
CLUSTER_K = 50
STRIDES = (1, 7, 13)       # 3 circulant strides -> 150 edges/cluster
SOUP_EDGES = 2_000_000     # random sparse soup over 1M ids
SOUP_NODES = 1_000_000
FIXTURE = "/tmp/banksy_cc_fixture"


def build_graph(spark):
    """Deterministic edge list, components in disjoint id ranges."""
    chain = spark.range(CHAIN_N - 1).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    base = 10_000_000
    members = spark.range(CLUSTERS * CLUSTER_K).select(
        (F.col("id") / CLUSTER_K).cast("bigint").alias("c"),
        (F.col("id") % CLUSTER_K).alias("i"),
    )
    cl = members.select(
        "c", "i", F.explode(F.array(*[F.lit(s) for s in STRIDES])).alias("s")
    ).select(
        (F.lit(base) + F.col("c") * CLUSTER_K + F.col("i")).alias("src"),
        (
            F.lit(base)
            + F.col("c") * CLUSTER_K
            + (F.col("i") + F.col("s")) % CLUSTER_K
        ).alias("dst"),
    )
    base2 = 20_000_000
    soup = spark.range(SOUP_EDGES).select(
        (F.lit(base2) + F.abs(F.xxhash64("id", F.lit(1))) % SOUP_NODES).alias("src"),
        (F.lit(base2) + F.abs(F.xxhash64("id", F.lit(2))) % SOUP_NODES).alias("dst"),
    )
    return chain.unionByName(cl).unionByName(soup)


def main() -> None:
    spark = get_spark("banksy-cc-scale")
    build_graph(spark).write.mode("overwrite").parquet(FIXTURE)
    e = spark.read.parquet(FIXTURE)
    n_edges = e.count()

    t0 = time.time()
    graph.DRIVER_EDGES = 0
    dist = graph.connected_components(e).localCheckpoint(eager=False)
    n_dist = dist.count()
    dist_sec = round(time.time() - t0, 1)

    t0 = time.time()
    graph.DRIVER_EDGES = n_edges + 1
    drv = graph.connected_components(e).localCheckpoint(eager=False)
    n_drv = drv.count()
    drv_sec = round(time.time() - t0, 1)

    diff = (
        dist.withColumnRenamed("lab", "a")
        .join(drv.withColumnRenamed("lab", "b"), "node", "full_outer")
        .filter(
            F.col("a").isNull() | F.col("b").isNull() | (F.col("a") != F.col("b"))
        )
        .count()
    )
    print(
        json.dumps(
            {
                "metric": "cc_scale",
                "n_edges": n_edges,
                "nodes_dist": n_dist,
                "nodes_drv": n_drv,
                "dist_sec": dist_sec,
                "drv_sec": drv_sec,
                "label_diffs": diff,
                "equal": diff == 0 and n_dist == n_drv,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
