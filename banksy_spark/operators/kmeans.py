"""Distributed spherical k-means trained to convergence (the iterated
form of suite.round5.ml_kmeans_step — same per-iteration plan, driver
loop + assignment-stability stopping rule, the shape of graph.py's
``_fixpoint`` loop, but returning ``converged=False`` at ``max_iter``
instead of raising).

Determinism contract (pytest-verified bit-exact vs a pure-Python
replica, tests/test_scale_ops.py):
- seeds: the first k vectors by id (no RNG);
- assignment: argmax cosine with (similarity DESC, seed id ASC)
  tie-break — the cosine is a LEFT FOLD over the array (Spark
  ``aggregate``), so the IEEE sequence matches any engine that folds
  left-to-right;
- centroid update: fixed-point exact means — floor(x*1e12) integer
  sums (order-free, associative) divided back in double. A DECIMAL
  cast is NOT cross-engine/cross-run stable for full-mantissa doubles
  (Spark rounds HALF_UP, DuckDB HALF_EVEN — see ml_kmeans_step).

Scale: per iteration, assignment is a broadcast of k centroids against
a narrow scan (map-only) and the update is one (cell, pos) exchange
with map-side combine; a lazy ``localCheckpoint`` truncates lineage
per iteration and the stability count is the ONE driver job that
materializes it. Empty cells keep
their previous centroid — no respawn heuristic, so runs are replayable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_DOT = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (acc, v) -> acc + v)"
_NORM = "sqrt(aggregate(transform({v}, x -> x * x), 0D, (acc, v) -> acc + v))"


def _assign(n: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-centroid cell per vector: (vec_id, cell, v).

    Argmax by (similarity DESC, seed id ASC) as a hash aggregate —
    ``max`` over a ``(sim, -cell)``-led struct picks exactly the row a
    sort-window would, without sorting the n×k candidate rows (the agg
    is map-side combinable, so at scale each executor reduces its own
    candidates before the exchange). (sim, -cell) is unique per
    (vec_id, cell), so the trailing payload fields never decide."""
    sim = F.expr(_DOT.format(a="v", b="cv")) / (F.col("nrm") * F.col("cnorm"))
    best = F.max(
        F.struct(
            F.col("_sim").alias("s"),
            (-F.col("cell")).alias("nc"),
            F.col("cell").alias("cell"),
            F.col("v").alias("v"),
        )
    ).alias("best")
    return (
        n.crossJoin(F.broadcast(cents))
        .withColumn("_sim", sim)
        .groupBy("vec_id")
        .agg(best)
        .select(
            "vec_id",
            F.col("best.cell").alias("cell"),
            F.col("best.v").alias("v"),
        )
    )


def assign(n: DataFrame, cents: DataFrame) -> DataFrame:
    """Public serving pass: nearest-centroid cell per vector.

    ``n``: (vec_id, v, nrm) — normed vectors; ``cents``: (cell, cv,
    cnorm). Returns (vec_id, cell, v) with the trainer's exact argmax
    rule (cosine DESC, cell ASC) so frozen-literal serving reproduces
    the converged assignment bit-for-bit. Scale: k centroids broadcast
    against a narrow scan, map-side-combinable hash aggregate — no
    shuffle of the candidate rows."""
    return _assign(n, cents)


def centroids_df(spark, literals) -> DataFrame:
    """Literal centroids -> (cell, cv, cnorm) frame (LocalRelation).

    ``literals``: [(cell, [float, ...]), ...] as frozen by
    tools/freeze_centroids.py. Python floats pass through
    createDataFrame as exact IEEE doubles; cnorm uses the same left-fold
    expression as training, so serving sees the trainer's numbers."""
    from pyspark.sql.types import (
        ArrayType, DoubleType, LongType, StructField, StructType,
    )

    schema = StructType([
        StructField("cell", LongType()),
        StructField("cv", ArrayType(DoubleType())),
    ])
    return spark.createDataFrame(
        [(int(c), list(map(float, cv))) for c, cv in literals], schema
    ).withColumn("cnorm", F.expr(_NORM.format(v="cv")))


def centroids_values_sql(literals) -> str:
    """The same literal centroids as a DuckDB VALUES relation.

    Emits ``(VALUES (0, [CAST('..' AS DOUBLE), ...]), ...) AS
    cents(cell, cv)`` — each coordinate as a quoted ``repr`` string
    cast to DOUBLE, because DuckDB's string->double parse is correctly
    rounded and ``repr`` round-trips, giving the oracle bit-identical
    centroids to the Spark side (a bare decimal literal risks an
    engine-specific DECIMAL parse; the string cast does not)."""
    rows = []
    for cell, cv in literals:
        coords = ", ".join(f"CAST('{x!r}' AS DOUBLE)" for x in cv)
        rows.append(f"(CAST({int(cell)} AS BIGINT), [{coords}])")
    return "(VALUES\n      " + ",\n      ".join(rows) + "\n    ) AS cents(cell, cv)"


def kmeans_train(
    vectors: DataFrame,
    k: int = 8,
    max_iter: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "v",
) -> tuple[DataFrame, DataFrame, int, bool]:
    """Train spherical k-means to assignment convergence.

    ``vectors``: (id_col, vec_col: array<double>). Returns
    ``(centroids, assignments, n_iter, converged)`` where centroids is
    (cell, cv: array<double>, cnorm) and assignments is (vec_id, cell).
    Stops when no vector changes cell, else at ``max_iter`` with
    ``converged=False`` — reported honestly rather than masked, because
    on weakly-clustered data a handful of boundary vectors can
    oscillate between equidistant cells indefinitely (observed on the
    synthetic 64-d embeddings at sf0.1); the assignments are still the
    standard fixed-budget Lloyd output every ML library ships when
    max_iter trips.
    """
    n = (
        vectors.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v")
        )
        .withColumn("nrm", F.expr(_NORM.format(v="v")))
        .persist()
    )
    cents = (
        n.filter(F.col("vec_id") < k)
        .select(
            F.col("vec_id").alias("cell"),
            F.col("v").alias("cv"),
            F.col("nrm").alias("cnorm"),
        )
        .localCheckpoint(eager=False)
    )
    assigned = _assign(n, cents).localCheckpoint(eager=False)
    n_iter, converged = 0, False
    for _ in range(max_iter):
        n_iter += 1
        dims = assigned.select(
            "cell", F.posexplode("v").alias("pos", "val")
        ).select(
            "cell", "pos", F.floor(F.col("val") * 1e12).cast("bigint").alias("q")
        )
        means = (
            dims.groupBy("cell", "pos")
            .agg((F.sum("q").cast("double") / F.lit(1e12) / F.count("*")).alias("c"))
            .groupBy("cell")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(pos, c))), x -> x.c)"
                ).alias("cv")
            )
        )
        # empty cells keep their previous centroid (deterministic)
        cents = (
            cents.select("cell", F.col("cv").alias("prev"))
            .join(means, "cell", "left")
            .select("cell", F.coalesce("cv", "prev").alias("cv"))
            .withColumn("cnorm", F.expr(_NORM.format(v="cv")))
            .localCheckpoint(eager=False)
        )
        nxt = _assign(n, cents).localCheckpoint(eager=False)
        moved = (
            nxt.select("vec_id", F.col("cell").alias("new_cell"))
            .join(assigned.select("vec_id", "cell"), "vec_id")
            .filter(F.col("new_cell") != F.col("cell"))
            .count()
        )
        assigned = nxt
        if moved == 0:
            converged = True
            break
    n.unpersist()
    return cents, assigned.select("vec_id", "cell"), n_iter, converged
