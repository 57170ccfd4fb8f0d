"""Round-5 continuation, batch 15: the skyline (Pareto-front) query.

j_skyline_pareto finds the non-dominated parts on (price ↓, size ↑):
a part is dominated if some other part is no more expensive AND no
smaller, with at least one strict. The classic O(n²) dominance
definition collapses to ONE sorted window pass for 2D: after ordering
by exact price cents, a part is dominated iff the max size among
STRICTLY cheaper parts reaches its size, or a same-price peer strictly
exceeds it — two window frames (a RANGE frame ending 1 cent before
current, and the same-price partition), no self-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from banksy_spark.suite.registry import T, query


@query(
    "j_skyline_pareto",
    oracle="""
    WITH p AS (
      SELECT p_partkey, p_size,
             CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents
      FROM part
    ),
    fr AS (
      SELECT p_partkey, p_size, cents,
             MAX(p_size) OVER (ORDER BY cents
                               RANGE BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING) AS best_cheaper,
             MAX(p_size) OVER (PARTITION BY cents) AS best_same
      FROM p
    )
    SELECT p_partkey, p_size,
           CAST(cents AS DOUBLE) / 100e0 AS price
    FROM fr
    WHERE (best_cheaper IS NULL OR best_cheaper < p_size)
      AND best_same = p_size
    """,
    note="Skyline (Pareto-front) query: parts non-dominated on "
    "(cheaper, bigger). The O(n²) dominance test collapses to one "
    "sorted pass in 2D: order by exact integer price cents, then "
    "dominated ⟺ the running MAX size over the RANGE frame ending one "
    "cent earlier reaches this size, OR a same-price peer is strictly "
    "bigger (two frames on one sort — same-size same-price peers "
    "survive together, per the standard skyline definition). No "
    "self-join, exact integer comparisons. Scale: the sorted pass IS "
    "range-partitioned (operators/ordinals.py bucketize on cents — "
    "equal prices always share a bucket), the intra-bucket running max "
    "runs PARTITION BY bucket, and the cross-bucket carry is each "
    "bucket's max size prefix-folded on the driver into a literal "
    "lookup map — 64 numbers collected, not rows; no join and no "
    "single-partition stage anywhere in the plan (plan-asserted; the "
    "angular-partition form is the d>2 extension).",
)
def j_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = T(spark, sf_dir, "part").select(
        "p_partkey",
        "p_size",
        F.expr(
            "CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
        ).alias("cents"),
    )
    return pareto_front(p, "cents", "p_size").select(
        "p_partkey",
        "p_size",
        (F.col("cents").cast("double") / F.lit(100.0)).alias("price"),
    )


def pareto_front(points: DataFrame, price: str, size: str) -> DataFrame:
    """The rows of ``points`` no other row dominates on (lower integer
    ``price``, higher ``size``), with ``best_cheaper``/``best_same``
    (the max size over strictly cheaper / same-price rows) attached.

    Bucketed on ``price`` ONLY (no tiebreak → no hot-value sub-split):
    every bucket boundary then separates strictly-different prices, so
    "max over strictly earlier buckets" == "max over some strictly
    cheaper rows" — the dominance carry stays exact.  The carry is the
    ≤129-number bucket directory prefix-folded on the driver into ONE
    literal lookup map (``Bucketing.prefix``): no join, no broadcast
    build, a single exchange in the whole plan."""
    from banksy_spark.operators.ordinals import (
        BUCKET_KEYS,
        _auto_parallelism,
        bucketize,
    )

    bk = bucketize(points, [price], aggs={"mx": F.max(size)}, skew_split=False)
    n_part = _auto_parallelism(points.sparkSession, bk.total_count)
    d = bk.df.repartition(n_part, *BUCKET_KEYS).withColumn(
        "pre_max", bk.prefix("mx", max)
    )
    w_cheaper = (
        Window.partitionBy(*BUCKET_KEYS)
        .orderBy(price)
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    # equal prices always share a bucket (the bucket id is a pure
    # function of the price), so the same-price peer max is a RANGE
    # frame of width 0 on the SAME bucket window — no second exchange.
    w_same = Window.partitionBy(*BUCKET_KEYS).orderBy(price).rangeBetween(0, 0)
    fr = d.select(
        *points.columns,
        F.greatest(F.max(size).over(w_cheaper), F.col("pre_max")).alias(
            "best_cheaper"
        ),
        F.max(size).over(w_same).alias("best_same"),
    )
    return fr.filter(
        (F.col("best_cheaper").isNull() | (F.col("best_cheaper") < F.col(size)))
        & (F.col("best_same") == F.col(size))
    )
