"""Round-8 close additions: one-pass model fitting and robust trends.

Statistics extending the reference's analytics layer (its margin
arithmetic stops at per-game max-payout sums and stake splits,
arbitrage_scanner.py:269-293, 360-378 — no trend/fit/dependence
diagnostics exist there) into the model-fitting and robust-trend
primitives a monitoring deployment of the same pipeline would need:

* ``ml_linreg_normal`` — multi-feature OLS fitted in ONE distributed
  pass: the Gram matrix / normal equations as map-side-combinable
  integer moment sums, solved in-plan by Cramer's rule on EXACT
  DECIMAL(38,0) determinants (no iteration, no driver solve, no float
  until the final division).
* ``a_theil_sen_monthly`` — the robust (median-of-pairwise-slopes)
  trend estimator over a calendar-bounded daily directory: pair
  explosion is O(days²) per group regardless of fact size.
* ``w_rolling_corr`` — rolling bivariate Pearson correlation from
  exact window moment sums (the bivariate member of the
  bollinger/ewma/control-chart family).

Hash-exactness discipline (the a_ols_slope / ml_woe_encoding
pattern): every aggregate and every determinant is an exact integer
DECIMAL; the only float operations are a final division (and one
sqrt) applied to STRING-routed doubles with textually identical
expressions in both engines, so Spark and DuckDB emit bit-identical
results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from banksy_spark.suite.llm import (
    _BF_RANK_DUCK,
    _CENT_DUCK,
    _EN_DUCK,
    _IVF_RANK_DUCK,
)
from banksy_spark.suite.registry import T, fan_out, query

# Cramer's rule for the 3x3 normal equations [[n,s1,s2],[s1,s11,s12],
# [s2,s12,s22]] @ (b0,b1,b2) = (sy,s1y,s2y).  The SAME text is used as
# a Spark SQL expression and inside the DuckDB oracle: all operands are
# DECIMAL(38,0), both engines cap the product width at 38 and compute
# exactly when the value fits (worst term at sf100 ~ 3.5e34 < 1e38,
# sized in the note below), so the determinants are integer-exact and
# association-independent.
_DET = (
    "(n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)"
    " + s2 * (s1 * s12 - s11 * s2))"
)
_DET_B0 = (
    "(sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y)"
    " + s2 * (s1y * s12 - s11 * s2y))"
)
_DET_B1 = (
    "(n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2)"
    " + s2 * (s1 * s2y - s1y * s2))"
)
_DET_B2 = (
    "(n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2)"
    " + sy * (s1 * s12 - s11 * s2))"
)
# exact-decimal determinant -> STRING -> DOUBLE: the decimal digits are
# rendered and re-parsed with correct rounding in both engines, so the
# one float division sees bit-identical operands.
_F64 = "CAST(CAST({x} AS STRING) AS DOUBLE)"
_BETA = f"({_F64.format(x='{num}')} / {_F64.format(x=_DET)})"


@query(
    "ml_linreg_normal",
    oracle=f"""
    WITH pts AS (
      SELECT p.p_brand AS brand,
             CAST(CAST(ROUND(l.l_discount * 100) AS BIGINT) AS DECIMAL(38,0)) AS x1,
             CAST(CAST(ROUND(l.l_quantity) AS BIGINT) AS DECIMAL(38,0)) AS x2,
             CAST(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT) AS DECIMAL(38,0)) AS y
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ), mom AS (
      SELECT brand,
             CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
             SUM(x1) AS s1, SUM(x2) AS s2, SUM(y) AS sy,
             SUM(x1 * x1) AS s11, SUM(x2 * x2) AS s22, SUM(x1 * x2) AS s12,
             SUM(x1 * y) AS s1y, SUM(x2 * y) AS s2y
      FROM pts GROUP BY brand
    )
    SELECT brand, CAST(n AS BIGINT) AS n,
           {_BETA.format(num=_DET_B0)} AS beta0,
           {_BETA.format(num=_DET_B1)} AS beta1,
           {_BETA.format(num=_DET_B2)} AS beta2
    FROM mom
    """,
    note="Per-brand TWO-feature OLS (extendedprice-cents on discount-pct "
    "and quantity-units) via the normal equations: nine integer moment "
    "sums (the Gram matrix X'X and X'y) in one map-side-combinable "
    "aggregate, then Cramer's rule 3x3 determinants computed EXACTLY in "
    "DECIMAL(38,0) — the classic one-pass distributed model fit (no "
    "gradient iterations, no driver-side solve; ml_kmeans_step is the "
    "iterative contrast). Both engines cap decimal products at width 38 "
    "and compute exactly when the value fits; worst determinant term is "
    "sy*s11*s22 ~ 2.4e14*2.4e9*6e10 = 3.5e34 at sf100, inside "
    "DECIMAL(38). The only float op is the final STRING-routed "
    "division, shared as one expression text. Scale: broadcast part "
    "dim -> one shuffle at brand grain; fitting k features costs "
    "O(k^2) sum columns in the SAME single pass, never another scan.",
)
def ml_linreg_normal(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan_out: nine DECIMAL(38) product-sums per row are the CPU wall,
    # and the single-row-group fact scans as one task (r13 opt).
    li = fan_out(
        T(spark, sf_dir, "lineitem").select(
            "l_partkey", "l_discount", "l_quantity", "l_extendedprice"
        )
    )
    pt = T(spark, sf_dir, "part").select("p_partkey", "p_brand")
    dec = "decimal(38,0)"
    x1 = F.round(F.col("l_discount") * 100, 0).cast("bigint").cast(dec)
    x2 = F.round(F.col("l_quantity"), 0).cast("bigint").cast(dec)
    y = F.round(F.col("l_extendedprice") * 100, 0).cast("bigint").cast(dec)
    mom = (
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).cast(dec).alias("n"),
            F.sum(x1).alias("s1"),
            F.sum(x2).alias("s2"),
            F.sum(y).alias("sy"),
            F.sum(x1 * x1).alias("s11"),
            F.sum(x2 * x2).alias("s22"),
            F.sum(x1 * x2).alias("s12"),
            F.sum(x1 * y).alias("s1y"),
            F.sum(x2 * y).alias("s2y"),
        )
    )
    return mom.select(
        "brand",
        F.col("n").cast("bigint").alias("n"),
        F.expr(_BETA.format(num=_DET_B0)).alias("beta0"),
        F.expr(_BETA.format(num=_DET_B1)).alias("beta1"),
        F.expr(_BETA.format(num=_DET_B2)).alias("beta2"),
    )


# slope of one day-pair: y values are exact daily rationals q/c, so
# slope_ij = (qj/cj - qi/ci)/(dj - di) = (qj*ci - qi*cj)/(ci*cj*(dj-di))
# with bigint numerator/denominator; the division is the single float
# op, STRING-routed on both sides.  Median = the lower-median row of
# the (slope, num, den, d1, d2) ordering — doubles are bit-identical
# across engines, and the integer tie-break pins equal-slope pairs.
_TS_SLOPE = (
    "(CAST(CAST((q2 * c1 - q1 * c2) AS STRING) AS DOUBLE)"
    " / CAST(CAST((c1 * c2 * (d2 - d1)) AS STRING) AS DOUBLE))"
)


@query(
    "a_theil_sen_monthly",
    oracle=f"""
    WITH daily AS (
      SELECT p.p_brand AS brand,
             strftime(date_trunc('month', l.l_shipdate), '%Y-%m') AS mon,
             CAST(EXTRACT(day FROM l.l_shipdate) AS INT) AS d,
             CAST(SUM(CAST(ROUND(l.l_quantity) AS BIGINT)) AS BIGINT) AS q,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_brand IN ('Brand#11', 'Brand#22', 'Brand#3')
      GROUP BY 1, 2, 3
    ), pairs AS (
      SELECT a.brand, a.mon,
             a.d AS d1, b.d AS d2, a.q AS q1, b.q AS q2, a.c AS c1, b.c AS c2,
             {_TS_SLOPE} AS slope
      FROM daily a JOIN daily b
        ON a.brand = b.brand AND a.mon = b.mon AND a.d < b.d
    ), ranked AS (
      SELECT brand, mon, slope,
             ROW_NUMBER() OVER (
               PARTITION BY brand, mon
               ORDER BY slope, q2 * c1 - q1 * c2, c1 * c2 * (d2 - d1), d1, d2
             ) AS rn,
             COUNT(*) OVER (PARTITION BY brand, mon) AS n_pairs
      FROM pairs
    )
    SELECT brand, mon, CAST(n_pairs AS BIGINT) AS n_pairs,
           slope AS ts_slope
    FROM ranked WHERE rn = (n_pairs + 1) // 2
    """,
    note="Theil-Sen robust trend per (brand, month): median of pairwise "
    "slopes of mean daily quantity — the estimator that shrugs off the "
    "outlier days OLS chases. The fact collapses to a CALENDAR-bounded "
    "daily directory first (<= 31 rows per group at any fact size), so "
    "the O(days^2) pair explosion is <= C(31,2)=465 rows per group "
    "forever — pair-join cost is set by the calendar, not the corpus. "
    "Slopes stay exact rationals (qj*ci - qi*cj over ci*cj*(dj-di), "
    "daily means never materialized as floats); one STRING-routed "
    "division feeds a lower-median row_number with an integer "
    "tie-break, so both engines pick the identical pair. Scale: one "
    "fact aggregate, then a broadcast self-join over the tiny "
    "directory; three pinned brands keep the demo output readable.",
)
def a_theil_sen_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_shipdate", "l_quantity"
    )
    pt = T(spark, sf_dir, "part").select("p_partkey", "p_brand")
    daily = (
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .filter(F.col("p_brand").isin("Brand#11", "Brand#22", "Brand#3"))
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.date_format(F.date_trunc("month", "l_shipdate"), "yyyy-MM").alias(
                "mon"
            ),
            F.dayofmonth("l_shipdate").cast("int").alias("d"),
        )
        .agg(
            F.sum(F.round("l_quantity", 0).cast("bigint")).alias("q"),
            F.count(F.lit(1)).alias("c"),
        )
        # the calendar-bounded directory feeds BOTH self-join sides:
        # materialize once or each side re-executes the fact aggregate
        .localCheckpoint()
    )
    a = daily.select(
        "brand",
        "mon",
        F.col("d").alias("d1"),
        F.col("q").alias("q1"),
        F.col("c").alias("c1"),
    )
    b = daily.select(
        "brand",
        "mon",
        F.col("d").alias("d2"),
        F.col("q").alias("q2"),
        F.col("c").alias("c2"),
    )
    pairs = a.join(
        F.broadcast(b), ["brand", "mon"]
    ).filter(F.col("d1") < F.col("d2")).withColumn("slope", F.expr(_TS_SLOPE))
    w = Window.partitionBy("brand", "mon").orderBy(
        "slope",
        F.col("q2") * F.col("c1") - F.col("q1") * F.col("c2"),
        F.col("c1") * F.col("c2") * (F.col("d2") - F.col("d1")),
        "d1",
        "d2",
    )
    ranked = pairs.withColumn("rn", F.row_number().over(w)).withColumn(
        "n_pairs", F.count(F.lit(1)).over(Window.partitionBy("brand", "mon"))
    )
    return ranked.filter(
        F.col("rn") == F.floor((F.col("n_pairs") + 1) / 2)
    ).select(
        "brand",
        "mon",
        F.col("n_pairs").cast("bigint").alias("n_pairs"),
        F.col("slope").alias("ts_slope"),
    )


# Pearson over the trailing-7-observation frame from exact window
# moments: num and the two variance terms are integer DECIMALs; the
# division-by-sqrt is the only float, STRING-routed with one shared
# expression text.  n is the actual frame row count (= 7 after the
# rn >= 7 filter, but written as the windowed count so the formula is
# frame-size-agnostic).
_CORR7 = (
    "(CASE WHEN (nw * sxx - sx * sx) > 0 AND (nw * syy - sy * sy) > 0"
    " THEN CAST(CAST((nw * sxy - sx * sy) AS STRING) AS DOUBLE)"
    " / SQRT(CAST(CAST((nw * sxx - sx * sx) AS STRING) AS DOUBLE)"
    " * CAST(CAST((nw * syy - sy * sy) AS STRING) AS DOUBLE))"
    " ELSE NULL END)"
)


# the window-form oracle of w_rolling_corr and its fold-form twin
# stream_rolling_corr_stateful
_ROLLING_CORR_DUCK = f"""
    WITH daily AS (
      SELECT p.p_brand AS brand,
             CAST(l.l_shipdate AS DATE) AS day,
             CAST(CAST(SUM(CAST(ROUND(l.l_quantity) AS BIGINT)) AS BIGINT)
               AS DECIMAL(38,0)) AS x,
             CAST(CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT))
               AS BIGINT) AS DECIMAL(38,0)) AS y
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_brand IN ('Brand#11', 'Brand#22', 'Brand#3')
      GROUP BY 1, 2
    ), winmom AS (
      SELECT brand, day, x, y,
             ROW_NUMBER() OVER w AS rn,
             CAST(COUNT(*) OVER w7 AS DECIMAL(38,0)) AS nw,
             SUM(x) OVER w7 AS sx, SUM(y) OVER w7 AS sy,
             SUM(x * x) OVER w7 AS sxx, SUM(y * y) OVER w7 AS syy,
             SUM(x * y) OVER w7 AS sxy
      FROM daily
      WINDOW w AS (PARTITION BY brand ORDER BY day),
             w7 AS (PARTITION BY brand ORDER BY day
                    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT brand, day,
           CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
           {_CORR7} AS corr7
    FROM winmom WHERE rn >= 7
    """


def _brand_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The calendar-bounded brand x day directory: exact BIGINT daily
    quantity (x) and revenue-cents (y) sums for three brands."""
    li = T(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_shipdate", "l_quantity", "l_extendedprice"
    )
    pt = T(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return (
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .filter(F.col("p_brand").isin("Brand#11", "Brand#22", "Brand#3"))
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.col("l_shipdate").cast("date").alias("day"),
        )
        .agg(
            F.sum(F.round("l_quantity", 0).cast("bigint")).alias("x"),
            F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("bigint"))
            .alias("y"),
        )
    )


@query(
    "w_rolling_corr",
    oracle=_ROLLING_CORR_DUCK,
    note="Rolling 7-observation Pearson correlation between daily "
    "quantity and daily revenue per brand — the bivariate member of "
    "the bollinger/ewma/control-chart rolling-diagnostic family "
    "(an extension: the reference computes per-game margins, "
    "arbitrage_scanner.py:360-378, but has no cross-series "
    "diagnostics). All five window moments "
    "(sx, sy, sxx, syy, sxy) are exact integer DECIMAL sums over the "
    "ROWS 6-PRECEDING frame (squares overflow bigint past sf10, hence "
    "DECIMAL(38,0)); the r formula runs once on STRING-routed doubles, "
    "zero-variance windows emit NULL instead of a 0/0 NaN. Scale: one "
    "fact aggregate to the calendar-bounded daily grain, then ONE "
    "window pass computes all five moments over <= |days| rows per "
    "brand — never a self-join, never a fact-sized window.",
)
def w_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    dec = "decimal(38,0)"
    daily = _brand_daily(spark, sf_dir).select(
        "brand", "day", F.col("x").cast(dec).alias("x"),
        F.col("y").cast(dec).alias("y"),
    )
    w = Window.partitionBy("brand").orderBy("day")
    w7 = w.rowsBetween(-6, 0)
    winmom = daily.select(
        "brand",
        "day",
        "x",
        "y",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(w7).cast(dec).alias("nw"),
        F.sum("x").over(w7).alias("sx"),
        F.sum("y").over(w7).alias("sy"),
        F.sum(F.col("x") * F.col("x")).over(w7).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(w7).alias("syy"),
        F.sum(F.col("x") * F.col("y")).over(w7).alias("sxy"),
    )
    return winmom.filter(F.col("rn") >= 7).select(
        "brand",
        "day",
        F.col("x").cast("bigint").alias("x"),
        F.col("y").cast("bigint").alias("y"),
        F.expr(_CORR7).alias("corr7"),
    )


@query(
    "stream_rolling_corr_stateful",
    oracle=_ROLLING_CORR_DUCK,
    note="Rolling 7-observation Pearson correlation, CUSTOM-STATEFUL "
    "form (round-8 verdict item 6): the batch replay of "
    "streaming/stateful.py:rolling_corr, the rolling_corr step kernel "
    "(operators/folds.py) the same function runs on a stream — "
    "windowed bivariate moments are "
    "state-incremental (last 6 (x,y) pairs + a counter per brand), "
    "so the stream emits each day's r the micro-batch its grain "
    "arrives. Verified against the SAME window-form oracle as "
    "w_rolling_corr, proving the per-observation integer fold (Python "
    "ints ≡ the DECIMAL(38,0) exactness class, identical IEEE tail) "
    "rather than the window rewrite; the stream==batch contract across "
    "micro-batch boundaries is tests/test_streaming.py. Scale: the "
    "daily grain is calendar-bounded and the replay holds one Arrow "
    "batch at a time, whatever the series length.",
)
def stream_rolling_corr_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    from banksy_spark.streaming.stateful import rolling_corr

    daily = _brand_daily(spark, sf_dir).select(
        "brand", F.col("day").cast("string").alias("day"), "x", "y"
    )
    return rolling_corr(daily, window=7).select(
        "brand",
        F.col("day").cast("date").alias("day"),
        "x",
        "y",
        "corr7",
    )


# Spearman rho from exact doubled tie-averaged ranks: for a tie group
# of size c whose running count is cum, min_rank + max_rank =
# 2*cum - c + 1 (the ml_roc_auc identity), equal to the oracle's
# 2*RANK() + COUNT(*) OVER (PARTITION BY v) - 1.  Pearson is invariant
# to the 2x scale, so rho over the doubled ranks IS Spearman — and all
# six moments stay exact integer DECIMALs until this one expression.
_RHO = (
    "(CASE WHEN (n * saa - sa * sa) > 0 AND (n * sbb - sb * sb) > 0"
    " THEN CAST(CAST((n * sab - sa * sb) AS STRING) AS DOUBLE)"
    " / SQRT(CAST(CAST((n * saa - sa * sa) AS STRING) AS DOUBLE)"
    " * CAST(CAST((n * sbb - sb * sb) AS STRING) AS DOUBLE))"
    " ELSE NULL END)"
)


@query(
    "ml_spearman_corr",
    oracle=f"""
    WITH pts AS (
      SELECT l_quantity AS x, l_extendedprice AS y
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
    ), rk AS (
      SELECT CAST(2 * RANK() OVER (ORDER BY x)
                  + COUNT(*) OVER (PARTITION BY x) - 1
               AS DECIMAL(38,0)) AS a,
             CAST(2 * RANK() OVER (ORDER BY y)
                  + COUNT(*) OVER (PARTITION BY y) - 1
               AS DECIMAL(38,0)) AS b
      FROM pts
    ), mom AS (
      SELECT CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
             SUM(a) AS sa, SUM(b) AS sb,
             SUM(a * a) AS saa, SUM(b * b) AS sbb, SUM(a * b) AS sab
      FROM rk
    )
    SELECT CAST(n AS BIGINT) AS n, {_RHO} AS rho FROM mom
    """,
    note="Exact Spearman rank correlation between quantity and "
    "extended price: tie-averaged ranks held in the INTEGER doubled "
    "form min_rank+max_rank (Pearson is scale-invariant, so rho over "
    "doubled ranks is Spearman), all moments exact DECIMAL(38,0), one "
    "STRING-routed float expression at the end — the monotonic "
    "complement of a_corr_manual's linear Pearson. The fact never "
    "enters a window: each column's tie groups collapse to a distinct-"
    "value histogram FIRST (ml_roc_auc's aggregate-first rank "
    "pattern), operators/ordinals.py turns each histogram's running "
    "count into rank spans, and the rank maps join back — the 50-value "
    "quantity map broadcasts, the near-unique price map takes the one "
    "keyed shuffle. Worst moment at sf100: n*(2n)^2 = 4n^3 ~ 8.6e26, "
    "inside DECIMAL(38).",
)
def ml_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from banksy_spark.operators.ordinals import global_ordinals

    li = (
        T(spark, sf_dir, "lineitem")
        .select(
            F.col("l_quantity").alias("x"), F.col("l_extendedprice").alias("y")
        )
        .filter(F.col("x").isNotNull() & F.col("y").isNotNull())
    )
    dec = "decimal(38,0)"
    # y (near-unique): one bucketed global row_number over the FACT —
    # within-tie order is arbitrary, but min+max over the y tie group
    # is order-invariant, so the doubled tie-averaged rank is exact.
    # This replaces histogram + 600k-row ordinal + fact join-back with
    # one ordinal pass + one keyed window (measured 4.3 -> 3.2 s at
    # sf0.1; at 100 TB it drops a fact-sized shuffle-join side).
    r = global_ordinals(li, ["y"], row_number="rn")
    wy = Window.partitionBy("y")
    withb = r.withColumn(
        "b", (F.min("rn").over(wy) + F.max("rn").over(wy)).cast(dec)
    )
    # x (~50 distinct quantities): tiny histogram -> literal-map
    # ordinal cumsum -> broadcast rank map
    hx = li.groupBy("x").agg(F.count(F.lit(1)).alias("c"))
    rx = global_ordinals(hx, ["x"], cumsum=[("c", "cum")])
    mx = rx.select(
        "x", (2 * F.col("cum") - F.col("c") + 1).cast(dec).alias("a")
    )
    j = withb.join(F.broadcast(mx), "x")
    a, b = F.col("a"), F.col("b")
    mom = j.agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(a).alias("sa"),
        F.sum(b).alias("sb"),
        F.sum(a * a).alias("saa"),
        F.sum(b * b).alias("sbb"),
        F.sum(a * b).alias("sab"),
    )
    return mom.select(F.col("n").cast("bigint").alias("n"), F.expr(_RHO).alias("rho"))


# PMI / MI terms with the ml_woe_encoding ln-parity discipline: the
# log argument is one exact integer cross-product ratio rendered as a
# single double division, and MI is emitted PER CELL (the consumer
# sums) so no cross-cell float accumulation enters the value hash.
_PMI_RAW = "ln(CAST(n * nij AS DOUBLE) / (CAST(ni AS DOUBLE) * nj))"
# ln is a TRANSCENDENTAL: unlike +-*/ it has no IEEE correct-rounding
# guarantee, and Spark (StrictMath/fdlibm) vs DuckDB (glibc libm)
# disagree by 1 ulp on some arguments (measured on this grid:
# 0x3ff2d69b208d768e -> ...5c vs ...5d). ROUND(x, 12) on both sides
# collapses ulp-level disagreement while keeping 12 significant
# decimals of the statistic.
_PMI = f"ROUND({_PMI_RAW}, 12)"
_MI_TERM = f"ROUND((CAST(nij AS DOUBLE) / n) * {_PMI_RAW}, 12)"


@query(
    "ml_mutual_info",
    oracle=f"""
    WITH joint AS (
      SELECT c.c_mktsegment AS seg, o.o_orderpriority AS pri,
             CAST(COUNT(*) AS BIGINT) AS nij
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    ),
    m_seg AS (SELECT seg, CAST(SUM(nij) AS BIGINT) AS ni FROM joint GROUP BY seg),
    m_pri AS (SELECT pri, CAST(SUM(nij) AS BIGINT) AS nj FROM joint GROUP BY pri),
    tot AS (SELECT CAST(SUM(nij) AS BIGINT) AS n FROM joint)
    SELECT seg, pri, nij,
           {_PMI} AS pmi,
           {_MI_TERM} AS mi_term
    FROM joint JOIN m_seg USING (seg) JOIN m_pri USING (pri) CROSS JOIN tot
    """,
    note="Pointwise and aggregate mutual information between customer "
    "segment and order priority — the information-theoretic dependence "
    "screen (feature redundancy / leakage detection) next to "
    "a_chi2_contingency's frequency test. ln-parity discipline "
    "(ml_woe_encoding): the log argument is the exact integer "
    "cross-product n*n_ij / (n_i*n_j) in one shared expression text; "
    "MI contributions are per-cell so the only float sum happens in "
    "the consumer, not the hash. Scale: one keyed join + one "
    "map-side-combinable aggregate to the |seg|x|pri| cell grid; "
    "marginals and the total are broadcast re-aggregations of that "
    "tiny grid — the fact is scanned once, shuffled once.",
)
def ml_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders").select(
        "o_custkey", F.col("o_orderpriority").alias("pri")
    )
    c = T(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("seg")
    )
    joint = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("seg", "pri")
        .agg(F.count(F.lit(1)).alias("nij"))
        # the |seg|x|pri| grid (25 rows) feeds THREE re-aggregations
        # (both marginals + the total) and the final select — without
        # materialization each branch re-executes the fact join+agg,
        # turning one corpus pass into four
        .localCheckpoint()
    )
    m_seg = joint.groupBy("seg").agg(F.sum("nij").alias("ni"))
    m_pri = joint.groupBy("pri").agg(F.sum("nij").alias("nj"))
    tot = joint.agg(F.sum("nij").alias("n"))
    cells = (
        joint.join(F.broadcast(m_seg), "seg")
        .join(F.broadcast(m_pri), "pri")
        .crossJoin(F.broadcast(tot))
    )
    return cells.select(
        "seg",
        "pri",
        F.col("nij").cast("bigint").alias("nij"),
        F.expr(_PMI).alias("pmi"),
        F.expr(_MI_TERM).alias("mi_term"),
    )


# Kendall tau-b from exact integer pair counts.  sign() on exact
# bigint differences gives concordant/discordant/tie classes; the
# normalization n0-n1 / n0-n2 terms are exact integers, sqrt IS
# IEEE-correctly-rounded (unlike ln), so one shared expression text
# suffices — no quantization needed.
_TAU_B = (
    "(CAST(CAST((nc - nd) AS STRING) AS DOUBLE)"
    " / SQRT(CAST(CAST((n0 - n1) AS STRING) AS DOUBLE)"
    " * CAST(CAST((n0 - n2) AS STRING) AS DOUBLE)))"
)


@query(
    "ml_kendall_tau",
    oracle=f"""
    WITH daily AS (
      SELECT p.p_brand AS brand, CAST(l.l_shipdate AS DATE) AS day,
             CAST(SUM(CAST(ROUND(l.l_quantity) AS BIGINT)) AS BIGINT) AS x,
             CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT))
               AS BIGINT) AS y
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_brand IN ('Brand#11', 'Brand#22', 'Brand#3')
      GROUP BY 1, 2
    ), pairs AS (
      SELECT a.brand,
             sign(b.x - a.x) * sign(b.y - a.y) AS s,
             CASE WHEN a.x = b.x THEN 1 ELSE 0 END AS tx,
             CASE WHEN a.y = b.y THEN 1 ELSE 0 END AS ty
      FROM daily a JOIN daily b
        ON a.brand = b.brand AND a.day < b.day
    ), cnt AS (
      SELECT brand,
             CAST(COUNT(*) AS BIGINT) AS n0,
             CAST(COUNT(*) FILTER (s > 0) AS BIGINT) AS nc,
             CAST(COUNT(*) FILTER (s < 0) AS BIGINT) AS nd,
             CAST(SUM(tx) AS BIGINT) AS n1,
             CAST(SUM(ty) AS BIGINT) AS n2
      FROM pairs GROUP BY brand
    )
    SELECT brand, n0, nc, nd, {_TAU_B} AS tau_b FROM cnt
    """,
    note="Kendall tau-b rank concordance between daily quantity and "
    "daily revenue per brand — the pair-counting complement of "
    "ml_spearman_corr (tau weighs HOW OFTEN the series agree, rho "
    "weighs HOW FAR ranks deviate) with proper tie corrections "
    "(n1/n2 tied-pair counts in x/y). Every count is an exact integer "
    "from sign() on exact bigint daily sums; the one float expression "
    "is a division by sqrt of integer products — sqrt is IEEE-"
    "correctly-rounded, so no quantization is needed (contrast "
    "ml_mutual_info's ln). Scale: the fact collapses to the calendar-"
    "bounded daily directory first, so the O(days^2) pair join is "
    "priced by the calendar (~3M pairs per brand for a 7-year span) "
    "at ANY corpus size; the directory self-join broadcasts.",
)
def ml_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    # same materialize-once rule as a_theil_sen_monthly's directory
    daily = _brand_daily(spark, sf_dir).localCheckpoint()
    # fan_out: the probe side is a few thousand directory rows in ONE
    # coalesced partition, but the broadcast pair join fans each row
    # out ~|days| ways — partitioning must scale with the OUTPUT of
    # the join, not its input (r13 opt). force: the directory is
    # calendar-bounded (3 brands × ~2400 days) at ANY corpus size, and
    # its size ESTIMATE descends through the lineitem×part join, which
    # inflates it past the gate's threshold (r14).
    daily = fan_out(daily, force=True)
    a = daily.select(
        "brand", F.col("day").alias("d1"), F.col("x").alias("x1"),
        F.col("y").alias("y1"),
    )
    b = daily.select(
        "brand", F.col("day").alias("d2"), F.col("x").alias("x2"),
        F.col("y").alias("y2"),
    )
    pairs = (
        a.join(F.broadcast(b), "brand")
        .filter(F.col("d1") < F.col("d2"))
        .select(
            "brand",
            (
                F.signum((F.col("x2") - F.col("x1")).cast("double"))
                * F.signum((F.col("y2") - F.col("y1")).cast("double"))
            ).alias("s"),
            F.when(F.col("x1") == F.col("x2"), 1).otherwise(0).alias("tx"),
            F.when(F.col("y1") == F.col("y2"), 1).otherwise(0).alias("ty"),
        )
    )
    cnt = pairs.groupBy("brand").agg(
        F.count(F.lit(1)).alias("n0"),
        F.count(F.when(F.col("s") > 0, 1)).alias("nc"),
        F.count(F.when(F.col("s") < 0, 1)).alias("nd"),
        F.sum("tx").cast("bigint").alias("n1"),
        F.sum("ty").cast("bigint").alias("n2"),
    )
    return cnt.select("brand", "n0", "nc", "nd", F.expr(_TAU_B).alias("tau_b"))


# SPRT constants precomputed HERE and embedded as decimal literals in
# BOTH engines' expression texts: the only transcendentals (ln of the
# two likelihood ratios and of the error-bound ratio) run once in
# Python at import, so query-time arithmetic is pure IEEE mult/add —
# no engine-libm 1-ulp hazard (contrast ml_mutual_info) and no
# quantization needed.
import math as _math

_SPRT_P0, _SPRT_P1 = 0.15, 0.25  # H0 / H1 conversion rates


def _dlit(x: float) -> str:
    # a BARE decimal literal parses as DECIMAL in both Spark and DuckDB
    # (different precisions!) — route through a string cast so both
    # engines bind the exact same IEEE double
    return f"CAST('{x!r}' AS DOUBLE)"


_SPRT_L1 = _dlit(_math.log(_SPRT_P1 / _SPRT_P0))          # per-success LLR
_SPRT_L0 = _dlit(_math.log((1 - _SPRT_P1) / (1 - _SPRT_P0)))  # per-failure LLR
_SPRT_A = _dlit(_math.log(0.95 / 0.05))   # accept H1 at alpha=beta=0.05
_SPRT_B = _dlit(_math.log(0.05 / 0.95))   # accept H0
_SPRT_LLR = f"(k * {_SPRT_L1} + (rn - k) * {_SPRT_L0})"


@query(
    "ml_sprt_sequential",
    oracle=f"""
    WITH ev AS (
      SELECT CAST(ts AS DATE) AS day, ts, event_id,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS p
      FROM events
    ), r AS (
      SELECT day,
             ROW_NUMBER() OVER w AS rn,
             CAST(SUM(p) OVER w AS BIGINT) AS k
      FROM ev
      WINDOW w AS (PARTITION BY day ORDER BY ts, event_id)
    ), l AS (
      SELECT day, rn, k, {_SPRT_LLR} AS llr FROM r
    ), dec AS (
      SELECT day, MIN(rn) AS n_dec
      FROM l WHERE llr >= {_SPRT_A} OR llr <= {_SPRT_B}
      GROUP BY day
    ), tot AS (
      SELECT day, CAST(MAX(rn) AS BIGINT) AS n_trials,
             CAST(MAX(k) AS BIGINT) AS n_success
      FROM l GROUP BY day
    )
    SELECT t.day, t.n_trials, t.n_success,
           CAST(d.n_dec AS BIGINT) AS n_at_decision,
           ld.llr AS llr_at_decision,
           CASE WHEN ld.llr >= {_SPRT_A} THEN 'accept_h1'
                WHEN ld.llr <= {_SPRT_B} THEN 'accept_h0'
                ELSE 'continue' END AS decision
    FROM tot t
    LEFT JOIN dec d ON d.day = t.day
    LEFT JOIN l ld ON ld.day = t.day AND ld.rn = d.n_dec
    """,
    note="Wald's sequential probability ratio test per day: is the "
    "purchase rate p1=0.25 (accept) or p0=0.15 (reject) at "
    "alpha=beta=0.05 — the early-stopping A/B monitor that decides "
    "mid-stream instead of at a fixed n. The running LLR is "
    "k*ln(p1/p0) + (n-k)*ln(q1/q0) with the ln factors precomputed in "
    "Python and embedded as shared double literals, so query-time "
    "work is integer window counts and IEEE mult/add — bit-exact "
    "across engines by construction. Days are FEW HUGE groups, so the "
    "running count rides operators/ordinals.py grouped_ordinals (no "
    "single-partition day window at any scale); the first-crossing "
    "pick is a min-struct aggregate, not a second window.",
)
def ml_sprt_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    from banksy_spark.operators.ordinals import grouped_ordinals

    ev = T(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("day"),
        "ts",
        "event_id",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("p"),
    )
    r = grouped_ordinals(
        ev, ["day"], ["ts", "event_id"], row_number="rn", cumsum=[("p", "k")]
    ).select("day", "rn", F.col("k").cast("bigint").alias("k"))
    l = r.withColumn("llr", F.expr(_SPRT_LLR))
    a_thr = F.expr(_SPRT_A)
    b_thr = F.expr(_SPRT_B)
    # ONE aggregate carries both the totals and the first-crossing pick:
    # min() skips the NULL structs of non-crossing rows, so the
    # conditional min IS the earliest boundary crossing — no second
    # window, no re-execution of the ordinal lineage for a second
    # aggregate branch, no tot-vs-crossed join.
    cross = (F.col("llr") >= a_thr) | (F.col("llr") <= b_thr)
    out = (
        l.groupBy("day")
        .agg(
            F.max("rn").cast("bigint").alias("n_trials"),
            F.max("k").cast("bigint").alias("n_success"),
            F.min(F.when(cross, F.struct("rn", "llr"))).alias("m"),
        )
        .select(
            "day",
            "n_trials",
            "n_success",
            F.col("m.rn").cast("bigint").alias("n_at_decision"),
            F.col("m.llr").alias("llr_at_decision"),
        )
    )
    decision = (
        F.when(F.col("llr_at_decision") >= F.expr(_SPRT_A), "accept_h1")
        .when(F.col("llr_at_decision") <= F.expr(_SPRT_B), "accept_h0")
        .otherwise("continue")
    )
    return out.select(
        "day",
        "n_trials",
        "n_success",
        "n_at_decision",
        "llr_at_decision",
        decision.alias("decision"),
    )


# BLEU-2 combination: p1/p2 are exact integer ratios double-divided
# once; sqrt and multiply are IEEE-correctly-rounded; the one
# transcendental (the brevity penalty's exp, taken only when the
# candidate is shorter than the reference) forces the ROUND(..., 12)
# quantization the oracle-type lint demands.
_BLEU2 = (
    "(CASE WHEN clip1 > 0 AND clip2 > 0 THEN ROUND("
    "  (CASE WHEN n_tok >= r_tok THEN CAST(1.0 AS DOUBLE)"
    "   ELSE exp(CAST(1.0 AS DOUBLE) - CAST(r_tok AS DOUBLE) / n_tok) END)"
    "  * SQRT((CAST(clip1 AS DOUBLE) / n_tok)"
    "         * (CAST(clip2 AS DOUBLE) / (n_tok - 1))), 12)"
    " ELSE CAST(0.0 AS DOUBLE) END)"
)


@query(
    "llm_self_bleu",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents
    ), pairs AS (
      SELECT doc_id,
             LEAD(doc_id) OVER (PARTITION BY lang ORDER BY doc_id) AS ref_id
      FROM d
    ), lens AS (
      SELECT doc_id, CAST(len(w) AS BIGINT) AS n FROM d
    ), uc AS (
      SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT doc_id, unnest(w) AS g FROM d) GROUP BY 1, 2
    ), bc AS (
      SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT doc_id,
                   unnest(list_transform(range(1, len(w)),
                                         i -> w[i] || ' ' || w[i + 1])) AS g
            FROM d) GROUP BY 1, 2
    ), clips1 AS (
      SELECT p.doc_id, CAST(SUM(LEAST(a.c, b.c)) AS BIGINT) AS clip1
      FROM pairs p
      JOIN uc a ON a.doc_id = p.doc_id
      JOIN uc b ON b.doc_id = p.ref_id AND b.g = a.g
      GROUP BY 1
    ), clips2 AS (
      SELECT p.doc_id, CAST(SUM(LEAST(a.c, b.c)) AS BIGINT) AS clip2
      FROM pairs p
      JOIN bc a ON a.doc_id = p.doc_id
      JOIN bc b ON b.doc_id = p.ref_id AND b.g = a.g
      GROUP BY 1
    )
    SELECT p.doc_id, p.ref_id,
           la.n AS n_tok, lr.n AS r_tok,
           COALESCE(c1.clip1, 0) AS clip1,
           COALESCE(c2.clip2, 0) AS clip2,
           {_BLEU2.replace("clip1", "COALESCE(c1.clip1, 0)").replace("clip2", "COALESCE(c2.clip2, 0)").replace("n_tok", "la.n").replace("r_tok", "lr.n")} AS bleu2
    FROM pairs p
    JOIN lens la ON la.doc_id = p.doc_id
    JOIN lens lr ON lr.doc_id = p.ref_id
    LEFT JOIN clips1 c1 ON c1.doc_id = p.doc_id
    LEFT JOIN clips2 c2 ON c2.doc_id = p.doc_id
    WHERE p.ref_id IS NOT NULL
    """,
    note="Corpus-diversity self-BLEU: BLEU-2 (clipped unigram+bigram "
    "precision, geometric mean, brevity penalty) of each document "
    "against the next document in its language — the generation-"
    "literature diversity metric (low self-BLEU = diverse corpus) and "
    "the precision-style complement of the Jaccard/containment dedup "
    "scores. Clipped counts are exact integer min-sums from per-doc "
    "gram histograms joined per pair; p1/p2 are single double "
    "divisions; sqrt is correctly rounded; the brevity exp is the one "
    "transcendental, so bleu2 is quantized to 12 decimals per the "
    "oracle-type lint. Scale: per-doc gram counts are computed ONCE "
    "(each doc joins as candidate and reference), pair joins are "
    "gram-keyed and linear in corpus token count — never all-pairs; "
    "the pairing window is keyed by lang.",
)
def llm_self_bleu(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r13 opt note: fan_out was trialed here and REVERTED — the gram
    # histograms group on near-unique (doc_id, gram) keys, so the
    # added raw-array exchange was pure cost (measured 2.01 -> 2.82 s).
    d = T(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.split("text", " ").alias("w")
    )
    # consecutive-by-lang pairing WITHOUT a lang-partitioned window
    # (languages are FEW huge groups — a plain lead() window sorts each
    # language on one task at 100 TB): per-lang row numbers ride the
    # bucketed grouped-ordinals operator, then "next doc" is a keyed
    # equi-join on (lang, rn+1) over the materialized id directory.
    from banksy_spark.operators.ordinals import grouped_ordinals

    rnf = grouped_ordinals(
        d.select("doc_id", "lang"), ["lang"], ["doc_id"], row_number="rn"
    ).localCheckpoint()
    pairs = rnf.join(
        rnf.select(
            "lang",
            (F.col("rn") - 1).alias("rn"),
            F.col("doc_id").alias("ref_id"),
        ),
        ["lang", "rn"],
    ).select("doc_id", "ref_id")
    # each gram histogram feeds BOTH clip-join sides: persist so the
    # explode+aggregate runs once per n-gram order, not once per side
    # (the bench/check harnesses clearCache between queries; measured
    # 4.9 -> 4.0 s at sf0.1, and at 100 TB the histograms are the
    # operator's working set — 3 corpus scans total instead of 6)
    uc = (
        d.select("doc_id", F.explode("w").alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # r14 trial, REVERTED: eager localCheckpoint of uc/bc (to stop the
    # concurrent-materialization stampede that paid off in _lsh_sigs)
    # measured NEUTRAL here in an interleaved A/B (min-of-5: 2.20 lazy
    # vs 2.16 eager) — the histograms are cheap enough that the
    # duplicate builds overlap on idle cores while the eager barrier
    # serializes. Lazy persist stays.
    uc = uc.persist()
    bigrams = F.expr(
        "CASE WHEN size(w) >= 2 THEN"
        " transform(sequence(0, size(w) - 2), i -> w[i] || ' ' || w[i + 1])"
        " ELSE array() END"
    )
    bc = (
        d.select("doc_id", F.explode(bigrams).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bc = bc.persist()
    # every token lands in uc (split("") yields [""], never an empty
    # array), so token length == the persisted histogram's count sum —
    # no extra document scan for the length table
    lens = uc.groupBy("doc_id").agg(F.sum("c").cast("bigint").alias("n"))

    def clip(counts: DataFrame, out: str) -> DataFrame:
        a = counts.select(
            F.col("doc_id").alias("doc_id"), "g", F.col("c").alias("ca")
        )
        b = counts.select(
            F.col("doc_id").alias("ref_id"), "g", F.col("c").alias("cb")
        )
        return (
            pairs.join(a, "doc_id")
            .join(b, ["ref_id", "g"])
            .groupBy("doc_id")
            .agg(F.sum(F.least("ca", "cb")).cast("bigint").alias(out))
        )

    out = (
        pairs.join(lens.withColumnRenamed("n", "n_tok"), "doc_id")
        .join(
            lens.select(
                F.col("doc_id").alias("ref_id"), F.col("n").alias("r_tok")
            ),
            "ref_id",
        )
        .join(clip(uc, "clip1"), "doc_id", "left")
        .join(clip(bc, "clip2"), "doc_id", "left")
        .fillna(0, subset=["clip1", "clip2"])
    )
    return out.select(
        "doc_id",
        "ref_id",
        "n_tok",
        "r_tok",
        "clip1",
        "clip2",
        F.expr(_BLEU2).alias("bleu2"),
    )


# NDCG position discounts 1/log2(i+1): the only transcendental is in
# these CONSTANTS, so they are computed once here and embedded as
# string-cast double literals (the SPRT pattern) — query-time work is
# integer gains times fixed doubles in a FIXED-ORDER expression (the
# three positions are pivoted to columns; a SUM() over rows would
# accumulate in engine-dependent order).
_D1 = _dlit(1.0)
_D2 = _dlit(1.0 / _math.log2(3.0))
_D3 = _dlit(0.5)
_DCG = f"(r1 * {_D1} + r2 * {_D2} + r3 * {_D3})"
_IDCG = f"(t1 * {_D1} + t2 * {_D2} + t3 * {_D3})"


@query(
    "llm_ann_ndcg",
    oracle=f"""
    WITH {_EN_DUCK},
    bf AS (
      SELECT qid, neighbor_id, rnk FROM (
        {_BF_RANK_DUCK}
      ) WHERE rnk <= 3
    ),
    {_CENT_DUCK},
    ivf AS (
      SELECT qid, neighbor_id, rnk FROM (
        {_IVF_RANK_DUCK}
      ) WHERE rnk <= 3
    ),
    graded AS (
      SELECT i.qid, i.rnk AS pos,
             COALESCE(4 - b.rnk, 0) AS rel
      FROM ivf i LEFT JOIN bf b
        ON b.qid = i.qid AND b.neighbor_id = i.neighbor_id
    ),
    piv AS (
      SELECT qid,
             CAST(COALESCE(MAX(CASE WHEN pos = 1 THEN rel END), 0) AS BIGINT) AS r1,
             CAST(COALESCE(MAX(CASE WHEN pos = 2 THEN rel END), 0) AS BIGINT) AS r2,
             CAST(COALESCE(MAX(CASE WHEN pos = 3 THEN rel END), 0) AS BIGINT) AS r3
      FROM graded GROUP BY qid
    ),
    ideal AS (
      SELECT qid,
             CAST(COALESCE(MAX(CASE WHEN rnk = 1 THEN 3 END), 0) AS BIGINT) AS t1,
             CAST(COALESCE(MAX(CASE WHEN rnk = 2 THEN 2 END), 0) AS BIGINT) AS t2,
             CAST(COALESCE(MAX(CASE WHEN rnk = 3 THEN 1 END), 0) AS BIGINT) AS t3
      FROM bf GROUP BY qid
    )
    SELECT p.qid, r1, r2, r3,
           {_DCG} AS dcg,
           {_DCG} / {_IDCG} AS ndcg
    FROM piv p JOIN ideal USING (qid)
    """,
    note="NDCG@3 of the IVF (nprobe=1) ranking against the exact "
    "brute-force truth, with graded relevance rel = 4 - truth_rank — "
    "the position-aware complement of llm_ann_recall (recall says IF "
    "the true neighbors were found; NDCG says whether they came back "
    "in the right ORDER). The log2 position discounts are constants, "
    "precomputed in Python and embedded as string-cast double "
    "literals; gains pivot to fixed columns so the DCG sum has ONE "
    "evaluation order in both engines (a SUM() over position rows "
    "would accumulate engine-dependently). Scale: rides the bucketed "
    "ANN scans; the grade join keys on (qid, neighbor_id) over "
    "per-query top-3 sets.",
)
def llm_ann_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from banksy_spark.suite.llm import llm_ann_bruteforce, llm_ann_ivf

    bf = (
        llm_ann_bruteforce(spark, sf_dir)
        .filter(F.col("rnk") <= 3)
        .select("qid", "neighbor_id", "rnk")
    )
    ivf = llm_ann_ivf(spark, sf_dir).select(
        "qid", "neighbor_id", F.col("rnk").alias("pos")
    )
    graded = ivf.join(
        bf.select("qid", "neighbor_id", (4 - F.col("rnk")).alias("rel")),
        ["qid", "neighbor_id"],
        "left",
    ).fillna(0, subset=["rel"])
    piv = graded.groupBy("qid").agg(
        *[
            F.coalesce(
                F.max(F.when(F.col("pos") == i, F.col("rel"))), F.lit(0)
            )
            .cast("bigint")
            .alias(f"r{i}")
            for i in (1, 2, 3)
        ]
    )
    ideal = bf.groupBy("qid").agg(
        *[
            F.coalesce(
                F.max(F.when(F.col("rnk") == i, F.lit(4 - i))), F.lit(0)
            )
            .cast("bigint")
            .alias(f"t{i}")
            for i in (1, 2, 3)
        ]
    )
    return (
        piv.join(ideal, "qid")
        .select(
            "qid",
            "r1",
            "r2",
            "r3",
            F.expr(_DCG).alias("dcg"),
            (F.expr(_DCG) / F.expr(_IDCG)).alias("ndcg"),
        )
    )


# Per-dow within-group sum of squares: SS_d = Q_d - S_d^2/C_d, held as
# (Q_d*C_d - S_d^2)/C_d so the numerator stays an exact DECIMAL and
# the ONE division is IEEE-deterministic.  The 7 dow terms then sum in
# a FIXED-ORDER expression (pivoted columns, the llm_ann_ndcg trick) —
# never a SUM() over rows of doubles.
_SS_TERM = "(CAST(CAST((q{d} * c{d} - s{d} * s{d}) AS STRING) AS DOUBLE) / c{d})"
_SS_RESID = " + ".join(
    f"COALESCE({_SS_TERM.format(d=d)}, CAST(0.0 AS DOUBLE))" for d in range(7)
)
_SS_TOT = "(CAST(CAST((qt * ct - st * st) AS STRING) AS DOUBLE) / ct)"
_STRENGTH = (
    f"(CASE WHEN {_SS_TOT} > 0"
    f" THEN CAST(1.0 AS DOUBLE) - ({_SS_RESID}) / {_SS_TOT}"
    " ELSE NULL END)"
)


@query(
    "a_seasonal_strength",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
               AS DECIMAL(38,0)) AS x
      FROM events GROUP BY 1, 2
    ), dowagg AS (
      SELECT event_type, CAST(EXTRACT(dow FROM day) AS INT) AS dow,
             CAST(COUNT(*) AS DECIMAL(38,0)) AS c,
             SUM(x) AS s, SUM(x * x) AS q
      FROM daily GROUP BY 1, 2
    ), piv AS (
      SELECT event_type,
             {", ".join(f"MAX(CASE WHEN dow = {d} THEN c END) AS c{d}, "
                        f"MAX(CASE WHEN dow = {d} THEN s END) AS s{d}, "
                        f"MAX(CASE WHEN dow = {d} THEN q END) AS q{d}"
                        for d in range(7))},
             CAST(SUM(c) AS DECIMAL(38,0)) AS ct,
             CAST(SUM(s) AS DECIMAL(38,0)) AS st,
             CAST(SUM(q) AS DECIMAL(38,0)) AS qt
      FROM dowagg GROUP BY event_type
    )
    SELECT event_type, CAST(ct AS BIGINT) AS n_days,
           {_SS_TOT} AS ss_total,
           ({_SS_RESID}) AS ss_resid,
           {_STRENGTH} AS seasonal_strength
    FROM piv
    """,
    note="Seasonal strength of the daily revenue series per event type: "
    "1 - SS_within_dow / SS_total — the variance share explained by the "
    "day-of-week profile (the STL-lite screen that says whether "
    "a_seasonal_anomaly's profile model is even warranted). Every "
    "moment is an exact DECIMAL; each within-dow sum of squares is "
    "(Q_d*C_d - S_d^2)/C_d with one IEEE division, and the 7 dow terms "
    "combine in a fixed-order pivoted expression, so both engines "
    "evaluate the identical float tree — no quantization needed "
    "(contrast the ln family). Scale: one fact aggregate to the "
    "calendar-bounded (type, day) grain, one tiny (type, dow) "
    "re-aggregate, 5 output rows; nothing global, nothing iterative.",
)
def a_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    dec = "decimal(38,0)"
    daily = (
        T(spark, sf_dir, "events")
        .groupBy(
            "event_type", F.col("ts").cast("date").alias("day")
        )
        .agg(
            F.sum(F.round(F.col("value") * 100, 0).cast("bigint"))
            .cast(dec)
            .alias("x")
        )
    )
    dowagg = daily.groupBy(
        "event_type", (F.dayofweek("day") - 1).cast("int").alias("dow")
    ).agg(
        F.count(F.lit(1)).cast(dec).alias("c"),
        F.sum("x").alias("s"),
        F.sum(F.col("x") * F.col("x")).alias("q"),
    )
    aggs = []
    for d in range(7):
        for m in ("c", "s", "q"):
            aggs.append(
                F.max(F.when(F.col("dow") == d, F.col(m))).alias(f"{m}{d}")
            )
    piv = dowagg.groupBy("event_type").agg(
        *aggs,
        F.sum("c").cast(dec).alias("ct"),
        F.sum("s").cast(dec).alias("st"),
        F.sum("q").cast(dec).alias("qt"),
    )
    return piv.select(
        "event_type",
        F.col("ct").cast("bigint").alias("n_days"),
        F.expr(_SS_TOT).alias("ss_total"),
        F.expr(_SS_RESID).alias("ss_resid"),
        F.expr(_STRENGTH).alias("seasonal_strength"),
    )


# HHI from exact integer revenue cents: sum of squared shares =
# sum(r_i^2) / (sum r_i)^2, both sides exact DECIMAL cross-products,
# one STRING-routed division at the end.
_HHI = (
    "(CAST(CAST(sq AS STRING) AS DOUBLE)"
    " / CAST(CAST((tot * tot) AS STRING) AS DOUBLE))"
)


@query(
    "a_hhi_concentration",
    oracle=f"""
    WITH rev AS (
      SELECT s.s_nationkey AS nation, l.l_suppkey,
             CAST(CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount)
                                      * 100) AS BIGINT)) AS BIGINT)
               AS DECIMAL(38,0)) AS r
      FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
      GROUP BY 1, 2
    ), agg AS (
      SELECT nation,
             CAST(COUNT(*) AS BIGINT) AS n_suppliers,
             SUM(r * r) AS sq,
             CAST(SUM(r) AS DECIMAL(38,0)) AS tot
      FROM rev GROUP BY nation
    )
    SELECT nation, n_suppliers, {_HHI} AS hhi
    FROM agg WHERE tot > 0
    """,
    note="Herfindahl-Hirschman market-concentration index per nation: "
    "the sum of squared supplier revenue shares, the antitrust-standard "
    "complement of a_gini_concentration (HHI weighs the HEAD of the "
    "distribution, Gini the whole curve). Computed as "
    "sum(r_i^2)/(sum r_i)^2 over exact integer revenue cents — both "
    "sides exact DECIMAL(38,0), one IEEE division. Scale: one "
    "supplier-keyed aggregate, one nation-grain re-aggregate, 25 "
    "output rows; the supplier dim broadcasts.",
)
def a_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    dec = "decimal(38,0)"
    li = T(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount"
    )
    su = T(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
    ).cast("bigint")
    rev = (
        li.join(F.broadcast(su), li.l_suppkey == su.s_suppkey)
        .groupBy(F.col("s_nationkey").alias("nation"), "l_suppkey")
        .agg(F.sum(cents).cast(dec).alias("r"))
    )
    agg = rev.groupBy("nation").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
        F.sum(F.col("r") * F.col("r")).alias("sq"),
        F.sum("r").cast(dec).alias("tot"),
    )
    return agg.filter(F.col("tot") > 0).select(
        "nation", "n_suppliers", F.expr(_HHI).alias("hhi")
    )


@query(
    "dq_l_diversity",
    oracle="""
    SELECT c_nationkey, c_mktsegment,
           CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_bucket,
           CAST(COUNT(*) AS BIGINT) AS group_size,
           CAST(COUNT(DISTINCT
             CASE WHEN c_acctbal < 0 THEN 'delinquent' ELSE 'current' END)
             AS BIGINT) AS l_distinct
    FROM customer
    GROUP BY 1, 2, 3
    HAVING COUNT(DISTINCT
             CASE WHEN c_acctbal < 0 THEN 'delinquent' ELSE 'current' END) < 2
    """,
    note="l-diversity audit (l=2) over the same quasi-identifier tuple "
    "as dq_k_anonymity: a group can be k-anonymous yet still leak its "
    "members' sensitive attribute if every member SHARES it — here the "
    "delinquency status derived from the balance sign. Groups whose "
    "sensitive attribute takes fewer than l distinct values fail the "
    "release gate. One exchange on the quasi-identifier key; the "
    "distinct count is over a 2-value derived attribute, so the "
    "partial aggregate stays tiny. Completes the privacy pair "
    "(k-anonymity = group too small; l-diversity = group too uniform).",
)
def dq_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = T(spark, sf_dir, "customer")
    sens = F.when(F.col("c_acctbal") < 0, "delinquent").otherwise("current")
    return (
        c.groupBy(
            "c_nationkey",
            "c_mktsegment",
            F.floor(F.col("c_acctbal") / 1000).alias("bal_bucket"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("group_size"),
            F.countDistinct(sens).cast("bigint").alias("l_distinct"),
        )
        .filter(F.col("l_distinct") < 2)
    )


from banksy_spark.suite.llm import _lsh_oracle_ctes as _lsh_ctes_fn


@query(
    "llm_dedup_tau_curve",
    oracle=f"""
    WITH {_lsh_ctes_fn(with_hs=True)}
    SELECT CAST(FLOOR((10 * len(list_intersect(a.hs, b.hs)))
                / (len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs))))
             AS INT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM pairs p
    JOIN sigs a ON a.doc_id = p.doc_a
    JOIN sigs b ON b.doc_id = p.doc_b
    GROUP BY 1
    """,
    note="Dedup threshold-tuning curve: LSH candidate pairs bucketed by "
    "exact shingle-set Jaccard decile — the histogram an operator reads "
    "to PICK tau before running llm_dedup_ngram_jaccard at scale (too "
    "low floods the verifier, too high leaks near-dups). The bucket is "
    "floor(10*|inter| / |union|): for nonneg ints < 2^53 the double "
    "quotient is correctly rounded, so FLOOR lands identically in both "
    "engines at the integer boundaries. Scale: rides the shared "
    "MinHash band-collision candidate generator (never all-pairs); "
    "output is <= 11 rows regardless of corpus size.",
)
def llm_dedup_tau_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from banksy_spark.suite.llm import _band_pairs, _lsh_sigs

    d = _lsh_sigs(spark, sf_dir, with_hs=True)
    pairs = _band_pairs(d)
    sa = d.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("hs_a"))
    sb = d.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hs_b"))
    i = F.size(F.array_intersect("hs_a", "hs_b")).cast("bigint")
    u = F.size("hs_a") + F.size("hs_b") - F.size(
        F.array_intersect("hs_a", "hs_b")
    )
    bucket = F.floor((i * 10) / u).cast("int")
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    )


# ES = exact decimal tail sum / k, one STRING-routed division; VaR is
# an exact data value (nearest-rank), so only one float ever appears.
_ES = "(CAST(CAST(tail_sum AS STRING) AS DOUBLE) / k)"


@query(
    "a_tail_risk_var_es",
    oracle=f"""
    WITH r AS (
      SELECT o_orderpriority AS pri,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY CAST(ROUND(o_totalprice * 100) AS BIGINT),
                                         o_orderkey) AS rn,
             COUNT(*) OVER (PARTITION BY o_orderpriority) AS cnt
      FROM orders
    ), t AS (
      SELECT pri, cents, cnt, (cnt + 19) // 20 AS k
      FROM r WHERE rn > cnt - (cnt + 19) // 20
    )
    SELECT pri, CAST(MAX(cnt) AS BIGINT) AS n,
           CAST(MAX(k) AS BIGINT) AS k,
           CAST(MIN(cents) AS BIGINT) AS var95_cents,
           CAST(CAST(SUM(CAST(cents AS DECIMAL(38,0))) AS STRING) AS DOUBLE)
             / MAX(k) AS es95_cents
    FROM t GROUP BY pri
    """,
    note="Tail risk per order priority: VaR95 (the nearest-rank 95th "
    "percentile, an actual data value — exact) and expected shortfall "
    "ES95 (mean of the worst 5% tail, the coherent risk measure Basel "
    "replaced VaR with). The tail is the top k = ceil(n/20) rows by an "
    "integer-exact rank with a key tie-break, k is integer arithmetic "
    "(never a float quantile), and ES is one exact decimal tail sum "
    "with one division. Priorities are FEW huge groups, so the rank "
    "rides operators/ordinals.py grouped_ordinals — no one-task-per-"
    "group window at any scale; the tail filter then reduces to a "
    "5-row aggregate.",
)
def a_tail_risk_var_es(spark: SparkSession, sf_dir: str) -> DataFrame:
    from banksy_spark.operators.ordinals import grouped_ordinals

    o = T(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("pri"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
        "o_orderkey",
    )
    r = grouped_ordinals(
        o, ["pri"], ["cents", "o_orderkey"], row_number="rn", group_count="cnt"
    )
    k = F.expr("(cnt + 19) DIV 20")
    tail = r.filter(F.col("rn") > F.col("cnt") - k).select(
        "pri", "cents", "cnt", k.alias("k")
    )
    agg = tail.groupBy("pri").agg(
        F.max("cnt").cast("bigint").alias("n"),
        F.max("k").cast("bigint").alias("k"),
        F.min("cents").cast("bigint").alias("var95_cents"),
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("tail_sum"),
    )
    return agg.select(
        "pri", "n", "k", "var95_cents", F.expr(_ES).alias("es95_cents")
    )


# Neyman allocation over the pinned returnflag strata {A, N, R}.
# Per-stratum weight w = N_h * S_h; every moment is exact DECIMAL, the
# sample variance performs ONE division, sqrt is correctly rounded,
# and ALL cross-stratum arithmetic (total weight, floors, remainders,
# leftover ranking) happens in one pivoted row with fixed-order
# expressions over the three known strata — no float aggregation, no
# post-agg global window.
_NEY_BUDGET = 1000
_NEY_S = (
    "SQRT(CAST(CAST((n{X} * q{X} - s{X} * s{X}) AS STRING) AS DOUBLE)"
    " / CAST(CAST((n{X} * (n{X} - 1)) AS STRING) AS DOUBLE))"
)
_NEY_W = f"(CAST(CAST(n{{X}} AS STRING) AS DOUBLE) * {_NEY_S})"
_NEY_WTOT = "(" + " + ".join(_NEY_W.format(X=x) for x in "anr") + ")"
_NEY_SHARE = f"({_NEY_BUDGET} * {_NEY_W} / {_NEY_WTOT})"
_NEY_BASE = f"CAST(FLOOR({_NEY_SHARE}) AS BIGINT)"
_NEY_REM = f"({_NEY_SHARE} - FLOOR({_NEY_SHARE}))"
_NEY_LEFT = (
    f"({_NEY_BUDGET} - " + " - ".join(_NEY_BASE.format(X=x) for x in "anr") + ")"
)


def _ney_rank(x: str) -> str:
    """How many other strata outrank stratum x's remainder (ties broken
    by flag order a < n < r)."""
    others = [y for y in "anr" if y != x]
    terms = []
    for y in others:
        ry, rx = _NEY_REM.format(X=y), _NEY_REM.format(X=x)
        tie = "1" if y < x else "0"
        terms.append(
            f"(CASE WHEN {ry} > {rx} OR ({ry} = {rx} AND {tie} = 1)"
            " THEN 1 ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ")"


_NEY_ALLOC = {
    x: (
        f"({_NEY_BASE.format(X=x)}"
        f" + (CASE WHEN {_ney_rank(x)} < {_NEY_LEFT} THEN 1 ELSE 0 END))"
    )
    for x in "anr"
}
_NEY_ROWS = ", ".join(
    f"('{flag}', n{x}, {_NEY_S.format(X=x)}, {_NEY_ALLOC[x]})"
    for flag, x in (("A", "a"), ("N", "n"), ("R", "r"))
)


@query(
    "a_neyman_allocation",
    oracle=f"""
    WITH mom AS (
      SELECT l_returnflag AS flag,
             CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
             SUM(CAST(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                   AS DECIMAL(38,0))) AS s,
             SUM(CAST(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                   AS DECIMAL(38,0))
                 * CAST(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                   AS DECIMAL(38,0))) AS q
      FROM lineitem GROUP BY 1
    ), piv AS (
      SELECT
        MAX(CASE WHEN flag = 'A' THEN n END) AS na,
        MAX(CASE WHEN flag = 'A' THEN s END) AS sa,
        MAX(CASE WHEN flag = 'A' THEN q END) AS qa,
        MAX(CASE WHEN flag = 'N' THEN n END) AS nn,
        MAX(CASE WHEN flag = 'N' THEN s END) AS sn,
        MAX(CASE WHEN flag = 'N' THEN q END) AS qn,
        MAX(CASE WHEN flag = 'R' THEN n END) AS nr,
        MAX(CASE WHEN flag = 'R' THEN s END) AS sr,
        MAX(CASE WHEN flag = 'R' THEN q END) AS qr
      FROM mom
    )
    SELECT t.flag, CAST(t.n_pop AS BIGINT) AS n_pop,
           t.s_h, CAST(t.alloc AS BIGINT) AS alloc
    FROM piv, LATERAL (VALUES {_NEY_ROWS}) AS t(flag, n_pop, s_h, alloc)
    """,
    note="Neyman optimal sample allocation across the returnflag strata: "
    "n_h proportional to N_h*S_h, the survey-sampling allocation that "
    "minimizes estimator variance at a fixed budget (1000 here) — the "
    "principled upgrade over proportional stratified splits "
    "(llm_stratified_split). Per-stratum stddev comes from exact "
    "decimal moments with one division + one sqrt (both correctly "
    "rounded); integerization is largest-remainder over the THREE "
    "pinned strata, computed in a single pivoted row with fixed-order "
    "expressions — allocations always sum to the budget exactly, and "
    "no float ever passes through an engine aggregate. Scale: one "
    "map-side-combinable fact aggregate to 3 rows; everything after "
    "is constant-size.",
)
def a_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    dec = "decimal(38,0)"
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("bigint").cast(dec)
    # fan_out: DECIMAL(38) square-sums over the single-row-group fact
    # scan ran on effectively one task (r13 opt).
    mom = (
        fan_out(T(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice"))
        .groupBy(F.col("l_returnflag").alias("flag"))
        .agg(
            F.count(F.lit(1)).cast(dec).alias("n"),
            F.sum(cents).alias("s"),
            F.sum(cents * cents).alias("q"),
        )
    )
    piv = mom.agg(
        *[
            F.max(F.when(F.col("flag") == flag, F.col(m))).alias(f"{m}{x}")
            for flag, x in (("A", "a"), ("N", "n"), ("R", "r"))
            for m in ("n", "s", "q")
        ]
    )
    # r13 opt: the textual macro expansion of _NEY_ALLOC produced a
    # ~38 KB SQL expression (each remainder re-inlines the share, which
    # re-inlines the 3-stratum weight total) that cost ~5 s of parse +
    # analysis per run. Naming each intermediate as a column keeps the
    # IEEE operation order identical term for term — s_h, w, share,
    # floor, remainder, leftover and rank are the same left-to-right
    # expressions — so the values (and the oracle hash) are unchanged,
    # while the expression tree shrinks ~300x.
    for x in "anr":
        piv = piv.withColumn(f"sh_{x}", F.expr(_NEY_S.format(X=x)))
        piv = piv.withColumn(
            f"w_{x}",
            F.expr(f"CAST(CAST(n{x} AS STRING) AS DOUBLE)") * F.col(f"sh_{x}"),
        )
    piv = piv.withColumn("wtot", F.col("w_a") + F.col("w_n") + F.col("w_r"))
    for x in "anr":
        piv = piv.withColumn(
            f"share_{x}", F.lit(_NEY_BUDGET) * F.col(f"w_{x}") / F.col("wtot")
        )
        piv = piv.withColumn(
            f"base_{x}", F.floor(F.col(f"share_{x}")).cast("bigint")
        )
        piv = piv.withColumn(
            f"rem_{x}", F.col(f"share_{x}") - F.floor(F.col(f"share_{x}"))
        )
    piv = piv.withColumn(
        "left_",
        F.lit(_NEY_BUDGET) - F.col("base_a") - F.col("base_n") - F.col("base_r"),
    )
    for x in "anr":
        others = [y for y in "anr" if y != x]
        rank = None
        for y in others:
            tie = F.lit(1) if y < x else F.lit(0)
            term = F.when(
                (F.col(f"rem_{y}") > F.col(f"rem_{x}"))
                | ((F.col(f"rem_{y}") == F.col(f"rem_{x}")) & (tie == 1)),
                1,
            ).otherwise(0)
            rank = term if rank is None else rank + term
        piv = piv.withColumn(
            f"alloc_{x}",
            F.col(f"base_{x}")
            + F.when(rank < F.col("left_"), 1).otherwise(0).cast("bigint"),
        )
    rows = ", ".join(
        f"struct('{flag}' AS flag, CAST(n{x} AS BIGINT) AS n_pop, "
        f"sh_{x} AS s_h, CAST(alloc_{x} AS BIGINT) AS alloc)"
        for flag, x in (("A", "a"), ("N", "n"), ("R", "r"))
    )
    return piv.select(
        F.explode(F.expr(f"array({rows})")).alias("t")
    ).select("t.flag", "t.n_pop", "t.s_h", "t.alloc")
