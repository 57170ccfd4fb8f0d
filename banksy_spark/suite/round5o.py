"""Round-5 continuation, batch 14: nonparametric series diagnostics —
Mann-Kendall trend test, Bollinger bands, and the Wald-Wolfowitz runs
test.

All three stay engine-parity-exact because their only non-rational
operation is sqrt, which IEEE 754 requires to be correctly rounded
(unlike libm's ln/exp/erf, which drift by ulps between engines — the
boundary the suite's log-free designs respect).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from banksy_spark.suite.registry import T, query
from banksy_spark.suite.round5 import _DAILY_DUCK


def _daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from banksy_spark.suite.round5 import cusum_parts

    daily, _ = cusum_parts(spark, sf_dir)
    return daily


# --- Mann-Kendall trend test -----------------------------------------------


@query(
    "a_mann_kendall_trend",
    oracle=f"""
    WITH daily AS ({_DAILY_DUCK}),
    pairs AS (
      SELECT a.pri,
             CASE WHEN b.cents > a.cents THEN 1
                  WHEN b.cents < a.cents THEN -1 ELSE 0 END AS sgn
      FROM daily a JOIN daily b ON b.pri = a.pri AND b.day > a.day
    ),
    stat AS (
      SELECT p.pri, CAST(SUM(p.sgn) AS BIGINT) AS s, MAX(c.n) AS n
      FROM pairs p
      JOIN (SELECT pri, COUNT(*) AS n FROM daily GROUP BY 1) c
        ON c.pri = p.pri
      GROUP BY 1
    )
    SELECT pri, s, n,
           CAST(CASE WHEN s > 0 THEN s - 1 WHEN s < 0 THEN s + 1
                     ELSE 0 END AS DOUBLE)
             / sqrt(CAST(n * (n - 1) * (2 * n + 5) AS DOUBLE) / 18e0) AS z,
           s > 0 AS increasing
    FROM stat
    """,
    note="Mann-Kendall nonparametric trend test per daily-revenue "
    "series: S = Σ_{{i<j}} sign(x_j − x_i) over all ordered day pairs, "
    "z = (S∓1)/√(n(n−1)(2n+5)/18) — the rank-based monotone-trend "
    "detector robust to outliers and distribution. Integer pair signs "
    "sum exactly; sqrt is IEEE-correctly-rounded so z is bit-identical "
    "across engines (the reason this test is implementable where "
    "erf-based p-values are not). The quadratic pair join is per-series "
    "and honest about it — the O(n log n) production form counts "
    "discordances with a merge-sort (same S), noted for the 10^6-point "
    "series; at daily grain n≈2.4k keeps pairs at ~3M/series.",
)
def a_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily(spark, sf_dir)
    a = daily.select("pri", F.col("day").alias("day_a"), F.col("cents").alias("ca"))
    b = daily.select("pri", F.col("day").alias("day_b"), F.col("cents").alias("cb"))
    pairs = a.join(b, "pri").filter(F.col("day_b") > F.col("day_a"))
    sgn = (
        F.when(F.col("cb") > F.col("ca"), 1)
        .when(F.col("cb") < F.col("ca"), -1)
        .otherwise(0)
    )
    counts = daily.groupBy("pri").agg(F.count(F.lit(1)).alias("n"))
    stat = (
        pairs.groupBy("pri")
        .agg(F.sum(sgn).alias("s"))
        .join(F.broadcast(counts), "pri")
    )
    s, n = F.col("s"), F.col("n")
    z = (
        F.when(s > 0, s - 1).when(s < 0, s + 1).otherwise(0).cast("double")
        / F.sqrt((n * (n - 1) * (2 * n + 5)).cast("double") / F.lit(18.0))
    )
    return stat.select("pri", "s", "n", z.alias("z"), (s > 0).alias("increasing"))


# --- Bollinger bands -------------------------------------------------------

_BB_WIN = 20  # trailing frame


# also the oracle of the fold-form twin, round9.stream_bollinger_stateful
_BOLLINGER_DUCK = f"""
    WITH daily AS ({_DAILY_DUCK})
    SELECT pri, day, cents,
           CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / k AS mid,
           CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / k
             - 2e0 * sqrt(CAST(CAST(k * s2 - s1 * s1 AS VARCHAR) AS DOUBLE))
                   / k AS lower_band,
           CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / k
             + 2e0 * sqrt(CAST(CAST(k * s2 - s1 * s1 AS VARCHAR) AS DOUBLE))
                   / k AS upper_band,
           CAST(cents AS DOUBLE) >
             CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / k
               + 2e0 * sqrt(CAST(CAST(k * s2 - s1 * s1 AS VARCHAR) AS DOUBLE))
                     / k AS breakout_up
    FROM (
      SELECT pri, day, cents,
             COUNT(*) OVER wk AS k,
             SUM(CAST(cents AS DECIMAL(38,0))) OVER wk AS s1,
             SUM(CAST(cents AS DECIMAL(38,0))
                 * CAST(cents AS DECIMAL(38,0))) OVER wk AS s2
      FROM daily
      WINDOW wk AS (PARTITION BY pri ORDER BY day
                    ROWS BETWEEN {_BB_WIN - 1} PRECEDING AND CURRENT ROW)
    )
    """


@query(
    "w_bollinger_bands",
    oracle=_BOLLINGER_DUCK,
    note=f"Bollinger bands over the daily revenue series: trailing-"
    f"{_BB_WIN} mean ± 2σ with breakout flags — the rolling-window "
    "complement of w_control_chart's global-σ limits. The rolling "
    "moments are DECIMAL(38,0) sums of integer cents and cents² "
    "(associative-exact under ANY partial order), variance leaves "
    "integers only at k·Σx²−(Σx)² (still exact decimal), and the lone "
    "irrational op is the IEEE-correctly-rounded sqrt — bit-identical "
    "bands. One series-key exchange, O(window) state per row.",
)
def w_bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily(spark, sf_dir)
    c38 = F.col("cents").cast("decimal(38,0)")
    wk = (
        Window.partitionBy("pri")
        .orderBy("day")
        .rowsBetween(-(_BB_WIN - 1), Window.currentRow)
    )
    x = daily.select(
        "pri",
        "day",
        "cents",
        F.count(F.lit(1)).over(wk).alias("k"),
        F.sum(c38).over(wk).alias("s1"),
        F.sum(c38 * c38).over(wk).alias("s2"),
    )

    def dd(c: F.Column) -> F.Column:
        return c.cast("string").cast("double")

    k = F.col("k")
    mid = dd(F.col("s1")) / k
    sd_term = F.lit(2.0) * F.sqrt(dd(k * F.col("s2") - F.col("s1") * F.col("s1"))) / k
    return x.select(
        "pri",
        "day",
        "cents",
        mid.alias("mid"),
        (mid - sd_term).alias("lower_band"),
        (mid + sd_term).alias("upper_band"),
        (F.col("cents").cast("double") > mid + sd_term).alias("breakout_up"),
    )


# --- Wald-Wolfowitz runs test ----------------------------------------------


@query(
    "a_runs_test",
    oracle=f"""
    WITH daily AS ({_DAILY_DUCK}),
    med AS (
      SELECT pri, cents,
             ROW_NUMBER() OVER (PARTITION BY pri ORDER BY cents, day) AS r,
             COUNT(*) OVER (PARTITION BY pri) AS n
      FROM daily
    ),
    medv AS (
      SELECT pri, MAX(CASE WHEN 2 * r >= n AND 2 * (r - 1) < n
                           THEN cents END) AS median_c
      FROM med GROUP BY 1
    ),
    lab AS (
      SELECT d.pri, d.day, d.cents > m.median_c AS above
      FROM daily d JOIN medv m ON m.pri = d.pri
      WHERE d.cents <> m.median_c
    ),
    runs AS (
      SELECT pri,
             CAST(SUM(CASE WHEN above IS DISTINCT FROM prev
                           THEN 1 ELSE 0 END) AS BIGINT)
               AS n_runs,
             CAST(SUM(CASE WHEN above THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN above THEN 0 ELSE 1 END) AS BIGINT) AS n2
      FROM (
        SELECT pri, above,
               lag(above) OVER (PARTITION BY pri ORDER BY day) AS prev
        FROM lab
      ) GROUP BY 1
    )
    SELECT pri, n_runs, n1, n2,
           (CAST(n_runs AS DOUBLE)
            - (2e0 * n1 * n2 / (n1 + n2) + 1e0))
             / sqrt(2e0 * n1 * n2 * (2e0 * n1 * n2 - n1 - n2)
                    / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1e0))) AS z
    FROM runs
    """,
    note="Wald-Wolfowitz runs test per daily-revenue series: label each "
    "day above/below the series median (nearest-rank, median-equal days "
    "dropped per the classical test), count maximal runs via a lag "
    "transition sum, z-score against the runs-count null — the "
    "randomness/clustering diagnostic data-quality reviews run on "
    "residuals. Integer run/label counts, IEEE-exact sqrt, identical "
    "expression order both engines. One exchange for the median rank, "
    "one for the day-ordered lag.",
)
def a_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily(spark, sf_dir)
    w_r = Window.partitionBy("pri").orderBy("cents", "day")
    w_p = Window.partitionBy("pri")
    med = daily.select(
        "pri",
        "cents",
        F.row_number().over(w_r).alias("r"),
        F.count(F.lit(1)).over(w_p).alias("n"),
    )
    medv = med.groupBy("pri").agg(
        F.max(
            F.when(
                (2 * F.col("r") >= F.col("n")) & (2 * (F.col("r") - 1) < F.col("n")),
                F.col("cents"),
            )
        ).alias("median_c")
    )
    lab = (
        daily.join(F.broadcast(medv), "pri")
        .filter(F.col("cents") != F.col("median_c"))
        .select("pri", "day", (F.col("cents") > F.col("median_c")).alias("above"))
    )
    w_day = Window.partitionBy("pri").orderBy("day")
    trans = lab.withColumn("prev", F.lag("above").over(w_day))
    runs = trans.groupBy("pri").agg(
        F.sum(
            F.when(
                ~F.col("above").eqNullSafe(F.col("prev")), 1
            ).otherwise(0)
        ).alias("n_runs"),
        F.sum(F.when(F.col("above"), 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("above"), 0).otherwise(1)).alias("n2"),
    )
    n_runs, n1, n2 = F.col("n_runs"), F.col("n1"), F.col("n2")
    z = (
        n_runs.cast("double")
        - (F.lit(2.0) * n1 * n2 / (n1 + n2) + F.lit(1.0))
    ) / F.sqrt(
        F.lit(2.0) * n1 * n2 * (F.lit(2.0) * n1 * n2 - n1 - n2)
        / ((n1 + n2) * (n1 + n2) * (n1 + n2 - F.lit(1.0)))
    )
    return runs.select("pri", "n_runs", "n1", "n2", z.alias("z"))
