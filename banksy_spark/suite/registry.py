"""Query registry: names → (spark_fn, duckdb_oracle_sql).

Numeric-parity conventions used across the suite (SURVEY.md §4.3.3):

 - Money-ish doubles (2dp sources like prices, balances, discounts) are
   cast to DECIMAL before SUM so the aggregate is associative-exact and
   independent of partial-aggregation order; the final value is cast
   back to DOUBLE so both engines emit the identical IEEE value.
   Derived products get the scale of their exact decimal width
   (price×(1-disc) = 4dp, ×(1+tax) = 6dp).
 - Row-level arithmetic stays plain DOUBLE: IEEE ops are deterministic,
   both engines produce bit-identical results for the same expression.
 - Every computed column is aliased identically in the Spark query and
   the oracle SQL (driver hashes sort columns by name).
 - DECIMAL→DOUBLE cast hazard: when the decimal carries more significant
   digits than a double holds (~16), the engines' conversions can differ
   by one ulp (DuckDB multiplies by an inexact 10^-scale; Spark rounds
   the exact value). Route such conversions through a string —
   decimal→VARCHAR→DOUBLE is a correctly-rounded parse in both engines
   (see a_corr_manual, where the direct cast diverged at sf0.001).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    fn: QueryFn
    oracle: str | None  # None → driver runs rows-only check
    note: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def T(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table (lazy parquet scan; Catalyst prunes/pushes).

    Two session-level accommodations, safe to set at runtime:
     - ANSI off: suite semantics are the reference's coercing pandas
       semantics (SURVEY §4.3.5), and the driver's session may default
       ANSI on (Spark 4).
     - events.ts precision varies by testdata generation: TIMESTAMP(NANOS)
       (vectorized reader rejects it → read as nano-longs, truncate to
       micros like DuckDB does) or TIMESTAMP(MICROS) (arrives as
       TIMESTAMP_NTZ → cast to session-TZ timestamp; identical wall-clock
       under the pinned UTC session).
    """
    spark.conf.set("spark.sql.ansi.enabled", "false")
    # DuckDB reads the naive parquet timestamps as wall-clock; a Spark
    # session in a non-UTC zone would shift to_date/date_trunc results.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        from pyspark.sql import functions as F

        raw = spark.read.parquet(f"{sf_dir}/events.parquet")
        ts_type = dict(raw.dtypes)["ts"]
        if ts_type == "bigint":  # NANOS file read under nanosAsLong
            return raw.withColumn(
                "ts", F.expr("timestamp_micros(CAST(ts DIV 1000 AS BIGINT))")
            )
        return raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def fan_out(df: DataFrame, force: bool = False) -> DataFrame:
    """Scale-adaptive parallelism floor for CPU-heavy per-row work.

    A small parquet file scans as ONE partition (sf0.1's documents table
    is a single 594 KB file → 1 task), so expression-heavy pipelines —
    shingling, MinHash, deletion neighborhoods, frame decoding — run on
    one core of the machine. This round-robin-repartitions the frame up
    to the session's default parallelism (the one target for every
    call site), but ONLY when the optimizer's
    input-size estimate says the scan cannot already fill that many
    splits (estimated bytes < defaultParallelism × maxPartitionBytes —
    the same threshold at which the file-split planner itself would
    produce ≥ parallelism tasks): a real-scale scan is a provable
    no-op, so nothing here is tuned to local mode.

    The gate reads `optimizedPlan().stats().sizeInBytes` — pure
    logical-plan metadata, no RDD conversion, no physical planning, no
    job (the previous `df.rdd.getNumPartitions()` probe forced an RDD
    conversion per call site, and under AQE converting a frame that
    contains a shuffle materializes its upstream query stages eagerly
    at build time — r13 ADVICE). Statistics propagate through
    select/filter and both eager and lazy `localCheckpoint` (LogicalRDD
    keeps the origin plan's stats; probe-verified on Spark 4.1), which
    covers every call site.

    USAGE CONTRACT — apply only to shuffle-free frames (a scan, a
    narrow select/filter on one, or a bounded checkpointed directory)
    feeding CPU-heavy per-row work:
     - A frame that already contains an exchange needs no floor (the
       shuffle itself re-partitions), and join/aggregate size estimates
       are unreliable above one.
     - Before a plain aggregate the rule is: worth it ONLY when the
       input is single-task AND the group-key cardinality is tiny
       relative to the row count, so the partial aggregate collapses
       almost everything map-side and the added raw-row exchange is
       amortized by parallel evaluation of heavy aggregate expressions
       (kept wins: a_q1_pricing_summary's 6 DECIMAL measure sums over 4
       group keys, ml_linreg_normal's 9 DECIMAL(38) moments over 25
       brands, a_neyman_allocation). When the first aggregate's key is
       near-unique the partial agg cannot collapse rows and the
       exchange is pure cost — measured and REVERTED at llm_bm25_topk
       (0.78→1.43 s, (doc_id,term) keys), llm_self_bleu (2.01→2.82 s,
       per-doc gram histograms), dq_constraint_report (1.82→2.96 s,
       count-distinct), llm_lm_fluency (1.02→1.35 s).
     - Never feed multi-driver-job operators (ordinal sketch +
       directory passes): every bounded job rebuilds the plan and
       re-pays the repartition shuffle (a_mad_outliers 1.98→3.64 s,
       REVERTED).
     - ``force=True`` skips the estimate for frames the CALLER proves
       bounded by construction (a calendar- or key-bounded directory
       whose lineage passes through a join/aggregate, where the
       optimizer's size estimate is inflated and useless — e.g.
       ml_kendall_tau's checkpointed brand×day directory). Only use it
       when the bound holds at ANY corpus size, so the unconditional
       repartition stays scale-safe.

    The shuffle it inserts moves only the columns the downstream plan
    needs (Catalyst prunes through Repartition) and is deterministic
    (sortBeforeRepartition is on by default; no suite query depends on
    row order or partition ids — grep-verified, oracle hashes are order-
    insensitive).
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    max_split = _conf_bytes(spark, "spark.sql.files.maxPartitionBytes", 128 * 1024 * 1024)
    if not force:
        est_bytes = int(
            str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )
        if est_bytes >= target * max_split:
            return df
    return df.repartition(target)


_SIZE_SUFFIX = {"k": 1024, "m": 1024**2, "g": 1024**3, "t": 1024**4}


def _conf_bytes(spark: SparkSession, key: str, default: int) -> int:
    """Parse a byte-size session conf ('134217728b', '128m', '1g')."""
    raw = spark.conf.get(key, None)
    if not raw:
        return default
    s = raw.strip().lower().removesuffix("b")
    if s and s[-1] in _SIZE_SUFFIX:
        return int(s[:-1]) * _SIZE_SUFFIX[s[-1]]
    return int(s) if s else default


def query(name: str, oracle: str | None = None, note: str = ""):
    """Register a suite query. ``oracle`` is DuckDB SQL over the
    pre-registered testdata views, or None for non-SQL-expressible ops."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = QuerySpec(fn=fn, oracle=oracle, note=note)
        return fn

    return deco
