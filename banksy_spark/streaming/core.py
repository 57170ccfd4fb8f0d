"""Structured Streaming forms of the reference's stateful-over-time
behaviors (SURVEY.md §2.9): the tumbling 1-day aggregation
(arbitrage_scanner.py:447) and its window/join relatives, sharing their
logic with the batch layer — the same DataFrame functions run in both
modes, which is the §3.3 design goal.  The daily notification rate
limit (:434-461) has two stream forms elsewhere: the scan app's
committed alert log (``streaming.app``) and the state-store limiter
for event streams (``streaming.stateful.rate_limit``).

Scale: the streaming state keys are (user_id, day) — the same shuffle
keys as the batch queries, so a 1000-executor cluster partitions state
the same way it partitions the batch job. Watermarks bound state for
late events.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EVENTS_SCHEMA = (
    "event_id bigint, ts bigint, user_id bigint, event_type string, "
    "value double, props string"
)

EVENTS_SCHEMA_US = (
    "event_id bigint, ts timestamp_ntz, user_id bigint, event_type string, "
    "value double, props string"
)


def read_events_stream(spark: SparkSession, events_dir: str) -> DataFrame:
    """File-source stream over events parquet files.

    Same timestamp accommodation as the batch reader (suite.registry.T):
    NANOS files arrive as nanosecond longs (truncated to micros), MICROS
    files as TIMESTAMP_NTZ (cast to session-TZ timestamp; the session is
    pinned UTC so wall-clock is unchanged). The file precision is probed
    with a one-file batch scan before the stream is declared.
    """
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    probe = dict(spark.read.parquet(events_dir).dtypes).get("ts", "bigint")
    if probe == "bigint":
        raw = spark.readStream.schema(EVENTS_SCHEMA).parquet(events_dir)
        return raw.withColumn(
            "ts", F.expr("timestamp_micros(CAST(ts DIV 1000 AS BIGINT))")
        )
    raw = spark.readStream.schema(EVENTS_SCHEMA_US).parquet(events_dir)
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def tumbling_daily_counts(events: DataFrame, watermark: str = "1 day") -> DataFrame:
    """Tumbling 1-day window counts per event_type — identical logic to
    the batch query suite.stream.stream_tumbling_daily; on a stream the
    watermark bounds state (late data past it is dropped)."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").cast("date").alias("day"), "event_type", "n_events")
    )


def hopping_hourly_sums(events: "DataFrame", watermark: str = "2 hours") -> "DataFrame":
    """Hopping window (1 h size, 15 min slide) per event_type — identical
    logic to the batch query suite.corpus.stream_hopping_window; on a
    stream the watermark bounds the 4-windows-per-event state."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("win_start"), "event_type", "n_events")
    )


def ohlc_candles(events: "DataFrame", watermark: str = "2 hours") -> "DataFrame":
    """OHLC candles per (event_type, tumbling hour) — identical logic to
    the batch query suite.round11.w_ohlc_resample (window.start ==
    date_trunc('hour')). open/close are min_by/max_by over the
    (ts, event_id) order struct — DECLARATIVE arg-aggregates, so the
    streaming state per open candle is one candidate row per extreme
    (4 values + count), merged associatively across micro-batches; the
    watermark finalizes and evicts closed candles. No custom state
    needed: this is the showcase that first/last-per-bucket belongs in
    the engine's windowed aggregation, not in applyInPandasWithState."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    okey = F.struct(F.col("ts"), F.col("event_id"))
    return (
        src.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.min_by("value", okey).alias("open_value"),
            F.max("value").alias("high_value"),
            F.min("value").alias("low_value"),
            F.max_by("value", okey).alias("close_value"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
        )
        .select(
            F.col("w.start").alias("hour"),
            "event_type",
            "open_value",
            "high_value",
            "low_value",
            "close_value",
            "n_events",
        )
    )


def session_window_counts(events: "DataFrame", watermark: str = "2 hours") -> "DataFrame":
    """Native session windows (30-min gap) per user — the batch query
    suite.corpus.stream_session_window_native calls this function; on a
    stream the watermark lets the engine finalize and evict merged
    session state."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


def dedup_earliest_within_watermark(events: DataFrame, watermark: str = "1 day") -> DataFrame:
    """Streaming form of keep-earliest dedup (bovada_pull.py:156-162;
    suite.stream.stream_dedup_earliest is the batch oracle form): on a
    stream, ``dropDuplicatesWithinWatermark`` keeps the first arrival
    per (user_id, event_type) and expires its dedup state once the
    watermark passes — bounded state for unbounded keys."""
    if not events.isStreaming:
        # batch degenerate form: plain dropDuplicates (arrival order is
        # scan order; the oracle-checked earliest form is the rank query)
        return events.dropDuplicates(["user_id", "event_type"])
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )


def attribution_join(
    purchases: DataFrame, clicks: DataFrame, window_minutes: int = 30
) -> DataFrame:
    """The interval-join shape shared by the batch oracle query
    (suite.stream.stream_interval_join) and the streaming form below:
    each purchase joined to the same user's clicks within the preceding
    ``window_minutes``. One definition, two execution modes — editing
    the bound here keeps the twins in sync. Output keeps p_ts/c_ts for
    downstream lag computation."""
    p = purchases.select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("p_ts")
    )
    c = clicks.select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    return p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {window_minutes} MINUTES"))
        & (F.col("c_ts") < F.col("p_ts")),
    )


def purchase_attribution_stream(
    purchases: DataFrame, clicks: DataFrame, window_minutes: int = 30
) -> DataFrame:
    """Watermarked stream-stream interval join over attribution_join.

    Both inputs carry 1-hour watermarks; with the time-bound condition
    Spark can expire click state once no purchase can reach back to it —
    the state-cleanup contract stream-stream joins require.
    """
    return attribution_join(
        purchases.withWatermark("ts", "1 hour"),
        clicks.withWatermark("ts", "1 hour"),
        window_minutes,
    ).select("purchase_id", "click_id", "user_id")


def file_stats_manifest(orders: "DataFrame", file_rows: int = 2048) -> "DataFrame":
    """Incremental min/max file-stats manifest — the batch queries
    suite.round11.o_file_skipping_stats and suite.round12.o_manifest_prune
    call this function for their manifest: per synthetic file
    (orderkey-range ingestion batch), row count plus min/max of the
    clustering key and the date column. Every aggregate is associative
    and mergeable (count, min, max), so the streaming state per file is
    ONE bounded stats row updated in place across micro-batches — this
    is exactly how a lakehouse sink maintains its pruning manifest
    incrementally at write time instead of re-scanning the table.
    Runs unchanged on a batch frame (the stream==batch pytest twin)."""
    return orders.groupBy(
        F.expr(f"o_orderkey DIV {file_rows}").alias("file_id")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
        F.min("o_orderdate").alias("min_date"),
        F.max("o_orderdate").alias("max_date"),
    )


# Epanechnikov kernel (bandwidth 8.0 = the grid pitch) on squared
# distance, quantized to an integer ppm grid BEFORE summation: FLOOR
# of a per-row IEEE double is deterministic in both engines, and the
# aggregate is then an order-independent BIGINT sum (a raw double SUM
# would be addition-order-dependent and could diverge between engines).
_KDE_WQ = (
    "CAST(FLOOR(GREATEST(CAST(0 AS DOUBLE),"
    " 1 - ((px - (CAST(jx AS DOUBLE) + 0.5) * 8.0)"
    " * (px - (CAST(jx AS DOUBLE) + 0.5) * 8.0)"
    " + (py - (CAST(jy AS DOUBLE) + 0.5) * 8.0)"
    " * (py - (CAST(jy AS DOUBLE) + 0.5) * 8.0)) / 64.0)"
    " * 1000000) AS BIGINT)"
)


def kde_cell_density(pts: "DataFrame") -> "DataFrame":
    """Incremental grid-blocked Epanechnikov KDE — the batch query
    suite.round13c.a_kde_epanechnikov calls this function (and its
    oracle uses the same quantized kernel text, _KDE_WQ): each point
    scatters to its 3x3 cell ring map-side, and the per-cell density is a SUM of
    per-row FLOOR-quantized integer ppm weights — associative and
    mergeable, so the streaming state per cell is ONE bounded
    (density_ppm, n_pts) row updated in place across micro-batches.
    This is how a live heatmap/hotspot surface is maintained at
    ingest time instead of re-scanning the fact. Runs unchanged on a
    batch frame (the stream==batch pytest twin). Input: (px double,
    py double)."""
    scat = (
        pts.select(
            F.floor(F.col("px") / 8.0).cast("bigint").alias("ix"),
            F.floor(F.col("py") / 8.0).cast("bigint").alias("iy"),
            "px",
            "py",
        )
        .select("*", F.explode(F.sequence(F.lit(-1), F.lit(1))).alias("dx_i"))
        .select("*", F.explode(F.sequence(F.lit(-1), F.lit(1))).alias("dy_i"))
        .select(
            "ix",
            "iy",
            (F.col("ix") + F.col("dx_i")).alias("jx"),
            (F.col("iy") + F.col("dy_i")).alias("jy"),
            "px",
            "py",
        )
    )
    return scat.groupBy("jx", "jy").agg(
        F.sum(F.expr(_KDE_WQ)).cast("bigint").alias("density_ppm"),
        F.sum(
            F.when(
                (F.col("jx") == F.col("ix")) & (F.col("jy") == F.col("iy")), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_pts"),
    )
