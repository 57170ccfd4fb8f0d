"""Round-11 additions: storage-layer and market-data aggregate shapes.

- o_file_skipping_stats: the min/max file-pruning manifest every
  columnar lakehouse keeps (parquet row-group stats, Iceberg/Delta
  file stats) computed as data, with per-file skip verdicts for a
  clustered-key predicate vs an unclustered-date predicate — the
  measurable storage lesson (clustering prunes; uncorrelated columns
  don't) expressed as one map-side-combinable aggregate.
- w_ohlc_resample: OHLC candle resampling (open/high/low/close per
  (series, hour)) via min_by/max_by over a (ts, event_id) order
  struct — the window-free form of "first/last value per bucket":
  a single partial-aggregable groupBy, no per-bucket sort, no window.

Both are beyond-reference training/analytics-pipeline operators in the
same spirit as the llm_* family (the reference, a single-node odds
scraper, has no storage or market-data layer); design notes cite the
brief's scale bar instead of reference lines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from banksy_spark.streaming.core import file_stats_manifest
from banksy_spark.suite.registry import T, fan_out, query

_FILE_ROWS = 2048  # synthetic file grain: ~one ingestion batch per 2048 keys
_KEY_LO, _KEY_HI = 10_000, 14_000
_DATE_LO, _DATE_HI = "1996-01-01", "1996-03-31"

# the oracle form of streaming.core.file_stats_manifest
_MANIFEST_DUCK = f"""manifest AS (
      SELECT o_orderkey // {_FILE_ROWS} AS file_id,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key,
             MIN(o_orderdate) AS min_date, MAX(o_orderdate) AS max_date
      FROM orders GROUP BY 1
    )"""


@query(
    "o_file_skipping_stats",
    oracle=f"""
    WITH {_MANIFEST_DUCK}
    SELECT file_id, n_rows, min_key, max_key, min_date, max_date,
           (max_key < {_KEY_LO} OR min_key > {_KEY_HI}) AS skip_key_scan,
           (max_date < DATE '{_DATE_LO}' OR min_date > DATE '{_DATE_HI}')
             AS skip_date_scan
    FROM manifest
    """,
    note="Min/max file-skipping manifest: per-synthetic-file (orderkey "
    "range = ingestion batch) row count and min/max stats for the "
    "clustering key and an uncorrelated date column, plus the planner's "
    "skip verdict for one predicate on each. The verdicts demonstrate "
    "the storage fact that matters at 100 TB: a key-range predicate "
    "skips every file but the overlapping few (stats ranges are "
    "disjoint because the key IS the layout), while the same-shaped "
    "date predicate skips nothing (TPC-H dates are uniform within any "
    "key range — the z-order/sort-by-ingestion lesson, see "
    "o_zorder_key). Scale: ONE map-side-combinable aggregate producing "
    "a metadata-sized manifest; a real table computes it at write time "
    "and the planner prunes against the manifest alone, never the "
    "data.",
)
def o_file_skipping_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    manifest = file_stats_manifest(o, _FILE_ROWS)
    return manifest.select(
        "file_id",
        "n_rows",
        "min_key",
        "max_key",
        "min_date",
        "max_date",
        (
            (F.col("max_key") < _KEY_LO) | (F.col("min_key") > _KEY_HI)
        ).alias("skip_key_scan"),
        (
            (F.col("max_date") < F.lit(_DATE_LO).cast("date"))
            | (F.col("min_date") > F.lit(_DATE_HI).cast("date"))
        ).alias("skip_date_scan"),
    )


@query(
    "w_ohlc_resample",
    oracle="""
    WITH r AS (
      SELECT event_type, date_trunc('hour', ts) AS hour, value,
             row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                ORDER BY ts, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type, date_trunc('hour', ts))
               AS cnt
      FROM events
    )
    SELECT event_type, hour,
           MAX(CASE WHEN rn = 1 THEN value END) AS open_value,
           MAX(value) AS high_value,
           MIN(value) AS low_value,
           MAX(CASE WHEN rn = cnt THEN value END) AS close_value,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM r GROUP BY 1, 2
    """,
    note="OHLC candle resampling per (series, hour): open/close are the "
    "value at the earliest/latest (ts, event_id) — min_by/max_by over "
    "the order STRUCT, the window-free form of first/last-per-bucket. "
    "The oracle states the naive window form (rank the bucket, pick "
    "rn=1 and rn=cnt); Spark's arg-min/arg-max aggregate is "
    "PARTIAL-AGGREGABLE (each map task keeps one candidate per bucket, "
    "merge keeps the smaller/larger key), so no per-bucket sort and no "
    "window ever runs — at 100 TB the shuffle carries one candidate "
    "row per (series, hour, task), not the fact. event_id breaks ts "
    "ties (tie-heavy streams are a fuzz regime), so both engines pick "
    "the identical row; high/low/count are plain min/max/count. Values "
    "pass through unsummed — no float-accumulation hazard.",
)
def w_ohlc_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "events").select("event_type", "ts", "event_id", "value")
    okey = F.struct(F.col("ts"), F.col("event_id"))
    return e.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(
        F.min_by("value", okey).alias("open_value"),
        F.max("value").alias("high_value"),
        F.min("value").alias("low_value"),
        F.max_by("value", okey).alias("close_value"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )


# --- Audio silence segmentation (frame energy -> VAD -> island merge) ------

_SIL_FRAME, _SIL_HOP = 32, 16
_SIL_THRESHOLD = 480  # expected per-frame hex-digit sum is 64 * 7.5 = 480

_SIL_PAYLOAD_HEX_DUCK = "repeat(sha256(text), (length(text) % 5) + 1)"


@query(
    "llm_audio_silence_segments",
    oracle=f"""
    WITH frames AS (
      SELECT doc_id, CAST(s // {_SIL_HOP} AS BIGINT) AS frame_id,
             substr(hexp, s * 2 + 1, {_SIL_FRAME * 2}) AS fh
      FROM (
        SELECT doc_id, {_SIL_PAYLOAD_HEX_DUCK} AS hexp,
               octet_length(unhex({_SIL_PAYLOAD_HEX_DUCK})) AS n
        FROM documents
      ) t, LATERAL (SELECT unnest(range(0, t.n - {_SIL_FRAME - 1}, {_SIL_HOP})) AS s) u
    ),
    scored AS (
      SELECT doc_id, frame_id,
             CAST(list_sum(list_transform(range(1, {_SIL_FRAME * 2} + 1),
                 i -> strpos('0123456789abcdef', substr(fh, CAST(i AS INTEGER), 1)) - 1))
               AS BIGINT) AS energy
      FROM frames
    ),
    silent AS (
      SELECT doc_id, frame_id, energy,
             frame_id - row_number() OVER (PARTITION BY doc_id ORDER BY frame_id)
               AS island
      FROM scored WHERE energy < {_SIL_THRESHOLD}
    )
    SELECT doc_id, MIN(frame_id) AS seg_start_frame, MAX(frame_id) AS seg_end_frame,
           CAST(COUNT(*) AS BIGINT) AS n_frames,
           CAST(SUM(energy) AS BIGINT) AS seg_energy
    FROM silent GROUP BY doc_id, island
    """,
    note="Audio silence segmentation (the VAD/segment-trim pipeline shape): "
    "slice the opaque binary payload into 32-byte/16-byte-hop frames (the "
    "llm_audio_frames plumbing), featurize each frame with an INTEGER "
    "energy (sum of hex-digit values via the shared strpos/locate trick — "
    "bit-exact on both engines, standing in for the codec's RMS which "
    "would be the import-gated decoder in operators/udfs.py), threshold "
    "at the expected mean, and merge consecutive silent frames into "
    "segments with the gaps-and-islands rewrite (frame_id - "
    "row_number per doc). Scale: frame explode and energy are map-side; "
    "the only shuffle keys on doc_id (fact-grain — never a "
    "low-cardinality window); segments-per-doc is bounded by payload "
    "size. A real corpus swaps the energy expression for the decoder "
    "UDF and keeps the identical plan.",
)
def llm_audio_silence_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from banksy_spark.suite.llm import binary_payload

    # fan_out: the frame-energy fold is pure CPU over exploded frames;
    # a single-file scan would run the whole decode on one core (r13 opt).
    d = fan_out(
        T(spark, sf_dir, "documents").select(
            "doc_id", binary_payload().alias("payload")
        )
    )
    frames = d.withColumn("n", F.octet_length("payload")).select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0), F.col("n") - _SIL_FRAME, F.lit(_SIL_HOP))
        ).alias("s"),
        F.lower(F.hex(F.expr(f"substring(payload, s + 1, {_SIL_FRAME})"))).alias(
            "fh"
        ),
    )
    energy = F.expr(
        f"aggregate(sequence(1, {_SIL_FRAME * 2}), 0L, (acc, i) -> "
        "acc + locate(substring(fh, i, 1), '0123456789abcdef') - 1)"
    )
    scored = frames.select(
        "doc_id",
        F.expr(f"CAST(s DIV {_SIL_HOP} AS BIGINT)").alias("frame_id"),
        energy.alias("energy"),
    ).filter(F.col("energy") < _SIL_THRESHOLD)
    w = Window.partitionBy("doc_id").orderBy("frame_id")
    islands = scored.withColumn(
        "island", F.col("frame_id") - F.row_number().over(w)
    )
    return islands.groupBy("doc_id", "island").agg(
        F.min("frame_id").alias("seg_start_frame"),
        F.max("frame_id").alias("seg_end_frame"),
        F.count(F.lit(1)).cast("bigint").alias("n_frames"),
        F.sum("energy").cast("bigint").alias("seg_energy"),
    ).drop("island")


# --- Grid-bounded k-nearest-neighbor join ----------------------------------

_KNN_GRID = 2.0  # cell size; search ring = 3x3 cells
_KNN_K = 3


@query(
    "j_knn_grid_join",
    oracle=f"""
    WITH p AS (
      SELECT event_id AS id, value AS x, CAST(user_id % 100 AS DOUBLE) AS y,
             CAST(FLOOR(value / {_KNN_GRID}) AS BIGINT) AS cx,
             CAST(FLOOR(CAST(user_id % 100 AS DOUBLE) / {_KNN_GRID}) AS BIGINT) AS cy
      FROM events WHERE event_type = 'purchase'
    ), probe AS (
      SELECT p.id, p.x, p.y, p.cx + dx.d AS cx, p.cy + dy.d AS cy
      FROM p, UNNEST([-1, 0, 1]) AS dx(d), UNNEST([-1, 0, 1]) AS dy(d)
    ), cand AS (
      SELECT a.id, b.id AS neighbor_id,
             (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS dist2
      FROM probe a JOIN p b ON b.cx = a.cx AND b.cy = a.cy AND a.id <> b.id
    )
    SELECT id, neighbor_id, dist2, n_rank FROM (
      SELECT id, neighbor_id, dist2,
             row_number() OVER (PARTITION BY id ORDER BY dist2, neighbor_id)
               AS n_rank
      FROM cand
    ) WHERE n_rank <= {_KNN_K}
    """,
    note="Grid-bounded k-nearest-neighbor join: each purchase point's "
    f"{_KNN_K} nearest neighbors among candidates from its 3x3 grid ring "
    "(cells sized to the search radius) — j_spatial_grid_join's radius "
    "semantics upgraded to a RANKED kNN, the shape behind "
    "nearest-store/nearest-sensor joins and geo feature engineering. "
    "Bounded-search semantics are explicit (neighbors beyond the ring "
    "are out of scope BY DEFINITION, stated identically in the oracle), "
    "which is what makes the operator scale-honest: candidate volume is "
    "bounded by local density, never all-pairs. dist2 is a single IEEE "
    "expression (no accumulation) and (dist2, neighbor_id) ordering "
    "breaks float ties deterministically, so both engines rank "
    "identically. The rank window partitions by point id (fact grain) "
    "and row_number <= k plans as WindowGroupLimit — per-map-partition "
    "top-k bounds what any task sorts. Scale: 9x map-side blowup on the "
    "probe side only; hot cells split with the suite's salting operator.",
)
def j_knn_grid_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = T(spark, sf_dir, "events")
    # fan_out: the candidate join broadcasts the build side, so the
    # probe stream inherits the SCAN's partitioning — a single-file
    # scan ran the whole 9x explode + distance + top-k map-side on one
    # task (measured 2.85 s single-task stage, r13 opt).
    p = fan_out(
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("id"),
            F.col("value").alias("x"),
            (F.col("user_id") % 100).cast("double").alias("y"),
        )
        .withColumn("cx", F.floor(F.col("x") / _KNN_GRID).cast("bigint"))
        .withColumn("cy", F.floor(F.col("y") / _KNN_GRID).cast("bigint"))
    )
    probe = (
        p.select(
            "id", "x", "y", "cx", "cy",
            F.explode(F.expr("array(-1, 0, 1)")).alias("dx"),
        )
        .select(
            "id", "x", "y",
            (F.col("cx") + F.col("dx")).alias("cx"), "cy",
            F.explode(F.expr("array(-1, 0, 1)")).alias("dy"),
        )
        .select("id", "x", "y", "cx", (F.col("cy") + F.col("dy")).alias("cy"))
    )
    b = p.select(
        F.col("id").alias("neighbor_id"),
        F.col("x").alias("bx"),
        F.col("y").alias("by"),
        "cx",
        "cy",
    )
    dist2 = (F.col("x") - F.col("bx")) * (F.col("x") - F.col("bx")) + (
        F.col("y") - F.col("by")
    ) * (F.col("y") - F.col("by"))
    cand = (
        probe.join(b, ["cx", "cy"])
        .filter(F.col("id") != F.col("neighbor_id"))
        .select("id", "neighbor_id", dist2.alias("dist2"))
    )
    w = Window.partitionBy("id").orderBy("dist2", "neighbor_id")
    return (
        cand.withColumn("n_rank", F.row_number().over(w))
        .filter(F.col("n_rank") <= _KNN_K)
        .select("id", "neighbor_id", "dist2", "n_rank")
    )
