"""Round-4 continuation, batch 7: trailing 7-day distinct actives,
boilerplate n-gram detection, and order-to-ship latency percentiles.

Same parity rules as the rest of the suite (registry.py docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from banksy_spark.suite.registry import T, fan_out, query

# --- Trailing 7-day distinct active users ----------------------------------


@query(
    "a_rolling_dau_7d",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
      FROM events
    ), spine AS (SELECT DISTINCT day FROM ud)
    SELECT s.day, COUNT(DISTINCT u.user_id) AS dau7
    FROM spine s JOIN ud u ON u.day BETWEEN s.day - 6 AND s.day
    GROUP BY s.day
    """,
    note="Trailing 7-day distinct active users per day — the windowed "
    "COUNT DISTINCT that plain window frames cannot express (distinct "
    "isn't frame-mergeable). The calendar spine is dimension-sized, so it "
    "broadcasts into a range join against the (user, day) grain; each "
    "activity row lands in <=7 windows, keeping the blow-up linear and "
    "bounded. At larger windows the swap is the explode form (each (user, "
    "day) emits its 7 contribution days map-side, then groupBy-distinct) "
    "or an HLL-register merge for approximate counts — both shapes "
    "already in the suite (llm_distinct_sketch_hll). Scale: one distinct "
    "agg on (user, day), one broadcast range join, one keyed distinct "
    "count.",
)
def a_rolling_dau_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    ud = ev.select(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
    ).distinct()
    spine = ud.select(F.col("day").alias("s_day")).distinct()
    return (
        ud.join(
            F.broadcast(spine),
            (F.col("day") >= F.date_sub(F.col("s_day"), 6))
            & (F.col("day") <= F.col("s_day")),
        )
        .groupBy(F.col("s_day").alias("day"))
        .agg(F.countDistinct("user_id").alias("dau7"))
    )


# --- Boilerplate n-gram detection ------------------------------------------


@query(
    "llm_boilerplate_ngrams",
    oracle="""
    WITH t AS (
      SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents
    ), g AS (
      SELECT doc_id, source, array_to_string(toks[i:i+2], ' ') AS gram
      FROM t, UNNEST(generate_series(1, len(toks) - 2)) AS s(i)
    )
    SELECT gram, COUNT(DISTINCT doc_id) AS n_docs,
           COUNT(DISTINCT source) AS n_sources
    FROM g GROUP BY gram
    HAVING COUNT(DISTINCT doc_id) >= 5 AND COUNT(DISTINCT source) >= 2
    """,
    note="Boilerplate n-gram mining: 3-grams appearing in >=5 documents "
    "across >=2 sources — cross-source repetition is the signature of "
    "navigation chrome, cookie banners, and license headers (C4/RefinedWeb "
    "style cleaning), distinct from llm_decontam_overlap which targets a "
    "known eval set. Map-side 3-gram explode, one aggregate keyed on the "
    "gram with two exact distinct counts (gram cardinality is naturally "
    "high, no skew). In production the output is the blocklist that a "
    "broadcast join then strips from the corpus — the learn-small/apply- "
    "broadcast shape again. Scale: explode is linear in token count; the "
    "HAVING prunes before anything re-joins the corpus.",
)
def llm_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    # fan_out: 3-gram explode on a single-task scan without it (r13 opt).
    t = fan_out(
        d.select("doc_id", "source", F.split("text", " ").alias("toks")).filter(
            F.size("toks") >= 3
        )
    )
    g = t.select(
        "doc_id",
        "source",
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 2),"
                " i -> concat_ws(' ', slice(toks, i, 3)))"
            )
        ).alias("gram"),
    )
    return (
        g.groupBy("gram")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
        )
        .filter((F.col("n_docs") >= 5) & (F.col("n_sources") >= 2))
    )


# --- Order-to-ship latency percentiles -------------------------------------


@query(
    "a_ship_latency_pct",
    oracle="""
    WITH lat AS (
      SELECT o.o_orderpriority AS priority,
             date_diff('day', CAST(o.o_orderdate AS DATE),
                       CAST(l.l_shipdate AS DATE)) AS days
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ), ranked AS (
      SELECT priority, days,
             ROW_NUMBER() OVER (PARTITION BY priority ORDER BY days) AS rk,
             COUNT(*) OVER (PARTITION BY priority) AS n
      FROM lat
    )
    SELECT priority,
           MAX(CASE WHEN rk = (n + 1) // 2 THEN days END) AS p50_days,
           MAX(CASE WHEN rk = (19 * n + 19) // 20 THEN days END) AS p95_days,
           MAX(days) AS max_days
    FROM ranked
    GROUP BY priority
    """,
    note="Order-to-ship latency p50/p95/max per order priority — the SLA "
    "percentile readout, using the suite's nearest-rank machinery "
    "(ceil-rank selection via integer arithmetic, no interpolation, no "
    "floats). The rank window orders by the integer day-diff only: rows "
    "tied on days receive arbitrary row numbers, but every row at a "
    "given rank position carries the same days value, so the selected "
    "percentile is deterministic without a tie-break column. Scale: one "
    "shuffle join on orderkey (co-partitioned in a bucketed layout), one "
    "priority-partitioned sort; 5 output rows. The sketch swap at 100 TB "
    "is approx_percentile/t-digest — noted, not silently substituted.",
)
def a_ship_latency_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = T(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    lat = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_orderpriority").alias("priority"),
        F.datediff(
            F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
        ).alias("days"),
    )
    from banksy_spark.operators.ordinals import grouped_ordinals

    # 5 priorities over the whole order-line join: few-huge-groups —
    # grouped_ordinals keeps every sort partition bucket-bounded.
    # Ties on days get arbitrary row numbers either way, but all rows
    # at a rank position carry the same days value (equal values share
    # a bucket), so the picked percentile stays deterministic.
    ranked = grouped_ordinals(
        lat, ["priority"], ["days"], row_number="rk", group_count="n"
    )
    p50 = F.expr("(n + 1) DIV 2")
    p95 = F.expr("(19 * n + 19) DIV 20")
    return ranked.groupBy("priority").agg(
        F.max(F.when(F.col("rk") == p50, F.col("days")))
        .cast("bigint").alias("p50_days"),
        F.max(F.when(F.col("rk") == p95, F.col("days")))
        .cast("bigint").alias("p95_days"),
        F.max("days").cast("bigint").alias("max_days"),
    )


# --- Grid-bucketed spatial self-join ---------------------------------------

_GRID = 2.0  # cell size == match radius


@query(
    "j_spatial_grid_join",
    oracle=f"""
    WITH p AS (
      SELECT event_id AS id, value AS x, CAST(user_id % 100 AS DOUBLE) AS y,
             CAST(FLOOR(value / {_GRID}) AS BIGINT) AS cx,
             CAST(FLOOR(CAST(user_id % 100 AS DOUBLE) / {_GRID}) AS BIGINT) AS cy
      FROM events WHERE event_type = 'purchase'
    ), probe AS (
      SELECT p.id, p.x, p.y, p.cx + dx.d AS cx, p.cy + dy.d AS cy
      FROM p, UNNEST([-1, 0, 1]) AS dx(d), UNNEST([-1, 0, 1]) AS dy(d)
    )
    SELECT a.id AS id_a, b.id AS id_b,
           (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS dist2
    FROM probe a JOIN p b ON b.cx = a.cx AND b.cy = a.cy AND a.id < b.id
    WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
          <= {_GRID} * {_GRID}
    """,
    note="Grid-bucketed spatial self-join: purchase events as 2-D points "
    "(value x, user-derived y), pairs within distance 2. One side expands "
    "map-side into its 3x3 neighbor cells (9 rows/point), then an EXACT "
    "equi-join on the cell key generates candidates and the true distance "
    "predicate verifies — the canonical way to do distance joins at scale "
    "without a cross product: shuffle keys are grid cells, candidate "
    "volume is bounded by local density, and the cell size equals the "
    "radius so every true pair shares-or-neighbors a cell (no recall "
    "loss). The a.id < b.id guard dedups the symmetric candidates. Same "
    "candidates-by-key discipline as LSH dedup and boundary stitching, in "
    "the geometric domain. Scale: 9x map-side blowup on one side only; "
    "skewed hot cells split by sub-bucketing the cell key (the salting "
    "operator already in the suite).",
)
def j_spatial_grid_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("id"),
        F.col("value").alias("x"),
        (F.col("user_id") % 100).cast("double").alias("y"),
    )
    p = p.withColumn(
        "cx", F.floor(F.col("x") / _GRID).cast("bigint")
    ).withColumn("cy", F.floor(F.col("y") / _GRID).cast("bigint"))
    probe = p.select(
        "id",
        "x",
        "y",
        F.explode(F.expr("array(-1, 0, 1)")).alias("dx"),
        "cx",
        "cy",
    ).select(
        "id",
        "x",
        "y",
        (F.col("cx") + F.col("dx")).alias("cx"),
        "cy",
        F.explode(F.expr("array(-1, 0, 1)")).alias("dy"),
    ).select(
        "id", "x", "y", "cx", (F.col("cy") + F.col("dy")).alias("cy")
    )
    a = probe.alias("a")
    b = p.select(
        F.col("id").alias("id_b"),
        F.col("x").alias("bx"),
        F.col("y").alias("by"),
        "cx",
        "cy",
    ).alias("b")
    dist2 = (F.col("x") - F.col("bx")) * (F.col("x") - F.col("bx")) + (
        F.col("y") - F.col("by")
    ) * (F.col("y") - F.col("by"))
    return (
        a.join(b, ["cx", "cy"])
        .filter((F.col("id") < F.col("id_b")) & (dist2 <= _GRID * _GRID))
        .select(F.col("id").alias("id_a"), "id_b", dist2.alias("dist2"))
    )


# --- Per-group OLS slope (price elasticity shape) --------------------------


@query(
    "a_ols_slope",
    oracle="""
    WITH pts AS (
      SELECT p.p_brand AS brand,
             CAST(ROUND(l.l_discount * 100) AS BIGINT) AS x,
             CAST(ROUND(l.l_quantity) AS BIGINT) AS y
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ), mom AS (
      SELECT brand, COUNT(*) AS n,
             SUM(CAST(x AS DECIMAL(38,0))) AS sx,
             SUM(CAST(y AS DECIMAL(38,0))) AS sy,
             SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS sxx,
             SUM(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS sxy
      FROM pts GROUP BY brand
    )
    SELECT brand, n,
           CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE)
             / CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE) AS slope,
           (CAST(CAST(sy AS VARCHAR) AS DOUBLE)
              - CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE)
                / CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE)
                * CAST(CAST(sx AS VARCHAR) AS DOUBLE)) / n AS intercept
    FROM mom
    """,
    note="Per-brand OLS slope and intercept of quantity on discount points "
    "(the price-elasticity readout): closed-form least squares from exact "
    "integer moment sums — discount in integer percent, quantity rounded "
    "to units, moments in DECIMAL(38,0), the same one-pass discipline as "
    "a_corr_manual / a_autocorr_lag1 extended to model fitting. The final "
    "slope/intercept formulas run on VARCHAR-routed doubles with identical "
    "association in both engines. Scale: broadcast part dim into one "
    "map-side-combinable aggregate; |brands| output rows; fitting a "
    "per-group linear model over 100 TB costs exactly one shuffle.",
)
def a_ols_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    from banksy_spark.suite.registry import fan_out

    # r14 opt (guide §2.5): same shape as ml_linreg_normal's kept r13
    # fan_out — single-task scan feeding 4 DECIMAL(38) moment sums that
    # collapse to ~25 brands, so the raw-row exchange is amortized by
    # parallel partial aggregation of the heavy decimal multiplies.
    li = fan_out(
        T(spark, sf_dir, "lineitem").select("l_partkey", "l_discount", "l_quantity")
    )
    pt = T(spark, sf_dir, "part").select("p_partkey", "p_brand")
    x = F.round(F.col("l_discount") * 100, 0).cast("bigint").cast("decimal(38,0)")
    y = F.round(F.col("l_quantity"), 0).cast("bigint").cast("decimal(38,0)")
    mom = (
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(x).alias("sx"),
            F.sum(y).alias("sy"),
            F.sum(x * x).alias("sxx"),
            F.sum(x * y).alias("sxy"),
        )
    )
    n = F.col("n")
    num = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("string").cast("double")
    den = (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("string").cast("double")
    slope = num / den
    sy_d = F.col("sy").cast("string").cast("double")
    sx_d = F.col("sx").cast("string").cast("double")
    return mom.select(
        "brand",
        "n",
        slope.alias("slope"),
        ((sy_d - slope * sx_d) / n).alias("intercept"),
    )


# --- Length-bucket batching (padding-efficient serving batches) ------------


@query(
    "llm_length_batching",
    oracle="""
    WITH b AS (
      SELECT doc_id, n_chars, n_chars // 256 AS bucket,
             ROW_NUMBER() OVER (PARTITION BY n_chars // 256
                                ORDER BY n_chars, doc_id) AS rn
      FROM documents
    ), batched AS (
      SELECT doc_id, n_chars, bucket, (rn - 1) // 8 AS batch_id FROM b
    )
    SELECT doc_id, n_chars, bucket, batch_id,
           MAX(n_chars) OVER (PARTITION BY bucket, batch_id) AS padded_to,
           MAX(n_chars) OVER (PARTITION BY bucket, batch_id) - n_chars
             AS pad_waste
    FROM batched
    """,
    note="Length-bucketed batch assembly: documents bucket by length "
    "(256-char bands), sort within bucket, and group into batches of 8; "
    "each batch pads to its own max length and the query reports the "
    "per-document padding waste — the standard trick that cuts padded-token "
    "waste in training/inference dataloaders (vs global batching, where "
    "every batch pads to the corpus max). All-integer arithmetic: band, "
    "rank, batch id, waste. Scale: the in-band rank rides "
    "operators/ordinals.py grouped_ordinals — bands are FEW and HUGE at "
    "100 TB (a plain PARTITION BY bucket window gives one task per "
    "band), so rows range-bucket by n_chars (a hot length is detected "
    "as a repeated quantile and sub-split by doc_id), and the in-band "
    "rank is repaired from the driver-collected (band, bucket, sub) "
    "directory folded into one nested literal offset map — a single "
    "pipeline: one fact shuffle, no joins.",
)
def llm_length_batching(spark: SparkSession, sf_dir: str) -> DataFrame:
    from banksy_spark.operators.ordinals import grouped_ordinals

    d = T(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", F.expr("n_chars DIV 256").alias("bucket")
    )
    b = grouped_ordinals(d, ["bucket"], ["n_chars", "doc_id"], row_number="rn")
    batched = b.select(
        "doc_id", "n_chars", "bucket", F.expr("(rn - 1) DIV 8").alias("batch_id")
    )
    wb = Window.partitionBy("bucket", "batch_id")
    padded = F.max("n_chars").over(wb)
    return batched.select(
        "doc_id",
        "n_chars",
        "bucket",
        "batch_id",
        padded.alias("padded_to"),
        (padded - F.col("n_chars")).alias("pad_waste"),
    )
