"""Round-5 expansion queries: capabilities a reference user (or a
training-data pipeline) would reach for next, each oracle-verified.

- j_asof_tolerance: the as-of join surface completed with pandas
  ``merge_asof(tolerance=...)`` semantics — a staleness cap on the
  backward match (stream_asof_join is the uncapped form).
- llm_cdc_chunks: content-defined chunking — rolling-hash boundaries
  make chunk identity robust to insertions/shifts, the unit real
  dedup pipelines hash instead of fixed windows.
- ml_kmeans_step: one deterministic spherical-k-means Lloyd step over
  the embeddings table with exact DECIMAL centroid means — the
  trained-quantizer building block the IVF family (suite.llm) notes
  as its production upgrade path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from banksy_spark.suite.llm import (
    _DOT_DUCK,
    _DOT_SPARK,
    _NORM_DUCK,
    _NORM_SPARK,
    _POLY_DUCK,
    _POLY_SPARK,
)
from banksy_spark.suite.registry import T, fan_out, query

# --- As-of join with tolerance (merge_asof semantics) ----------------------

_ASOF_TOL_US = 7 * 24 * 3600 * 1_000_000  # 7 days


@query(
    "j_asof_tolerance",
    oracle=f"""
    SELECT e.event_id, e.user_id,
           strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS error_at,
           CASE WHEN s.event_id IS NOT NULL
                 AND epoch_us(e.ts) - epoch_us(s.ts) <= {_ASOF_TOL_US}
                THEN s.event_id END AS signup_id,
           CASE WHEN s.event_id IS NOT NULL
                 AND epoch_us(e.ts) - epoch_us(s.ts) <= {_ASOF_TOL_US}
                THEN epoch_us(e.ts) - epoch_us(s.ts) END AS staleness_us
    FROM (SELECT * FROM events WHERE event_type = 'error') e
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
      ON e.user_id = s.user_id AND e.ts >= s.ts
    """,
    note="As-of join with tolerance (pandas merge_asof(tolerance=7d)): each "
    "error matches the most recent prior signup of the same user ONLY if it "
    "is at most 7 days old — an older match is nulled, not replaced (an "
    "older candidate is strictly staler, so null is the unique correct "
    "answer). Spark composition: the same union + last(ignorenulls) "
    "forward-fill as stream_asof_join, then a conditional null on the "
    "exact integer-microsecond staleness; oracle: DuckDB's native ASOF "
    "LEFT JOIN with the cap applied post-match. One shuffle on user_id, "
    "no range explosion — the 100 TB shape for slowly-changing context "
    "attachment with a freshness SLA.",
)
def j_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "events")
    errors = e.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts",
        F.lit(None).cast("bigint").alias("s_id"),
        F.lit(None).cast("timestamp").alias("s_ts"),
        F.lit(1).alias("is_err"),
    )
    signups = e.filter(F.col("event_type") == "signup").select(
        "event_id", "user_id", "ts",
        F.col("event_id").alias("s_id"),
        F.col("ts").alias("s_ts"),
        F.lit(0).alias("is_err"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_err", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = (
        errors.unionByName(signups)
        .withColumn("last_id", F.last("s_id", ignorenulls=True).over(w))
        .withColumn("last_ts", F.last("s_ts", ignorenulls=True).over(w))
    )
    stale = F.unix_micros(F.col("ts")) - F.unix_micros(F.col("last_ts"))
    fresh = F.col("last_id").isNotNull() & (stale <= F.lit(_ASOF_TOL_US))
    return filled.filter(F.col("is_err") == 1).select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("error_at"),
        F.when(fresh, F.col("last_id")).alias("signup_id"),
        F.when(fresh, stale).alias("staleness_us"),
    )


# --- Content-defined chunking (rolling-hash boundaries) --------------------

_CDC_MOD = 16  # boundary when token-hash % 16 == 0 → ~16-token chunks

_CDC_CTES = f"""
    tk AS (
      SELECT doc_id,
             unnest(string_split(text, ' ')) AS tok,
             unnest(generate_series(1, len(string_split(text, ' ')))) AS pos
      FROM documents
    ),
    fl AS (
      SELECT doc_id, tok, pos,
             CASE WHEN ({{poly_tok}}) % {_CDC_MOD} = 0
                  THEN 1 ELSE 0 END AS is_b
      FROM tk
    ),
    ch AS (
      SELECT doc_id, tok, pos,
             COALESCE(SUM(is_b) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS chunk_id
      FROM fl
    ),
    chunk_agg AS (
      SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             string_agg(tok, ' ' ORDER BY pos) AS chunk_text
      FROM ch GROUP BY doc_id, chunk_id
    ),
    hashes AS (
      SELECT doc_id, chunk_id, n_tokens, chunk_text,
             ({{poly_chunk}}) AS chunk_hash
      FROM chunk_agg
    )"""


def _cdc_ctes() -> str:
    return _CDC_CTES.format(
        poly_tok=_POLY_DUCK.format(s="tok"),
        poly_chunk=_POLY_DUCK.format(s="chunk_text"),
    )


@query(
    "llm_cdc_chunks",
    oracle=f"""
    WITH {_cdc_ctes()}
    SELECT doc_id, chunk_id, n_tokens, chunk_text, chunk_hash FROM hashes
    """,
    note="Content-defined chunking: a token ends a chunk when its shared "
    f"polynomial hash ≡ 0 (mod {_CDC_MOD}) — boundaries depend only on "
    "content, so inserting a sentence shifts ONE chunk instead of every "
    "fixed window downstream (the property FastCDC/rsync exploit; this is "
    "the gear-hash idea with the suite's verifiable hash). Emits "
    "(chunk_id, n_tokens, chunk_text, chunk_hash) per document; chunk_hash "
    "is what a shift-robust dedup joins on. Spark: posexplode + one "
    "prefix-sum window + ordered reassembly (array_sort over (pos, tok) "
    "structs — collect_list alone has no order contract); both engines "
    "compute identical boundaries via the shared hash. Scale: everything "
    "partitions by doc_id — window and groupBy share one exchange, and "
    "per-doc work is bounded by document length.",
)
def llm_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r14 trial, REVERTED: fan_out on the documents scan (the tokenize
    # + per-token polynomial hash ran as ONE 423 ms pre-exchange task in
    # the event log). Two interleaved same-process A/Bs (5 and 7 rounds,
    # fan_out monkeypatched on/off) came back NEUTRAL: chunks min
    # 0.712/0.736 and 0.735/0.742 s (on/off), dedup_cdc min 0.983/0.940
    # and 0.965/0.993 s — deltas ≤4% in opposite directions. With no
    # measured local win and fan_out a no-op on a multi-split scan at
    # real scale, the simpler plan stays.
    d = T(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    )
    h = F.expr(_POLY_SPARK.format(s="tok"))
    is_b = F.when(h % _CDC_MOD == 0, 1).otherwise(0)
    wprev = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ch = tok.select(
        "doc_id",
        "pos",
        "tok",
        F.coalesce(F.sum(is_b).over(wprev), F.lit(0)).alias("chunk_id"),
    )
    agg = ch.groupBy("doc_id", "chunk_id").agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        F.array_join(
            F.expr("transform(array_sort(collect_list(struct(pos, tok))), x -> x.tok)"),
            " ",
        ).alias("chunk_text"),
    )
    return agg.select(
        "doc_id",
        F.col("chunk_id").cast("bigint").alias("chunk_id"),
        "n_tokens",
        "chunk_text",
        F.expr(_POLY_SPARK.format(s="chunk_text")).alias("chunk_hash"),
    )


# --- One spherical-k-means Lloyd step (trained quantizer) ------------------

_KM_K = 8


@query(
    "ml_kmeans_step",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    n AS (SELECT vec_id, v, {_NORM_DUCK.format(v="v")} AS nrm FROM e),
    seeds AS (
      SELECT vec_id AS seed_id, v AS sv, nrm AS snrm FROM n
      WHERE vec_id < {_KM_K}
    ),
    assigned AS (
      SELECT vec_id, seed_id AS cell, v FROM (
        SELECT n.vec_id, s.seed_id, n.v,
               row_number() OVER (PARTITION BY n.vec_id ORDER BY
                 {_DOT_DUCK.format(a="n.v", b="s.sv")} / (n.nrm * s.snrm) DESC,
                 s.seed_id) AS rk
        FROM n CROSS JOIN seeds s
      ) WHERE rk = 1
    ),
    dims AS (
      SELECT cell, i - 1 AS pos,
             CAST(floor(v[i] * 1000000000000.0) AS BIGINT) AS q
      FROM assigned, unnest(generate_series(1, 64)) AS t(i)
    )
    SELECT CAST(cell AS BIGINT) AS cell, CAST(pos AS BIGINT) AS pos,
           CAST(SUM(q) AS DOUBLE) / 1000000000000.0 / COUNT(*) AS c,
           CAST(COUNT(*) AS BIGINT) AS n_members
    FROM dims GROUP BY cell, pos
    """,
    note=f"One spherical-k-means Lloyd step, k={_KM_K}: seeds are the first "
    "k vectors by vec_id (deterministic init), every vector assigns to its "
    "max-cosine seed (the same argmax tie-break machinery as the IVF "
    "family), and the updated centroid is an exact fixed-point mean "
    "(floor(x*1e12) integer sums — order-free and bit-identical in both "
    "engines, where a DECIMAL cast of a full-mantissa double is not: "
    "Spark rounds HALF_UP, DuckDB HALF_EVEN), so "
    "the whole training step (not just inference) is oracle-verified. "
    "Offline analysis (BASELINE.md round-5 ANN section) shows trained "
    "centroids are the upgrade path the label-mean IVF needs; iterating "
    "this step with a driver loop + localCheckpoint is the production "
    "k-means, exactly like the converged connected-components shape. "
    "Scale: assignment is a broadcast of k centroids against a narrow "
    "scan; the update is one (cell, pos) exchange of |V|·dims partial "
    "sums with map-side combine.",
)
def ml_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v")
    )
    n = e.withColumn("nrm", F.expr(_NORM_SPARK.format(v="v")))
    seeds = n.filter(F.col("vec_id") < _KM_K).select(
        F.col("vec_id").alias("seed_id"),
        F.col("v").alias("sv"),
        F.col("nrm").alias("snrm"),
    )
    sim = F.expr(_DOT_SPARK.format(a="v", b="sv")) / (F.col("nrm") * F.col("snrm"))
    # argmax (sim DESC, seed_id ASC) as a map-side-combinable hash
    # aggregate: max over a (sim, -seed_id)-led struct picks exactly
    # the row the oracle's row_number() window picks, without sorting
    # the n×k candidate rows. (sim, -seed_id) is unique per candidate,
    # so the trailing payload fields never decide.
    best = F.max(
        F.struct(
            F.col("_sim").alias("s"),
            (-F.col("seed_id")).alias("ns"),
            F.col("seed_id").alias("seed_id"),
            F.col("v").alias("v"),
        )
    ).alias("best")
    assigned = (
        n.crossJoin(F.broadcast(seeds))
        .withColumn("_sim", sim)
        .groupBy("vec_id")
        .agg(best)
        .select(F.col("best.seed_id").alias("cell"), F.col("best.v").alias("v"))
    )
    dims = assigned.select(
        "cell",
        F.posexplode("v").alias("pos", "val"),
    ).select(
        "cell",
        "pos",
        # fixed-point quantization at 1e-12: floor(x*1e12) is the same
        # IEEE multiply + floor in both engines (a DECIMAL cast is NOT —
        # Spark rounds HALF_UP, DuckDB HALF_EVEN, and a raw double's
        # mantissa actually hits the 18th decimal, unlike the 2dp money
        # columns the suite's DECIMAL convention was built for), so the
        # integer sum is associative-exact and order-free
        F.floor(F.col("val") * 1e12).cast("bigint").alias("q"),
    )
    return dims.groupBy("cell", "pos").agg(
        (F.sum("q").cast("double") / F.lit(1e12) / F.count("*")).alias("c"),
        F.count("*").cast("bigint").alias("n_members"),
    ).select(
        F.col("cell").cast("bigint").alias("cell"),
        F.col("pos").cast("bigint").alias("pos"),
        "c",
        "n_members",
    )


# --- Shift-robust near-dup via shared CDC chunks ---------------------------

_CDC_MAX_DF = 10  # chunk hashes in more docs than this are boilerplate
_CDC_JACCARD = 0.5


@query(
    "llm_dedup_cdc",
    oracle=f"""
    WITH {_cdc_ctes()},
    dh AS (SELECT DISTINCT doc_id, chunk_hash FROM hashes),
    keep AS (
      SELECT chunk_hash FROM dh
      GROUP BY chunk_hash HAVING COUNT(*) <= {_CDC_MAX_DF}
    ),
    idx AS (SELECT dh.doc_id, dh.chunk_hash FROM dh JOIN keep USING (chunk_hash)),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks FROM dh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(COUNT(*) AS BIGINT) AS shared_chunks
      FROM idx a JOIN idx b
        ON a.chunk_hash = b.chunk_hash AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT p.doc_a, p.doc_b, p.shared_chunks,
           sa.n_chunks AS n_a, sb.n_chunks AS n_b,
           CAST(p.shared_chunks AS DOUBLE)
             / (sa.n_chunks + sb.n_chunks - p.shared_chunks) AS jaccard
    FROM pairs p
    JOIN sizes sa ON sa.doc_id = p.doc_a
    JOIN sizes sb ON sb.doc_id = p.doc_b
    WHERE CAST(p.shared_chunks AS DOUBLE)
            / (sa.n_chunks + sb.n_chunks - p.shared_chunks) >= {_CDC_JACCARD}
    """,
    note="Shift-robust near-dup detection over content-defined chunks: two "
    "documents are near-dups when the Jaccard of their distinct chunk-hash "
    f"sets is >= {_CDC_JACCARD}. Because chunk boundaries are content-defined "
    "(llm_cdc_chunks), an insertion perturbs one chunk — the rest still "
    "collide, which fixed windows and whole-doc hashes both miss. Candidate "
    "pairs come ONLY from chunk-hash collisions (index keyed on chunk_hash) "
    f"with boilerplate hashes capped at document-frequency {_CDC_MAX_DF} — "
    "bucketed, never all-pairs, the same 100 TB discipline as the MinHash "
    "LSH family; the cap is what bounds a viral boilerplate chunk's bucket. "
    "Integer shared/size counts make the Jaccard a single deterministic "
    "double division.",
)
def llm_dedup_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    chunks = llm_cdc_chunks(spark, sf_dir).select("doc_id", "chunk_hash")
    # r14 opt (guide §2.5, §6): dh feeds FIVE consumer subtrees (keep,
    # both pair-join sides, both size-join sides); under AQE they
    # submit query stages concurrently before a lazy persist populates,
    # so the event log showed SIX duplicate ~0.36 s chunk+distinct
    # builds per run. The tokenize+poly-hash chunk pipeline is real CPU
    # (the _lsh_sigs case, not the cheap-histogram case) — eager
    # checkpoint computes it once.
    dh = chunks.distinct().localCheckpoint(eager=True)
    keep = dh.groupBy("chunk_hash").agg(F.count("*").alias("_df")).filter(
        F.col("_df") <= _CDC_MAX_DF
    ).select("chunk_hash")
    idx = dh.join(keep, "chunk_hash")
    sizes = dh.groupBy("doc_id").agg(F.count("*").cast("bigint").alias("n_chunks"))
    a = idx.select(F.col("doc_id").alias("doc_a"), "chunk_hash")
    b = idx.select(F.col("doc_id").alias("doc_b"), "chunk_hash")
    pairs = (
        a.join(b, "chunk_hash")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("bigint").alias("shared_chunks"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_chunks").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_chunks").alias("n_b"))
    jac = F.col("shared_chunks").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("shared_chunks")
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= _CDC_JACCARD)
        .select("doc_a", "doc_b", "shared_chunks", "n_a", "n_b", "jaccard")
    )


# --- CUSUM changepoint detection -------------------------------------------


def cusum_parts(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Shared derivation for the batch query and the stream test of
    streaming/stateful.py:cusum: per-(priority, day)
    revenue cents and per-priority (mu, sigma) from exact DECIMAL
    moments."""
    o = T(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderpriority").alias("pri"),
        F.col("o_orderdate").alias("day"),
    ).agg(
        # 2dp money convention: the DECIMAL(18,2) cast is exact for 2dp
        # sources (never halfway at the 3rd decimal), where *100-then-
        # cast in DOUBLE is not (Spark truncates, DuckDB rounds)
        F.expr("CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)")
        .alias("cents")
    )
    dec = 'CAST(cents AS DECIMAL(38,0))'
    mu = F.expr(f"CAST(CAST(SUM({dec}) AS STRING) AS DOUBLE)") / F.count("*")
    ex2 = F.expr(f"CAST(CAST(SUM({dec} * {dec}) AS STRING) AS DOUBLE)") / F.count("*")
    stats = daily.groupBy("pri").agg(mu.alias("mu"), ex2.alias("ex2")).select(
        "pri", "mu", F.sqrt(F.col("ex2") - F.col("mu") * F.col("mu")).alias("sigma")
    )
    return daily, stats


# the priority-daily revenue-cents directory (cusum_parts' daily frame)
_DAILY_DUCK = """
      SELECT o_orderpriority AS pri, o_orderdate AS day,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
               AS cents
      FROM orders GROUP BY 1, 2
"""

# its per-priority mean and population sigma (cusum_parts' stats frame)
_DAILY_STATS_DUCK = """stats AS (
      SELECT pri,
             CAST(CAST(SUM(CAST(cents AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE)
               / COUNT(*) AS mu,
             sqrt(
               CAST(CAST(SUM(CAST(cents AS DECIMAL(38,0))
                              * CAST(cents AS DECIMAL(38,0))) AS VARCHAR)
                    AS DOUBLE) / COUNT(*)
               - (CAST(CAST(SUM(CAST(cents AS DECIMAL(38,0))) AS VARCHAR)
                       AS DOUBLE) / COUNT(*))
                 * (CAST(CAST(SUM(CAST(cents AS DECIMAL(38,0))) AS VARCHAR)
                         AS DOUBLE) / COUNT(*))
             ) AS sigma
      FROM daily GROUP BY pri
    )"""


@query(
    "w_cusum_changepoint",
    oracle=f"""
    WITH daily AS ({_DAILY_DUCK}),
    {_DAILY_STATS_DUCK},
    seq AS (
      SELECT d.pri, d.day, d.cents, s.mu, s.sigma,
             list(CAST(d.cents AS DOUBLE)) OVER (
               PARTITION BY d.pri ORDER BY d.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS l
      FROM daily d JOIN stats s ON s.pri = d.pri
    )
    SELECT pri, day, cents,
           list_reduce(list_prepend(CAST(0 AS DOUBLE), l),
                       (acc, x) -> greatest(CAST(0 AS DOUBLE),
                                            acc + x - mu - 0.5e0 * sigma))
             AS s_pos,
           list_reduce(list_prepend(CAST(0 AS DOUBLE), l),
                       (acc, x) -> greatest(CAST(0 AS DOUBLE),
                                            acc + x - mu - 0.5e0 * sigma))
             > 4.0e0 * sigma AS drift
    FROM seq
    """,
    note="One-sided CUSUM changepoint detector per order-priority class: "
    "S_t = max(0, S_{t-1} + (x_t - mu - 0.5 sigma)) over the daily revenue "
    "series, drift flagged when S_t > 4 sigma — the classic sequential "
    "drift test (Page 1954) a pipeline runs on data-quality metrics. CUSUM "
    "is recursive, so like w_ewma both engines compute it as an ordered "
    "fold — identical IEEE sequence, bit-exact. Spark runs "
    "streaming/stateful.py:cusum, the CUSUM step kernel of operators/folds.py "
    "through fold (one mapInPandas pass per sorted partition, O(1) state per "
    "series); the same function runs on a stream with the state store. "
    "mu/sigma come from exact DECIMAL(38,0) sums of integer cents "
    "(VARCHAR-routed to double); x_t is integer cents cast to double. "
    "Scale: one exchange on the series key; memory is one Arrow batch "
    "whatever the series length.",
)
def w_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from banksy_spark.streaming.stateful import cusum

    return cusum(*cusum_parts(spark, sf_dir))


# --- Interval-set overlap join (bucketed range join) -----------------------


@query(
    "j_interval_overlap",
    oracle="""
    WITH sess AS (
      SELECT user_id, MIN(ts) AS s_start, MAX(ts) AS s_end FROM (
        SELECT user_id, ts,
               SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 AS sid
        FROM (
          SELECT user_id, ts, event_id,
                 CASE WHEN LAG(ts) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) IS NULL
                        OR epoch_us(ts) - epoch_us(LAG(ts) OVER (
                             PARTITION BY user_id ORDER BY ts, event_id))
                           > 1800000000
                      THEN 1 ELSE 0 END AS brk
          FROM events
        )
      ) GROUP BY user_id, sid
    ),
    span AS (
      SELECT date_trunc('week', MIN(ts)) AS w0, MAX(ts) AS tmax FROM events
    ),
    win AS (
      SELECT unnest(generate_series(
               w0 + INTERVAL 6 DAY + INTERVAL 2 HOUR,
               tmax, INTERVAL 7 DAY)) AS w_start
      FROM span
    ),
    wine AS (
      SELECT w_start, w_start + INTERVAL 2 HOUR AS w_end FROM win
    )
    SELECT s.user_id,
           strftime(s.s_start, '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(w.w_start, '%Y-%m-%d %H:%M:%S') AS window_start,
           least(epoch_us(s.s_end), epoch_us(w.w_end))
             - greatest(epoch_us(s.s_start), epoch_us(w.w_start))
             AS overlap_us
    FROM sess s JOIN wine w
      ON s.s_start < w.w_end AND w.w_start < s.s_end
    """,
    note="Interval-set overlap join: per-user activity sessions (the suite's "
    "30-minute exact-microsecond gap rule) joined against weekly maintenance "
    "windows (Sunday 02:00-04:00, generated from the data span) on the "
    "open-interval overlap predicate, emitting the exact integer-us overlap. "
    "The oracle runs DuckDB's native inequality join (IEJoin), so the Spark "
    "composition is checked against a real range-join implementation. Spark "
    "side: the window set is calendar-generated and tiny, so the right plan "
    "is explode + BROADCAST + predicate (plan shows BroadcastNestedLoopJoin "
    "over the windows — the j_range_broadcast discipline); when BOTH interval "
    "sets are data-sized, the same query switches to the day-bucket "
    "explode-and-equi-join shape (j_spatial_grid_join's discipline) — bucket "
    "on date, equi-join buckets, dedupe, re-verify the exact predicate. "
    "Sessions shuffle once on user_id; everything else is map-side.",
)
def j_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(wo))
    brk = F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0)
    sess = (
        e.select("user_id", "ts", "event_id", F.sum(brk).over(wo).alias("sid"))
        .groupBy("user_id", "sid")
        .agg(F.min("ts").alias("s_start"), F.max("ts").alias("s_end"))
    )
    span = e.agg(
        F.date_trunc("week", F.min("ts")).alias("w0"), F.max("ts").alias("tmax")
    )
    wins = (
        span.select(
            F.explode(
                F.sequence(
                    F.expr("w0 + INTERVAL 6 DAY + INTERVAL 2 HOUR"),
                    F.col("tmax"),
                    F.expr("INTERVAL 7 DAY"),
                )
            ).alias("w_start")
        )
        .withColumn("w_end", F.expr("w_start + INTERVAL 2 HOUR"))
    )
    joined = sess.join(
        F.broadcast(wins),
        (F.col("s_start") < F.col("w_end")) & (F.col("w_start") < F.col("s_end")),
    )
    return joined.select(
        "user_id",
        F.date_format("s_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format("w_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        (
            F.least(F.unix_micros("s_end"), F.unix_micros("w_end"))
            - F.greatest(F.unix_micros("s_start"), F.unix_micros("w_start"))
        ).alias("overlap_us"),
    )


# --- Converged k-means: frozen-quantizer serving pass ----------------------

from banksy_spark.suite._frozen_centroids import (  # noqa: E402
    KM8_CENTROIDS,
    KM8_CONVERGED,
    KM8_N_ITER,
)


def _km8_oracle() -> str:
    from banksy_spark.operators.kmeans import centroids_values_sql

    n_coords = sum(len(cv) for _, cv in KM8_CENTROIDS)
    return f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    n AS (SELECT vec_id, v, {_NORM_DUCK.format(v="v")} AS nrm FROM e),
    cn AS (
      SELECT cell, cv, {_NORM_DUCK.format(v="cv")} AS cnorm
      FROM {centroids_values_sql(KM8_CENTROIDS)}
    ),
    sims AS (
      SELECT vec_id, cell,
             {_DOT_DUCK.format(a="v", b="cv")} / (nrm * cnorm) AS sim
      FROM n CROSS JOIN cn
    ),
    a AS (
      SELECT vec_id, cell,
             row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell) AS rn
      FROM sims
    )
    SELECT vec_id, cell,
           CAST({KM8_N_ITER} AS INT) AS n_iter,
           {'TRUE' if KM8_CONVERGED else 'FALSE'} AS converged,
           CAST({n_coords} AS BIGINT) AS n_centroid_coords
    FROM a WHERE rn = 1
    """


@query(
    "ml_kmeans_converged",
    oracle=_km8_oracle(),
    note="Spherical k-means, trained to assignment convergence on the "
    "committed sf0.001 embeddings sample and FROZEN as source literals "
    "(tools/freeze_centroids.py -> suite/_frozen_centroids.py) — the "
    "100 TB posture: a coarse quantizer is trained once on a sample "
    "(driver-loop Lloyd, operators/kmeans.py) and the SERVING pass — "
    "argmax-cosine assignment with the trainer's exact (sim DESC, cell "
    "ASC) rule — runs distributed over the full corpus. The serving "
    "pass is what this query registers, so it now carries a DuckDB "
    "oracle (round-8 verdict item 3): both engines assign from "
    "bit-identical literal centroids (repr round-trip + correctly- "
    "rounded string->double cast) with the same left-fold cosine. The "
    "trained state stays pytest-verified: kmeans_train still runs to "
    "convergence bit-exact vs a pure-Python replica "
    "(tests/test_scale_ops.py) AND reproduces the frozen literals "
    "(tests/test_frozen_centroids.py). n_iter/converged are the frozen "
    "run's audit facts. Scale: k centroids broadcast against a narrow "
    "scan, map-side-combinable argmax — no shuffle of candidates.",
)
def ml_kmeans_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    from banksy_spark.operators.kmeans import assign, centroids_df

    n = (
        T(spark, sf_dir, "embeddings")
        .selectExpr(
            "vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v"
        )
        .withColumn("nrm", F.expr(_NORM_SPARK.format(v="v")))
    )
    n_coords = sum(len(cv) for _, cv in KM8_CENTROIDS)
    return assign(n, centroids_df(spark, KM8_CENTROIDS)).select(
        "vec_id",
        F.col("cell").cast("bigint").alias("cell"),
        F.lit(KM8_N_ITER).cast("int").alias("n_iter"),
        F.lit(KM8_CONVERGED).alias("converged"),
        F.lit(n_coords).cast("bigint").alias("n_centroid_coords"),
    )


# --- Converged graph ops as oracle-verified queries ------------------------

from banksy_spark.suite.round4d import _BFS_N  # noqa: E402  (shared fixture)


@query(
    "j_ancestry_converged",
    oracle="""
    WITH RECURSIVE edges AS (
      SELECT p_partkey AS node,
             CASE WHEN p_partkey = 0 THEN NULL ELSE p_partkey // 16 END AS parent
      FROM part
    ),
    walk(node, cur, depth) AS (
      SELECT node, node, 0 FROM edges
      UNION ALL
      SELECT w.node, e.parent, w.depth + 1
      FROM walk w JOIN edges e ON e.node = w.cur
      WHERE e.parent IS NOT NULL
    )
    SELECT w.node, w.cur AS root, CAST(w.depth AS BIGINT) AS depth
    FROM walk w JOIN edges e ON e.node = w.cur
    WHERE e.parent IS NULL
    """,
    note="Arbitrary-depth ancestry resolution: every part labeled with its "
    "hierarchy ROOT and exact depth via pointer jumping (path doubling, "
    "operators/graph.py:ancestors_converged) — ceil(log2 h)+1 driver-loop "
    "rounds for depth h, NOT h rounds, with a lazy localCheckpoint per round "
    "(the CC loop discipline). This is the convergence-guaranteed sibling "
    "of j_hierarchy_unroll: no depth budget to outrun, so the truncated "
    "flag that guards the unroll is structurally unnecessary here. Oracle: "
    "a genuine recursive CTE walked to each node's root — unbounded "
    "recursion checked against the O(log) distributed form. Scale: each "
    "round is one self-join on the pointer key over |V| rows; rounds are "
    "logarithmic in the deepest chain, so a depth-10^6 pathology costs 21 "
    "rounds, not 10^6.",
)
def j_ancestry_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    from banksy_spark.operators.graph import ancestors_converged

    p = T(spark, sf_dir, "part")
    e = p.select(
        F.col("p_partkey").alias("node"),
        F.when(F.col("p_partkey") == 0, F.lit(None))
        .otherwise(F.expr("p_partkey DIV 16"))
        .alias("parent"),
    )
    out, _rounds = ancestors_converged(e)
    return out.select(
        "node",
        F.col("root").cast("bigint").alias("root"),
        F.col("depth").cast("bigint").alias("depth"),
    )


@query(
    "graph_bfs_converged",
    oracle=f"""
    WITH RECURSIVE e0 AS (
      SELECT DISTINCT o_custkey % {_BFS_N} AS u, o_orderkey % {_BFS_N} AS v
      FROM orders WHERE o_custkey % {_BFS_N} <> o_orderkey % {_BFS_N}
    ),
    edges AS (SELECT u, v FROM e0 UNION SELECT v AS u, u AS v FROM e0),
    reach(node, dist) AS (
      SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT)
      UNION
      SELECT e.v, r.dist + 1
      FROM reach r JOIN edges e ON e.u = r.node
      WHERE r.dist < 64
    )
    SELECT node, MIN(dist) AS dist FROM reach GROUP BY node
    """,
    note="BFS distances iterated to frontier exhaustion (operators/graph.py:"
    "bfs_converged) — the convergence-guaranteed sibling of the 4-round "
    "graph_bfs_distance: the loop stops when one more expansion would "
    "change nothing (the exact test the bounded form exposes as its "
    "frontier_delta detector), so no reachable node can be missing and no "
    "distance can be an overestimate. Oracle: recursive-CTE reachability "
    "with a 64-level backstop (mirroring the operator's max_iter) reduced "
    "by MIN per node. Scale: per round one shuffle keyed on node id; "
    "rounds = reachable eccentricity; a semi-naive delta frontier halves "
    "the per-round volume at cluster scale with the identical join keys.",
)
def graph_bfs_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    from banksy_spark.operators.graph import bfs_converged

    o = T(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % _BFS_N).alias("u"),
        (F.col("o_orderkey") % _BFS_N).alias("v"),
    )
    e0 = o.filter(F.col("u") != F.col("v")).distinct()
    edges = (
        e0.unionByName(e0.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .persist()
    )
    dist, _rounds = bfs_converged(edges, source=0)
    return dist
