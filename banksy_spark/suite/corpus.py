"""Corpus-level training-data operators, round-3 batch 2: span-level
exact dedup (C4-style), eval-set n-gram decontamination, BM25 retrieval,
and a decorrelated per-group-average filter (TPC-H Q17 shape).

Registered after the round-2/3 priority families (suite.__init__ import
order) so the driver's capped verification window keeps its recorded
green rows stable; these are verified by the same oracle harness via
tools/check.py.

Determinism rules (registry docstring): integer outputs wherever
possible; double sums routed through DECIMAL so partial-agg order is
irrelevant; DECIMAL->DOUBLE conversions routed through VARCHAR (the
correctly-rounded parse both engines share).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from banksy_spark.streaming.core import session_window_counts
from banksy_spark.suite.llm import _POLY_DUCK, _POLY_SPARK
from banksy_spark.suite.llm_extra import _LANG_RANK_DUCK, _lang_hash_ranked
from banksy_spark.suite.registry import T, fan_out, query

# --- Span-level exact dedup (C4-style) -------------------------------------

_SPAN_W = 8  # tokens per span


@query(
    "llm_dedup_spans",
    oracle=f"""
    WITH sp AS (
      SELECT doc_id, unnest(spans) AS span_text,
             unnest(generate_series(0, len(spans) - 1)) AS span_pos
      FROM (
        SELECT doc_id,
               list_transform(
                 generate_series(0, CAST(ceil(len(w) / {_SPAN_W}.0) AS BIGINT) - 1),
                 i -> array_to_string(w[i*{_SPAN_W}+1:i*{_SPAN_W}+{_SPAN_W}], ' ')) AS spans
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
      )
    ),
    k AS (
      SELECT doc_id, span_pos, span_text,
             row_number() OVER (PARTITION BY span_text ORDER BY doc_id, span_pos) = 1 AS kept
      FROM sp
    )
    SELECT doc_id,
           COALESCE(string_agg(span_text, ' ' ORDER BY span_pos) FILTER (WHERE kept), '')
             AS clean_text,
           CAST(count(*) FILTER (WHERE kept) AS BIGINT) AS spans_kept,
           CAST(count(*) FILTER (WHERE NOT kept) AS BIGINT) AS spans_dropped
    FROM k GROUP BY doc_id
    """,
    note="C4-style span-level exact dedup: chunk each document into fixed "
    f"{_SPAN_W}-token spans, keep only the globally-first occurrence of each "
    "distinct span (ordered by doc_id, position), reassemble the surviving spans "
    "in order. Scale: shuffle 1 keys on the span text (the dedup window — "
    "cardinality ~corpus tokens/8, uniformly spread), shuffle 2 keys on doc_id "
    "(reassembly). No collect, no quadratic step; this is the shape C4/CCNet "
    "line-dedup runs at web scale.",
)
def llm_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents").select("doc_id", F.split("text", " ").alias("w"))
    spans = d.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, cast(ceil(size(w) / {_SPAN_W}.0) as int) - 1),"
                f" i -> concat_ws(' ', slice(w, i*{_SPAN_W}+1, {_SPAN_W})))"
            )
        ).alias("span_pos", "span_text"),
    )
    first = Window.partitionBy("span_text").orderBy("doc_id", "span_pos")
    flagged = spans.withColumn("kept", F.row_number().over(first) == 1)
    return flagged.groupBy("doc_id").agg(
        F.array_join(
            F.expr(
                "transform(array_sort(collect_list(CASE WHEN kept THEN"
                " struct(span_pos, span_text) END)), x -> x.span_text)"
            ),
            " ",
        ).alias("clean_text"),
        F.sum(F.col("kept").cast("bigint")).alias("spans_kept"),
        F.sum((~F.col("kept")).cast("bigint")).alias("spans_dropped"),
    )


# --- Eval-set n-gram decontamination ---------------------------------------

_NGRAM_N = 13


@query(
    "llm_decontam_overlap",
    oracle=f"""
    WITH g AS (
      SELECT doc_id, {_POLY_DUCK.format(s='text')} % 100 AS bucket,
             list_distinct(CASE WHEN len(w) >= {_NGRAM_N}
               THEN list_transform(generate_series(1, len(w) - {_NGRAM_N - 1}),
                      i -> array_to_string(w[i:i+{_NGRAM_N - 1}], ' '))
               ELSE CAST([] AS VARCHAR[]) END) AS grams
      FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents)
    ),
    ev AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE bucket >= 95),
    tr AS (SELECT doc_id, grams FROM g WHERE bucket < 90),
    m AS (
      SELECT t.doc_id, count(*) AS n_overlap
      FROM (SELECT doc_id, unnest(grams) AS gram FROM tr) t
      JOIN ev USING (gram) GROUP BY t.doc_id
    )
    SELECT tr.doc_id, CAST(len(tr.grams) AS BIGINT) AS n_grams,
           CAST(COALESCE(m.n_overlap, 0) AS BIGINT) AS n_overlap,
           COALESCE(m.n_overlap, 0) > 0 AS contaminated
    FROM tr LEFT JOIN m ON tr.doc_id = m.doc_id
    """,
    note=f"GPT-3-style decontamination: flag training documents sharing any "
    f"{_NGRAM_N}-gram with the held-out split (the same content-hash split as "
    "llm_split_assign, so the eval set is deterministic). Scale: the eval "
    "side is the small one — its distinct n-gram set broadcasts; the train "
    "side streams through a map-side hash join, no shuffle of the corpus. "
    "Per-doc distinct grams via array_distinct before the explode keeps the "
    "join input minimal.",
)
def llm_decontam_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan_out: char-level content hash + gram build on a single-task
    # scan without it (r13 opt).
    d = fan_out(
        T(spark, sf_dir, "documents").select(
            "doc_id",
            (F.expr(_POLY_SPARK.format(s="text")) % 100).alias("bucket"),
            F.split("text", " ").alias("w"),
        )
    )
    g = d.select(
        "doc_id",
        "bucket",
        F.expr(
            f"array_distinct(CASE WHEN size(w) >= {_NGRAM_N} THEN"
            f" transform(sequence(1, size(w) - {_NGRAM_N - 1}),"
            f" i -> concat_ws(' ', slice(w, i, {_NGRAM_N})))"
            " ELSE array() END)"
        ).alias("grams"),
    ).persist()  # consumed by 3 branches (eval set, train base, train explode);
    # without it the char-level content hash + gram build runs 3x
    ev = (
        g.filter(F.col("bucket") >= 95)
        .select(F.explode("grams").alias("gram"))
        .distinct()
    )
    tr = g.filter(F.col("bucket") < 90).select("doc_id", "grams")
    matched = (
        tr.select("doc_id", F.explode("grams").alias("gram"))
        .join(F.broadcast(ev), "gram")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlap_m"))
    )
    return tr.join(matched, "doc_id", "left").select(
        "doc_id",
        F.size("grams").cast("bigint").alias("n_grams"),
        F.coalesce("n_overlap_m", F.lit(0)).cast("bigint").alias("n_overlap"),
        (F.coalesce("n_overlap_m", F.lit(0)) > 0).alias("contaminated"),
    )


# --- BM25 retrieval --------------------------------------------------------

_BM25_QUERIES = [
    ("q1", "customer"),
    ("q1", "query"),
    ("q2", "join"),
    ("q2", "filter"),
    ("q2", "agg"),
    ("q3", "stream"),
    ("q3", "batch"),
]
_K1, _B, _TOPK = 1.2, 0.75, 10

_BM25_Q_DUCK = " UNION ALL ".join(
    f"SELECT '{qid}' AS qid, '{t}' AS term" for qid, t in _BM25_QUERIES
)


@query(
    "llm_bm25_topk",
    oracle=f"""
    WITH q(qid, term) AS ({_BM25_Q_DUCK}),
    docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    stats AS (
      SELECT count(*) AS n_docs,
             CAST(CAST(SUM(CAST(len(w) AS DECIMAL(18,0))) AS VARCHAR) AS DOUBLE)
               / count(*) AS avgdl
      FROM docs
    ),
    tf AS (
      SELECT doc_id, term, count(*) AS tf, any_value(dl) AS dl
      FROM (SELECT doc_id, unnest(w) AS term, len(w) AS dl FROM docs)
      GROUP BY doc_id, term
    ),
    dfreq AS (
      SELECT q.qid, q.term, tf.doc_id, tf.tf, tf.dl,
             count(tf.doc_id) OVER (PARTITION BY q.qid, q.term) AS df
      FROM q JOIN tf USING (term)
    ),
    scored AS (
      SELECT qid, doc_id,
             CAST(CAST(SUM(CAST(
               ln((s.n_docs - df + 0.5) / (df + 0.5) + 1.0)
                 * (tf * ({_K1} + 1.0))
                 / (tf + {_K1} * (1.0 - {_B} + {_B} * dl / s.avgdl))
               AS DECIMAL(27,12))) AS VARCHAR) AS DOUBLE) AS score
      FROM dfreq CROSS JOIN stats s
      GROUP BY qid, doc_id
    )
    SELECT qid, doc_id, score, rank FROM (
      SELECT qid, doc_id, score,
             row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id)
               AS rank
      FROM scored
    ) WHERE rank <= {_TOPK}
    """,
    note="BM25 top-k retrieval (k1=1.2, b=0.75) for a literal query set over "
    "the corpus: tf/df/dl from one explode+agg, idf the Robertson-Sparck-Jones "
    "ln form, per-term scores DECIMAL-summed per (query, doc) so partial-agg "
    "order is irrelevant, deterministic doc_id tie-break in the top-k window. "
    "Scale: one term-keyed shuffle for tf (map-side combine), query list "
    "broadcast, corpus stats a 1-row broadcast cross join; top-k is a "
    "per-query window over only the docs containing a query term.",
)
def llm_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r13 opt note: fan_out was trialed here and REVERTED — tf groups
    # on near-unique (doc_id, term) keys, so the partial agg cannot
    # collapse rows and the added round-robin exchange of raw token
    # arrays was pure cost (measured 0.78 -> 1.43 s).
    d = T(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("w")
    )
    stats = d.agg(
        F.count("*").alias("n_docs"),
        (
            F.expr(
                "CAST(CAST(SUM(CAST(size(w) AS DECIMAL(18,0))) AS STRING) AS DOUBLE)"
            )
            / F.count("*")
        ).alias("avgdl"),
    )
    tf = (
        d.select("doc_id", F.size("w").alias("dl"), F.explode("w").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"), F.any_value("dl").alias("dl"))
    )
    q = spark.createDataFrame(_BM25_QUERIES, "qid string, term string")
    joined = F.broadcast(q).join(tf, "term").withColumn(
        "df", F.count("doc_id").over(Window.partitionBy("qid", "term"))
    )
    per_term = joined.crossJoin(F.broadcast(stats)).withColumn(
        "s",
        F.expr(
            f"CAST(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0D)"
            f" * (tf * ({_K1} + 1.0D))"
            f" / (tf + {_K1} * (1.0D - {_B} + {_B} * dl / avgdl))"
            " AS DECIMAL(27,12))"
        ),
    )
    scored = per_term.groupBy("qid", "doc_id").agg(
        F.expr("CAST(CAST(SUM(s) AS STRING) AS DOUBLE)").alias("score")
    )
    topk = Window.partitionBy("qid").orderBy(F.desc("score"), "doc_id")
    return (
        scored.withColumn("rank", F.row_number().over(topk))
        .filter(F.col("rank") <= _TOPK)
        .select(
            "qid", "doc_id", "score",
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


# --- Decorrelated per-group-average filter (TPC-H Q17 shape) ---------------


@query(
    "a_decorrelated_avg",
    oracle="""
    SELECT CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS VARCHAR)
             AS DOUBLE) / 7.0 AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand IN ('Brand#1', 'Brand#2', 'Brand#3')
      AND l.l_quantity < (
        SELECT 0.2 * (CAST(CAST(SUM(CAST(l2.l_quantity AS DECIMAL(18,2)))
                 AS VARCHAR) AS DOUBLE) / COUNT(*))
        FROM lineitem l2
        WHERE l2.l_partkey = l.l_partkey)
    """,
    note="TPC-H Q17 shape: small-order revenue for selected brands, filtering "
    "each lineitem against 20% of its part's average quantity. The oracle is "
    "the classic correlated scalar subquery; the Spark plan is hand-"
    "decorrelated — the per-part average is a window over l_partkey, so the "
    "lineitem table is scanned ONCE and never self-joined. Parity: the "
    "average is DECIMAL-summed then VARCHAR-routed to DOUBLE; the 0.2* "
    "threshold and the < comparison are then identical IEEE ops in both "
    "engines. Scale: one shuffle (window on l_partkey), part dim broadcast "
    "after brand pushdown.",
)
def a_decorrelated_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = T(spark, sf_dir, "lineitem")
    p = T(spark, sf_dir, "part").filter(
        F.col("p_brand").isin("Brand#1", "Brand#2", "Brand#3")
    )
    per_part = Window.partitionBy("l_partkey")
    with_avg = l.withColumn(
        "part_avg_qty",
        F.expr(
            "CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))"
            " OVER (PARTITION BY l_partkey) AS STRING) AS DOUBLE)"
        )
        / F.count("*").over(per_part),
    )
    return (
        with_avg.join(F.broadcast(p), with_avg.l_partkey == p.p_partkey)
        .filter(F.col("l_quantity") < 0.2 * F.col("part_avg_qty"))
        .agg(
            F.expr(
                "CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))"
                " AS STRING) AS DOUBLE) / 7.0D"
            ).alias("avg_yearly")
        )
    )


# --- Product-quantization ANN (ADC) ----------------------------------------

_PQ_M = 8  # subspaces (64-dim vectors -> 8 dims each)
_PQ_K = 4  # codes per subspace codebook
_PQ_TOPK = 3

# L2^2 between two equal-length lists, left-fold in index order (same
# fold shape both engines; Spark's extra 0D init is IEEE-exact: 0 + x = x).
_L2_SPARK = "aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), 0D, (acc, v) -> acc + v)"
_L2_DUCK = (
    "list_reduce([({a}[i] - {b}[i]) * ({a}[i] - {b}[i])"
    " for i in generate_series(1, len({a}))], (x, y) -> x + y)"
)


# Shared PQ derivation: codebook train -> encode -> query LUT -> ADC.
# Used by llm_ann_pq and llm_ann_recall_pq (the oracle re-verifies the
# chain in combination, like the IVF/LSH recall query).
_PQ_CTES = f"""e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    cb_elems AS (
      -- mean = exact DECIMAL sum, VARCHAR-routed to DOUBLE, then IEEE
      -- double division — a decimal division here is NOT cross-engine
      -- stable (quotient scale/rounding differs)
      SELECT vec_id % {_PQ_K} AS grp, CAST((i - 1) // 8 AS BIGINT) AS s,
             i AS pos,
             CAST(CAST(SUM(CAST(v[i] AS DECIMAL(27,18))) AS VARCHAR) AS DOUBLE)
               / COUNT(*) AS c
      FROM e, unnest(generate_series(1, 64)) AS t(i)
      GROUP BY grp, s, i
    ),
    cb AS (
      SELECT grp, s, list(c ORDER BY pos) AS subcent
      FROM cb_elems GROUP BY grp, s
    ),
    subvecs AS (
      SELECT vec_id, s, v[s*8+1:s*8+8] AS sv
      FROM e, unnest(generate_series(0, {_PQ_M} - 1)) AS t(s)
    ),
    codes AS (
      SELECT vec_id, s, grp AS code FROM (
        SELECT sv.vec_id, sv.s, cb.grp,
               row_number() OVER (PARTITION BY sv.vec_id, sv.s
                 ORDER BY {_L2_DUCK.format(a='sv.sv', b='cb.subcent')}, cb.grp) AS rk
        FROM subvecs sv JOIN cb ON cb.s = sv.s
      ) WHERE rk = 1
    ),
    dtab AS (
      -- double->decimal routed through VARCHAR: DuckDB's direct cast
      -- rounds the exact binary expansion while Spark's goes through the
      -- shortest-repr string (BigDecimal.valueOf); the string hop makes
      -- both engines parse the identical shortest repr (1-ulp parity,
      -- mirror of the registry's decimal->double rule)
      SELECT q.vec_id AS qid, cb.s, cb.grp AS code,
             CAST(CAST({_L2_DUCK.format(a='q.sv', b='cb.subcent')} AS VARCHAR)
               AS DECIMAL(27,18)) AS d
      FROM (SELECT * FROM subvecs WHERE vec_id < 8) q
      JOIN cb ON cb.s = q.s
    ),
    adc AS (
      SELECT d.qid, c.vec_id AS neighbor_id,
             CAST(CAST(SUM(d.d) AS VARCHAR) AS DOUBLE) AS adc_dist
      FROM codes c JOIN dtab d ON d.s = c.s AND d.code = c.code
      WHERE c.vec_id <> d.qid
      GROUP BY d.qid, c.vec_id
    ),
    pq AS (
      SELECT qid, neighbor_id, adc_dist, CAST(rnk AS BIGINT) AS rnk
      FROM (
        SELECT qid, neighbor_id, adc_dist,
               row_number() OVER (PARTITION BY qid ORDER BY adc_dist, neighbor_id)
                 AS rnk
        FROM adc
      ) WHERE rnk <= {_PQ_TOPK}
    )"""


@query(
    "llm_ann_pq",
    oracle=f"""
    WITH {_PQ_CTES}
    SELECT qid, neighbor_id, adc_dist, rnk FROM pq
    """,
    note=f"Similarity search, product-quantization variant: {_PQ_M} subspaces × "
    f"{_PQ_K}-entry codebooks trained in-engine (per-group DECIMAL element means, "
    "groups keyed by vec_id % k for determinism), every vector encoded as its "
    "per-subspace argmin code (L2, tie-break by code), queries scored against "
    "candidates via asymmetric-distance lookup: a (query, subspace, code) "
    "distance table replaces the full vectors. Per-subspace partial distances "
    "are DECIMAL-summed, so the reduce order is irrelevant. Scale: codebook "
    f"({_PQ_M}×{_PQ_K}×8 doubles) and the {_PQ_M * _PQ_K}-rows-per-query LUT both "
    "broadcast; candidates ship only their codes (m bytes per vector at real "
    "scale, not the embedding) — the memory shape that makes billion-vector "
    "ANN feasible. One shuffle: the (qid, neighbor) partial-distance agg.",
)
def llm_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pq_adc_topk(spark, sf_dir)


def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared PQ derivation (see _PQ_CTES for the oracle twin)."""
    e = T(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v")
    )

    # codebooks: per (grp, subspace) DECIMAL element means
    cb_elems = (
        e.select(
            (F.col("vec_id") % _PQ_K).alias("grp"),
            F.posexplode("v").alias("pos", "val"),  # pos 0-based
        )
        .groupBy("grp", (F.col("pos") / 8).cast("bigint").alias("s"), "pos")
        .agg(
            (
                F.expr(
                    "CAST(CAST(SUM(CAST(val AS DECIMAL(27,18))) AS STRING) AS DOUBLE)"
                )
                / F.count("*")
            ).alias("c")
        )
    )
    cb = (
        cb_elems.groupBy("grp", "s")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(pos, c))), x -> x.c)"
            ).alias("subcent")
        )
        .persist()  # broadcast twice (encode join + query LUT join)
    )

    subvecs = (
        e.select(
            "vec_id",
            F.explode(F.expr(f"sequence(0, {_PQ_M - 1})")).alias("s"),
            "v",
        )
        .select("vec_id", "s", F.expr("slice(v, s*8+1, 8)").alias("sv"))
        .persist()  # consumed by the encode pass and the query-side LUT
    )

    # encode: per-subspace argmin code against the broadcast codebook
    l2 = F.expr(_L2_SPARK.format(a="sv", b="subcent"))
    enc_w = Window.partitionBy("vec_id", "s").orderBy(F.col("_d"), F.col("grp"))
    codes = (
        subvecs.join(F.broadcast(cb), "s")
        .withColumn("_d", l2)
        .withColumn("rk", F.row_number().over(enc_w))
        .filter(F.col("rk") == 1)
        .select("vec_id", "s", F.col("grp").alias("code"))
    )

    # ADC lookup table: (query, subspace, code) -> decimal partial distance
    dtab = (
        subvecs.filter(F.col("vec_id") < 8)
        .withColumnRenamed("vec_id", "qid")
        .join(F.broadcast(cb), "s")
        .select(
            "qid",
            "s",
            F.col("grp").alias("code"),
            # explicit STRING hop (see oracle comment): both engines
            # round the same shortest-repr string to DECIMAL(27,18)
            F.expr(
                f"CAST(CAST({_L2_SPARK.format(a='sv', b='subcent')} AS STRING)"
                " AS DECIMAL(27,18))"
            ).alias("d"),
        )
    )

    adc = (
        codes.join(F.broadcast(dtab), ["s", "code"])
        .filter(F.col("vec_id") != F.col("qid"))
        .groupBy("qid", F.col("vec_id").alias("neighbor_id"))
        .agg(F.expr("CAST(CAST(SUM(d) AS STRING) AS DOUBLE)").alias("adc_dist"))
    )
    topk = Window.partitionBy("qid").orderBy("adc_dist", "neighbor_id")
    return (
        adc.withColumn("rnk", F.row_number().over(topk).cast("bigint"))
        .filter(F.col("rnk") <= _PQ_TOPK)
        .select("qid", "neighbor_id", "adc_dist", "rnk")
    )


# --- Salted skewed join ----------------------------------------------------


@query(
    "j_salted_skew_join",
    oracle="""
    SELECT c.c_mktsegment,
           COUNT(*) AS n_orders,
           CAST(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS VARCHAR)
             AS DOUBLE) AS revenue
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY c.c_mktsegment
    """,
    note="Skew-handling join: the fact side carries a deterministic salt "
    "(xxhash64 of the order key mod 8), the 'dimension' side is replicated "
    "once per salt value, and the join keys on (custkey, salt) — a hot "
    "customer's orders spread over 8 reducers instead of serializing onto "
    "one. The oracle is the plain join: salting must be invisible in the "
    "result. The broadcast strategy is hinted OFF here deliberately — this "
    "operator exists precisely for the case where the small side is too big "
    "to broadcast and AQE cannot split the stage (operators/skew.py: "
    "salted_join). First-line answer at 100 TB is still AQE skew-join "
    "(session.py enables it); this is the manual fallback.",
)
def j_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from banksy_spark.operators.skew import salted_join

    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    c = T(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    joined = salted_join(
        o,
        c.hint("shuffle_hash"),  # simulate a non-broadcastable small side
        ["o_custkey"],
        salt_col=F.xxhash64("o_orderkey"),
        n_salt=8,
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_orders"),
        F.expr(
            "CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS STRING) AS DOUBLE)"
        ).alias("revenue"),
    )


# --- Exact grouped percentiles (nearest-rank) ------------------------------


@query(
    "a_exact_percentiles",
    oracle="""
    WITH ranked AS (
      SELECT o_orderpriority, o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice, o_orderkey) AS rn,
             count(*) OVER (PARTITION BY o_orderpriority) AS n
      FROM orders
    )
    SELECT o_orderpriority,
           MAX(CASE WHEN rn = (n * 25 + 99) // 100 THEN o_totalprice END) AS p25,
           MAX(CASE WHEN rn = (n * 50 + 99) // 100 THEN o_totalprice END) AS p50,
           MAX(CASE WHEN rn = (n * 95 + 99) // 100 THEN o_totalprice END) AS p95
    FROM ranked GROUP BY o_orderpriority
    """,
    note="Exact grouped percentiles, nearest-rank definition: rank every row "
    "within its group (value, then key tie-break), pick rank ceil(p*n/100) "
    "via pure integer arithmetic ((n*p + 99) div 100 — no float quantile "
    "boundary can diverge between engines), fold the three picks into one "
    "row per group with conditional MAX. Generalizes a_exact_median; one "
    "shuffle on the group key serves the window AND the final aggregate. "
    "Values are untouched source doubles — bit-identical by construction.",
)
def a_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from banksy_spark.operators.ordinals import grouped_ordinals

    o = T(spark, sf_dir, "orders")
    # 5 priorities over all of orders: few-huge-groups — the plain
    # PARTITION BY window would sort a fifth of the fact on one task;
    # grouped_ordinals bounds every sort partition by the range bucket.
    ranked = grouped_ordinals(
        o.select("o_orderpriority", "o_totalprice", "o_orderkey"),
        ["o_orderpriority"],
        ["o_totalprice", "o_orderkey"],
        row_number="rn",
        group_count="n",
    )
    pick = lambda p: F.max(  # noqa: E731
        F.when(F.expr(f"rn = (n * {p} + 99) DIV 100"), F.col("o_totalprice"))
    ).alias(f"p{p}")
    return ranked.groupBy("o_orderpriority").agg(pick(25), pick(50), pick(95))


# --- Temperature-based mixture sampling ------------------------------------

_MIX_TARGET = 200  # total docs to draw across strata


@query(
    "llm_mix_temperature",
    oracle=f"""
    WITH counts AS (
      SELECT lang, count(*) AS n_s FROM documents GROUP BY lang
    ),
    tot AS (
      SELECT CAST(CAST(SUM(CAST(CAST(sqrt(n_s) AS VARCHAR) AS DECIMAL(27,18)))
               AS VARCHAR) AS DOUBLE) AS z
      FROM counts
    ),
    quota AS (
      SELECT lang, CAST(floor(sqrt(n_s) / z * {_MIX_TARGET}) AS BIGINT) AS quota
      FROM counts CROSS JOIN tot
    ),
    {_LANG_RANK_DUCK}
    SELECT r.doc_id, r.lang, CAST(r.rn AS BIGINT) AS samp_rank, q.quota
    FROM ranked r JOIN quota q USING (lang)
    WHERE r.rn <= q.quota
    """,
    note="Temperature-flattened mixture sampling (alpha = 0.5): stratum s "
    f"draws floor(sqrt(n_s)/Z * {_MIX_TARGET}) docs, so small domains are "
    "up-weighted relative to proportional sampling — the standard "
    "multilingual-pretraining rebalance. Parity: sqrt is IEEE-correctly-"
    "rounded in both engines; the normalizer Z sums the sqrt terms as "
    "VARCHAR-routed DECIMALs so stratum order is irrelevant; selection is "
    "the same md5-ordered deterministic rank as llm_domain_mix. Scale: "
    "counts + quotas are a tiny broadcast; one window per stratum "
    "(production swaps the full-stratum sort for count + hash-threshold, "
    "same as domain_mix's note).",
)
def llm_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents").select("doc_id", "lang")
    counts = d.groupBy("lang").agg(F.count("*").alias("n_s"))
    tot = counts.agg(
        F.expr(
            "CAST(CAST(SUM(CAST(CAST(sqrt(n_s) AS STRING) AS DECIMAL(27,18)))"
            " AS STRING) AS DOUBLE)"
        ).alias("z")
    )
    quota = (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            F.floor(F.sqrt("n_s") / F.col("z") * _MIX_TARGET)
            .cast("bigint")
            .alias("quota"),
        )
    )
    return (
        _lang_hash_ranked(d)
        .join(F.broadcast(quota), "lang")
        .filter(F.col("samp_rank") <= F.col("quota"))
        .select("doc_id", "lang", "samp_rank", "quota")
    )


# --- Trailing time-range rolling window ------------------------------------

_HOUR_US = 3_600_000_000


@query(
    "w_rolling_range",
    oracle=f"""
    SELECT event_id, user_id,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_1h,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sum_1h
    FROM events
    WINDOW w AS (
      PARTITION BY user_id ORDER BY epoch_us(ts)
      RANGE BETWEEN {_HOUR_US - 1} PRECEDING AND CURRENT ROW
    )
    """,
    note="Trailing 1-hour rolling aggregate per user — a RANGE frame over "
    "event time (not ROWS: gaps and ties follow wall-clock semantics). Both "
    "engines order by integer epoch-microseconds with an identical numeric "
    "frame bound, so peer/boundary behavior is byte-identical; the windowed "
    "SUM goes through DECIMAL (frame evaluation order is engine-internal). "
    "Scale: one shuffle on user_id; each partition is a single ordered scan "
    "with a sliding frame — no self-join against the trailing hour.",
)
def w_rolling_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-(_HOUR_US - 1), 0)
    )
    return e.select(
        "event_id",
        "user_id",
        F.count("*").over(w).cast("bigint").alias("n_1h"),
        F.sum(F.col("value").cast("decimal(18,6)")).over(w).cast("double").alias("sum_1h"),
    )


# --- Hopping (sliding) event-time window -----------------------------------


@query(
    "stream_hopping_window",
    oracle="""
    SELECT make_timestamp(((epoch_us(ts) // 900000000) - k) * 900000000) AS win_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
    FROM events, unnest(generate_series(0, 3)) AS t(k)
    GROUP BY 1, 2
    """,
    note="§2.9 extension: hopping window (size 1 h, slide 15 min) — each event "
    "contributes to exactly 4 overlapping windows. Spark side is the native "
    "window(ts, '1 hour', '15 minutes') grouping (streaming-ready: the same "
    "expression works under readStream with a watermark); the oracle "
    "materializes the 4 covering window starts per event via integer "
    "epoch-microsecond arithmetic (epoch-aligned, exactly Spark's window "
    "alignment). DECIMAL sums for order-independence. Scale: explode factor "
    "is size/slide (4), then an ordinary partial-aggregated shuffle on "
    "(window, type).",
)
def stream_hopping_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("value_sum"),
        )
        .select(
            F.col("w.start").alias("win_start"), "event_type", "n_events", "value_sum"
        )
    )


# --- Native session windows ------------------------------------------------

_SESSION_GAP_US = 1_800_000_000  # 30 minutes


@query(
    "stream_session_window_native",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > {_SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS sid
      FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL '30 minutes' AS session_end,
           COUNT(*) AS n_events
    FROM sess GROUP BY user_id, sid
    """,
    note="Native session windows: Spark's session_window(ts, '30 minutes') — "
    "the engine merges an event into the running session iff it lands AT or "
    "before previous_ts + gap (BOUNDARY-INCLUSIVE: a delta of exactly the "
    "gap still merges — session merge is start <= current_end, not interval "
    "overlap; found by the randomized differential sweep's minute-grid "
    "regime, where exact-gap deltas actually occur), and reports end = "
    "last_ts + gap. The oracle reproduces exactly that island rule at "
    "microsecond precision (new session when the epoch-us delta > gap). "
    "Complements "
    "stream_sessionize (the lag+running-sum formulation): same shuffle "
    "shape, but this form is streaming-native — the identical expression "
    "runs under readStream with a watermark and per-key merging state. "
    "One shuffle on user_id.",
)
def stream_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    return session_window_counts(T(spark, sf_dir, "events"))


# --- PQ recall vs exact ground truth ---------------------------------------

from banksy_spark.suite.llm import (  # noqa: E402
    _BF_RANK_DUCK,
    _NORM_DUCK,
    llm_ann_bruteforce,
)


@query(
    "llm_ann_recall_pq",
    oracle=f"""
    WITH {_PQ_CTES},
    n AS (SELECT vec_id, v, {_NORM_DUCK.format(v='v')} AS nrm FROM e),
    bf AS (
      SELECT qid, neighbor_id FROM (
        {_BF_RANK_DUCK}
      ) WHERE rnk <= {_PQ_TOPK}
    ),
    truth AS (SELECT qid, COUNT(*) AS n_truth FROM bf GROUP BY qid),
    hp AS (SELECT bf.qid, COUNT(*) AS h FROM bf JOIN pq USING (qid, neighbor_id)
           GROUP BY bf.qid)
    SELECT t.qid, CAST(t.n_truth AS BIGINT) AS n_truth,
           COALESCE(hp.h, 0) / CAST(t.n_truth AS DOUBLE) AS recall_pq
    FROM truth t LEFT JOIN hp ON hp.qid = t.qid
    """,
    note=f"ANN quality measurement for the PQ path: recall@{_PQ_TOPK} of the "
    "ADC top-k against the brute-force exact cosine truth — quantifying both "
    "quantization loss and the L2-vs-cosine metric gap in one number per "
    "query. Same composition pattern as llm_ann_recall (shared derivations "
    "re-verified in combination).",
)
def llm_ann_recall_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    pq = pq_adc_topk(spark, sf_dir).select("qid", "neighbor_id")
    bf = (
        llm_ann_bruteforce(spark, sf_dir)
        .filter(F.col("rnk") <= _PQ_TOPK)
        .select("qid", "neighbor_id")
    )
    truth = bf.groupBy("qid").agg(F.count("*").alias("n_truth"))
    hits = bf.join(pq, ["qid", "neighbor_id"]).groupBy("qid").agg(
        F.count("*").alias("h")
    )
    return truth.join(hits, "qid", "left").select(
        "qid",
        F.col("n_truth").cast("bigint").alias("n_truth"),
        (F.coalesce("h", F.lit(0)) / F.col("n_truth").cast("double")).alias(
            "recall_pq"
        ),
    )


# --- Decorrelated double-EXISTS (TPC-H Q21 shape) --------------------------


@query(
    "j_decorrelated_exists",
    oracle="""
    WITH failed AS (
      SELECT DISTINCT l1.l_orderkey, l1.l_suppkey
      FROM lineitem l1
      WHERE l1.l_returnflag = 'R'
        AND EXISTS (SELECT 1 FROM lineitem l2
                    WHERE l2.l_orderkey = l1.l_orderkey
                      AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM lineitem l3
                        WHERE l3.l_orderkey = l1.l_orderkey
                          AND l3.l_suppkey <> l1.l_suppkey
                          AND l3.l_returnflag = 'R')
    )
    SELECT l_suppkey AS suppkey, COUNT(*) AS numwait
    FROM failed GROUP BY l_suppkey
    """,
    note="TPC-H Q21 shape: suppliers who were the SOLE returning supplier in "
    "a multi-supplier order. The oracle is the classic correlated EXISTS + "
    "NOT-EXISTS pair (which an engine would execute as two more scans of "
    "lineitem); the Spark plan decorrelates BOTH subqueries into one window "
    "pass — per-order distinct-supplier counts (all, and returning-only) via "
    "collect_set over the order partition, then a plain filter. One shuffle "
    "on l_orderkey + the final suppkey aggregate; lineitem is scanned once.",
)
def j_decorrelated_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_returnflag")
    w = Window.partitionBy("l_orderkey")
    n_supps = F.size(F.collect_set("l_suppkey").over(w))
    n_ret_supps = F.size(
        F.collect_set(
            F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
        ).over(w)
    )
    failed = (
        l.withColumn("_ns", n_supps)
        .withColumn("_nr", n_ret_supps)
        .filter((F.col("l_returnflag") == "R") & (F.col("_ns") > 1) & (F.col("_nr") == 1))
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    return failed.groupBy(F.col("l_suppkey").alias("suppkey")).agg(
        F.count("*").alias("numwait")
    )


# --- CDC changelog apply (MERGE / SCD1 upsert semantics) -------------------

_CDC_CUTOFF = "2001-01-01"


@query(
    "o_cdc_merge_apply",
    oracle=f"""
    WITH snap AS (
      SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_custkey % 7 <> 0
    ),
    chg AS (
      SELECT o_custkey AS k,
             CASE WHEN o_orderstatus = 'F' THEN 'D' ELSE 'U' END AS op,
             o_totalprice AS new_bal
      FROM (
        SELECT o_custkey, o_orderstatus, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        FROM orders WHERE o_orderdate >= TIMESTAMP '{_CDC_CUTOFF}'
      ) WHERE rn = 1
    )
    SELECT s.c_custkey AS custkey, s.c_name AS name,
           CASE WHEN c.op = 'U' THEN c.new_bal ELSE s.c_acctbal END AS acctbal,
           CASE WHEN c.k IS NULL THEN 'kept' ELSE 'updated' END AS src
    FROM snap s LEFT JOIN chg c ON c.k = s.c_custkey
    WHERE c.op IS DISTINCT FROM 'D'
    UNION ALL
    SELECT c.k AS custkey, 'NEW-' || CAST(c.k AS VARCHAR) AS name,
           c.new_bal AS acctbal, 'inserted' AS src
    FROM chg c LEFT JOIN snap s ON s.c_custkey = c.k
    WHERE c.op = 'U' AND s.c_custkey IS NULL
    """,
    note="Incremental snapshot maintenance (MERGE semantics, the SCD1/"
    "compaction staple): reduce a changelog to its latest change per key "
    "(deterministic (date, orderkey) tie-break), then apply to the snapshot — "
    "matched+U updates, matched+D deletes, unmatched+U inserts, untouched "
    "keys kept. Changelog = orders since the cutoff; snapshot = customers "
    "with custkey % 7 <> 0 (so all four MERGE arms are populated). Scale "
    "shape: latest-per-key is one shuffle on the key; the apply is an "
    "equi-join on the same key — with both sides bucketed by key (the "
    "production layout for iterated CDC) the merge is shuffle-free.",
)
def o_cdc_merge_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    snap = (
        T(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 7 != 0)
        .select("c_custkey", "c_name", "c_acctbal")
    )
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    chg = (
        T(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit(_CDC_CUTOFF).cast("timestamp"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("o_custkey").alias("k"),
            F.when(F.col("o_orderstatus") == "F", F.lit("D"))
            .otherwise(F.lit("U"))
            .alias("op"),
            F.col("o_totalprice").alias("new_bal"),
        )
    )
    merged = (
        snap.join(chg, snap.c_custkey == chg.k, "left")
        .filter(~F.col("op").eqNullSafe("D"))
        .select(
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("name"),
            F.when(F.col("op") == "U", F.col("new_bal"))
            .otherwise(F.col("c_acctbal"))
            .alias("acctbal"),
            F.when(F.col("k").isNull(), F.lit("kept"))
            .otherwise(F.lit("updated"))
            .alias("src"),
        )
    )
    inserts = (
        chg.filter(F.col("op") == "U")
        .join(snap, chg.k == snap.c_custkey, "left_anti")
        .select(
            F.col("k").alias("custkey"),
            F.concat(F.lit("NEW-"), F.col("k").cast("string")).alias("name"),
            F.col("new_bal").alias("acctbal"),
            F.lit("inserted").alias("src"),
        )
    )
    return merged.unionByName(inserts)


# --- SCD2 validity-interval build ------------------------------------------


@query(
    "w_scd2_intervals",
    oracle="""
    WITH daily AS (
      SELECT o_custkey AS custkey, CAST(o_orderdate AS DATE) AS valid_from,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS net
      FROM orders GROUP BY 1, 2
    )
    SELECT custkey, valid_from,
           lead(valid_from) OVER (PARTITION BY custkey ORDER BY valid_from)
             AS valid_to,
           CAST(CAST(SUM(net) OVER (PARTITION BY custkey ORDER BY valid_from
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR)
             AS DOUBLE) AS bal
    FROM daily
    """,
    note="Slowly-changing-dimension type-2 history build: collapse the order "
    "stream to day-grain nets per key (DECIMAL so partial-agg order is "
    "irrelevant), then one window pass emits each key's validity intervals — "
    "valid_from = change day, valid_to = next change day (NULL = current "
    "row), bal = cumulative balance (VARCHAR-routed decimal→double). Scale "
    "shape: the explicit repartition on custkey satisfies BOTH the agg's "
    "clustering (custkey ⊂ grouping keys) and the window's, so the whole "
    "history build is one exchange (plan-asserted). The alternative default "
    "plan shuffles twice — on (custkey, day) for the agg and again on "
    "custkey for the window — and buys only a ~1:1 partial-agg collapse, "
    "a bad trade at any scale.",
)
def w_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        T(spark, sf_dir, "orders")
        .repartition("o_custkey")
        .groupBy(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderdate").cast("date").alias("valid_from"),
        )
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("net"))
    )
    w = Window.partitionBy("custkey").orderBy("valid_from")
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return daily.select(
        "custkey",
        "valid_from",
        F.lead("valid_from").over(w).alias("valid_to"),
        F.sum("net").over(wc).cast("string").cast("double").alias("bal"),
    )


# --- Histogram-sketch approximate quantiles --------------------------------

_HQ_BINS = 64
_HQ_PS = (0.25, 0.5, 0.95)


@query(
    "a_histogram_quantiles",
    oracle=f"""
    WITH rng AS (
      SELECT l_returnflag AS flag, MIN(l_extendedprice) AS mn,
             MAX(l_extendedprice) AS mx
      FROM lineitem GROUP BY l_returnflag
    ),
    binned AS (
      SELECT l.l_returnflag AS flag, r.mn, r.mx,
             CASE WHEN r.mx = r.mn OR l.l_extendedprice >= r.mx
                  THEN {_HQ_BINS - 1}
                  ELSE CAST(floor(((l.l_extendedprice - r.mn) / (r.mx - r.mn))
                                  * {_HQ_BINS}.0) AS BIGINT) END AS bin
      FROM lineitem l JOIN rng r ON r.flag = l.l_returnflag
    ),
    hist AS (
      SELECT flag, mn, mx, bin, COUNT(*) AS cnt FROM binned
      GROUP BY flag, mn, mx, bin
    ),
    cum AS (
      SELECT flag, mn, mx, bin, cnt,
             SUM(cnt) OVER (PARTITION BY flag ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c,
             SUM(cnt) OVER (PARTITION BY flag) AS n
      FROM hist
    ),
    want AS (SELECT unnest([{", ".join(f"CAST({p} AS DOUBLE)" for p in _HQ_PS)}]) AS p)
    SELECT flag, p, CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
           mn + ((CAST(bin AS DOUBLE) + (CAST(k - (c - cnt) AS DOUBLE)
                  / CAST(cnt AS DOUBLE))) * ((mx - mn) / {_HQ_BINS}.0)) AS est
    FROM (
      SELECT cum.*, want.p, CAST(ceil(want.p * cum.n) AS BIGINT) AS k
      FROM cum CROSS JOIN want
    )
    WHERE c >= k AND c - cnt < k
    """,
    note=f"Approximate quantiles the 100 TB way: a fixed {_HQ_BINS}-bin "
    "histogram sketch per group (two narrow aggregate passes — range, then "
    "bin counts) and linear interpolation inside the target bin, instead of "
    "a full sort or an exact rank pass. The bin table is (groups × bins) "
    "rows — trivially small — so the quantile extraction window is free; "
    "every estimate is deterministic double arithmetic with identical "
    "association in both engines (no RNG, no engine-specific t-digest). "
    "Companion to a_exact_percentiles, which IS the exact answer — this "
    "query is the sketch you run when the exact rank pass is too expensive.",
)
def a_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"), "l_extendedprice"
    )
    rng = li.groupBy("flag").agg(
        F.min("l_extendedprice").alias("mn"), F.max("l_extendedprice").alias("mx")
    )
    binned = li.join(F.broadcast(rng), "flag").select(
        "flag",
        "mn",
        "mx",
        F.when(
            (F.col("mx") == F.col("mn")) | (F.col("l_extendedprice") >= F.col("mx")),
            F.lit(_HQ_BINS - 1),
        )
        .otherwise(
            F.floor(
                ((F.col("l_extendedprice") - F.col("mn")) / (F.col("mx") - F.col("mn")))
                * float(_HQ_BINS)
            )
        )
        .cast("bigint")
        .alias("bin"),
    )
    hist = binned.groupBy("flag", "mn", "mx", "bin").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("flag")
    cum = hist.select(
        "flag",
        "mn",
        "mx",
        "bin",
        "cnt",
        F.sum("cnt")
        .over(w.orderBy("bin").rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("c"),
        F.sum("cnt").over(w).alias("n"),
    )
    want = cum.crossJoin(
        F.broadcast(
            spark.range(1).select(
                F.explode(F.array(*[F.lit(p) for p in _HQ_PS])).alias("p")
            )
        )
    ).withColumn("k", F.ceil(F.col("p") * F.col("n")).cast("bigint"))
    est = F.col("mn") + (
        (
            F.col("bin").cast("double")
            + ((F.col("k") - (F.col("c") - F.col("cnt"))).cast("double") / F.col("cnt").cast("double"))
        )
        * ((F.col("mx") - F.col("mn")) / float(_HQ_BINS))
    )
    return want.filter((F.col("c") >= F.col("k")) & (F.col("c") - F.col("cnt") < F.col("k"))).select(
        "flag",
        "p",
        F.col("n").cast("bigint").alias("n"),
        "k",
        est.alias("est"),
    )


# --- Z-order clustering key (data-layout primitive) ------------------------

_Z_BITS = 8  # bits per dimension AFTER min-max normalization


def _zkey_expr(dialect: str, a: str, b: str) -> str:
    """Bit-interleave two already-normalized 8-bit columns: a's bit i
    lands at position 2i+1, b's at 2i."""
    if dialect == "spark":
        terms = [
            f"shiftleft(shiftright({a}, {i}) & 1, {2 * i + 1})"
            f" + shiftleft(shiftright({b}, {i}) & 1, {2 * i})"
            for i in range(_Z_BITS)
        ]
    else:
        terms = [
            f"((({a} >> {i}) & 1) << {2 * i + 1})"
            f" + ((({b} >> {i}) & 1) << {2 * i})"
            for i in range(_Z_BITS)
        ]
    return " + ".join(terms)


@query(
    "o_zorder_key",
    oracle=f"""
    WITH rng AS (
      SELECT MIN(l_partkey) AS pmn, MAX(l_partkey) AS pmx,
             MIN(l_suppkey) AS smn, MAX(l_suppkey) AS smx
      FROM lineitem
    ),
    norm AS (
      SELECT l_orderkey, l_linenumber, l_extendedprice, l_partkey, l_suppkey,
             ((l_partkey - pmn) * {1 << _Z_BITS}) // (pmx - pmn + 1) AS pb,
             ((l_suppkey - smn) * {1 << _Z_BITS}) // (smx - smn + 1) AS sb
      FROM lineitem CROSS JOIN rng
    )
    SELECT l_orderkey, l_linenumber, l_extendedprice, l_partkey, l_suppkey,
           CAST({_zkey_expr('duck', 'pb', 'sb')} AS BIGINT) AS zkey
    FROM norm
    """,
    note="Multi-dimensional clustering key (the Z-order/OPTIMIZE-ZORDER "
    "layout primitive, Delta/Iceberg-style) as a pure expression: min-max "
    f"normalize each dimension to {_Z_BITS} bits (integer-exact — unequal "
    "domain widths would otherwise let the wider key dominate the curve, "
    "measured: unnormalized 16-bit interleave pruned WORSE than a plain "
    "partkey sort), then bit-interleave so rows written sorted by zkey are "
    "co-located in BOTH dimensions — parquet min/max stats then prune 2-D "
    "range predicates a single-column sort can only serve for its leading "
    "key (proof: tests/test_scale.py::test_zorder_layout_prunes_2d_boxes). "
    "The range CTE is a lazy broadcast 1-row aggregate; the interleave is "
    "map-only — at 100 TB this runs inside the write path "
    "(sortWithinPartitions(zkey)) at scan speed.",
)
def o_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from banksy_spark.operators.layout import zorder_key

    li = T(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_partkey", "l_suppkey"
    )
    return zorder_key(li, ["l_partkey", "l_suppkey"], bits=_Z_BITS)


# --- Robust outlier detection (median / MAD) -------------------------------


@query(
    "a_mad_outliers",
    oracle="""
    WITH ranked AS (
      SELECT l_returnflag AS flag, l_extendedprice AS x,
             row_number() OVER (PARTITION BY l_returnflag
               ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn,
             COUNT(*) OVER (PARTITION BY l_returnflag) AS cnt
      FROM lineitem
    ),
    med_t AS (
      SELECT *, MAX(CASE WHEN rn = (cnt + 1) // 2 THEN x END)
                  OVER (PARTITION BY flag) AS med
      FROM ranked
    ),
    dev_t AS (
      SELECT flag, x, cnt, med, abs(x - med) AS dev,
             row_number() OVER (PARTITION BY flag
               ORDER BY abs(x - med), x, rn) AS drn
      FROM med_t
    ),
    mad_t AS (
      SELECT *, MAX(CASE WHEN drn = (cnt + 1) // 2 THEN dev END)
                  OVER (PARTITION BY flag) AS mad
      FROM dev_t
    )
    SELECT flag, med, mad, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) FILTER (dev > 3.0 * mad) AS BIGINT) AS n_outliers
    FROM mad_t GROUP BY flag, med, mad
    """,
    note="Robust outlier detection via median absolute deviation: per-group "
    "lower median (the rank form that returns an actual data value — no "
    "interpolation, so cross-engine exact), absolute deviations, lower "
    "median of deviations (MAD), count of dev > 3·MAD. Scale shape: every "
    "window and the final aggregate share the group partition key, so the "
    "whole chain is ONE exchange with in-partition re-sorts — no join-back, "
    "no second scan. Doubles only subtract/compare (deterministic IEEE, no "
    "accumulation-order hazard).",
)
def a_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r13 opt note: fan_out was trialed here and REVERTED — the
    # grouped_ordinals sketch/directory driver jobs each rebuild the
    # plan, so the inserted repartition shuffle re-ran per pass
    # (measured 1.98 -> 3.64 s).
    li = T(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_extendedprice").alias("x"),
        "l_orderkey",
        "l_linenumber",
    )
    from banksy_spark.operators.ordinals import grouped_ordinals

    # Two few-huge-group rank passes (value median, then deviation
    # median), each bucket-bounded via grouped_ordinals; the per-flag
    # median/MAD picks become 3-row broadcast aggregates instead of
    # fact-wide windows.
    lower_mid = F.expr("(cnt + 1) DIV 2")
    ranked = grouped_ordinals(
        li, ["flag"], ["x", "l_orderkey", "l_linenumber"],
        row_number="rn", group_count="cnt",
    )
    med_by_flag = ranked.groupBy("flag").agg(
        F.max(F.when(F.col("rn") == lower_mid, F.col("x"))).alias("med")
    )
    # checkpoint between the passes: pass 2's sketch, directory and
    # final plan all consume pass 1's window — without materialization
    # the first rank lineage re-executes in every branch
    med_t = (
        ranked.join(F.broadcast(med_by_flag), "flag")
        .select(
            "flag",
            "x",
            "cnt",
            "med",
            F.abs(F.col("x") - F.col("med")).alias("dev"),
            "rn",
        )
        .localCheckpoint()
    )
    # stats_key: med_t is checkpointed, so without a stable identity
    # the deviation sketch re-runs on every execution (fresh RDD id in
    # the canonical plan) — the measured per-run overhead the memo
    # exists to remove
    dev_t = grouped_ordinals(
        med_t,
        ["flag"],
        ["dev", "x", "rn"],
        row_number="drn",
        stats_key=f"a_mad_outliers:dev|{sf_dir}",
    )
    mad_by_flag = dev_t.groupBy("flag").agg(
        F.max(F.when(F.col("drn") == lower_mid, F.col("dev"))).alias("mad")
    )
    mad_t = dev_t.join(F.broadcast(mad_by_flag), "flag")
    return mad_t.groupBy("flag", "med", "mad").agg(
        F.count("*").cast("bigint").alias("n"),
        F.count(F.when(F.col("dev") > 3.0 * F.col("mad"), 1)).cast("bigint").alias(
            "n_outliers"
        ),
    )


# --- Ordered funnel analysis -----------------------------------------------

_FUNNEL = ("view", "click", "purchase")


@query(
    "stream_funnel_steps",
    oracle=f"""
    WITH s1 AS (
      SELECT user_id, event_id, ts, event_type,
             MIN(CASE WHEN event_type = '{_FUNNEL[0]}' THEN ts END)
               OVER (PARTITION BY user_id) AS t1
      FROM events
    ),
    s2 AS (
      SELECT *, MIN(CASE WHEN event_type = '{_FUNNEL[1]}' AND ts > t1 THEN ts END)
                  OVER (PARTITION BY user_id) AS t2
      FROM s1
    ),
    s3 AS (
      SELECT *, MIN(CASE WHEN event_type = '{_FUNNEL[2]}' AND ts > t2 THEN ts END)
                  OVER (PARTITION BY user_id) AS t3
      FROM s2
    )
    SELECT user_id, MIN(t1) AS t1, MIN(t2) AS t2, MIN(t3) AS t3,
           CAST(CASE WHEN MIN(t3) IS NOT NULL THEN 3
                     WHEN MIN(t2) IS NOT NULL THEN 2
                     WHEN MIN(t1) IS NOT NULL THEN 1
                     ELSE 0 END AS BIGINT) AS steps_completed
    FROM s3 GROUP BY user_id
    """,
    note=f"Ordered funnel analysis ({' → '.join(_FUNNEL)}): per user, the "
    "first step-1 time, the first step-2 time strictly AFTER step 1, the "
    "first step-3 time strictly after step 2 — the sequential-dependency "
    "pattern product analytics engines special-case, expressed as three "
    "chained conditional-min windows. Scale shape: all three windows and "
    "the final per-user collapse share the user_id partition — ONE exchange "
    "end-to-end, no self-joins (the naive form is a 3-way self-join on the "
    "events table).",
)
def stream_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events").select("user_id", "event_id", "ts", "event_type")
    w = Window.partitionBy("user_id")
    s1 = ev.withColumn(
        "t1", F.min(F.when(F.col("event_type") == _FUNNEL[0], F.col("ts"))).over(w)
    )
    s2 = s1.withColumn(
        "t2",
        F.min(
            F.when((F.col("event_type") == _FUNNEL[1]) & (F.col("ts") > F.col("t1")), F.col("ts"))
        ).over(w),
    )
    s3 = s2.withColumn(
        "t3",
        F.min(
            F.when((F.col("event_type") == _FUNNEL[2]) & (F.col("ts") > F.col("t2")), F.col("ts"))
        ).over(w),
    )
    return s3.groupBy("user_id").agg(
        F.min("t1").alias("t1"),
        F.min("t2").alias("t2"),
        F.min("t3").alias("t3"),
        F.when(F.min("t3").isNotNull(), 3)
        .when(F.min("t2").isNotNull(), 2)
        .when(F.min("t1").isNotNull(), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("steps_completed"),
    )


# --- TPC-H Q18 shape: HAVING-qualified semi-join ---------------------------

_Q18_THR = 150


@query(
    "a_q18_having_semijoin",
    oracle=f"""
    SELECT c.c_custkey AS custkey, c.c_name AS name, o.o_orderkey AS orderkey,
           CAST(o.o_orderdate AS DATE) AS od,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > {_Q18_THR}
    )
    GROUP BY 1, 2, 3, 4
    """,
    note=f"TPC-H Q18 shape (large-volume orders): orders whose total "
    f"quantity exceeds {_Q18_THR}, with customer attribution. The oracle is "
    "the classic HAVING-subquery form, which scans lineitem twice (once for "
    "the qualifier, once for the projection sum); the Spark plan computes "
    "the per-order quantity aggregate ONCE and reuses it as both the "
    "qualifier and the output value — one lineitem scan — then joins orders "
    "and broadcast-joins the customer dimension. Identical DECIMAL-summed "
    "results, half the fact-table IO.",
)
def a_q18_having_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    qual = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("qty"))
        .filter(F.col("qty") > _Q18_THR)
    )
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    c = T(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        qual.join(o, qual.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("name"),
            F.col("o_orderkey").alias("orderkey"),
            F.col("o_orderdate").cast("date").alias("od"),
            F.col("qty").cast("double").alias("total_qty"),
        )
    )
