"""Round-8 additions: trained-coarse-quantizer ANN, drift/encoding
metrics, and containment dedup.

- llm_ann_ivf_trained: IVF probe over k-means-trained inverted lists.
- ml_psi_drift: population stability index with reference-period bins.
- ml_woe_encoding: weight-of-evidence + information value per category.
- llm_dedup_containment: asymmetric containment near-dup detection.


The suite's IVF family (suite/llm.py) trains its coarse quantizer as a
closed-form per-label centroid so the DuckDB oracle can reproduce it
bit-for-bit. That proves the *plumbing*; a production IVF index trains
its quantizer with k-means over a sample of the corpus (Faiss/ScaNN
convention). `llm_ann_ivf_trained` is that variant: the coarse
quantizer comes from the converged spherical k-means the suite already
ships (operators/kmeans.py, bit-exact-vs-Python pytest), unifying the
ANN and clustering centroid stories — the same trained centroids that
drive `ml_kmeans_converged` become the inverted-list keys here.

Not SQL-expressible (data-dependent iteration count in the trainer), so
the driver records the rows-only check, like ml_kmeans_converged; the
structural contract (neighbors share the query's cell, ranks dense from
1, cosine ordering, recall floor vs in-engine brute force on the
clustered fixture) is pytest-verified in tests/test_round8.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from banksy_spark.suite._frozen_centroids import (
    IVF16_CENTROIDS,
    IVF16_N_ITER,
)
from banksy_spark.suite.llm import (
    _DOT_DUCK,
    _DOT_SPARK,
    _NORM_DUCK,
    _NORM_SPARK,
)
from banksy_spark.suite.registry import T, fan_out, query

_IVF_K = 16  # inverted lists; >= the 8-cell closed-form variant
_IVF_TOPK = 3
_IVF_NQ = 8  # queries: vec_id < 8, same set as the llm_ann_* family


def ivf_parts_with_centroids(spark: SparkSession, sf_dir: str, cents):
    """Normed vectors + their cell under the given (cell, cv, cnorm)
    quantizer frame — the serving-side indexing pass.

    At 100 TB both sides of the vec_id join shuffle once (or co-locate
    via bucketing); the assignment column would be written alongside
    the index anyway. Factored out so the clustered-fixture recall test
    can train live on its own corpus while the registered query serves
    the FROZEN sf0.001-trained quantizer."""
    from banksy_spark.operators.kmeans import assign

    n = (
        T(spark, sf_dir, "embeddings")
        .selectExpr(
            "vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v"
        )
        .withColumn("nrm", F.expr(_NORM_SPARK.format(v="v")))
    )
    assigned = assign(n, cents).select("vec_id", "cell")
    return n.join(assigned, "vec_id")


def ivf_probe_topk(nv: DataFrame, n_iter: int) -> DataFrame:
    """nprobe=1 probe + exact-cosine rerank over (vec_id, v, nrm, cell)."""
    q = nv.filter(F.col("vec_id") < _IVF_NQ).select(
        F.col("vec_id").alias("qid"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
        "cell",
    )
    joined = nv.join(F.broadcast(q), "cell").filter(
        F.col("vec_id") != F.col("qid")
    )
    cosine = F.expr(_DOT_SPARK.format(a="qv", b="v")) / (
        F.col("qn") * F.col("nrm")
    )
    wr = Window.partitionBy("qid").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        joined.select(
            "qid",
            F.col("vec_id").alias("neighbor_id"),
            F.col("cell").cast("bigint").alias("cell"),
            cosine.alias("cosine"),
        )
        .withColumn("rnk", F.row_number().over(wr).cast("bigint"))
        .filter(F.col("rnk") <= _IVF_TOPK)
        .withColumn("n_iter", F.lit(n_iter).cast("int"))
        .select("qid", "neighbor_id", "cell", "rnk", "cosine", "n_iter")
    )


def _ivf_trained_oracle() -> str:
    from banksy_spark.operators.kmeans import centroids_values_sql

    return f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    n AS (SELECT vec_id, v, {_NORM_DUCK.format(v="v")} AS nrm FROM e),
    cn AS (
      SELECT cell, cv, {_NORM_DUCK.format(v="cv")} AS cnorm
      FROM {centroids_values_sql(IVF16_CENTROIDS)}
    ),
    sims AS (
      SELECT n.vec_id, cn.cell,
             row_number() OVER (
               PARTITION BY n.vec_id
               ORDER BY {_DOT_DUCK.format(a="v", b="cv")} / (n.nrm * cn.cnorm) DESC,
                        cn.cell
             ) AS rn
      FROM n CROSS JOIN cn
    ),
    nv AS (
      SELECT n.vec_id, n.v, n.nrm, s.cell
      FROM n JOIN sims s ON s.vec_id = n.vec_id AND s.rn = 1
    ),
    q AS (
      SELECT vec_id AS qid, v AS qv, nrm AS qn, cell
      FROM nv WHERE vec_id < {_IVF_NQ}
    )
    SELECT qid, nv.vec_id AS neighbor_id, nv.cell,
           CAST(row_number() OVER (PARTITION BY qid ORDER BY
             {_DOT_DUCK.format(a="qv", b="v")} / (qn * nrm) DESC,
             nv.vec_id) AS BIGINT) AS rnk,
           {_DOT_DUCK.format(a="qv", b="v")} / (qn * nrm) AS cosine,
           CAST({IVF16_N_ITER} AS INT) AS n_iter
    FROM q JOIN nv ON nv.cell = q.cell AND nv.vec_id <> q.qid
    QUALIFY rnk <= {_IVF_TOPK}
    """


@query(
    "llm_ann_ivf_trained",
    oracle=_ivf_trained_oracle(),
    note="IVF-Flat with a TRAINED coarse quantizer: converged spherical "
    f"k-means (K={_IVF_K}, operators/kmeans.py) trained on the committed "
    "sf0.001 embeddings sample and FROZEN as source literals "
    "(tools/freeze_centroids.py) supplies the inverted lists; queries "
    "probe their own cell (nprobe=1) and rerank by exact cosine with a "
    "deterministic id tie-break — the Faiss/ScaNN construction, where "
    "the quantizer is trained once on a sample and served everywhere. "
    "Freezing makes the serving pass SQL-expressible, so this entry now "
    "carries a DuckDB oracle (round-8 verdict item 3): both engines "
    "assign cells and rerank from bit-identical literal centroids with "
    "the same left-fold cosine. Trained-state fidelity stays "
    "pytest-pinned (tests/test_frozen_centroids.py retrains and asserts "
    "bit-equality; tests/test_round8.py keeps the recall@3>=0.9 floor "
    "by training LIVE on the clustered fixture through the same serving "
    "helpers). Scale: quantizer broadcast against a narrow scan, probe "
    "is one broadcast of 8 query rows + a cell-keyed rerank, no "
    "all-pairs anywhere. n_iter is the frozen run's audit column.",
)
def llm_ann_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    from banksy_spark.operators.kmeans import centroids_df

    nv = ivf_parts_with_centroids(
        spark, sf_dir, centroids_df(spark, IVF16_CENTROIDS)
    )
    return ivf_probe_topk(nv, IVF16_N_ITER)


# --- PSI drift monitoring ---------------------------------------------------

_PSI_PIVOT = "1999-01-01"


@query(
    "ml_psi_drift",
    oracle=f"""
    WITH scored AS (
      SELECT o_orderkey, o_totalprice AS x,
             CAST(o_orderdate AS DATE) >= DATE '{_PSI_PIVOT}' AS cur
      FROM orders
    ),
    ref_ranked AS (
      SELECT x, ROW_NUMBER() OVER (ORDER BY x, o_orderkey) AS rk,
             COUNT(*) OVER () AS n
      FROM scored WHERE NOT cur
    ),
    bounds AS (
      SELECT MIN(CASE WHEN rk = (1 * n + 9) // 10 THEN x END) AS b1,
             MIN(CASE WHEN rk = (2 * n + 9) // 10 THEN x END) AS b2,
             MIN(CASE WHEN rk = (3 * n + 9) // 10 THEN x END) AS b3,
             MIN(CASE WHEN rk = (4 * n + 9) // 10 THEN x END) AS b4,
             MIN(CASE WHEN rk = (5 * n + 9) // 10 THEN x END) AS b5,
             MIN(CASE WHEN rk = (6 * n + 9) // 10 THEN x END) AS b6,
             MIN(CASE WHEN rk = (7 * n + 9) // 10 THEN x END) AS b7,
             MIN(CASE WHEN rk = (8 * n + 9) // 10 THEN x END) AS b8,
             MIN(CASE WHEN rk = (9 * n + 9) // 10 THEN x END) AS b9
      FROM ref_ranked
    ),
    binned AS (
      SELECT s.cur,
             CASE WHEN s.x <= b.b1 THEN 0 WHEN s.x <= b.b2 THEN 1
                  WHEN s.x <= b.b3 THEN 2 WHEN s.x <= b.b4 THEN 3
                  WHEN s.x <= b.b5 THEN 4 WHEN s.x <= b.b6 THEN 5
                  WHEN s.x <= b.b7 THEN 6 WHEN s.x <= b.b8 THEN 7
                  WHEN s.x <= b.b9 THEN 8 ELSE 9 END AS bin
      FROM scored s CROSS JOIN bounds b
    ),
    cnt AS (
      SELECT bin,
             CAST(SUM(CASE WHEN cur THEN 0 ELSE 1 END) AS BIGINT) AS ref_n,
             CAST(SUM(CASE WHEN cur THEN 1 ELSE 0 END) AS BIGINT) AS cur_n
      FROM binned GROUP BY bin
    ),
    tot AS (
      SELECT CAST(SUM(ref_n) AS BIGINT) AS ref_t,
             CAST(SUM(cur_n) AS BIGINT) AS cur_t FROM cnt
    )
    SELECT bin, ref_n, cur_n,
           CAST(ref_n AS DOUBLE) / ref_t AS ref_pct,
           CAST(cur_n AS DOUBLE) / cur_t AS cur_pct,
           CASE WHEN ref_n = 0 OR cur_n = 0 THEN NULL
                ELSE ROUND((CAST(cur_n AS DOUBLE) / cur_t
                      - CAST(ref_n AS DOUBLE) / ref_t)
                     * ln(CAST(cur_n * ref_t AS DOUBLE) / (ref_n * cur_t)), 12)
           END AS psi_term
    FROM cnt CROSS JOIN tot
    """,
    note="Population stability index (PSI), the standard score-drift "
    "monitor: decile bins are fitted on the REFERENCE period only "
    "(exact nearest-rank bounds over a tie-broken total order), both "
    "periods are counted per bin, and each bin contributes "
    "(cur% - ref%)*ln(cur%/ref%) — reported per bin (10 rows) so no "
    "cross-bin float summation enters the hash; a bin empty in either "
    "period yields NULL honestly instead of ±inf. The ln argument is "
    "one exact-integer cross-ratio (cur_n*ref_t)/(ref_n*cur_t) "
    "double-divided once, and the ln output is quantized to 12 "
    "decimals (ln is transcendental: engines disagree by 1 ulp). "
    "Scale: the reference rank rides operators/ordinals.py (no "
    "single-partition window over the fact), the 9-value bounds row "
    "broadcasts, the period counts are one map-side-combinable "
    "aggregate; the drift report for any score column at 100 TB.",
)
def ml_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from banksy_spark.operators.ordinals import global_ordinals

    o = T(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_totalprice").alias("x"),
        (F.col("o_orderdate").cast("date") >= F.lit(_PSI_PIVOT).cast("date")).alias(
            "cur"
        ),
    )
    ref = o.filter(~F.col("cur")).select("x", "o_orderkey")
    ranked = global_ordinals(
        ref, ["x", "o_orderkey"], row_number="rk", total_count="n"
    )
    bounds = ranked.agg(
        *[
            F.min(
                F.when(F.col("rk") == F.expr(f"({i} * n + 9) DIV 10"), F.col("x"))
            ).alias(f"b{i}")
            for i in range(1, 10)
        ]
    )
    binned = o.crossJoin(F.broadcast(bounds))
    bin_col = F.when(F.col("x") <= F.col("b1"), 0)
    for i in range(2, 10):
        bin_col = bin_col.when(F.col("x") <= F.col(f"b{i}"), i - 1)
    bin_col = bin_col.otherwise(9)
    cnt = (
        binned.select("cur", bin_col.alias("bin"))
        .groupBy("bin")
        .agg(
            F.sum(F.when(F.col("cur"), 0).otherwise(1)).alias("ref_n"),
            F.sum(F.when(F.col("cur"), 1).otherwise(0)).alias("cur_n"),
        )
    )
    tot = cnt.agg(
        F.sum("ref_n").alias("ref_t"), F.sum("cur_n").alias("cur_t")
    )
    j = cnt.crossJoin(F.broadcast(tot))
    ref_pct = F.col("ref_n").cast("double") / F.col("ref_t")
    cur_pct = F.col("cur_n").cast("double") / F.col("cur_t")
    ratio = (F.col("cur_n") * F.col("ref_t")).cast("double") / (
        F.col("ref_n") * F.col("cur_t")
    )
    return j.select(
        "bin",
        "ref_n",
        "cur_n",
        ref_pct.alias("ref_pct"),
        cur_pct.alias("cur_pct"),
        F.when(
            (F.col("ref_n") == 0) | (F.col("cur_n") == 0), F.lit(None)
        )
        .otherwise(F.round((cur_pct - ref_pct) * F.log(ratio), 12))
        .alias("psi_term"),
    )


# --- Weight-of-evidence categorical encoding --------------------------------


@query(
    "ml_woe_encoding",
    oracle="""
    WITH lab AS (
      SELECT c.c_mktsegment AS seg,
             CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    per AS (
      SELECT seg,
             CAST(SUM(y) AS BIGINT) AS pos_i,
             CAST(COUNT(*) - SUM(y) AS BIGINT) AS neg_i
      FROM lab GROUP BY seg
    ),
    tot AS (
      SELECT CAST(SUM(pos_i) AS BIGINT) AS pos_t,
             CAST(SUM(neg_i) AS BIGINT) AS neg_t FROM per
    )
    SELECT seg, pos_i, neg_i,
           ROUND(ln(CAST((2 * pos_i + 1) * neg_t AS DOUBLE)
              / ((2 * neg_i + 1) * pos_t)), 12) AS woe,
           ROUND((CAST(pos_i AS DOUBLE) / pos_t - CAST(neg_i AS DOUBLE) / neg_t)
             * ln(CAST((2 * pos_i + 1) * neg_t AS DOUBLE)
                  / ((2 * neg_i + 1) * pos_t)), 12) AS iv_term
    FROM per CROSS JOIN tot
    """,
    note="Weight-of-evidence categorical encoding + information value, "
    "the credit-scoring/feature-screening standard: per category "
    "WoE = ln((pos_i/pos)/(neg_i/neg)) with half-count smoothing "
    "(2*pos_i+1 keeps the ratio an exact integer cross-product — no "
    "fractional literals), and the IV contribution per category "
    "(summable by the consumer; per-row output keeps float summation "
    "out of the hash). Complements ml_target_encoding_loo (which "
    "encodes rows; this scores the CATEGORY and feeds binning-based "
    "scorecards). One join + one map-side-combinable aggregate + a "
    "1-row broadcast of the totals; category cardinality bounds every "
    "post-agg frame, nothing global anywhere.",
)
def ml_woe_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders").select(
        "o_custkey",
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    c = T(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("seg")
    )
    lab = o.join(c, o.o_custkey == c.c_custkey)
    per = lab.groupBy("seg").agg(
        F.sum("y").alias("pos_i"),
        (F.count(F.lit(1)) - F.sum("y")).alias("neg_i"),
    )
    tot = per.agg(
        F.sum("pos_i").alias("pos_t"), F.sum("neg_i").alias("neg_t")
    )
    j = per.crossJoin(F.broadcast(tot))
    woe = F.log(
        ((2 * F.col("pos_i") + 1) * F.col("neg_t")).cast("double")
        / ((2 * F.col("neg_i") + 1) * F.col("pos_t"))
    )
    iv = (
        F.col("pos_i").cast("double") / F.col("pos_t")
        - F.col("neg_i").cast("double") / F.col("neg_t")
    ) * woe
    return j.select(
        "seg",
        "pos_i",
        "neg_i",
        F.round(woe, 12).alias("woe"),
        F.round(iv, 12).alias("iv_term"),
    )


# --- Containment (asymmetric) near-dup detection ----------------------------

# C(A,B) = |shingles(A) ∩ shingles(B)| / |shingles(A)| — catches a doc
# CONTAINED in a larger one (page + boilerplate-wrapped copy), which
# symmetric Jaccard under-scores. tau = 4/5, integer-exact comparison.


_CONT_SH3 = """sh AS (
      SELECT DISTINCT doc_id, md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS h
      FROM w, unnest(generate_series(1, len(w) - 2)) AS t(i)
    )"""

_CONT_MIN_CAND = """mk AS (SELECT doc_id, MIN(h) AS mk FROM sh GROUP BY doc_id),
    cand AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id
      FROM mk a JOIN mk b ON a.mk = b.mk AND a.doc_id < b.doc_id
    )"""


def _containment_oracle(sh: str, cand: str) -> str:
    """DuckDB text of the containment pipeline around one query's
    shingle CTE ``sh`` and candidate CTEs (``mk``, ``cand``)."""
    return f"""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    {sh},
    sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    {cand},
    inter AS (
      SELECT c.a_id, c.b_id, COUNT(*) AS inter
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.a_id
      JOIN sh sb ON sb.doc_id = c.b_id AND sb.h = sa.h
      GROUP BY c.a_id, c.b_id
    )
    SELECT i.a_id, i.b_id, CAST(i.inter AS BIGINT) AS inter,
           CAST(za.sz AS BIGINT) AS sz_a, CAST(zb.sz AS BIGINT) AS sz_b,
           CAST(i.inter AS DOUBLE) / za.sz AS cont_a_in_b,
           CAST(i.inter AS DOUBLE) / zb.sz AS cont_b_in_a
    FROM inter i
    JOIN sz za ON za.doc_id = i.a_id
    JOIN sz zb ON zb.doc_id = i.b_id
    WHERE 5 * i.inter >= 4 * za.sz OR 5 * i.inter >= 4 * zb.sz
    """


def _containment_pairs(
    spark: SparkSession, sf_dir: str, n: int, k: int
) -> DataFrame:
    """Containment near-dup pairs over word ``n``-shingles: a persisted
    md5 shingle table, each doc's ``k`` smallest hashes as candidate
    keys, exact intersection over candidate pairs only, and the
    integer tau=4/5 gate."""
    d = fan_out(
        T(spark, sf_dir, "documents").select(
            "doc_id", F.split("text", " ").alias("w")
        )
    )
    gram = ", ' ', ".join(["x"] + [f"w[j + {i}]" for i in range(1, n)])
    sh = (
        d.select(
            "doc_id",
            F.posexplode(F.expr(
                f"transform(slice(w, 1, greatest(size(w) - {n - 1}, 0)), "
                f"(x, j) -> concat({gram}))"
            )).alias("_p", "s"),
        )
        .select("doc_id", F.md5(F.col("s").cast("binary")).alias("h"))
        .distinct()
        # persist: the shingle table feeds FOUR consumers (sz, mk, and
        # both verify sides) — unpersisted, the explode+md5+distinct
        # pipeline executed four times per run (r13 opt; same
        # write-sigs-to-a-table posture as llm._lsh_sigs at 100 TB).
        .persist()
    )
    sz = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    if k == 1:
        key, mk = "mk", sh.groupBy("doc_id").agg(F.min("h").alias("mk"))
    else:
        wk = Window.partitionBy("doc_id").orderBy("h")
        key, mk = "h", (
            sh.withColumn("rk", F.row_number().over(wk))
            .filter(F.col("rk") <= k)
            .select("doc_id", "h")
        )
    a, b = mk.alias("a"), mk.alias("b")
    cand = a.join(
        b,
        (F.col(f"a.{key}") == F.col(f"b.{key}"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
    if k > 1:
        # a pair sharing several of its k keys is verified once
        cand = cand.distinct()
    sa = sh.select(F.col("doc_id").alias("a_id"), "h")
    sb = sh.select(F.col("doc_id").alias("b_id"), "h")
    inter = (
        cand.join(sa, "a_id")
        .join(sb, ["b_id", "h"])
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    za = sz.select(F.col("doc_id").alias("a_id"), F.col("sz").alias("sz_a"))
    zb = sz.select(F.col("doc_id").alias("b_id"), F.col("sz").alias("sz_b"))
    out = inter.join(za, "a_id").join(zb, "b_id")
    keep = (5 * F.col("inter") >= 4 * F.col("sz_a")) | (
        5 * F.col("inter") >= 4 * F.col("sz_b")
    )
    return out.filter(keep).select(
        "a_id",
        "b_id",
        "inter",
        "sz_a",
        "sz_b",
        (F.col("inter").cast("double") / F.col("sz_a")).alias("cont_a_in_b"),
        (F.col("inter").cast("double") / F.col("sz_b")).alias("cont_b_in_a"),
    )


@query(
    "llm_dedup_containment",
    oracle=_containment_oracle(_CONT_SH3, _CONT_MIN_CAND),
    note="Containment near-dup detection (asymmetric): "
    "C(A,B) = |shingles(A) ∩ shingles(B)| / |A| flags a document "
    "CONTAINED in a larger one (boilerplate-wrapped copies, quoted "
    "inclusions) that symmetric Jaccard under-scores by the size "
    "mismatch. Word 3-shingles (docs under 3 words have no shingle set "
    "and are out of scope by construction); candidates from the "
    "min-hash shingle bucket (MinHash b=1/r=1 banding — same key "
    "discipline as llm_dedup_minhash_lsh, measured max bucket 19 docs "
    "at sf0.1); exact intersection counted ONLY over candidate pairs; "
    "the tau=4/5 gate compares 5*inter >= 4*sz in integers. Scale: "
    "shuffles key on shingle hash and doc_id — never all-pairs; a "
    "production corpus widens candidates to k min-hashes per doc "
    "(k buckets/doc, same plan shape, recall up, still linear).",
)
def llm_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _containment_pairs(spark, sf_dir, n=3, k=1)


@query(
    "llm_dedup_containment_k3",
    oracle=_containment_oracle(
        _CONT_SH3,
        """mk AS (
      SELECT doc_id, h FROM (
        SELECT doc_id, h,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY h) AS rk
        FROM sh
      ) WHERE rk <= 3
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      FROM mk a JOIN mk b ON a.h = b.h AND a.doc_id < b.doc_id
    )""",
    ),
    note="Containment with WIDENED candidates: each document indexes its "
    "k=3 smallest shingle hashes (vs the single min in "
    "llm_dedup_containment), so two docs collide when ANY of their "
    "3 min-hashes match — the recall dial the base query's note "
    "promises, same exact verification and integer τ-gate. Result is a "
    "SUPERSET of the k=1 pairs by construction (pytest-asserted). "
    "Scale: candidate volume is bounded by 3 bucket memberships per "
    "doc (3x the k=1 shuffle rows, still linear); per-doc key count is "
    "a constant, never corpus-dependent — the same dial ANN multiprobe "
    "turns (llm_ann_ivf_multiprobe).",
)
def llm_dedup_containment_k3(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _containment_pairs(spark, sf_dir, n=3, k=3)


# --- Brier score ------------------------------------------------------------

# price normalized to [0,1] by the corpus price cap; integer-cents form
# keeps every squared error an exact BIGINT and the sum an exact
# DECIMAL(38,0) — no float accumulation anywhere, one final division.
_BRIER_CAP_CENTS = 50_000_000  # 500000.00 in cents


@query(
    "ml_brier_score",
    oracle=f"""
    WITH s AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS p_c,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders
    ),
    agg AS (
      SELECT COUNT(*) AS n,
             SUM(CAST((p_c - y * {_BRIER_CAP_CENTS})
                      * (p_c - y * {_BRIER_CAP_CENTS}) AS DECIMAL(28,0)))
               AS sq
      FROM s
    )
    SELECT n, CAST(sq AS VARCHAR) AS sq_cents,
           CAST(CAST(sq AS VARCHAR) AS DOUBLE)
             / (CAST(n AS DOUBLE) * {_BRIER_CAP_CENTS}e0 * {_BRIER_CAP_CENTS}e0)
             AS brier
    FROM agg
    """,
    note="Brier score of the normalized price 'probability' against the "
    "finished-status label — the strictly proper scoring rule that "
    "completes the eval family (ROC-AUC ranks, calibration bins "
    "diagnose, Brier SCORES the probabilities). Exactness: prices go "
    "through the suite's DECIMAL-cents route, each squared error is an "
    "exact BIGINT, the sum an exact DECIMAL — map-side-combinable and "
    "order-free — and the single final division is two IEEE ops both "
    "engines round identically (the denominator product exceeds 2^53 "
    "but correctly-rounded double multiply is deterministic). One "
    "aggregate pass, scale-free. sq_cents is emitted as VARCHAR on "
    "both engines: its magnitude exceeds int64, which puts DuckDB on "
    "a HUGEINT materialization path whose hash rendering differs from "
    "Spark's DECIMAL even when the values are bit-identical (the "
    "round-7 HUGEINT class, here on an output column) — the suite's "
    "standing DECIMAL-to-VARCHAR discipline (see corpus.py).",
)
def ml_brier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = T(spark, sf_dir, "orders").select(
        F.expr(
            "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
        ).alias("p_c"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    err = F.col("p_c") - F.col("y") * F.lit(_BRIER_CAP_CENTS)
    agg = s.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((err * err).cast("decimal(28,0)")).alias("sq"),
    )
    return agg.select(
        "n",
        F.col("sq").cast("decimal(38,0)").cast("string").alias("sq_cents"),
        (
            F.col("sq").cast("string").cast("double")
            / (
                F.col("n").cast("double")
                * F.lit(float(_BRIER_CAP_CENTS))
                * F.lit(float(_BRIER_CAP_CENTS))
            )
        ).alias("brier"),
    )
