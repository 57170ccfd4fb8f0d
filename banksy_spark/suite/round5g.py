"""Round-5 continuation, batch 6: positional phrase search, weighted
bill-of-materials rollup, and statistical-process-control rules.

- llm_phrase_search: exact phrase matching via a positional inverted
  index — postings (term, doc, pos) equi-joined on adjacency, the IR
  primitive behind quoted-phrase queries (and the n-gram analog the
  boilerplate/decontamination family builds on).
- j_bom_rollup: every part's root assembly and the PRODUCT of per-edge
  quantities along its path (one unit of the part = mult units of the
  root) — multiplicative pointer jumping in O(log h) rounds
  (operators/graph.py:weighted_rollup_converged) vs a recursive-CTE
  oracle. Integer weights, so products are exact.
- w_control_chart: Shewhart/Western-Electric zone rules over the daily
  revenue series (beyond-3σ points, 8-in-a-row same side of center) —
  the stateless SPC companion to the CUSUM drift fold, sharing its
  exact-decimal (mu, sigma) fit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from banksy_spark.suite.registry import T, query
from banksy_spark.suite.round5 import _DAILY_DUCK, _DAILY_STATS_DUCK, cusum_parts

# --- exact phrase search via positional index ------------------------------

_PHRASE = ("table", "hash")


@query(
    "llm_phrase_search",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    post AS (
      SELECT doc_id, unnest(t) AS term,
             unnest(generate_series(1, len(t))) AS pos
      FROM toks
    )
    SELECT a.doc_id, COUNT(*) AS n_occurrences
    FROM post a
    JOIN post b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
    WHERE a.term = '{_PHRASE[0]}' AND b.term = '{_PHRASE[1]}'
    GROUP BY 1
    """,
    note="Exact phrase search ('table hash') via a positional inverted "
    "index: postings (term, doc, pos) filtered to the phrase terms and "
    "equi-joined on (doc, adjacent positions) — a k-token phrase chains "
    "k-1 adjacency joins. This is how quoted-phrase queries run against "
    "an index instead of rescanning text, and the shape scales: the "
    "term filter prunes postings BEFORE the join (term-keyed "
    "partitioning/sort in a real index layout makes it a merge of two "
    "posting lists), never a text scan per query. Both engines build "
    "1-based positions from the same tokenization.",
)
def llm_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    post = T(spark, sf_dir, "documents").select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), " ")).alias("pos0", "term"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "term")
    a = post.filter(F.col("term") == _PHRASE[0]).select(
        "doc_id", F.col("pos").alias("pos_a")
    )
    b = post.filter(F.col("term") == _PHRASE[1]).select(
        F.col("doc_id").alias("doc_b"), F.col("pos").alias("pos_b")
    )
    return (
        a.join(
            b,
            (F.col("doc_id") == F.col("doc_b"))
            & (F.col("pos_b") == F.col("pos_a") + 1),
        )
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )


# --- weighted bill-of-materials rollup -------------------------------------


@query(
    "j_bom_rollup",
    oracle="""
    WITH RECURSIVE edges AS (
      SELECT p_partkey AS node,
             CASE WHEN p_partkey = 0 THEN NULL ELSE p_partkey // 16 END
               AS parent,
             1 + p_partkey % 3 AS w
      FROM part
    ),
    walk(node, cur, mult) AS (
      SELECT node, node, CAST(1 AS BIGINT) FROM edges
      UNION ALL
      SELECT w.node, e.parent, w.mult * e.w
      FROM walk w JOIN edges e ON e.node = w.cur
      WHERE e.parent IS NOT NULL
    )
    SELECT w.node, w.cur AS root, w.mult
    FROM walk w JOIN edges e ON e.node = w.cur
    WHERE e.parent IS NULL
    """,
    note="Weighted BOM rollup: each part's root assembly plus the PRODUCT "
    "of per-edge quantities along the path (qty(node→parent) = "
    "1 + node % 3) — one unit of the part explodes to mult units of root "
    "stock. Runs as multiplicative pointer jumping (operators/graph.py:"
    "weighted_rollup_converged): path doubling composes weight products "
    "exactly like hop counts because multiplication is associative, so "
    "depth h resolves in ceil(log2 h)+1 rounds with integer-exact mults. "
    "Oracle: genuine recursive CTE accumulating the product per step. "
    "Scale: per round one self-join on the pointer key; the localCheckpoint "
    "discipline caps lineage like the CC/ancestry/BFS family.",
)
def j_bom_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from banksy_spark.operators.graph import weighted_rollup_converged

    p = T(spark, sf_dir, "part")
    e = p.select(
        F.col("p_partkey").alias("node"),
        F.when(F.col("p_partkey") == 0, F.lit(None))
        .otherwise(F.expr("p_partkey DIV 16"))
        .alias("parent"),
        (1 + F.col("p_partkey") % 3).alias("w"),
    )
    out, _rounds = weighted_rollup_converged(e)
    return out.select(
        "node",
        F.col("root").cast("bigint").alias("root"),
        F.col("mult").cast("bigint").alias("mult"),
    )


# --- Shewhart control chart (Western Electric rules 1 and 4-ish) -----------


@query(
    "w_control_chart",
    oracle=f"""
    WITH daily AS ({_DAILY_DUCK}),
    {_DAILY_STATS_DUCK}
    SELECT pri, day, cents,
           abs(CAST(cents AS DOUBLE) - mu) > 3e0 * sigma AS beyond_3s,
           SUM(CASE WHEN CAST(cents AS DOUBLE) > mu THEN 1 ELSE 0 END)
             OVER w8 = 8 AS run8_above,
           SUM(CASE WHEN CAST(cents AS DOUBLE) < mu THEN 1 ELSE 0 END)
             OVER w8 = 8 AS run8_below
    FROM daily JOIN stats USING (pri)
    WINDOW w8 AS (PARTITION BY pri ORDER BY day
                  ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
    """,
    note="Shewhart control chart with Western-Electric rules over the "
    "daily revenue series: rule 1 (point beyond μ±3σ) and rule 4 (eight "
    "consecutive points on one side of center, via a trailing 8-row "
    "conditional count). Stateless windows — the SPC complement to the "
    "recursive CUSUM fold, sharing cusum_parts' exact-DECIMAL (μ, σ) "
    "fit so the control limits are bit-identical across engines. Scale: "
    "one exchange on the series key serves the join and both window "
    "frames; limits would be fit on a trailing baseline in production "
    "(same shape, bounded frame).",
)
def w_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily, stats = cusum_parts(spark, sf_dir)
    j = daily.join(F.broadcast(stats), "pri")
    x = F.col("cents").cast("double")
    w8 = (
        Window.partitionBy("pri")
        .orderBy("day")
        .rowsBetween(-7, Window.currentRow)
    )
    return j.select(
        "pri",
        "day",
        "cents",
        (F.abs(x - F.col("mu")) > 3.0 * F.col("sigma")).alias("beyond_3s"),
        (
            F.sum(F.when(x > F.col("mu"), 1).otherwise(0)).over(w8) == 8
        ).alias("run8_above"),
        (
            F.sum(F.when(x < F.col("mu"), 1).otherwise(0)).over(w8) == 8
        ).alias("run8_below"),
    )
