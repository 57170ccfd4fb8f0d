"""Round-5 continuation, batch 9: the end-to-end corpus-preparation
pipeline as ONE DAG.

llm_e2e_prepare chains the production steps a training-data run
executes — per-domain quota cap → quality-score filter → exact dedup
(keep the canonical copy) → exact stratified split — into a single
declarative DataFrame plan, the composition story llm_corpus_clean
tells for the near-dup path. Catalyst sees the whole pipeline at once:
filters reach the scan below every stage, the three per-key windows
(source rank, hash canonical, stratum rank) each get exactly one
exchange, and nothing materializes between steps. The oracle rebuilds
the identical chain as nested SQL from the per-step oracle fragments.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from banksy_spark.suite.llm import (
    _QUALITY_COUNTS_DUCK,
    _QUALITY_SCORE_DUCK,
    _quality,
)
from banksy_spark.suite.registry import T, query

_CAP = 60          # per-source quota (llm_domain_cap's rule)
_QUALITY_MIN = 0.5  # composite-quality floor (llm_quality_score's metric)


@query(
    "llm_e2e_prepare",
    oracle=f"""
    WITH capped AS (
      SELECT doc_id, text, lang, source
      FROM (
        SELECT doc_id, text, lang, source,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY md5(CAST(doc_id AS VARCHAR))) AS rk
        FROM documents
      ) WHERE rk <= {_CAP}
    ),
    scored AS (
      SELECT doc_id, text, lang,
             {_QUALITY_SCORE_DUCK} AS quality
      FROM (
        SELECT doc_id, text, lang,
               {_QUALITY_COUNTS_DUCK}
        FROM capped
      )
    ),
    kept AS (
      SELECT doc_id, text, lang, quality FROM scored
      WHERE quality >= {_QUALITY_MIN}
    ),
    deduped AS (
      SELECT doc_id, lang, quality
      FROM (
        SELECT doc_id, lang, quality,
               MIN(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id
        FROM kept
      ) WHERE doc_id = canonical_id
    )
    SELECT doc_id, lang, quality,
           CASE WHEN 10 * rn <= 8 * n THEN 'train'
                WHEN 10 * rn <= 9 * n THEN 'val'
                ELSE 'test' END AS split
    FROM (
      SELECT doc_id, lang, quality,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY md5(CAST(doc_id AS VARCHAR))) AS rn,
             COUNT(*) OVER (PARTITION BY lang) AS n
      FROM deduped
    )
    """,
    note="The end-to-end corpus-preparation pipeline as ONE DAG: "
    f"per-domain cap ({_CAP}/source, hash-ranked) → composite-quality "
    f"floor (≥{_QUALITY_MIN}) → exact dedup keeping the min-id canonical "
    "→ exact stratified 80/10/10 split of the survivors. Each step is "
    "an already-verified operator (llm_domain_cap, llm_quality_score, "
    "llm_dedup_exact, llm_stratified_split); the composition proves "
    "they fuse into a single plan: one documents scan, three one-key "
    "window exchanges (source, content-hash, lang), quality filter as "
    "a map stage between them, no materialization barriers. This is "
    "the 'replace your Airflow fan-out with one spark-submit' shape — "
    "at 100 TB each exchange is the same key the standalone operator "
    "shuffles on, so the fused run costs exactly the sum of its "
    "stages' shuffles minus all the intermediate writes.",
)
def llm_e2e_prepare(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    w_cap = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string"))
    )
    capped = (
        d.withColumn("rk", F.row_number().over(w_cap))
        .filter(F.col("rk") <= _CAP)
        .drop("rk", "n_chars")
    )
    quality = _quality()
    kept = capped.withColumn("quality", quality).filter(
        F.col("quality") >= _QUALITY_MIN
    )
    w_hash = Window.partitionBy(F.md5(F.col("text").cast("binary")))
    deduped = (
        kept.withColumn("canonical_id", F.min("doc_id").over(w_hash))
        .filter(F.col("doc_id") == F.col("canonical_id"))
        .select("doc_id", "lang", "quality")
    )
    from banksy_spark.operators.ordinals import grouped_ordinals

    # split-stage rank over few huge strata: grouped_ordinals (the cap
    # stage above keeps its plain window — rank<=K plans as
    # WindowGroupLimit, bounded per map partition)
    keyed = deduped.withColumn(
        "h", F.md5(F.col("doc_id").cast("string"))
    ).withColumn(
        "pfx", F.expr("CAST(conv(substring(h, 1, 13), 16, 10) AS DOUBLE)")
    )
    ranked = grouped_ordinals(
        keyed, ["lang"], ["pfx", "h", "doc_id"], row_number="rn", group_count="n"
    )
    return ranked.select(
        "doc_id",
        "lang",
        "quality",
        F.when(10 * F.col("rn") <= 8 * F.col("n"), "train")
        .when(10 * F.col("rn") <= 9 * F.col("n"), "val")
        .otherwise("test")
        .alias("split"),
    )
