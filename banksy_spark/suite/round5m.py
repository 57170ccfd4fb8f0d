"""Round-5 continuation, batch 12: preference-pair construction for
RLHF/DPO-style training data.

llm_preference_pairs builds (chosen, rejected) document pairs per
language stratum from the composite quality score: the top-5 and
bottom-5 quality docs cross within each stratum, guarded so every
pair's chosen strictly out-scores its rejected. This is the
data-construction step preference-tuning pipelines run after scoring;
deterministic ranks (quality, doc_id) make the pair set reproducible.
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

_K = 5

_QUALITY_DUCK = f"""
      SELECT doc_id, lang,
             {_QUALITY_SCORE_DUCK} AS quality
      FROM (
        SELECT doc_id, lang,
               {_QUALITY_COUNTS_DUCK}
        FROM documents
      )
"""


@query(
    "llm_preference_pairs",
    oracle=f"""
    WITH scored AS ({_QUALITY_DUCK}),
    ranked AS (
      SELECT doc_id, lang, quality,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY quality DESC, doc_id) AS rk_top,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY quality ASC, doc_id) AS rk_bot
      FROM scored
    )
    SELECT t.lang,
           t.doc_id AS chosen_id, b.doc_id AS rejected_id,
           t.quality - b.quality AS quality_gap
    FROM ranked t
    JOIN ranked b ON b.lang = t.lang AND b.rk_bot <= {_K}
    WHERE t.rk_top <= {_K}
      AND t.quality > b.quality
    """,
    note="Preference-pair construction (RLHF/DPO data step): within each "
    f"language stratum, cross the top-{_K} and bottom-{_K} docs by the "
    "composite quality score (llm_quality_score's exact metric), "
    "keeping only pairs where chosen strictly out-scores rejected — so "
    "a degenerate stratum (all-equal scores) yields no pairs rather "
    "than label noise. Deterministic (quality, doc_id) ranks make the "
    "dataset reproducible run-over-run. Shape: one scan, one lang "
    "exchange serving both rank directions, then a ≤K×K-per-stratum "
    "join of two K-row slices — never |docs|² anywhere.",
)
def llm_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    quality = _quality()
    scored = d.select("doc_id", "lang", quality.alias("quality"))
    w_top = Window.partitionBy("lang").orderBy(F.desc("quality"), F.col("doc_id"))
    w_bot = Window.partitionBy("lang").orderBy(F.asc("quality"), F.col("doc_id"))
    ranked = scored.withColumn("rk_top", F.row_number().over(w_top)).withColumn(
        "rk_bot", F.row_number().over(w_bot)
    )
    top = ranked.filter(F.col("rk_top") <= _K).select(
        "lang", F.col("doc_id").alias("chosen_id"),
        F.col("quality").alias("q_top"),
    )
    bot = ranked.filter(F.col("rk_bot") <= _K).select(
        "lang", F.col("doc_id").alias("rejected_id"),
        F.col("quality").alias("q_bot"),
    )
    return (
        top.join(bot, "lang")
        .filter(F.col("q_top") > F.col("q_bot"))
        .select(
            "lang",
            "chosen_id",
            "rejected_id",
            (F.col("q_top") - F.col("q_bot")).alias("quality_gap"),
        )
    )
