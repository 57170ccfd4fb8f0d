"""Incremental fuzzy dedup for continuous corpus ingestion.

The batch suite deduplicates a corpus in one pass
(suite.llm.llm_dedup_minhash_lsh). A training-data pipeline ingests
continuously, so the production form is incremental: each arriving
micro-batch of documents is MinHash-signed, its LSH band keys are
joined against the accumulated band store (every earlier document's
buckets), and a document is a duplicate iff it collides with any
earlier document — "earliest wins", matching the batch min-id
canonical rule. The batch and streaming paths share one signature
derivation (operators/minhash.py sigs_from_docs / band_explode), the
§3.3 stream-equals-batch design goal.

Ingestion model: document ids are assigned monotonically at ingest
(the usual log/offset model), so "already in the store" ≡ "smaller
doc_id". Under that model the incremental decisions reproduce the
batch canonicalization exactly (tested stream-vs-batch in
tests/test_streaming.py).

Scale: the band store is (band_id, band_key, doc_id) — one row per
band per document, partitionable by band_key; the per-batch join
shuffles only the new batch's bands against matching store buckets
(never all-pairs, and at cluster scale the store side would be a
bucketed table on (band_id, band_key) making the probe shuffle-free).
State grows with the corpus, not with time — exactly the sig-store
table a batch pipeline would maintain anyway.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from banksy_spark.operators.minhash import band_explode, sigs_from_docs

DOCS_SCHEMA = "doc_id bigint, text string, lang string, source string, n_chars bigint"


def read_docs_stream(spark: SparkSession, docs_dir: str) -> DataFrame:
    """File-source stream over document parquet drops (one file per
    ingestion batch; maxFilesPerTrigger=1 replays them in order)."""
    spark.conf.set("spark.sql.ansi.enabled", "false")
    return (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(docs_dir)
    )


def dedup_batch_against_store(
    batch: DataFrame, store_dir: str, decisions_dir: str
) -> None:
    """Process one micro-batch: sign, append bands to the store, decide
    dup-ness against every earlier document, append decisions.

    Append-store-first then probe-with-(prior < new) keeps the logic
    correct for collisions *within* the batch too: a batch-local later
    doc collides with a batch-local earlier doc through the store just
    as it would across batches.
    """
    if not batch.head(1):
        return
    spark = batch.sparkSession
    sigs = sigs_from_docs(batch).persist()
    new_bands = band_explode(sigs)
    new_bands.write.mode("append").parquet(store_dir)
    store = spark.read.parquet(store_dir).alias("prior")
    nb = new_bands.alias("new")
    colliders = (
        nb.join(
            store,
            (F.col("prior.band_id") == F.col("new.band_id"))
            & (F.col("prior.band_key") == F.col("new.band_key"))
            & (F.col("prior.doc_id") < F.col("new.doc_id")),
        )
        .groupBy(F.col("new.doc_id").alias("doc_id"))
        .agg(F.min("prior.doc_id").alias("dup_of"))
    )
    decisions = (
        sigs.select("doc_id")
        .join(colliders, "doc_id", "left")
        .select(
            "doc_id",
            F.col("dup_of").isNotNull().alias("is_dup"),
            F.coalesce("dup_of", "doc_id").alias("canonical_id"),
        )
    )
    decisions.write.mode("append").parquet(decisions_dir)
    sigs.unpersist()


def incremental_lsh_dedup(
    docs_stream: DataFrame, store_dir: str, decisions_dir: str, checkpoint_dir: str
):
    """Wire the per-batch dedup into a Structured Streaming query.
    Returns the started StreamingQuery."""
    return (
        docs_stream.writeStream.foreachBatch(
            lambda b, _id: dedup_batch_against_store(b, store_dir, decisions_dir)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )

