"""Count-min sketch cells and their incremental maintenance: a
foreachBatch pipeline keeps the 4x64 counter grid of
suite.round4.a_heavy_hitters_cms in a stored table, merging each
micro-batch's partial grid by (r, cell) sum.

This is the IVM pattern (suite a_incremental_view) applied to a sketch:
because CMS cells are plain sums, merge == recompute exactly, and the
stored grid answers point-estimate / heavy-hitter queries at any moment
without rescanning history. tests/test_streaming.py proves the stream-
maintained grid equals the one-shot batch grid cell-for-cell.

Scale: each batch shuffles at most 256 rows regardless of key
cardinality; the store stays 256 rows forever. Per-day grids (partition
the store by date) give windowed sketches that still merge by sum.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_CMS_W = 64  # counters per row
_CMS_AB = [(31, 7), (37, 11), (41, 13), (43, 17)]  # (A, B) per hash row
_CMS_P = 1_000_000_007


def _cms_cell_spark(col: str, r: int) -> F.Column:
    a, b = _CMS_AB[r]
    return ((F.col(col) * a + b) % _CMS_P) % _CMS_W


def _cms_cell_structs(col: str) -> F.Column:
    return F.array(
        *[
            F.struct(F.lit(r).alias("r"), _cms_cell_spark(col, r).alias("cell"))
            for r in range(4)
        ]
    )


def cms_cells(keyed: DataFrame, col: str = "user_id") -> DataFrame:
    """(r, cell, cnt) counter grid of the count-min sketch over ``col``
    — the mergeable unit: grids from any partition/batch/day combine by
    summing cnt per (r, cell)."""
    return (
        keyed.select(F.explode(_cms_cell_structs(col)).alias("c"))
        .groupBy(F.col("c.r").alias("r"), F.col("c.cell").alias("cell"))
        .agg(F.count("*").alias("cnt"))
    )


def merge_cms_batch(spark: SparkSession, batch: DataFrame, store_path: str) -> None:
    """Merge one micro-batch's grid into the stored grid (sum by cell)."""
    delta = cms_cells(batch.select("user_id"))
    if os.path.exists(store_path):
        old = spark.read.parquet(store_path)
        merged = (
            old.unionByName(delta)
            .groupBy("r", "cell")
            .agg(F.sum("cnt").alias("cnt"))
        )
    else:
        merged = delta
    # local collect of <=256 rows breaks the read->overwrite cycle on the
    # same path; a real deployment MERGEs into a transactional table
    rows = merged.collect()
    spark.createDataFrame(rows, "r int, cell bigint, cnt bigint").write.mode(
        "overwrite"
    ).parquet(store_path)


def cms_maintenance_stream(events: DataFrame, store_path: str):
    """writeStream wiring: foreachBatch merges each batch into the store."""

    def _on_batch(batch: DataFrame, batch_id: int) -> None:
        merge_cms_batch(batch.sparkSession, batch, store_path)

    return events.writeStream.foreachBatch(_on_batch)
