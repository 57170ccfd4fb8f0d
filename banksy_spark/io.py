"""Sources & sinks (SURVEY.md §2.1).

The reference's sources are scrapes + CSVs + a spreadsheet; its sinks are
spreadsheet overwrite/append and a push-notification POST
(arbitrage_scanner.py:44-58,188-191,296-320,493-514). In Spark terms the
analytics inputs are tables; the scrape/HTTP edges are driver-side
adapters (see ``banksy_spark.pipelines``). This module is the table
layer: parquet/CSV in, parquet overwrite/append out.

At 100 TB the same functions hold: ``spark.read.parquet`` over a
partitioned directory tree prunes partitions from the path filter, and
the writers below take ``partition_by`` so big facts land
hash/date-partitioned instead of as one directory of files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast unconditionally. The
# reference's dims are 30-32 rows (mlb/nba/nfl_teams.csv); here region,
# nation, supplier play that role.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier"})


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    """Read the testdata star schema: one lazy DataFrame per table.

    Nothing materializes here; Catalyst prunes columns and pushes
    predicates into each scan per consuming query.
    """
    return {name: spark.read.parquet(f"{sf_dir}/{name}.parquet") for name in names}


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    """Load tables and register them as temp views for the SQL surface."""
    tables = load_tables(spark, sf_dir, names)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return tables


def read_csv_dim(spark: SparkSession, path: str, columns: list[str] | None = None) -> DataFrame:
    """Dimension CSV scan (SURVEY §2.1 S3; arbitrage_scanner.py:188-191).

    The reference's dim CSVs have heterogeneous schemas (nfl_teams.csv
    carries 2 extra columns); ``columns`` selects the common subset the
    way arbitrage_scanner.py:191 does.
    """
    df = spark.read.csv(path, header=True, inferSchema=True)
    if columns:
        df = df.select(*columns)
    return df


def read_jsonl_tolerant(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """Tolerant JSON-lines scan: well-formed rows parse against
    ``schema``; malformed lines survive in ``_corrupt_record`` instead
    of failing the job (PERMISSIVE mode) so a cleanup/alerting branch
    can count or quarantine them. The scraped-feed analog of the
    reference's try/except row tolerance (bovada_pull.py's skip-on-
    parse-failure), expressed as engine semantics instead of a loop.

    Spark restriction: a query that references ONLY the corrupt-record
    column of a raw JSON scan is disallowed — cache() the frame before
    splitting it into good/quarantine branches."""
    return spark.read.schema(schema + ", _corrupt_record STRING").option(
        "mode", "PERMISSIVE"
    ).option("columnNameOfCorruptRecord", "_corrupt_record").json(path)


def write_overwrite(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """Full-refresh sink (SURVEY §2.1 K1; arbitrage_scanner.py:307-320)."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_append(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """Append sink (SURVEY §2.1 K2; arbitrage_scanner.py:506-514)."""
    writer = df.write.mode("append")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_partition_overwrite(
    df: DataFrame, path: str, partition_by: list[str]
) -> None:
    """Backfill sink: overwrite ONLY the partitions present in ``df``,
    leaving every other partition untouched (dynamic partition
    overwrite). This is how a 100 TB date-partitioned fact is
    backfilled — re-running one day replaces that day's directory
    atomically instead of truncating the table (static overwrite) or
    duplicating rows (append). Session-conf scoped to the write and
    restored afterwards."""
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        df.write.mode("overwrite").partitionBy(*partition_by).parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def upsert_batch(
    df: DataFrame,
    path: str,
    key_cols: list[str],
    version_col: str | None = None,
) -> None:
    """Idempotent keyed upsert (last-write-wins merge): rows in ``df``
    replace same-key rows at ``path``; other rows survive. Because the
    result is a pure function of (current state, batch contents),
    REPLAYING a batch converges to the identical state — what a
    ``foreachBatch`` sink needs under Structured Streaming's
    at-least-once batch redelivery. Use as:
    ``q.writeStream.foreachBatch(lambda b, _id: upsert_batch(b, path,
    keys))``.

    ``version_col``: when a batch can carry MULTIPLE rows per key, pass
    the column naming the winner — the highest version per key survives
    (per-key partitioned window, deterministic when versions are unique
    within a key). Without it, the batch must hold at most one row per
    key or the merged table keeps all of them.

    Durability: ``path`` stays a plain parquet directory, and no crash
    point leaves a reader that runs ``recover_table`` (as
    ``read_committed`` does) with a missing or partial table. The only
    copy of the table is never deleted — Hadoop's local-FS recursive
    delete removes files one at a time. A commit is four steps, each
    through the Hadoop FileSystem API of ``path`` (HDFS/S3A/local
    alike — a driver-local ``os.path`` check would silently truncate
    remote tables): (1) write the merge to ``path__staging__``, where Spark
    writes ``_SUCCESS`` last; (2) rename ``path`` to ``path__old__``;
    (3) rename staging to ``path``; (4) delete ``__old__``. The renames
    are single metadata ops on HDFS/local; object stores need a
    committer or a table format (Delta/Iceberg MERGE), same semantics.

    Scale: the anti-join keys on ``key_cols`` (broadcastable for a
    micro-batch-sized ``df``)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    spark = df.sparkSession
    if version_col:
        w = Window.partitionBy(*key_cols).orderBy(F.col(version_col).desc())
        df = (
            df.withColumn("_ub_rn", F.row_number().over(w))
            .filter(F.col("_ub_rn") == 1)
            .drop("_ub_rn")
        )
    df = df.localCheckpoint(eager=True)  # sever lineage from `path` pre-read

    current = read_committed(spark, path)
    if current is not None:
        keep = current.join(df.select(*key_cols).distinct(), key_cols, "left_anti")
        merged = keep.unionByName(df)
    else:
        merged = df
    fs, target, staging, old = _commit_paths(spark, path)
    merged.write.mode("overwrite").parquet(path + "__staging__")
    if current is not None:
        _rename(fs, target, old)
    _rename(fs, staging, target)
    fs.delete(old, True)


def _commit_paths(spark: SparkSession, path: str):
    """(FileSystem, table, staging, old) Hadoop paths of an
    ``upsert_batch`` table."""
    Path = spark._jvm.org.apache.hadoop.fs.Path
    target = Path(path)
    fs = target.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, target, Path(path + "__staging__"), Path(path + "__old__")


def _rename(fs, src, dst) -> None:
    if not fs.rename(src, dst):
        raise IOError(f"rename {src} -> {dst} failed")


def recover_table(spark: SparkSession, path: str) -> bool:
    """Finish or undo an ``upsert_batch`` commit a crash interrupted;
    returns whether a table exists at ``path`` afterwards.

    With ``path`` absent, a staging directory holding ``_SUCCESS`` is a
    complete merge cut before step 3 renamed it into place: roll it
    forward. Otherwise an ``__old__`` directory is the last committed
    table (a partial staging never gets past step 1): roll it back.
    Neither means no table was ever committed. Once ``path`` exists,
    leftover staging and old directories are deleted. Assumes one
    writer, and no reader concurrent with its commit."""
    fs, target, staging, old = _commit_paths(spark, path)
    if not fs.exists(target):
        if fs.exists(spark._jvm.org.apache.hadoop.fs.Path(staging, "_SUCCESS")):
            _rename(fs, staging, target)
        elif fs.exists(old):
            _rename(fs, old, target)
        else:
            return False
    fs.delete(staging, True)
    fs.delete(old, True)
    return True


def read_committed(spark: SparkSession, path: str) -> DataFrame | None:
    """The committed ``upsert_batch`` table at ``path`` after crash
    recovery, or None when no table has been committed. Any other read
    error propagates."""
    if not recover_table(spark, path):
        return None
    return spark.read.parquet(path)


def write_sorted_shards(
    df: DataFrame,
    path: str,
    order: list[str],
    n_shards: int,
) -> list[dict]:
    """Globally-sorted export: ``n_shards`` range-disjoint parquet
    shard directories, each internally sorted, plus a returned manifest
    (shard id, row count, min/max ordinal) — the layout a downstream
    consumer needs to merge-read 100 TB in total order, or to binary-
    search a shard by key range.

    The shard id is the ordinal operator's EXACT global NTILE (equal
    fill ±1 row guaranteed regardless of key skew — a plain
    ``repartitionByRange`` gives approximate balance and no per-shard
    row-count contract), so every window in the plan is partitioned and
    the sort work is n balanced per-shard sorts, never one task.
    ``order`` uses the ordinal spec ("-col" = DESC; leading column must
    cast monotonically to double).
    """
    from banksy_spark.operators.ordinals import global_ordinals

    sharded = global_ordinals(
        df, order, row_number="_ws_rn", ntile=(n_shards, "shard")
    )
    (
        sharded.repartition(n_shards, "shard")
        .sortWithinPartitions("shard", "_ws_rn")
        .drop("_ws_rn")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )
    spark = df.sparkSession
    back = spark.read.parquet(path)
    lead = order[0].lstrip("-")
    from pyspark.sql import functions as F

    manifest = [
        r.asDict()
        for r in back.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.min(lead).alias("lo"),
            F.max(lead).alias("hi"),
        )
        .orderBy("shard")
        .collect()
    ]
    return manifest


def write_orc(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """ORC full-refresh sink. ORC is the second columnar format Spark
    ships natively (no extra package, unlike Avro) — the interchange
    path for Hive/Trino-resident warehouses. Same pushdown posture as
    parquet: predicate pushdown and column pruning reach the ORC
    reader (spark.sql.orc.filterPushdown defaults true), so a
    migrating user keeps the scan-level guarantees PLANS.md audits
    for the parquet path."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan twin of the parquet readers; schema comes from the ORC
    footer. tests/test_sources.py roundtrips every testdata table
    through ORC and asserts value- and schema-identical frames."""
    return spark.read.orc(path)
