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

import hashlib

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


# data files before an upsert_batch commit compacts the table: a scan
# epoch's read grows ~1.5 ms per file (SCALE.md "Sinks at scale")
COMPACT_AT = 64


def upsert_batch(
    df: DataFrame,
    path: str,
    key_cols: list[str],
    *,
    keys: list[tuple] | None = None,
) -> None:
    """Write-once append of one batch to the log table at ``path``, the
    reference's append to a notification sheet (arbitrage_scanner.py:
    507-514).  The batch lands as ONE file, ``path/part-<name>.parquet``,
    ``<name>`` a digest of its ``key_cols`` values (``keys``, if the
    caller collected them, saves that job).  Replaying the last batch
    finds its file and an empty batch writes nothing, so a foreachBatch
    sink converges under at-least-once redelivery.  The caller keeps
    keys new (the scan app anti-joins its batch against the log).

    Once the table holds ``COMPACT_AT`` data files, the commit writes
    them and the batch as that one file and deletes the others
    (compaction), so a read lists at most ``COMPACT_AT`` + 1 files.

    Durability: the file is written to a ``_``-prefixed staging
    directory under ``path``, renamed to its name, then the files it
    replaces and the staging are deleted, through the Hadoop FileSystem
    API of ``path``.  Spark's listing skips ``_``-prefixed paths, so a
    plain read sees each batch whole or not at all; a compaction cut
    after its rename leaves rows twice until the next commit finishes
    it (``read_appended`` reads them once).  A one-file rename is a
    metadata op on HDFS/local; object stores need a committer for the
    same guarantee.  Assumes one writer."""
    if keys is None:
        keys = df.select(*key_cols).collect()
    names = sorted({repr(tuple(k)) for k in keys})
    fs, Path = _fs(df.sparkSession, path)
    _settle(fs, Path, path)  # a commit cut by a crash
    if not names:
        return
    name = hashlib.sha256("\n".join(names).encode()).hexdigest()[:32]
    target = Path(path, f"part-{name}.parquet")
    if fs.exists(target):
        return
    if len(_data_files(fs, Path, path)) < COMPACT_AT:
        staging, rows = f"{path}/_staging-{name}", df
    else:
        staging = f"{path}/_compact-{name}"
        rows = df.sparkSession.read.schema(df.schema).parquet(path).unionByName(df)
    rows.coalesce(1).write.mode("overwrite").parquet(staging)
    (part,) = fs.globStatus(Path(staging, "part-*"))
    _rename(fs, part.getPath(), target)
    _settle(fs, Path, path)


def read_appended(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """The rows of an ``upsert_batch`` table, read with ``schema`` (no
    inference job), once each; empty before the first commit.  An absent
    table with a ``<path>__*`` sibling (a directory swap of earlier
    versions, cut mid-commit) raises instead of reading as empty."""
    fs, Path = _fs(spark, path)
    if not fs.exists(Path(path)):
        left = fs.globStatus(Path(path + "__*"))
        if left:
            raise IOError(f"{path} is absent but {left[0].getPath()} exists")
        return spark.createDataFrame([], schema)
    rows = spark.read.schema(schema).parquet(path)
    return rows.distinct() if fs.globStatus(Path(path, "_compact-*")) else rows


def _settle(fs, Path, path: str) -> None:
    """Finish a compaction whose file is in place (it replaces every
    other data file) and delete staging; one writer, so any staging left
    is the current commit's or a crashed one's."""
    for st in fs.globStatus(Path(path, "_compact-*")) or []:
        done = "part-" + st.getPath().getName()[len("_compact-"):] + ".parquet"
        if fs.exists(Path(path, done)):
            for f in _data_files(fs, Path, path):
                if f.getName() != done:
                    fs.delete(f, False)
        fs.delete(st.getPath(), True)
    for st in fs.globStatus(Path(path, "_staging-*")) or []:
        fs.delete(st.getPath(), True)


def _data_files(fs, Path, path: str) -> list:
    """The paths a Spark read of ``path`` lists (not ``_``/``.``-prefixed)."""
    return [
        st.getPath()
        for st in fs.globStatus(Path(path, "*")) or []
        if not st.getPath().getName().startswith(("_", "."))
    ]


def _fs(spark: SparkSession, path: str):
    """(FileSystem of ``path``, the Hadoop ``Path`` class)."""
    Path = spark._jvm.org.apache.hadoop.fs.Path
    return Path(path).getFileSystem(spark._jsc.hadoopConfiguration()), Path


def _rename(fs, src, dst) -> None:
    if not fs.rename(src, dst):
        raise IOError(f"rename {src} -> {dst} failed")


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
