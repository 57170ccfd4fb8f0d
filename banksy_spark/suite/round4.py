"""Round-4 extension operators: decorrelated argmin join (TPC-H Q2
shape), small-file compaction planning, deterministic epoch shuffle,
multimodal frame windowing, fold-exact EWMA, count-min-sketch heavy
hitters, and KMV sketch algebra.

Same parity rules as the rest of the suite (registry.py docstring):
integer/decimal arithmetic wherever an aggregate is involved; row-level
double expressions written with identical association in both engines
(float literals spelled ``e0`` in DuckDB so they bind as DOUBLE, not
DECIMAL); every computed column aliased identically on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from banksy_spark.streaming.cms import _CMS_AB, _CMS_P, _CMS_W, _cms_cell_structs, cms_cells
from banksy_spark.suite.llm import _POLY_DUCK, _POLY_SPARK
from banksy_spark.suite.registry import T, fan_out, query

# --- TPC-H Q2-shaped correlated argmin, window-decorrelated ----------------


@query(
    "j_argmin_supplier",
    oracle="""
    SELECT l_partkey, l_suppkey, CAST(tq AS DOUBLE) AS total_qty
    FROM (
      SELECT l_partkey, l_suppkey, tq, MIN(tq) OVER (PARTITION BY l_partkey) AS mn
      FROM (
        SELECT l_partkey, l_suppkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS tq
        FROM lineitem GROUP BY l_partkey, l_suppkey
      )
    ) WHERE tq = mn
    """,
    note="TPC-H Q2 shape (reference query family: correlated MIN subquery per "
    "group): for every part, the supplier(s) shipping the minimum total quantity. "
    "The correlated subquery is decorrelated into one grouped aggregate plus one "
    "window MIN over the SAME partition key — the group-by exchange on "
    "(l_partkey, l_suppkey) already co-locates each part, so the window adds no "
    "second shuffle. Quantities route through DECIMAL so the per-part minimum is "
    "an exact comparison, immune to partial-agg order. Scale: one exchange over "
    "lineitem, then partition-local sort; no join back to the fact table.",
)
def j_argmin_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    # One explicit exchange on l_partkey: hash(l_partkey) satisfies the
    # grouped agg's clustered distribution on (l_partkey, l_suppkey)
    # (subset partitioning co-locates the full key) AND the window's
    # partitioning — without it Catalyst plans two exchanges (verified).
    agg = (
        li.repartition("l_partkey")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("tq"))
    )
    w = Window.partitionBy("l_partkey")
    return (
        agg.withColumn("mn", F.min("tq").over(w))
        .filter(F.col("tq") == F.col("mn"))
        .select("l_partkey", "l_suppkey", F.col("tq").cast("double").alias("total_qty"))
    )


# --- Small-file compaction planner -----------------------------------------

_COMPACT_TARGET = 4096  # bytes per output bin


@query(
    "o_compaction_plan",
    oracle=f"""
    SELECT source, doc_id, n_chars,
           CAST((cum - n_chars) // {_COMPACT_TARGET} AS BIGINT) AS bin_id
    FROM (
      SELECT source, doc_id, n_chars,
             SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM documents
    )
    """,
    note="Small-files compaction planner: pack each partition's files (documents "
    "stand in for file-manifest rows, n_chars for file bytes) into ~4 KiB output "
    "bins by running-sum assignment — bin_id = prefix-bytes DIV target, the greedy "
    "first-fit-in-order plan. All-integer window over the natural partition key. "
    "Scale: this is the manifest-side planning step of OPTIMIZE/compaction on a "
    "lake table — the planner reads only the file listing (candidates for a 100 TB "
    "table are ~10^6 manifest rows, not the data); executing the plan is then "
    "`repartition(bin_id)` writes with each bin one output file.",
)
def o_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_chars").over(w)
    return d.select(
        "source",
        "doc_id",
        "n_chars",
        ((cum - F.col("n_chars")) / _COMPACT_TARGET).cast("bigint").alias("bin_id"),
    )


# --- Deterministic per-epoch shuffle + sharding ----------------------------

_N_EPOCHS, _N_SHARDS = 2, 8


@query(
    "llm_epoch_shuffle",
    oracle=f"""
    SELECT epoch, shard_id, doc_id,
           ROW_NUMBER() OVER (PARTITION BY epoch, shard_id ORDER BY sort_key, doc_id)
             AS pos
    FROM (
      SELECT e.epoch, d.doc_id,
             md5(CAST(d.doc_id AS VARCHAR) || ':' || CAST(e.epoch AS VARCHAR))
               AS sort_key,
             ({_POLY_DUCK.format(
                 s="CAST(d.doc_id AS VARCHAR) || ':' || CAST(e.epoch AS VARCHAR)"
             )}) % {_N_SHARDS} AS shard_id
      FROM documents d, (SELECT unnest(range(0, {_N_EPOCHS})) AS epoch) e
    )
    """,
    note="Deterministic cross-epoch training shuffle: every epoch gets an "
    "independent pseudo-random global order (md5 of doc_id:epoch) and an "
    "independent shard assignment (shared polynomial hash mod shards), with "
    "within-shard positions from a rank window. Content of the permutation "
    "depends only on (doc_id, epoch) — re-running on re-ingested or re-partitioned "
    "data yields byte-identical epochs, which is what makes training runs "
    "reproducible. Scale: shard_id is the shuffle key (uniform by construction — "
    "no skew possible), each shard sorts locally; writing shard files is "
    "partitionBy(epoch, shard_id) with one sorted file per shard.",
)
def llm_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents").select("doc_id")
    epochs = d.select(
        "doc_id", F.explode(F.sequence(F.lit(0), F.lit(_N_EPOCHS - 1))).alias("epoch")
    )
    key = F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("epoch").cast("string"))
    keyed = epochs.select(
        "epoch",
        "doc_id",
        F.md5(key.cast("binary")).alias("sort_key"),
        (F.expr(_POLY_SPARK.format(s="concat(CAST(doc_id AS STRING), ':', CAST(epoch AS STRING))")) % _N_SHARDS).alias(
            "shard_id"
        ),
    )
    w = Window.partitionBy("epoch", "shard_id").orderBy("sort_key", "doc_id")
    return keyed.select(
        F.col("epoch").cast("bigint").alias("epoch"),
        "shard_id",
        "doc_id",
        F.row_number().over(w).cast("bigint").alias("pos"),
    )


# --- Multimodal frame windowing (audio-style fixed hop) --------------------

_FRAME_BYTES, _FRAME_HOP = 32, 16

_PAYLOAD_HEX_DUCK = "repeat(sha256(text), (length(text) % 5) + 1)"


@query(
    "llm_audio_frames",
    oracle=f"""
    SELECT doc_id, CAST(s // {_FRAME_HOP} AS BIGINT) AS frame_id,
           CAST(s AS BIGINT) AS start_byte,
           CAST(s + {_FRAME_BYTES} AS BIGINT) AS end_byte,
           substr(hexp, s * 2 + 1, {_FRAME_BYTES * 2}) AS frame_hex
    FROM (
      SELECT doc_id, {_PAYLOAD_HEX_DUCK} AS hexp,
             octet_length(unhex({_PAYLOAD_HEX_DUCK})) AS n
      FROM documents
    ) t, LATERAL (SELECT unnest(range(0, t.n - {_FRAME_BYTES - 1}, {_FRAME_HOP})) AS s) u
    """,
    note="Multimodal frame windowing: slice an opaque binary media payload into "
    "fixed-size overlapping frames (32-byte frames, 16-byte hop — the audio "
    "frame/hop pattern) entirely JVM-side: sequence() generates per-row frame "
    "starts, explode() lateralizes them, substring() slices the real binary "
    "(the payload is raw sha256 digest bytes — roughly half the positions are "
    "invalid UTF-8, so this is true binary slicing, not text). The decode of each "
    "frame is the stubbed codec hook (operators/udfs.py); the plumbing a frame "
    "featurizer needs — schema, per-frame rows, byte offsets — is exercised and "
    "oracle-checked via the hex projection. Scale: narrow map-side op, no "
    "shuffle; frames-per-row is bounded by payload size so no explode blowup.",
)
def llm_audio_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    from banksy_spark.suite.llm import binary_payload

    d = T(spark, sf_dir, "documents").select(
        "doc_id", binary_payload().alias("payload")
    )
    d = d.withColumn("n", F.octet_length("payload"))
    frames = d.select(
        "doc_id",
        "payload",
        F.explode(
            F.sequence(F.lit(0), F.col("n") - _FRAME_BYTES, F.lit(_FRAME_HOP))
        ).alias("s"),
    )
    return frames.select(
        "doc_id",
        (F.col("s") / _FRAME_HOP).cast("bigint").alias("frame_id"),
        F.col("s").cast("bigint").alias("start_byte"),
        (F.col("s") + _FRAME_BYTES).cast("bigint").alias("end_byte"),
        F.lower(
            F.hex(F.expr(f"substring(payload, s + 1, {_FRAME_BYTES})"))
        ).alias("frame_hex"),
    )


# --- Fold-exact exponentially weighted moving average ----------------------


@query(
    "w_ewma",
    oracle="""
    SELECT event_id, user_id,
           list_reduce(list_prepend(CAST(0 AS DOUBLE), l),
                       (acc, x) -> acc * 0.75e0 + 0.25e0 * x) AS ewma
    FROM (
      SELECT event_id, user_id,
             list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS l
      FROM events
    )
    """,
    note="Exponentially weighted moving average (alpha=0.25, zero-seeded) per "
    "user in event-time order. EWMA is a recursive definition, which SQL windows "
    "cannot express directly; both engines compute it as an ordered fold of "
    "acc*0.75 + 0.25*x left-to-right, so the IEEE operation sequence is "
    "identical and results are bit-exact (DuckDB's list_reduce seeds with the "
    "first element, so the oracle prepends the 0.0 seed to align with Spark's "
    "fold; every prefix of a left fold IS the shorter fold, so one pass per "
    "user emitting each intermediate acc equals the oracle's per-row prefix "
    "folds). Spark runs streaming/stateful.py:ewma, the EWMA step kernel of "
    "operators/folds.py through fold: repartition by user, sort within "
    "partitions, one mapInPandas pass carrying the accumulator across Arrow "
    "batches; the same function keeps the accumulator in the state store on "
    "a stream. Scale: one exchange "
    "on user_id; O(1) state per user and O(Arrow batch) memory, linear time, "
    "whatever a user's history length.",
)
def w_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    from banksy_spark.streaming.stateful import ewma

    return ewma(T(spark, sf_dir, "events"))


# --- Count-min-sketch heavy hitters ----------------------------------------


def _cms_cell_duck(col: str, r: int) -> str:
    """DuckDB text of streaming/cms.py's hash row ``r``."""
    a, b = _CMS_AB[r]
    return f"((({col} * {a} + {b}) % {_CMS_P}) % {_CMS_W})"


@query(
    "a_heavy_hitters_cms",
    oracle=f"""
    WITH cells AS (
      {" UNION ALL ".join(
          f"SELECT {r} AS r, {_cms_cell_duck('user_id', r)} AS cell, COUNT(*) AS cnt"
          f" FROM events GROUP BY 2"
          for r in range(4)
      )}
    ),
    probes AS (
      {" UNION ALL ".join(
          f"SELECT user_id, {r} AS r, {_cms_cell_duck('user_id', r)} AS cell"
          f" FROM (SELECT DISTINCT user_id FROM events)"
          for r in range(4)
      )}
    ),
    est AS (
      SELECT p.user_id, MIN(c.cnt) AS est_cnt
      FROM probes p JOIN cells c ON c.r = p.r AND c.cell = p.cell
      GROUP BY p.user_id
    ),
    tot AS (SELECT COUNT(*) AS n FROM events)
    SELECT user_id, CAST(est_cnt AS BIGINT) AS est_cnt
    FROM est, tot WHERE est_cnt * 64 >= n
    """,
    note="Count-min-sketch heavy hitters: a 4x64 integer counter grid (pairwise "
    "hash rows (A*k+B) mod P mod 64), point estimate = MIN over the key's four "
    "cells, report keys estimated above 1/64 of total traffic. The sketch update "
    "is a map-side-combinable grouped count over 256 cells TOTAL — at 100 TB the "
    "shuffle carries at most 256 rows per mapper regardless of key cardinality, "
    "which is the entire point of CMS; the probe side joins the (tiny, "
    "broadcastable) grid back to candidate keys. Estimates are exact integers — "
    "over-count only, never under — so the oracle matches bit-for-bit. Production "
    "swaps the fixed candidate probe for the same sketch shipped to a serving "
    "layer.",
)
def a_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "events").select("user_id")
    cell_structs = _cms_cell_structs("user_id")
    cells = cms_cells(e)
    probes = (
        e.distinct()
        .select("user_id", F.explode(cell_structs).alias("c"))
        .select("user_id", F.col("c.r").alias("r"), F.col("c.cell").alias("cell"))
    )
    est = (
        probes.join(F.broadcast(cells), ["r", "cell"])
        .groupBy("user_id")
        .agg(F.min("cnt").alias("est_cnt"))
    )
    tot = e.groupBy().agg(F.count("*").alias("n"))
    return (
        est.crossJoin(F.broadcast(tot))
        .filter(F.col("est_cnt") * _CMS_W >= F.col("n"))
        .select("user_id", F.col("est_cnt").cast("bigint").alias("est_cnt"))
    )


# --- KMV sketch algebra: cross-stratum set overlap -------------------------

_KMV_K = 32


@query(
    "llm_kmv_algebra",
    oracle=f"""
    WITH th AS (
      SELECT DISTINCT source, h FROM (
        SELECT source, {_POLY_DUCK.format(s="t.term")} AS h
        FROM (SELECT source, unnest(string_split(text, ' ')) AS term
              FROM documents) t
        WHERE t.term <> ''
      )
    ),
    ranked AS (
      SELECT source, h, ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rk
      FROM th
    ),
    sk AS (
      SELECT source, list_sort(list(h)) AS mins FROM ranked
      WHERE rk <= {_KMV_K} GROUP BY source
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(u[{_KMV_K}] AS BIGINT) AS theta_union,
           CAST(len(list_filter(list_intersect(a.mins, b.mins), x -> x <= u[{_KMV_K}]))
                AS DOUBLE) / {_KMV_K} AS j_est
    FROM (SELECT a.source, a.mins, b.source AS bsource, b.mins AS bmins,
                 list_sort(list_distinct(a.mins || b.mins)) AS u
          FROM sk a JOIN sk b ON a.source < b.source) t(source, mins, bsource, bmins, u),
         LATERAL (SELECT t.source, t.mins) a(source, mins),
         LATERAL (SELECT t.bsource, t.bmins) b(source, mins)
    """,
    note="Sketch algebra: per-source KMV (k-minimum-values, k=32) sketches of the "
    "token-hash vocabulary, then pairwise Jaccard estimates BETWEEN sketches — "
    "union sketch = k smallest of the merged min-sets, estimate = |shared hashes "
    "under the union threshold| / k. This is how a 100 TB pipeline compares "
    "vocabulary overlap across crawls/sources without ever joining the raw "
    "token sets: each source reduces to 32 integers (mergeable, associative), "
    "the cross-source comparison is a broadcast join of sketch rows. Integer "
    "hashes end-to-end make the estimate deterministic and oracle-exact.",
)
def llm_kmv_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    terms = (
        d.select("source", F.explode(F.split("text", " ")).alias("term"))
        .filter(F.col("term") != "")
        .select("source", F.expr(_POLY_SPARK.format(s="term")).alias("h"))
        .distinct()
    )
    w = Window.partitionBy("source").orderBy("h")
    sk = (
        terms.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _KMV_K)
        .groupBy("source")
        .agg(F.sort_array(F.collect_list("h")).alias("mins"))
    )
    a = sk.select(F.col("source").alias("source_a"), F.col("mins").alias("mins_a"))
    b = sk.select(F.col("source").alias("source_b"), F.col("mins").alias("mins_b"))
    pairs = a.join(F.broadcast(b), F.col("source_a") < F.col("source_b"))
    u = F.sort_array(F.array_distinct(F.concat("mins_a", "mins_b")))
    theta = F.element_at(u, _KMV_K)
    shared = F.size(
        F.filter(
            F.array_intersect("mins_a", "mins_b"), lambda x: x <= F.element_at(u, _KMV_K)
        )
    )
    return pairs.select(
        "source_a",
        "source_b",
        theta.cast("bigint").alias("theta_union"),
        (shared.cast("double") / _KMV_K).alias("j_est"),
    )


# --- Integer-exact PageRank over the part-supplier graph -------------------

_PR_S = 1_000_000_000_000  # rank scale (fixed-point, 12 digits)
_PR_ITERS = 4

_PR_EDGES_DUCK = """
    edges AS (
      SELECT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst FROM lineitem
      UNION
      SELECT l_suppkey * 2 + 1, l_partkey * 2 FROM lineitem
    ),
    deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
    nn AS (SELECT COUNT(DISTINCT src) AS n FROM edges)"""


def _pr_iter_duck(k: int) -> str:
    prev = f"pr{k - 1}" if k > 1 else "pr0"
    return f"""
    pr{k} AS (
      SELECT e.dst AS node,
             (3 * {_PR_S}) // (20 * nn.n) + (17 * SUM(p.r // d.outdeg)) // 20 AS r
      FROM {prev} p JOIN edges e ON e.src = p.node JOIN deg d ON d.src = p.node, nn
      GROUP BY e.dst, nn.n
    )"""


@query(
    "graph_pagerank",
    oracle=f"""
    WITH {_PR_EDGES_DUCK},
    pr0 AS (SELECT src AS node, {_PR_S} // nn.n AS r
            FROM (SELECT DISTINCT src FROM edges), nn),
    {",".join(_pr_iter_duck(k) for k in range(1, _PR_ITERS + 1))}
    SELECT node, CAST(r AS BIGINT) AS rank_scaled FROM pr{_PR_ITERS}
    """,
    note="PageRank (damping 0.85, 4 fixed iterations) over the bipartite "
    "part-supplier graph from lineitem, in FIXED-POINT integer arithmetic: ranks "
    "are scaled by 1e12, contributions are floor-divided by out-degree, the "
    "damping is the rational 17/20 — so the result is bit-exact under ANY "
    "partitioning or summation order (the float formulation would drift with "
    "partial-agg order; decimal division rounds differently across engines). "
    "The oracle is 4 chained CTE iterations of the identical integer recurrence. "
    "Same iterative-as-fixed-depth-lazy-plan design as connected components "
    "(operators/graph.py): no driver loop, no action during construction; the "
    "node count enters as a broadcast 1-row aggregate, never a .count(). Scale: "
    "each iteration shuffles contribution rows on dst — the edge list, degree "
    "table, and rank vector all partition on node id; at 100 TB this is vanilla "
    "Pregel-style PageRank with |E| shuffle rows per iteration. Persist "
    "lifecycle: edges/ed are consumed by the RETURNED lazy plan (4 iterations "
    "each), so in-function unpersist would kill the cache before the caller's "
    "action — release is the harness's job via session.release_caches() "
    "(tests/test_persist_hygiene.py pins that it drains everything).",
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    fwd = li.select(
        (F.col("l_partkey") * 2).alias("src"), (F.col("l_suppkey") * 2 + 1).alias("dst")
    )
    rev = li.select(
        (F.col("l_suppkey") * 2 + 1).alias("src"), (F.col("l_partkey") * 2).alias("dst")
    )
    # r14 opt (guide §2.5): the edge-distinct exchange was
    # AQE-coalesced (small bytes), so the persisted edges/ed tables
    # carried ~1-3 partitions and every iteration's rank join +
    # partial contribution agg ran nearly serial. Repartitioning on
    # src — a subset of the distinct key, so the dedup stays correct —
    # is the one exchange the chain needs, pinned at the session's
    # shuffle parallelism; deg (groupBy src) and ed (join on src) then
    # reuse the SAME partitioning with zero extra exchanges, and the
    # per-iteration join inherits the pinned width from the ed cache.
    n_base = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    edges = fwd.union(rev).repartition(n_base, "src").distinct().persist()
    deg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    ed = edges.join(deg, "src").persist()
    nn = edges.select("src").distinct().groupBy().agg(F.count("*").alias("n"))
    # Integer floor-division (DIV) end-to-end: float "/" then cast would
    # truncate a rounded double, which diverges from the oracle's "//".
    # The node count joins ONCE into the seed ranks and rides along as a
    # column — re-crossJoining the broadcast 1-row aggregate inside the
    # loop would replay its distinct+exchange subplan every iteration
    # (plan-inspected: 5 copies before this carry).
    ranks = (
        edges.select("src").distinct()
        .crossJoin(F.broadcast(nn))
        .select(
            F.col("src").alias("node"),
            F.expr(f"CAST({_PR_S} AS BIGINT) DIV n").alias("r"),
            "n",
        )
    )
    for _ in range(_PR_ITERS):
        contribs = (
            ed.join(ranks.withColumnRenamed("node", "_s"), F.col("src") == F.col("_s"))
            .groupBy(F.col("dst").alias("node"))
            .agg(
                F.sum(F.expr("r DIV outdeg")).alias("c"),
                F.min("n").alias("n"),
            )
        )
        ranks = contribs.select(
            "node",
            F.expr(
                f"CAST({3 * _PR_S} AS BIGINT) DIV (20 * n) + (17 * c) DIV 20"
            ).alias("r"),
            "n",
        )
    return ranks.select("node", F.col("r").cast("bigint").alias("rank_scaled"))


# --- Scalable global row numbering (no single-partition window) ------------

_GRN_BUCKETS = 64


@query(
    "o_global_rownum",
    oracle="""
    SELECT doc_id, ROW_NUMBER() OVER (ORDER BY sort_key, doc_id) AS global_rn
    FROM (SELECT doc_id, md5(text) AS sort_key FROM documents)
    """,
    note="Global ordinal assignment WITHOUT the scale-killer: a naive "
    "row_number() OVER (ORDER BY key) is a single-partition window — one task "
    "sorts 100 TB. Here the sort key's top byte buckets rows (md5 is uniform, so "
    "64 buckets are balanced), per-bucket counts build an offset table (64 rows, "
    "broadcast), and the global ordinal = bucket offset + intra-bucket "
    "row_number — two bounded shuffles, every window partitioned. The oracle IS "
    "the naive form, proving the decomposition exact. Same pattern scales to "
    "sharded file naming, stable sampling frames, and pagination keys.",
)
def o_global_rownum(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents").select(
        "doc_id", F.md5(F.col("text").cast("binary")).alias("sort_key")
    )
    # bucket = top md5 byte DIV 4 → 64 buckets that are MONOTONE in the
    # sort key (a modulo here would interleave buckets and break the
    # cross-bucket order the offsets assume)
    bucket = F.expr("CAST(conv(substring(sort_key, 1, 2), 16, 10) AS BIGINT) DIV 4")
    keyed = d.withColumn("bucket", bucket)
    counts = keyed.groupBy("bucket").agg(F.count("*").alias("cnt"))
    w_off = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # the offset window runs over 64 rows total — single partition is FINE here
    offsets = counts.select(
        "bucket", (F.sum("cnt").over(w_off) - F.col("cnt")).alias("off")
    )
    w_local = Window.partitionBy("bucket").orderBy("sort_key", "doc_id")
    return (
        keyed.join(F.broadcast(offsets), "bucket")
        .select(
            "doc_id",
            (F.col("off") + F.row_number().over(w_local)).alias("global_rn"),
        )
    )


# --- Multimodal image patch grid (ViT-style tiling) ------------------------

_PATCH = 8  # patch side in "pixels" (1 byte per pixel in the fake geometry)


@query(
    "llm_image_patches",
    oracle=f"""
    SELECT doc_id, width, height,
           CAST(py AS BIGINT) AS patch_row, CAST(px AS BIGINT) AS patch_col,
           CAST((py * (width // {_PATCH}) + px) AS BIGINT) AS patch_id,
           CAST((py * {_PATCH} * width + px * {_PATCH}) AS BIGINT) AS byte_offset
    FROM (
      SELECT doc_id,
             16 + (octet_length(unhex({_PAYLOAD_HEX_DUCK})) % 17) * 8 AS width,
             16 + ((octet_length(unhex({_PAYLOAD_HEX_DUCK})) * 7) % 13) * 8 AS height
      FROM documents
    ) g, LATERAL (SELECT unnest(range(0, g.height // {_PATCH})) AS py) r,
         LATERAL (SELECT unnest(range(0, g.width // {_PATCH})) AS px) c
    """,
    note="ViT-style image patch tiling: from each image's (width, height) "
    "metadata (deterministic fake geometry derived from the binary payload — the "
    "codec itself is the stubbed hook), emit the full 8x8-patch grid with "
    "row-major patch ids and byte offsets into the raw buffer. The 2-D grid is "
    "two chained sequence()+explode lateralizations — pure map-side, no shuffle, "
    "patches-per-image bounded by geometry. This is the exact row shape a "
    "patch-embedding Pandas UDF consumes (doc_id, patch_id, byte_offset), and "
    "the offsets are oracle-checked so the plumbing is proven before any codec "
    "is plugged in.",
)
def llm_image_patches(spark: SparkSession, sf_dir: str) -> DataFrame:
    from banksy_spark.suite.llm import binary_payload

    g = (
        T(spark, sf_dir, "documents")
        .select("doc_id", F.octet_length(binary_payload()).alias("nb"))
        .select(
            "doc_id",
            (16 + (F.col("nb") % 17) * 8).alias("width"),
            (16 + ((F.col("nb") * 7) % 13) * 8).alias("height"),
        )
    )
    rows = g.select(
        "doc_id",
        "width",
        "height",
        F.explode(
            F.sequence(F.lit(0), (F.col("height") / _PATCH).cast("bigint") - 1)
        ).alias("py"),
    )
    cells = rows.select(
        "doc_id",
        "width",
        "height",
        "py",
        F.explode(
            F.sequence(F.lit(0), (F.col("width") / _PATCH).cast("bigint") - 1)
        ).alias("px"),
    )
    n_cols = (F.col("width") / _PATCH).cast("bigint")
    return cells.select(
        "doc_id",
        F.col("width").cast("bigint").alias("width"),
        F.col("height").cast("bigint").alias("height"),
        F.col("py").cast("bigint").alias("patch_row"),
        F.col("px").cast("bigint").alias("patch_col"),
        (F.col("py") * n_cols + F.col("px")).cast("bigint").alias("patch_id"),
        (F.col("py") * _PATCH * F.col("width") + F.col("px") * _PATCH)
        .cast("bigint")
        .alias("byte_offset"),
    )


# --- Iterative BPE tokenizer training (2 merge rounds, lazy fixed-depth) ---

_BPE_ROUNDS = 2

_BPE_SYMS_DUCK = "string_split(trim(sym, '()'), ')(')"
_BPE_SYMS_SPARK = "split(trim(BOTH '()' FROM sym), '\\\\)\\\\(')"


def _bpe_vocab_duck() -> str:
    return """
    vocab AS (
      SELECT w AS word, COUNT(*) AS cnt
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE regexp_matches(w, '^[a-z]+$')
      GROUP BY w
    ),
    s0 AS (
      SELECT word, cnt,
             '(' || array_to_string(string_split(word, ''), ')(') || ')' AS sym
      FROM vocab
    )"""


def _bpe_round_duck(k: int) -> str:
    prev = f"s{k - 1}"
    return f"""
    p{k} AS (
      SELECT syms[i] AS a, syms[i + 1] AS b, SUM(cnt) AS w
      FROM (SELECT cnt, {_BPE_SYMS_DUCK} AS syms FROM {prev}) t,
           LATERAL (SELECT unnest(range(1, len(t.syms))) AS i) u
      GROUP BY 1, 2
    ),
    top{k} AS (SELECT a, b FROM p{k} ORDER BY w DESC, a, b LIMIT 1),
    s{k} AS (
      SELECT word, cnt,
             replace(sym, '(' || t.a || ')(' || t.b || ')', '(' || t.a || t.b || ')')
               AS sym
      FROM {prev}, top{k} t
    )"""


@query(
    "llm_bpe_merges",
    oracle=f"""
    WITH {_bpe_vocab_duck()},
    {",".join(_bpe_round_duck(k) for k in range(1, _BPE_ROUNDS + 1))}
    SELECT s.word, s.cnt, s.sym AS syms,
           t1.a || '+' || t1.b AS merge_1, t2.a || '+' || t2.b AS merge_2
    FROM s{_BPE_ROUNDS} s, top1 t1, top2 t2
    """,
    note="BPE tokenizer training, the actual iterative algorithm (not just pair "
    "stats): two merge rounds, each = count weighted adjacent symbol pairs over "
    "the word vocabulary -> pick the global argmax pair (count desc, lexical "
    "tiebreak) -> apply the merge to every word. The merge application is exact "
    "greedy left-to-right non-overlapping, done JVM-side: symbols render as "
    "'(h)(e)(l)(l)(o)' and replace('(l)(l)' -> '(ll)') is non-overlapping in "
    "both engines because matches share no characters (a space-separated "
    "rendering WOULD overlap on the shared separator and silently skip merges). "
    "Like connected components and PageRank, the loop is a fixed-depth lazy "
    "plan: the argmax pair enters each round as a broadcast 1-row aggregate, "
    "never a .collect(). Scale: pair counting is a map-side explode + one "
    "alphabet^2-bounded shuffle per round over the VOCAB (distinct words), not "
    "the corpus; the merge is a pure map stage. Real trainers run ~50k rounds "
    "incrementally on the pair-count delta; the per-round plan shape is this "
    "one.",
)
def llm_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    vocab = (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w").rlike("^[a-z]+$"))
        .groupBy(F.col("w").alias("word"))
        .agg(F.count("*").alias("cnt"))
    )
    s = vocab.withColumn(
        "sym", F.concat(F.lit("("), F.expr("array_join(split(word, ''), ')(')"), F.lit(")"))
    )
    tops = []
    for _ in range(_BPE_ROUNDS):
        syms = F.expr(_BPE_SYMS_SPARK)
        pairs = (
            s.select("cnt", syms.alias("syms"))
            .select(
                "cnt",
                F.explode(
                    F.expr(
                        # element_at is 1-based like the oracle's list index
                        # (bracket subscripts would be 0-based in Spark);
                        # single-symbol words get an empty pair list — a bare
                        # sequence(1, 0) would count DOWN and index 0
                        "transform(CASE WHEN size(syms) >= 2"
                        "            THEN sequence(1, size(syms) - 1)"
                        "            ELSE array() END,"
                        " i -> struct(element_at(syms, i) AS a,"
                        "             element_at(syms, i + 1) AS b))"
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("cnt").alias("w"))
        )
        top = pairs.orderBy(F.desc("w"), "a", "b").limit(1).select("a", "b")
        tops.append(top)
        s = s.crossJoin(F.broadcast(top)).select(
            "word",
            "cnt",
            F.expr(
                "replace(sym, '(' || a || ')(' || b || ')', '(' || a || b || ')')"
            ).alias("sym"),
        )
    t1 = tops[0].select(F.concat("a", F.lit("+"), "b").alias("merge_1"))
    t2 = tops[1].select(F.concat("a", F.lit("+"), "b").alias("merge_2"))
    return (
        s.crossJoin(F.broadcast(t1))
        .crossJoin(F.broadcast(t2))
        .select("word", "cnt", F.col("sym").alias("syms"), "merge_1", "merge_2")
    )


# --- Rank-function family coverage -----------------------------------------


@query(
    "w_rank_family",
    oracle="""
    SELECT o_custkey, o_orderkey,
           RANK() OVER w AS rnk, DENSE_RANK() OVER w AS drnk,
           CAST(PERCENT_RANK() OVER w AS DOUBLE) AS prnk,
           CAST(CUME_DIST() OVER w AS DOUBLE) AS cdist,
           NTH_VALUE(o_orderkey, 2) OVER (PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_key
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
    note="The remaining rank-function family in one partitioned pass: rank, "
    "dense_rank, percent_rank, cume_dist, nth_value — per customer by price. "
    "percent_rank/cume_dist are exact rational ratios of integer ranks, so "
    "doubles agree bit-for-bit. All five share ONE window spec -> one exchange "
    "+ one sort; the tie-broken total order makes every value deterministic. "
    "Scale: partition key is the shuffle key; nothing global.",
)
def w_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.rank().over(w).cast("bigint").alias("rnk"),
        F.dense_rank().over(w).cast("bigint").alias("drnk"),
        F.percent_rank().over(w).cast("double").alias("prnk"),
        F.cume_dist().over(w).cast("double").alias("cdist"),
        F.nth_value("o_orderkey", 2).over(w_full).alias("second_key"),
    )


# --- Data-quality constraint report (Deequ-style audit) --------------------


@query(
    "dq_constraint_report",
    oracle="""
    WITH m AS (
      SELECT COUNT(*) AS row_count,
             COUNT(*) - COUNT(DISTINCT l_orderkey || '-' || l_linenumber
                               || '-' || l_extendedprice) AS key_dupes,
             SUM(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END)
               AS discount_out_of_range,
             SUM(CASE WHEN l_quantity IS NULL OR l_quantity <= 0 THEN 1 ELSE 0 END)
               AS nonpositive_qty,
             SUM(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R') THEN 1 ELSE 0 END)
               AS bad_returnflag
      FROM lineitem
    ),
    orphan AS (
      SELECT COUNT(*) AS orphan_lines
      FROM lineitem l LEFT JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderkey IS NULL
    )
    SELECT c.constraint_name, CAST(c.metric AS BIGINT) AS metric,
           c.metric = 0 AS passed
    FROM m, orphan, LATERAL (
      SELECT * FROM (VALUES
        ('key_dupes', m.key_dupes),
        ('discount_out_of_range', m.discount_out_of_range),
        ('nonpositive_qty', m.nonpositive_qty),
        ('bad_returnflag', m.bad_returnflag),
        ('orphan_lines', orphan.orphan_lines)
      ) t(constraint_name, metric)
    ) c
    """,
    note="Deequ-style data-quality audit in two passes: ONE aggregate scan "
    "computes all row-local constraint metrics simultaneously (dupes of the "
    "natural key, domain-range violations, null/nonpositive measures, dictionary "
    "membership), and one broadcast anti-join counts referential orphans against "
    "the orders dimension; the per-constraint report rows unpivot from the "
    "single metric row. Output contract: (constraint_name, metric, passed) — "
    "metric 0 means clean. Scale: adding a constraint adds a column to the SAME "
    "aggregate, not a pass; at 100 TB the audit costs one scan regardless of "
    "constraint count, which is why it belongs in the engine rather than as N "
    "ad-hoc queries.",
)
def dq_constraint_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r13 opt note: fan_out was trialed here and REVERTED — the
    # count-distinct's first phase groups on a near-unique key, so the
    # extra raw-row exchange outweighed the map parallelism gain
    # (measured 1.82 -> 2.96 s: round-robin + partial agg + key
    # exchange = TWO shuffles).
    # r14 opt (guide §2.5): repartition on the distinct KEY itself
    # instead — one exchange (the one the count-distinct needs anyway),
    # REPARTITION_BY_NUM so AQE cannot coalesce the 600k-key hash
    # dedup back to 3 tasks, and the forgone partial agg collapsed
    # nothing (the key is near-unique, so partial output ~= raw rows).
    li = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders").select("o_orderkey")
    key = F.concat_ws("-", "l_orderkey", "l_linenumber", "l_extendedprice")
    n_base = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    # The key must be a CONCRETE column before the repartition, or the
    # planner cannot match the pinned exchange to the count-distinct's
    # internal clustering requirement and adds a second key exchange.
    lik = li.withColumn("_k", key)
    m = lik.repartition(n_base, "_k").agg(
        F.count("*").alias("row_count"),
        (F.count("*") - F.countDistinct(F.col("_k"))).alias("key_dupes"),
        F.sum(
            F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 0.1), 1).otherwise(0)
        ).alias("discount_out_of_range"),
        F.sum(
            F.when(F.col("l_quantity").isNull() | (F.col("l_quantity") <= 0), 1).otherwise(0)
        ).alias("nonpositive_qty"),
        F.sum(
            F.when(~F.col("l_returnflag").isin("A", "N", "R"), 1).otherwise(0)
        ).alias("bad_returnflag"),
    )
    orphan = (
        li.select("l_orderkey")
        .join(F.broadcast(o), li.l_orderkey == o.o_orderkey, "left_anti")
        .agg(F.count("*").alias("orphan_lines"))
    )
    row = m.crossJoin(orphan)
    report = row.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("constraint_name"), F.col(c).alias("metric")
                    )
                    for c in (
                        "key_dupes",
                        "discount_out_of_range",
                        "nonpositive_qty",
                        "bad_returnflag",
                        "orphan_lines",
                    )
                ]
            )
        ).alias("c")
    )
    return report.select(
        F.col("c.constraint_name").alias("constraint_name"),
        F.col("c.metric").cast("bigint").alias("metric"),
        (F.col("c.metric") == 0).alias("passed"),
    )


# --- Weekly retention cohorts ----------------------------------------------


@query(
    "a_retention_cohorts",
    oracle="""
    WITH firstw AS (
      SELECT user_id, MIN(date_trunc('week', ts)) AS cohort_week FROM events
      GROUP BY user_id
    ),
    act AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events
    )
    SELECT f.cohort_week,
           CAST(date_diff('day', f.cohort_week, a.week) // 7 AS BIGINT)
             AS week_offset,
           COUNT(DISTINCT a.user_id) AS n_users
    FROM act a JOIN firstw f ON f.user_id = a.user_id
    GROUP BY 1, 2
    """,
    note="Retention cohort grid: users cohorted by first-activity ISO week, "
    "counted distinct per (cohort_week, week_offset). Classic product-analytics "
    "operator; the reference's pandas equivalent would be a pivot over "
    "groupbys. Shape: two aggregations over events both keyed on user_id — the "
    "first exchange co-locates users, the cohort join is user-local, and only "
    "the (cohort, offset) grid (weeks², tiny) leaves the second stage. "
    "date_trunc('week') is ISO-Monday in both engines; the offset is exact "
    "integer day arithmetic.",
)
def a_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # cast to DATE: DuckDB's date_trunc('week') is a DATE, Spark's a timestamp
    e = T(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("week", "ts").cast("date").alias("week")
    )
    firstw = e.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    act = e.distinct()
    return (
        act.join(firstw, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff(F.col("week"), F.col("cohort_week")) / 7)
            .cast("bigint")
            .alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


# --- Markov transition matrix over event sequences -------------------------


# also the oracle of the fold-form twin, round10.stream_markov_stateful
_MARKOV_DUCK = """
    WITH seq AS (
      SELECT event_type AS from_type,
             LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS to_type
      FROM events
    ),
    cnt AS (
      SELECT from_type, to_type, COUNT(*) AS n FROM seq
      WHERE to_type IS NOT NULL GROUP BY 1, 2
    )
    SELECT from_type, to_type, n,
           CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY from_type) AS p
    FROM cnt
    """


@query(
    "stream_markov_transitions",
    oracle=_MARKOV_DUCK,
    note="First-order Markov transition matrix over per-user event sequences: "
    "lead() pairs each event with its successor (tie-broken total order), pair "
    "counts aggregate, and probabilities row-normalize by a window over the "
    "tiny transition table. The division is BIGINT/BIGINT→DOUBLE — one IEEE op, "
    "bit-identical across engines, no sum-of-doubles anywhere. Scale: the "
    "sequence window shuffles on user_id (same key as sessionization); the "
    "transition matrix itself is |event_types|² rows, so normalization is "
    "effectively free. This is the sequence-model statistic a behavior-cloning "
    "or synthetic-data pipeline computes per corpus slice.",
)
def stream_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    cnt = seq.groupBy("from_type", "to_type").agg(F.count("*").alias("n"))
    wn = Window.partitionBy("from_type")
    return cnt.select(
        "from_type",
        "to_type",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(wn)).alias("p"),
    )


# --- COUNT(DISTINCT) over a window (dense_rank workaround) -----------------


@query(
    "w_distinct_over_window",
    oracle="""
    SELECT event_id, user_id,
           COUNT(DISTINCT event_type) OVER (PARTITION BY user_id) AS n_types
    FROM events
    """,
    note="COUNT(DISTINCT) OVER a window — a real engine gap: Spark rejects "
    "DISTINCT inside window aggregates, DuckDB supports it natively (and is the "
    "oracle). The engine form is the dense_rank identity: dense_rank ordered by "
    "the value within the partition reaches max = the distinct count, and a "
    "second unordered window broadcasts that max to every row. Two window "
    "passes over ONE exchange (same partition key, the sort reorders "
    "partition-locally). This identity is load-bearing all over the suite "
    "(sign audits, nunique filters); here it is isolated and named so a user "
    "migrating DISTINCT-window SQL knows the rewrite.",
)
def w_distinct_over_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "events")
    wr = Window.partitionBy("user_id").orderBy("event_type")
    wa = Window.partitionBy("user_id")
    return e.select(
        "event_id",
        "user_id",
        F.max(F.dense_rank().over(wr)).over(wa).cast("bigint").alias("n_types"),
    )


# --- Point-in-time (temporal) lookup against SCD2 history ------------------


@query(
    "j_temporal_scd2_lookup",
    oracle="""
    WITH daily AS (
      SELECT o_custkey AS custkey, CAST(o_orderdate AS DATE) AS valid_from,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS net
      FROM orders GROUP BY 1, 2
    ),
    hist AS (
      SELECT custkey, valid_from,
             LEAD(valid_from) OVER (PARTITION BY custkey ORDER BY valid_from)
               AS valid_to,
             CAST(CAST(SUM(net) OVER (PARTITION BY custkey ORDER BY valid_from
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR)
                  AS DOUBLE) AS bal
      FROM daily
    ),
    probes AS (
      SELECT o.o_custkey AS custkey, CAST(l.l_shipdate AS DATE) AS ship_date,
             l.l_orderkey, l.l_linenumber
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    )
    SELECT p.l_orderkey, p.l_linenumber, p.custkey, p.ship_date, h.bal AS bal_asof
    FROM probes p LEFT JOIN hist h
      ON h.custkey = p.custkey AND h.valid_from <= p.ship_date
     AND (h.valid_to IS NULL OR p.ship_date < h.valid_to)
    """,
    note="Point-in-time (temporal) lookup: every shipped line item fetches the "
    "customer's running balance AS OF its ship date from the SCD2 validity "
    "intervals built by w_scd2_intervals. The oracle states it as the textbook "
    "BETWEEN-interval join; the engine form NEVER runs an inequality join — it "
    "unions interval-start rows and probe rows, sorts per custkey by (date, "
    "kind) with interval rows winning date ties, and forward-fills the last "
    "seen balance onto probes: one exchange + one partition-local sort, the "
    "same asof-as-union shape as stream_asof_join. Probes before a customer's "
    "first interval keep NULL. Scale: an interval join at 100 TB either "
    "explodes (range-bucketed) or serializes (broadcast); the union form costs "
    "exactly one fact-sized shuffle keyed on custkey.",
)
def j_temporal_scd2_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    li = T(spark, sf_dir, "lineitem")
    daily = (
        o.groupBy(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderdate").cast("date").alias("valid_from"),
        )
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("net"))
    )
    wv = Window.partitionBy("custkey").orderBy("valid_from")
    wc = wv.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist = daily.select(
        "custkey",
        F.col("valid_from").alias("d"),
        F.sum("net").over(wc).cast("string").cast("double").alias("bal"),
        F.lit(0).alias("is_probe"),
        F.lit(None).cast("bigint").alias("l_orderkey"),
        F.lit(None).cast("int").alias("l_linenumber"),
    )
    probes = (
        li.join(o.select("o_orderkey", "o_custkey"), li.l_orderkey == o.o_orderkey)
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("l_shipdate").cast("date").alias("d"),
            F.lit(None).cast("double").alias("bal"),
            F.lit(1).alias("is_probe"),
            "l_orderkey",
            "l_linenumber",
        )
    )
    u = hist.unionByName(probes)
    wf = (
        Window.partitionBy("custkey")
        .orderBy("d", "is_probe")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = u.withColumn("bal_asof", F.last("bal", ignorenulls=True).over(wf))
    return filled.filter(F.col("is_probe") == 1).select(
        "l_orderkey",
        "l_linenumber",
        "custkey",
        F.col("d").alias("ship_date"),
        "bal_asof",
    )


# --- Video keyframe sampling (stride by per-clip fps) ----------------------


@query(
    "llm_video_keyframes",
    oracle=f"""
    SELECT doc_id, fps, CAST(k AS BIGINT) AS key_id,
           CAST(k * fps AS BIGINT) AS frame_idx,
           CAST((k * fps * 1000) // fps AS BIGINT) AS ts_ms
    FROM (
      SELECT doc_id, octet_length(unhex({_PAYLOAD_HEX_DUCK})) AS n_frames,
             4 + (octet_length(unhex({_PAYLOAD_HEX_DUCK})) % 4) AS fps
      FROM documents
    ) v, LATERAL (SELECT unnest(range(0, (v.n_frames - 1) // v.fps + 1)) AS k) u
    """,
    note="Video keyframe sampling: each clip's binary payload stands for a "
    "frame buffer (1 byte/frame) with per-clip fps metadata; sample one "
    "keyframe per second — every fps-th frame — emitting (key_id, frame_idx, "
    "ts_ms) with integer-exact millisecond timestamps. Completes the multimodal "
    "sampling trio (audio hop frames, image patch grids, video stride "
    "keyframes); all three are sequence+explode map-side plans whose per-row "
    "fan-out is bounded by the media geometry, and all three feed the same "
    "stubbed-codec mapInPandas hook. Zero shuffles.",
)
def llm_video_keyframes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from banksy_spark.suite.llm import binary_payload

    v = (
        T(spark, sf_dir, "documents")
        .select("doc_id", F.octet_length(binary_payload()).alias("n_frames"))
        .select(
            "doc_id",
            "n_frames",
            (4 + (F.col("n_frames") % 4)).alias("fps"),
        )
    )
    keys = v.select(
        "doc_id",
        "fps",
        F.explode(
            F.sequence(F.lit(0), F.expr("(n_frames - 1) DIV fps"))
        ).alias("k"),
    )
    return keys.select(
        "doc_id",
        F.col("fps").cast("bigint").alias("fps"),
        F.col("k").cast("bigint").alias("key_id"),
        (F.col("k") * F.col("fps")).cast("bigint").alias("frame_idx"),
        F.expr("(k * fps * 1000) DIV fps").cast("bigint").alias("ts_ms"),
    )


def _flag_ranked(li: DataFrame, group_count: str | None = None) -> DataFrame:
    """(flag, x = l_extendedprice, l_orderkey, l_linenumber) with the
    row number ``rk`` of x within its l_returnflag over the tie-broken
    order (x, l_orderkey, l_linenumber), plus the group size when
    ``group_count`` names it. Only 3 flags over all of lineitem:
    grouped_ordinals keeps every sort partition bucket-bounded instead
    of one-task-per-flag."""
    from banksy_spark.operators.ordinals import grouped_ordinals

    return grouped_ordinals(
        li.select(
            F.col("l_returnflag").alias("flag"),
            F.col("l_extendedprice").alias("x"),
            "l_orderkey",
            "l_linenumber",
        ),
        ["flag"],
        ["x", "l_orderkey", "l_linenumber"],
        row_number="rk",
        group_count=group_count,
    )


# l_extendedprice ranked within l_returnflag over the tie-broken total
# order, with the group size — the DuckDB form of _flag_ranked
_FLAG_RANK_DUCK = """ranked AS (
      SELECT l_returnflag AS flag, l_extendedprice AS x,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag
                 ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rk,
             COUNT(*) OVER (PARTITION BY l_returnflag) AS n
      FROM lineitem
    )"""


# --- Feature engineering: exact quantile binning ---------------------------

# Nearest-rank (ceil(p*n)) quartile bounds per l_returnflag group, then
# bin assignment by broadcast join — the QuantileDiscretizer shape with
# exact, reproducible bounds instead of approxQuantile's epsilon.

_QB_DUCK_BOUNDS = f"""
    {_FLAG_RANK_DUCK},
    bounds AS (
      SELECT flag,
             MIN(CASE WHEN rk = (n + 3) // 4 THEN x END) AS q1,
             MIN(CASE WHEN rk = (n + 1) // 2 THEN x END) AS q2,
             MIN(CASE WHEN rk = (3 * n + 3) // 4 THEN x END) AS q3
      FROM ranked GROUP BY flag
    )"""


@query(
    "ml_quantile_binning",
    oracle=f"""
    WITH {_QB_DUCK_BOUNDS}
    SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag, l.l_extendedprice,
           CASE WHEN l.l_extendedprice <= b.q1 THEN 0
                WHEN l.l_extendedprice <= b.q2 THEN 1
                WHEN l.l_extendedprice <= b.q3 THEN 2
                ELSE 3 END AS bin
    FROM lineitem l JOIN bounds b ON b.flag = l.l_returnflag
    """,
    note="Feature binning with EXACT quantile bounds (QuantileDiscretizer "
    "shape): per-group nearest-rank quartiles (ceil(p*n) over a tie-broken "
    "total order — pure integer rank arithmetic, so bounds are reproducible "
    "run-to-run, unlike approxQuantile's epsilon-dependent output), then bin "
    "assignment by broadcasting the 3-values-per-group bounds table back over "
    "the fact. Scale: one exchange for the rank window; the bounds table is "
    "|groups|×3 and always broadcasts; at 100 TB swap the exact ranks for the "
    "histogram sketch (a_histogram_quantiles) without touching the assignment "
    "side.",
)
def ml_quantile_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    ranked = _flag_ranked(li, group_count="n")
    bounds = ranked.groupBy("flag").agg(
        F.min(F.when(F.col("rk") == F.expr("(n + 3) DIV 4"), F.col("x"))).alias("q1"),
        F.min(F.when(F.col("rk") == F.expr("(n + 1) DIV 2"), F.col("x"))).alias("q2"),
        F.min(F.when(F.col("rk") == F.expr("(3 * n + 3) DIV 4"), F.col("x"))).alias("q3"),
    )
    binned = li.join(F.broadcast(bounds), li.l_returnflag == bounds.flag)
    bin_col = (
        F.when(F.col("l_extendedprice") <= F.col("q1"), 0)
        .when(F.col("l_extendedprice") <= F.col("q2"), 1)
        .when(F.col("l_extendedprice") <= F.col("q3"), 2)
        .otherwise(3)
    )
    return binned.select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice",
        bin_col.alias("bin"),
    )


# --- Feature engineering: z-score standardization --------------------------


@query(
    "ml_zscore_scaling",
    oracle="""
    WITH mom AS (
      SELECT l_returnflag AS flag, COUNT(*) AS n,
             CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR)
                  AS DOUBLE) AS s,
             CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                           * CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR)
                  AS DOUBLE) AS ssq
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
           (l.l_extendedprice - m.s / m.n)
             / sqrt(m.ssq / m.n - (m.s / m.n) * (m.s / m.n)) AS z
    FROM lineitem l JOIN mom m ON m.flag = l.l_returnflag
    """,
    note="Per-group z-score standardization (StandardScaler shape) from EXACT "
    "decimal moments: sum and sum-of-squares accumulate as DECIMAL (associative "
    "— partial-agg order cannot perturb them), convert to double through their "
    "string form (the correctly-rounded parse both engines share), and the "
    "mean/variance/sqrt arithmetic is then an identical IEEE sequence, so z "
    "values match bit-for-bit. sqrt is IEEE-correctly-rounded in both engines. "
    "Scale: one grouped agg + broadcast of the |groups|-row moment table; the "
    "same moments feed correlation (a_corr_manual) and outlier ops.",
)
def ml_zscore_scaling(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    dec = F.col("l_extendedprice").cast("decimal(18,2)")
    mom = li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.count("*").alias("n"),
        F.sum(dec).cast("string").cast("double").alias("s"),
        F.sum(dec * dec).cast("string").cast("double").alias("ssq"),
    )
    j = li.join(F.broadcast(mom), li.l_returnflag == mom.flag)
    mean = F.col("s") / F.col("n")
    z = (F.col("l_extendedprice") - mean) / F.sqrt(
        F.col("ssq") / F.col("n") - mean * mean
    )
    return j.select("l_orderkey", "l_linenumber", "l_returnflag", z.alias("z"))


# --- Feature engineering: winsorization (p05/p95 clip) ---------------------


@query(
    "ml_winsorize",
    oracle=f"""
    WITH {_FLAG_RANK_DUCK},
    bounds AS (
      SELECT flag,
             MIN(CASE WHEN rk = (n + 19) // 20 THEN x END) AS lo,
             MIN(CASE WHEN rk = (19 * n + 19) // 20 THEN x END) AS hi
      FROM ranked GROUP BY flag
    )
    SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
           l.l_extendedprice AS x,
           CASE WHEN l.l_extendedprice < b.lo THEN b.lo
                WHEN l.l_extendedprice > b.hi THEN b.hi
                ELSE l.l_extendedprice END AS x_wins,
           l.l_extendedprice < b.lo OR l.l_extendedprice > b.hi AS clipped
    FROM lineitem l JOIN bounds b ON b.flag = l.l_returnflag
    """,
    note="Winsorization: clip each group's values at exact nearest-rank "
    "p05/p95 (ceil(p*n), tie-broken order — same integer-rank machinery as "
    "ml_quantile_binning, different consumer). The robust companion to "
    "ml_zscore_scaling: winsorize first, then scale, and heavy tails cannot "
    "dominate the moments. Shape: one rank-window exchange, bounds broadcast "
    "back, clip is a pure map expression. No value leaves its group's "
    "partition except the 2-number bounds row.",
)
def ml_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    ranked = _flag_ranked(li, group_count="n")
    bounds = ranked.groupBy("flag").agg(
        F.min(F.when(F.col("rk") == F.expr("(n + 19) DIV 20"), F.col("x"))).alias("lo"),
        F.min(F.when(F.col("rk") == F.expr("(19 * n + 19) DIV 20"), F.col("x"))).alias("hi"),
    )
    j = li.join(F.broadcast(bounds), li.l_returnflag == bounds.flag)
    clipped = (F.col("l_extendedprice") < F.col("lo")) | (
        F.col("l_extendedprice") > F.col("hi")
    )
    x_wins = (
        F.when(F.col("l_extendedprice") < F.col("lo"), F.col("lo"))
        .when(F.col("l_extendedprice") > F.col("hi"), F.col("hi"))
        .otherwise(F.col("l_extendedprice"))
    )
    return j.select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        F.col("l_extendedprice").alias("x"),
        x_wins.alias("x_wins"),
        clipped.alias("clipped"),
    )


# --- Array higher-order-function surface -----------------------------------


@query(
    "f_array_hof",
    oracle="""
    SELECT vec_id, label,
           CAST(len(embedding) AS BIGINT) AS dim,
           list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
               (a, b) -> a + b) AS sq_norm,
           CAST(len(list_filter(embedding, x -> x < 0)) AS BIGINT) AS n_neg,
           CAST(embedding[1] AS DOUBLE) AS first_dim,
           CAST(embedding[1] AS DOUBLE) AS head_1,
           CAST(embedding[2] AS DOUBLE) AS head_2,
           CAST(embedding[3] AS DOUBLE) AS head_3
    FROM embeddings
    """,
    note="Array higher-order-function surface over the embedding column, the "
    "vector-math idioms every similarity operator composes from: transform "
    "(elementwise square), seeded left fold via aggregate (sum of squares — "
    "DuckDB's list_reduce seeds with the head element, so the oracle prepends "
    "the 0.0 seed; identical IEEE fold order makes sq_norm bit-exact), filter+ "
    "size (negative-component count), 1-based element access and slice. All "
    "JVM-side codegen over the Arrow-read float array — zero shuffles, zero "
    "Python. The float→double cast is per-element BEFORE arithmetic in both "
    "engines, which is what keeps float32 storage from perturbing parity. "
    "The slice surface is exercised via per-element scalar extraction "
    "(head_1..head_3) rather than an ARRAY<DOUBLE> output column: the driver's "
    "pandas-based canonicalizer cannot factorize list values (round-11 red), "
    "so output columns must stay scalar — enforced registry-wide by "
    "tools/oracle_types.py.",
)
def f_array_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        "label",
        F.size("embedding").cast("bigint").alias("dim"),
        F.expr(
            "aggregate(transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),"
            " CAST(0 AS DOUBLE), (a, b) -> a + b)"
        ).alias("sq_norm"),
        F.expr("size(filter(embedding, x -> x < 0))").cast("bigint").alias("n_neg"),
        F.expr("CAST(try_element_at(embedding, 1) AS DOUBLE)").alias("first_dim"),
        # try_element_at, not element_at: under ANSI mode an out-of-bounds
        # index THROWS, while the DuckDB oracle's embedding[k] yields NULL.
        # Fixture embeddings are fixed-length today, but variable-length
        # inputs (fuzz regimes, future corpora) must degrade to NULL in
        # BOTH engines (ADVICE r12).
        F.expr("CAST(try_element_at(slice(embedding, 1, 3), 1) AS DOUBLE)").alias("head_1"),
        F.expr("CAST(try_element_at(slice(embedding, 1, 3), 2) AS DOUBLE)").alias("head_2"),
        F.expr("CAST(try_element_at(slice(embedding, 1, 3), 3) AS DOUBLE)").alias("head_3"),
    )


# --- Null-semantics surface (null-safe equality, ordering, propagation) ----


@query(
    "f_null_semantics",
    oracle="""
    WITH flagged AS (
      SELECT event_id, user_id, value,
             CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END AS v
      FROM events
    )
    SELECT event_id, user_id,
           v IS NOT DISTINCT FROM value AS nullsafe_eq,
           v IS DISTINCT FROM NULL AS not_null_flag,
           v + 1 IS NULL AS arith_propagates,
           COALESCE(v, -1e0) AS v_filled,
           ROW_NUMBER() OVER (PARTITION BY user_id
               ORDER BY v DESC NULLS LAST, event_id) AS rn_nulls_last
    FROM flagged
    """,
    note="Null-semantics surface in one query: null-safe equality (Spark <=> "
    "is SQL IS NOT DISTINCT FROM), null propagation through arithmetic, "
    "COALESCE fill, and explicit NULLS LAST window ordering — the spots where "
    "engines silently differ (Spark sorts NULLS FIRST ascending by default, "
    "DuckDB NULLS LAST, so every ORDER BY over a nullable key in this suite "
    "pins the placement explicitly; this query is the named witness). Pure "
    "map + one window exchange.",
)
def f_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "events")
    v = F.when(F.col("event_id") % 5 == 0, F.lit(None)).otherwise(F.col("value"))
    flagged = e.select("event_id", "user_id", "value", v.alias("v"))
    w = Window.partitionBy("user_id").orderBy(
        F.col("v").desc_nulls_last(), "event_id"
    )
    return flagged.select(
        "event_id",
        "user_id",
        F.col("v").eqNullSafe(F.col("value")).alias("nullsafe_eq"),
        F.col("v").isNotNull().alias("not_null_flag"),
        (F.col("v") + 1).isNull().alias("arith_propagates"),
        F.coalesce("v", F.lit(-1.0)).alias("v_filled"),
        F.row_number().over(w).cast("bigint").alias("rn_nulls_last"),
    )


# --- Hierarchy traversal: fixed-depth unroll vs recursive CTE --------------


@query(
    "j_hierarchy_unroll",
    oracle="""
    WITH RECURSIVE edges AS (
      SELECT p_partkey AS node,
             CASE WHEN p_partkey = 0 THEN NULL ELSE p_partkey // 16 END AS parent
      FROM part
    ),
    walk(node, anc, path, depth) AS (
      SELECT node, parent, CAST(node AS VARCHAR), 0 FROM edges
      UNION ALL
      SELECT w.node, e.parent, CAST(e.node AS VARCHAR) || '/' || w.path, w.depth + 1
      FROM walk w JOIN edges e ON e.node = w.anc
    )
    SELECT node, path, CAST(depth AS BIGINT) AS depth,
           CAST(string_split(path, '/')[1] AS BIGINT) AS root,
           depth > 4 AS truncated
    FROM walk WHERE anc IS NULL
    """,
    note="Hierarchy (ancestor-chain) traversal — the recursive-CTE capability, "
    "Spark-first: Spark has no WITH RECURSIVE, so the walk is unrolled to the "
    "hierarchy's depth bound (4 ancestor hops here) as chained LEFT self-joins "
    "against the (node, parent) edge table, assembling root-to-node paths; the "
    "DuckDB oracle IS the genuine recursive CTE, proving unroll == recursion "
    "when depth is bounded. The parent relation is an arithmetic fixture "
    "(node DIV 16) but the traversal consumes it strictly as DATA — every hop "
    "is a join, exactly how a BOM/org-chart table would run. Scale: each hop "
    "is an equi-join on the parent key (broadcastable when the upper levels "
    "are small, as real hierarchies are); depth bounds plan size, and an "
    "unbounded hierarchy uses the CC-style fixed-budget loop instead. "
    "Depth-exceeded detector: the truncated flag marks rows whose chain "
    "top still has a parent after the 4-hop unroll (oracle twin: true "
    "recursion depth > 4) — a deeper hierarchy flags instead of silently "
    "truncating; pytest drives a 10-deep chain to truncated=true.",
)
def j_hierarchy_unroll(spark: SparkSession, sf_dir: str) -> DataFrame:
    from banksy_spark.operators.graph import ancestor_unroll

    p = T(spark, sf_dir, "part")
    e = p.select(
        F.col("p_partkey").alias("node"),
        F.when(F.col("p_partkey") == 0, F.lit(None))
        .otherwise(F.expr("p_partkey DIV 16"))
        .alias("parent"),
    )
    return ancestor_unroll(e, depth=4)


# --- Snapshot diff (table-state reconciliation) ----------------------------


@query(
    "o_snapshot_diff",
    oracle="""
    WITH snap_a AS (
      SELECT o_orderkey, o_totalprice FROM orders
    ),
    snap_b AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1.0 ELSE o_totalprice END
               AS o_totalprice
      FROM orders WHERE o_orderkey % 7 <> 0
    )
    SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
           CASE WHEN a.o_orderkey IS NULL THEN 'added'
                WHEN b.o_orderkey IS NULL THEN 'removed'
                WHEN a.o_totalprice <> b.o_totalprice THEN 'changed'
                ELSE 'same' END AS status,
           a.o_totalprice AS price_a, b.o_totalprice AS price_b
    FROM snap_a a FULL OUTER JOIN snap_b b ON a.o_orderkey = b.o_orderkey
    WHERE NOT (a.o_orderkey IS NOT NULL AND b.o_orderkey IS NOT NULL
               AND a.o_totalprice = b.o_totalprice)
    """,
    note="Snapshot reconciliation: FULL OUTER join two table states on the "
    "business key and classify every key as added / removed / changed "
    "(unchanged rows are filtered out — the report is the delta). The second "
    "snapshot is a deterministic perturbation fixture (drops every 7th key, "
    "bumps every 5th price); a real deployment points the two sides at two "
    "table versions / partitions. This is the audit twin of o_cdc_merge_apply: "
    "MERGE applies a changelog, diff RECOVERS the changelog from states. "
    "Scale: one co-partitioned shuffle on the key; with both snapshots "
    "bucketed on the key the exchange disappears entirely (the CDC layout).",
)
def o_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    a = o.select("o_orderkey", "o_totalprice")
    b = o.filter(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 5 == 0, F.col("o_totalprice") + 1.0
        ).otherwise(F.col("o_totalprice")).alias("o_totalprice"),
    )
    aa = a.select(F.col("o_orderkey").alias("ka"), F.col("o_totalprice").alias("price_a"))
    bb = b.select(F.col("o_orderkey").alias("kb"), F.col("o_totalprice").alias("price_b"))
    j = aa.join(bb, aa.ka == bb.kb, "full_outer")
    status = (
        F.when(F.col("ka").isNull(), "added")
        .when(F.col("kb").isNull(), "removed")
        .when(F.col("price_a") != F.col("price_b"), "changed")
        .otherwise("same")
    )
    return (
        j.select(
            F.coalesce("ka", "kb").alias("o_orderkey"),
            status.alias("status"),
            "price_a",
            "price_b",
        )
        .filter(F.col("status") != "same")
    )


# --- Exact distinct counting via bitmap aggregation ------------------------


@query(
    "a_bitmap_distinct",
    oracle="""
    SELECT event_type, CAST(SUM(bit_count(bits)) AS BIGINT) AS n_users
    FROM (
      SELECT event_type, user_id // 32 AS word,
             bit_or(CAST(1 AS BIGINT) << CAST(user_id % 32 AS INTEGER)) AS bits
      FROM events GROUP BY 1, 2
    )
    GROUP BY event_type
    """,
    note="EXACT distinct counting via bitmap aggregation — the Roaring-bitmap "
    "pattern in pure SQL: each key maps to (word = id DIV 32, bit = id MOD "
    "32 — 32-bit words keep the shift inside signed-BIGINT range in both "
    "engines; bit 63 of a signed shift overflows DuckDB), bit_or folds a partition's presence bits (associative + idempotent, "
    "so map-side combine eats duplicates BEFORE the shuffle), and the distinct "
    "count is the popcount sum. Versus COUNT(DISTINCT): the shuffle carries "
    "one 8-byte word per (group, id/32) instead of one row per distinct id — "
    "a 32× reduction on dense id spaces — and the bitmap itself is storable "
    "and mergeable across days/partitions like the HLL registers, but exact. "
    "Sits between COUNT(DISTINCT) (exact, heavy) and HLL (cheap, approximate) "
    "in the engine's distinct-counting ladder.",
)
def a_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "events")
    words = (
        e.select(
            "event_type",
            F.expr("user_id DIV 32").alias("word"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 32 AS INT))").alias("b"),
        )
        .groupBy("event_type", "word")
        .agg(F.expr("bit_or(b)").alias("bits"))
    )
    return words.groupBy("event_type").agg(
        F.sum(F.bit_count("bits")).cast("bigint").alias("n_users")
    )


# --- Top event paths (ordered sequence mining) -----------------------------


@query(
    "stream_top_paths",
    oracle="""
    SELECT path, COUNT(*) AS n FROM (
      SELECT user_id, day,
             array_to_string(list(event_type ORDER BY ts, event_id)[1:3], '>') AS path
      FROM (SELECT user_id, CAST(ts AS DATE) AS day, ts, event_id, event_type
            FROM events)
      GROUP BY user_id, day
    )
    GROUP BY path ORDER BY n DESC, path LIMIT 10
    """,
    note="Path analysis: each (user, day)'s first three event types in "
    "event-time order become a journey string, and the 10 most common journeys "
    "surface. Ordered collect inside groups — Spark's collect_list is "
    "order-nondeterministic after a shuffle, so the engine sorts WITHIN the "
    "(user, day) window first (sortWithinPartitions semantics via the window "
    "collect), matching DuckDB's ORDER BY inside list(). Scale: one exchange "
    "on (user_id, day); journeys aggregate to a tiny path table; the top-k is "
    "TakeOrderedAndProject, never a global sort.",
)
def stream_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").cast("date").alias("day"),
        "ts",
        "event_id",
        "event_type",
    )
    w = (
        Window.partitionBy("user_id", "day")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    paths = (
        e.withColumn("seq", F.slice(F.collect_list("event_type").over(w), 1, 3))
        .groupBy("user_id", "day")
        .agg(F.first(F.array_join("seq", ">")).alias("path"))
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "path")
        .limit(10)
    )


# --- Grouped mode (most frequent value, deterministic tiebreak) ------------


@query(
    "a_grouped_mode",
    oracle="""
    SELECT flag, val AS mode_price, cnt
    FROM (
      SELECT flag, val, cnt,
             ROW_NUMBER() OVER (PARTITION BY flag ORDER BY cnt DESC, val) AS rn
      FROM (
        SELECT l_returnflag AS flag, l_quantity AS val, COUNT(*) AS cnt
        FROM lineitem GROUP BY 1, 2
      )
    ) WHERE rn = 1
    """,
    note="Grouped mode: most frequent l_quantity per return flag, ties broken "
    "by smallest value so the answer is unique and reproducible (Spark's "
    "built-in mode() and DuckDB's mode() both break ties arbitrarily — neither "
    "is usable under a bit-exact contract, so the engine states the count+rank "
    "form explicitly). Two-stage: value-count aggregate (map-side combinable) "
    "then a rank over the per-group value histogram. Scale: the second window "
    "runs over |distinct values per group|, not rows.",
)
def a_grouped_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    cnt = li.groupBy(
        F.col("l_returnflag").alias("flag"), F.col("l_quantity").alias("val")
    ).agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("flag").orderBy(F.desc("cnt"), "val")
    return (
        cnt.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("flag", F.col("val").alias("mode_price"), "cnt")
    )


# --- Weighted median --------------------------------------------------------


@query(
    "a_weighted_median",
    oracle="""
    SELECT lang, doc_id AS median_doc, x AS weighted_median
    FROM (
      SELECT lang, doc_id, x, w,
             SUM(w) OVER (PARTITION BY lang ORDER BY x, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
             SUM(w) OVER (PARTITION BY lang) AS tw,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY x, doc_id) AS rn
      FROM (SELECT lang, doc_id, n_chars AS x,
                   CAST(length(text) - n_chars + 1 AS BIGINT) AS w
            FROM documents)
    ) t
    WHERE 2 * cw >= tw
      AND 2 * (cw - w) < tw
    """,
    note="Weighted median: the value at which cumulative weight first reaches "
    "half the total — selection is pure BIGINT comparisons (2*cum >= total AND "
    "2*(cum - w) < total), the same interval-crossing arithmetic as PPS "
    "sampling, so the answer is exact and partitioning-immune; no floating "
    "point anywhere. Scale: the running weight rides grouped_ordinals' "
    "exact per-group cumsum — bucket-bounded sorts with broadcast prefix "
    "offsets — so a stratum that outgrows an executor still never lands "
    "on one task.",
)
def a_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents").select(
        "lang",
        "doc_id",
        F.col("n_chars").alias("x"),
        (F.length("text") - F.col("n_chars") + 1).cast("bigint").alias("w"),
    )
    from banksy_spark.operators.ordinals import grouped_ordinals

    # few huge strata: the per-stratum running weight rides
    # grouped_ordinals' cumsum (exact BIGINT, bucket-bounded sorts)
    scored = grouped_ordinals(
        d,
        ["lang"],
        ["x", "doc_id"],
        cumsum=[("w", "cw")],
        group_totals=[("w", "tw")],
    )
    return scored.filter(
        (2 * F.col("cw") >= F.col("tw")) & (2 * (F.col("cw") - F.col("w")) < F.col("tw"))
    ).select("lang", F.col("doc_id").alias("median_doc"), F.col("x").alias("weighted_median"))


# --- Capped running sum (clamped recurrence — windows can't, folds can) ----


# also the oracle of the fold-form twin,
# round10.stream_capped_balance_stateful
_CAPPED_DUCK = """
    SELECT event_id, user_id,
           list_reduce(list_prepend(CAST(0 AS DOUBLE), l),
               (acc, x) -> GREATEST(CAST(0 AS DOUBLE),
                                    LEAST(CAST(100 AS DOUBLE), acc + x)))
             AS capped_balance
    FROM (
      SELECT event_id, user_id,
             list(value - 50e0) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS l
      FROM events
    )
    """


@query(
    "w_capped_running_sum",
    oracle=_CAPPED_DUCK,
    note="Capped running sum (inventory / token-bucket balance): acc' = "
    "clamp(acc + delta, 0, 100). The clamp makes the recurrence NON-LINEAR — "
    "no window frame or prefix-sum trick expresses it (unlike plain cumsum), "
    "which is exactly when the engine's ordered-fold pattern applies: collect "
    "the frame, fold left-to-right with the clamp inside the lambda, identical "
    "IEEE sequence in both engines (same seed-alignment as w_ewma). Scale: one "
    "exchange on user_id; bound the frame with a trailing window when per-key "
    "history is unbounded — after the balance saturates, older deltas are "
    "unreachable, so a trailing window of cap/min-delta rows is exact.",
)
def w_capped_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    lst = F.collect_list(F.col("value") - 50.0).over(w)
    fold = F.aggregate(
        lst,
        F.lit(0.0),
        lambda acc, x: F.greatest(F.lit(0.0), F.least(F.lit(100.0), acc + x)),
    )
    return e.select("event_id", "user_id", fold.alias("capped_balance"))


# --- Seasonal-baseline anomaly scoring -------------------------------------


@query(
    "a_seasonal_anomaly",
    oracle="""
    WITH prof AS (
      SELECT event_type, CAST(hour(ts) AS BIGINT) AS hod, COUNT(*) AS n,
             CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS s,
             CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))
                           * CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
               AS ssq
      FROM events GROUP BY 1, 2
    )
    SELECT e.event_id, e.event_type, CAST(hour(e.ts) AS BIGINT) AS hod,
           (e.value - p.s / p.n)
             / sqrt(p.ssq / p.n - (p.s / p.n) * (p.s / p.n) + 1e-9) AS anomaly_z
    FROM events e JOIN prof p
      ON p.event_type = e.event_type AND p.hod = CAST(hour(e.ts) AS BIGINT)
    """,
    note="Seasonal anomaly scoring: build an (event_type × hour-of-day) "
    "baseline profile from exact decimal moments, broadcast the ≤|types|×24 "
    "profile back over the stream, and score every event by its deviation "
    "from its OWN seasonal slot (the epsilon-regularized z keeps "
    "constant-valued slots finite). Same moment discipline as "
    "ml_zscore_scaling — decimal sums, string-routed doubles, identical IEEE "
    "tail — but keyed on derived time features, which is the shape of every "
    "ops-monitoring baseline at scale: profile table tiny and broadcast, fact "
    "side map-only.",
)
def a_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "events")
    dec = F.col("value").cast("decimal(18,6)")
    prof = e.groupBy(
        F.col("event_type").alias("ptype"), F.hour("ts").cast("bigint").alias("phod")
    ).agg(
        F.count("*").alias("n"),
        F.sum(dec).cast("string").cast("double").alias("s"),
        F.sum(dec * dec).cast("string").cast("double").alias("ssq"),
    )
    hod = F.hour("ts").cast("bigint")
    j = e.join(
        F.broadcast(prof),
        (F.col("event_type") == F.col("ptype")) & (hod == F.col("phod")),
    )
    mean = F.col("s") / F.col("n")
    z = (F.col("value") - mean) / F.sqrt(
        F.col("ssq") / F.col("n") - mean * mean + F.lit(1e-9)
    )
    return j.select(
        "event_id", "event_type", hod.alias("hod"), z.alias("anomaly_z")
    )


# --- Gini concentration index ----------------------------------------------


@query(
    "a_gini_concentration",
    oracle="""
    SELECT flag,
           (2e0 * CAST(CAST(sw AS VARCHAR) AS DOUBLE)
              / (n * CAST(CAST(s AS VARCHAR) AS DOUBLE))) - (n + 1e0) / n AS gini
    FROM (
      SELECT flag, COUNT(*) AS n,
             SUM(CAST(x AS DECIMAL(18,2))) AS s,
             SUM(rk * CAST(x AS DECIMAL(18,2))) AS sw
      FROM (
        SELECT l_returnflag AS flag, l_extendedprice AS x,
               ROW_NUMBER() OVER (PARTITION BY l_returnflag
                   ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rk
        FROM lineitem
      )
      GROUP BY flag
    )
    """,
    note="Gini concentration index per group — the standard rank formula "
    "G = 2*Σ(i·x_i)/(n·Σx) - (n+1)/n over ascending-ordered values. How "
    "concentrated is revenue across line items? (also the engine's 'how "
    "skewed is this key' meter: run it over per-key row counts before "
    "choosing a salting strategy). Both Σx and Σ(i·x_i) accumulate as "
    "DECIMAL (rank is exact BIGINT, so the products are exact), convert "
    "through strings, and the final expression is one shared IEEE sequence. "
    "One rank window + one grouped agg over the same partition key = one "
    "exchange.",
)
def a_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    ranked = _flag_ranked(li)
    dec = F.col("x").cast("decimal(18,2)")
    agg = ranked.groupBy("flag").agg(
        F.count("*").alias("n"),
        F.sum(dec).cast("string").cast("double").alias("s"),
        F.sum(F.col("rk") * dec).cast("string").cast("double").alias("sw"),
    )
    gini = (2.0 * F.col("sw") / (F.col("n") * F.col("s"))) - (
        (F.col("n") + 1.0) / F.col("n")
    )
    return agg.select("flag", gini.alias("gini"))


# --- Interpolated percentiles (percentile_cont semantics) ------------------


@query(
    "a_interpolated_percentiles",
    oracle=f"""
    WITH {_FLAG_RANK_DUCK}
    SELECT flag,
           lo50 + (0.5e0 * (n_ - 1) - floor(0.5e0 * (n_ - 1))) * (hi50 - lo50)
             AS p50_cont,
           lo95 + (0.95e0 * (n_ - 1) - floor(0.95e0 * (n_ - 1))) * (hi95 - lo95)
             AS p95_cont
    FROM (
      SELECT flag, MIN(n) AS n_,
             MIN(CASE WHEN rk = CAST(floor(0.5e0 * (n - 1)) AS BIGINT) + 1 THEN x END) AS lo50,
             MIN(CASE WHEN rk = CAST(ceil(0.5e0 * (n - 1)) AS BIGINT) + 1 THEN x END) AS hi50,
             MIN(CASE WHEN rk = CAST(floor(0.95e0 * (n - 1)) AS BIGINT) + 1 THEN x END) AS lo95,
             MIN(CASE WHEN rk = CAST(ceil(0.95e0 * (n - 1)) AS BIGINT) + 1 THEN x END) AS hi95
      FROM ranked GROUP BY flag
    )
    """,
    note="Interpolated percentiles — percentile_cont/numpy-linear semantics, "
    "stated explicitly: position h = p(n-1), answer = x[floor h] + frac(h) * "
    "(x[ceil h] - x[floor h]) over the tie-broken ascending order. Neither "
    "engine's builtin is used (their interpolation internals needn't agree "
    "bit-for-bit; this formula written once on each side must). Completes the "
    "quantile ladder: exact nearest-rank (a_exact_percentiles), histogram "
    "sketch (a_histogram_quantiles), and now continuous interpolation — same "
    "single rank-window exchange, conditional-MIN extraction of the two "
    "bracketing order statistics.",
)
def a_interpolated_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    ranked = _flag_ranked(li, group_count="n")

    # h = p(n-1) depends only on n, constant within the group
    agg = ranked.groupBy("flag").agg(
        F.max("n").alias("n_"),
        F.min(F.when(F.col("rk") == F.expr("CAST(floor(0.5 * (n - 1)) AS BIGINT) + 1"), F.col("x"))).alias("lo50"),
        F.min(F.when(F.col("rk") == F.expr("CAST(ceil(0.5 * (n - 1)) AS BIGINT) + 1"), F.col("x"))).alias("hi50"),
        F.min(F.when(F.col("rk") == F.expr("CAST(floor(0.95 * (n - 1)) AS BIGINT) + 1"), F.col("x"))).alias("lo95"),
        F.min(F.when(F.col("rk") == F.expr("CAST(ceil(0.95 * (n - 1)) AS BIGINT) + 1"), F.col("x"))).alias("hi95"),
    )
    h50 = F.lit(0.5) * (F.col("n_") - 1)
    h95 = F.lit(0.95) * (F.col("n_") - 1)
    return agg.select(
        "flag",
        (F.col("lo50") + (h50 - F.floor(h50)) * (F.col("hi50") - F.col("lo50"))).alias(
            "p50_cont"
        ),
        (F.col("lo95") + (h95 - F.floor(h95)) * (F.col("hi95") - F.col("lo95"))).alias(
            "p95_cont"
        ),
    )


# --- TPC-H Q12 shape: late-shipment CASE-sum over a join -------------------


@query(
    "a_q12_late_shipments",
    oracle="""
    SELECT l.l_linestatus,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE date_diff('day', CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE)) > 60
    GROUP BY l.l_linestatus
    """,
    note="TPC-H Q12 shape (the testdata has no l_shipmode/receiptdate, so "
    "'late' = shipped >60 days after order): conditional CASE-sums bucketing "
    "order priorities over the order-line join. The priority predicate lives "
    "INSIDE the aggregate (two counts, one pass), the lateness filter prunes "
    "before the join. Scale: one shuffle join on orderkey (co-partitioned / "
    "bucketed in a real layout), map-side combinable CASE-sums, |linestatus| "
    "output rows.",
)
def a_q12_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority", "o_orderdate")
    j = li.join(o, li.l_orderkey == o.o_orderkey).filter(
        F.datediff(F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date"))
        > 60
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return j.groupBy("l_linestatus").agg(
        F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
        F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
    )


# --- TPC-H Q14 shape: promo revenue share ----------------------------------


@query(
    "a_q14_promo_share",
    oracle="""
    SELECT month,
           100e0 * CAST(CAST(promo AS VARCHAR) AS DOUBLE)
                 / CAST(CAST(total AS VARCHAR) AS DOUBLE) AS promo_pct
    FROM (
      SELECT date_trunc('month', CAST(l.l_shipdate AS DATE)) AS month,
             SUM(CASE WHEN p.p_type = 'PROMO'
                      THEN CAST(l.l_extendedprice AS DECIMAL(18,2))
                           * CAST(1.0 - l.l_discount AS DECIMAL(5,2))
                      ELSE CAST(0 AS DECIMAL(24,4)) END) AS promo,
             SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                 * CAST(1.0 - l.l_discount AS DECIMAL(5,2))) AS total
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1
    )
    """,
    note="TPC-H Q14 shape: promotional revenue share per ship month. The "
    "part dimension broadcasts; both the promo-only and total revenue sums "
    "run as DECIMAL in ONE aggregate pass (the conditional sum is a CASE "
    "inside the same agg, not a second scan); the final ratio converts "
    "through strings and divides once in IEEE doubles. Scale: broadcast join "
    "+ single exchange on month — the canonical 'share of filtered subset' "
    "pattern without self-joining the fact table.",
)
def a_q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan_out: the broadcast join keeps the fact on the scan's single
    # real task; DECIMAL revenue products then ran serially (r13 opt).
    li = fan_out(
        T(spark, sf_dir, "lineitem").select(
            "l_partkey", "l_extendedprice", "l_discount", "l_shipdate"
        )
    )
    p = T(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1.0) - F.col("l_discount")
    ).cast("decimal(5,2)")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    agg = j.groupBy(
        F.date_trunc("month", F.col("l_shipdate").cast("date")).cast("date").alias("month")
    ).agg(
        F.sum(
            F.when(F.col("p_type") == "PROMO", rev).otherwise(
                F.lit(0).cast("decimal(24,4)")
            )
        ).alias("promo"),
        F.sum(rev).alias("total"),
    )
    return agg.select(
        "month",
        (
            F.lit(100.0)
            * F.col("promo").cast("string").cast("double")
            / F.col("total").cast("string").cast("double")
        ).alias("promo_pct"),
    )


# --- TPC-H Q19 shape: disjunctive multi-clause predicate join --------------


@query(
    "j_q19_disjunctive_pred",
    oracle="""
    SELECT CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                         * CAST(1.0 - l.l_discount AS DECIMAL(5,2))) AS VARCHAR)
                AS DOUBLE) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 20)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity BETWEEN 10 AND 35)
       OR (p.p_brand = 'Brand#5' AND p.p_size BETWEEN 20 AND 50
           AND l.l_quantity BETWEEN 20 AND 50)
    """,
    note="TPC-H Q19 shape: three disjunctive (brand, size-band, quantity-band) "
    "clauses over the part join — the query optimizers historically fumbled by "
    "not pushing the part-only predicate derivation through the OR. The "
    "engine keeps the join an equi-join on partkey (broadcast — the dimension "
    "is small) and leaves the disjunction as a post-join filter; Catalyst "
    "derives the part-side implied filter (brand IN (...)) and pushes it into "
    "the broadcast build, which .explain confirms via PushedFilters. One "
    "decimal revenue sum, one row out.",
)
def j_q19_disjunctive_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    p = T(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    clause = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(10, 35)
        )
        | (
            (F.col("p_brand") == "Brand#5")
            & F.col("p_size").between(20, 50)
            & F.col("l_quantity").between(20, 50)
        )
    )
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1.0) - F.col("l_discount")
    ).cast("decimal(5,2)")
    return j.filter(clause).agg(
        F.sum(rev).cast("string").cast("double").alias("revenue"),
        F.count("*").alias("n_lines"),
    )


# --- Benford first-digit audit ---------------------------------------------

# log10(1 + 1/d) spelled as literals: computing them via log() would tie
# parity to each engine's libm; constants are engine-independent.
_BENFORD = {
    1: 0.3010299956639812, 2: 0.17609125905568124, 3: 0.12493873660829993,
    4: 0.09691001300805642, 5: 0.07918124604762482, 6: 0.06694678963061322,
    7: 0.05799194697768673, 8: 0.05115252244738129, 9: 0.04575749056067514,
}


@query(
    "a_benford_deviation",
    oracle=f"""
    SELECT digit, n,
           CAST(n AS DOUBLE) / tot AS observed,
           CASE digit {' '.join(f"WHEN {d} THEN CAST('{p!r}' AS DOUBLE)" for d, p in _BENFORD.items())}
           END AS expected,
           abs(CAST(n AS DOUBLE) / tot
               - CASE digit {' '.join(f"WHEN {d} THEN CAST('{p!r}' AS DOUBLE)" for d, p in _BENFORD.items())} END)
             AS abs_dev
    FROM (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
                  AS BIGINT) AS digit,
             COUNT(*) AS n,
             SUM(COUNT(*)) OVER () AS tot
      FROM orders WHERE o_totalprice >= 1
      GROUP BY 1
    )
    """,
    note="Benford's-law first-digit audit over order totals — the classic "
    "fraud / synthetic-data smell test: observed first-digit shares vs the "
    "log10(1+1/d) expectation, per digit with absolute deviation. The "
    "expected frequencies are literal constants (computing log10 in-query "
    "would tie bit-parity to each engine's libm rounding); the first digit "
    "comes from integer-string slicing, not float math. One 9-row aggregate + "
    "an unpartitioned window over those 9 rows. Scale: map-side combinable "
    "count; nothing global but the 9-row total.",
)
def a_benford_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    # explicit floor: DuckDB's double->BIGINT cast rounds, Spark's truncates
    digit = F.substring(
        F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
    ).cast("bigint")
    counts = o.groupBy(digit.alias("digit")).agg(F.count("*").alias("n"))
    w = Window.partitionBy()
    expected = F.element_at(
        F.create_map(
            *[x for d, p in _BENFORD.items() for x in (F.lit(d), F.lit(p))]
        ),
        F.col("digit").cast("int"),
    )
    out = counts.withColumn("tot", F.sum("n").over(w))
    obs = F.col("n").cast("double") / F.col("tot")
    return out.select(
        "digit",
        "n",
        obs.alias("observed"),
        expected.alias("expected"),
        F.abs(obs - expected).alias("abs_dev"),
    )


# --- Activity streaks (gaps-and-islands on calendar days) ------------------


@query(
    "w_activity_streaks",
    oracle="""
    SELECT user_id, MAX(streak_len) AS max_streak, COUNT(*) AS n_streaks
    FROM (
      SELECT user_id, grp, COUNT(*) AS streak_len
      FROM (
        SELECT user_id, day,
               CAST(day AS DATE) - CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                   ORDER BY day) AS INTEGER) AS grp
        FROM (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events)
      )
      GROUP BY user_id, grp
    )
    GROUP BY user_id
    """,
    note="Longest consecutive-day activity streak per user — the canonical "
    "gaps-and-islands idiom: distinct active days, then (day - row_number) is "
    "constant exactly within a consecutive run, so grouping by that anchor "
    "date yields streaks without any self-join or iteration. Three stages, "
    "ALL partitioned by user_id → a single exchange serves the dedup, the "
    "rank window, and both aggregations. Integer date arithmetic only. This "
    "is the retention-adjacent op (see a_retention_cohorts) product teams ask "
    "for daily; at 100 TB the user_id hash partitioning is the whole story.",
)
def w_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = (
        T(spark, sf_dir, "events")
        .select("user_id", F.col("ts").cast("date").alias("day"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("day")
    grp = F.date_sub(F.col("day"), F.row_number().over(w))
    streaks = (
        e.withColumn("grp", grp)
        .groupBy("user_id", "grp")
        .agg(F.count("*").alias("streak_len"))
    )
    return streaks.groupBy("user_id").agg(
        F.max("streak_len").alias("max_streak"),
        F.count("*").alias("n_streaks"),
    )
