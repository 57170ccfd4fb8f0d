"""Round-10 additions: the two remaining sequential-stat streaming
twins (round-9 verdict item 6).

- stream_capped_balance_stateful: the keyed-state saturating token
  bucket — w_capped_running_sum's clamp recurrence run from ONE double
  of state per user (the classic streaming primitive: rate limiters,
  inventory levels, prepaid balances).
- stream_markov_stateful: first-order transition matrix computed from
  per-user last-event state — stream_markov_transitions' lead() stage
  made state-incremental (one string of state per user), with the
  count/normalize tail an ordinary associative aggregation.

Both follow the round-9 Bollinger discipline — the state store form
(applyInPandasWithState, cross-micro-batch pytest), the batch replay
(registered here), and the window-form DuckDB oracle are all
bit-identical. Each is one function in streaming/stateful.py around a
step kernel of operators/folds.py, whose ``fold`` runs a stream with
the state store and the batch replay as repartition +
sortWithinPartitions + mapInPandas (not per-group applyInPandas, whose invocation
overhead dominated at ~1.5k users: 3.25→0.75 s and 3.17→1.08 s at
sf0.1). State carried across Arrow batches within a user-hashed
sorted partition is exactly the state the store carries across
micro-batches, and the three-SF oracle sweep plus the stream==batch
pytests pin all three forms equal.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from banksy_spark.suite.registry import T, query
from banksy_spark.suite.round4 import _CAPPED_DUCK, _MARKOV_DUCK
from banksy_spark.suite.round8 import (
    _CONT_MIN_CAND,
    _containment_oracle,
    _containment_pairs,
)


@query(
    "stream_capped_balance_stateful",
    oracle=_CAPPED_DUCK,
    note="Capped running sum, CUSTOM-STATEFUL form: the batch replay "
    "of streaming/stateful.py:capped_balance "
    "(on a stream, state = ONE double per user — the clamp "
    "saturates, so unlike every windowed twin no buffer is needed; "
    "this is the token-bucket/inventory-balance primitive). Verified "
    "against the SAME list_reduce oracle as w_capped_running_sum: the "
    "fold applies one IEEE add then min/max per event in the oracle's "
    "operation order, so stream, replay and the window-collect form "
    "are bit-identical; the cross-micro-batch contract is "
    "tests/test_streaming.py. Stream and replay are ONE function; on a "
    "bounded frame operators/folds.py:fold drives its step kernel with "
    "repartition+sortWithinPartitions+mapInPandas (per-group "
    "applyInPandas invocation overhead dominated at ~1.5k users — "
    "3.25 s vs 1.2 s at sf0.1 — while the Python fold itself is "
    "~30 ms/200k rows). "
    "Scale: state is O(active users) doubles, traffic shuffles once "
    "on user_id — strictly cheaper than the batch form's "
    "collect_list frame.",
)
def stream_capped_balance_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    from banksy_spark.streaming.stateful import capped_balance

    return capped_balance(T(spark, sf_dir, "events"))


@query(
    "stream_markov_stateful",
    oracle=_MARKOV_DUCK,
    note="Markov transition matrix, CUSTOM-STATEFUL form: the batch "
    "replay of streaming/stateful.py:"
    "markov_pairs (on a stream, state = the last "
    "event_type per user and whether it has one) emits each event's "
    "(prev, cur) pair, dropping pairs whose cur is NULL — "
    "exactly lead() over the per-user total order, computed "
    "incrementally — and the count/row-normalize tail is an ordinary "
    "associative aggregation (streamable in update mode with no "
    "further state). Verified against the SAME lead()-window oracle "
    "as stream_markov_transitions; integer counts and one "
    "BIGINT/BIGINT->DOUBLE division, bit-exact. Stream and replay are "
    "ONE function, run through operators/folds.py:fold like "
    "capped_balance. Scale: "
    "state is one string per active user; pair traffic shuffles once "
    "on user_id then aggregates map-side onto the tiny |types|^2 "
    "matrix.",
)
def stream_markov_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    from banksy_spark.streaming.stateful import markov_pairs

    pairs = markov_pairs(T(spark, sf_dir, "events"))
    cnt = pairs.groupBy("from_type", "to_type").agg(F.count("*").alias("n"))
    from pyspark.sql import Window

    wn = Window.partitionBy("from_type")
    return cnt.select(
        "from_type",
        "to_type",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(wn)).alias("p"),
    )


@query(
    "llm_dedup_containment_g5",
    oracle=_containment_oracle(
        """sh AS (
      SELECT DISTINCT doc_id,
             md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' '
                 || w[i+3] || ' ' || w[i+4]) AS h
      FROM w, unnest(generate_series(1, len(w) - 4)) AS t(i)
    )""",
        _CONT_MIN_CAND,
    ),
    note="Containment dedup over word 5-shingles — the MEASURED scale "
    "path for the containment family (round-9 verdict item 4; docs "
    "under 5 words are out of scope by construction, same as the "
    "3-gram form excludes under-3-word docs). The round-10 scale study "
    "(tools/bench_simjoin_scale.py, SCALE.md) settles the lever "
    "question empirically: k=3 min-hash banding "
    "(llm_dedup_containment_k3) is a RECALL dial — ~4x the candidates "
    "for +13-15% result pairs, never cheaper at any measured size in "
    "either vocabulary regime — while LENGTHENING the shingle is the "
    "COST dial: 5-gram single-min-hash candidates are near-LINEAR in "
    "corpus size (closed-vocab 158/441/2,239 at 5k/15k/50k docs vs "
    "10k/90k/963k for 3-gram, a 430x cut at 50k; Heaps-law regime "
    "301/1,257/7,487 vs 55k/331k/2.84M) because the 5-gram key space "
    "is vast in ANY vocabulary, so the global-minimum hash barely "
    "concentrates. Identical plan shape to llm_dedup_containment "
    "(min-hash bucket candidates, exact intersection only over "
    "candidates, integer tau=4/5 gate) — at 100 TB run THIS form, and "
    "add k-min banding on top only where recall is worth 4x "
    "verification.",
)
def llm_dedup_containment_g5(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _containment_pairs(spark, sf_dir, n=5, k=1)


# --- k-core decomposition (fixed-depth peeling) ------------------------------

_KCORE_K = 16    # minimum degree to survive
_KCORE_R = 4     # peel rounds; measured fixpoint depth is <= 2 at every
                 # tested SF (sf0.001/0.01/0.1), so 4 is a proven-converged
                 # budget the oracle mirrors exactly — extra rounds are
                 # no-ops once the core stabilizes


def _kcore_round_duck(i: int) -> str:
    # AS MATERIALIZED is load-bearing: DuckDB INLINES plain CTEs, and
    # each round references the previous one twice (degree pass + edge
    # filter), so an un-materialized 4-round chain re-evaluates p0
    # ~2^4 times — at sf0.1 that blew past 78 GB of temp spill before
    # failing. Materializing forces single evaluation per round, the
    # same per-round lineage cut the Spark plan makes.
    prev = f"p{i - 1}"
    return f"""
    k{i} AS MATERIALIZED (
      SELECT n FROM (
        SELECT n, COUNT(*) AS d FROM (
          SELECT a AS n FROM {prev} UNION ALL SELECT b FROM {prev}
        ) GROUP BY n
      ) WHERE d >= {_KCORE_K}
    ),
    p{i} AS MATERIALIZED (
      SELECT a, b FROM {prev}
      WHERE a IN (SELECT n FROM k{i}) AND b IN (SELECT n FROM k{i})
    )"""


@query(
    "graph_kcore",
    oracle=f"""
    WITH p0 AS MATERIALIZED (
      SELECT DISTINCT o.o_custkey * 2 AS a, l.l_partkey * 2 + 1 AS b
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    {",".join(_kcore_round_duck(i) for i in range(1, _KCORE_R + 1))}
    SELECT n AS node, CAST(d AS BIGINT) AS core_deg
    FROM (
      SELECT n, COUNT(*) AS d FROM (
        SELECT a AS n FROM p{_KCORE_R} UNION ALL SELECT b FROM p{_KCORE_R}
      ) GROUP BY n
    ) WHERE d >= {_KCORE_K}
    """,
    note=f"k-core decomposition (k={_KCORE_K}) of the bipartite "
    "customer-part graph from orders x lineitem: iteratively peel "
    "every node with degree < k until the surviving subgraph is "
    "degree->=k-everywhere — THE standard cohesion primitive for "
    "fraud rings, engaged-community extraction, and graph-pruning "
    f"before expensive downstream ops. Same fixed-depth-lazy-plan "
    "design as graph_pagerank (suite/round4.py): no driver loop "
    f"actions, {_KCORE_R} peel rounds chained as one declarative plan, "
    "and the oracle is the identical integer recurrence as chained "
    "CTEs — exact because peeling is monotone (each round's survivor "
    "set only shrinks) and the measured fixpoint depth at every "
    "tested SF is <= 2, so round counts beyond it are no-ops and the "
    "fixed budget IS the fixpoint (tools-prototyped: customer-part "
    "degrees min/med/max 1/32/105 at sf0.1; the 16-core keeps 34,527 "
    "of 34,919 nodes there). Scale: each round is one degree "
    "aggregation (explode + groupBy on node) and two hash semi-joins "
    "on node id — all key-partitioned, no all-pairs, no driver "
    "collects; per-round frames are lineage-cut exactly like "
    "connected components so round r never replays rounds 1..r-1.",
)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    e = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("a"),
            (F.col("l_partkey") * 2 + 1).alias("b"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    # r14 trial, REVERTED: a fixpoint early-exit (peeling is monotone,
    # so an unchanged per-round edge COUNT proves convergence and the
    # remaining rounds are no-ops — output provably identical). It
    # measured WORSE at sf0.1 despite skipping 1-2 no-op rounds:
    # min-of-5 fn+noop 2.66 s lazy-4-rounds vs 3.21 s with counts
    # (3.16 s with the pre-loop count elided) — each round's count is
    # an eager materialization barrier, while the fully-lazy chain
    # lets AQE overlap the tiny per-round stage jobs. At real scale a
    # deployment tunes _KCORE_R (or adds the count probe, whose one
    # extra pass per round is then amortized by skipped full passes);
    # locally the fixed lazy budget wins, so it stays.
    for _ in range(_KCORE_R):
        deg = (
            e.select(F.col("a").alias("n"))
            .unionAll(e.select(F.col("b").alias("n")))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        keep = deg.filter(F.col("d") >= _KCORE_K).select("n")
        e = (
            e.join(keep.withColumnRenamed("n", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("n", "b"), "b", "left_semi")
            .select("a", "b")
            .localCheckpoint(eager=False)
        )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("core_deg"))
    )
    return deg.filter(F.col("core_deg") >= _KCORE_K).select(
        "node", F.col("core_deg").cast("bigint").alias("core_deg")
    )
