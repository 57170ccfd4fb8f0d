"""Round-9 additions.

- j_similarity_ppjoin_pos: the PPJoin POSITIONAL filter on top of the
  round-5 prefix filter — the pruning stage the round-9 similarity
  scale study (SCALE.md) names as the closed-vocabulary mitigation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from banksy_spark.suite.registry import T, query
from banksy_spark.suite.round5c import (
    _SHINGLE_DUCK,
    _TAU_DEN,
    _TAU_NUM,
    _shingle_sets,
)


@query(
    "j_similarity_ppjoin_pos",
    oracle=f"""
    WITH {_SHINGLE_DUCK}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
             AS jaccard
    FROM sets a JOIN sets b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.6
    """,
    note="PPJoin positional filter (Xiao et al. WWW'08) over the round-5 "
    "prefix filter: prefix tokens carry their POSITION in the doc's "
    "df-ordered shingle list, and for each candidate pair only the "
    "EARLIEST prefix-prefix match (i*, j*) matters — both lists share "
    "one global (df, token) total order, so every shared token sits at "
    "positions >= i* in a and >= j* in b (a shared token before i* "
    "would itself be an earlier prefix-prefix match), giving the "
    "lossless overlap bound ubound = 1 + min(n_a - i*, n_b - j*). "
    "Pairs with ubound < alpha = ceil(tau/(1+tau) * (n_a+n_b)) "
    "(integer form: (3(n_a+n_b)+7) div 8 for tau=3/5, exact since "
    "J >= tau <=> overlap >= alpha) are pruned BEFORE the exact "
    "verify — measured 61-65% fewer exact verifications and 2.3-3.5x "
    "lower wall time than j_similarity_prefix_join on the "
    "closed-vocabulary scale fixtures (tools/bench_simjoin_scale.py, "
    "SCALE.md round-9 section) where every token is frequent and the "
    "plain prefix filter is at its worst. Same brute-force O(n^2) "
    "oracle: the composition must stay exact. Scale: identical "
    "shuffle structure to the prefix join (token-keyed candidates, "
    "broadcast-free, never all-pairs) — the positional test runs PER "
    "MATCH ROW before the pair-dedup exchange (lossless: a pair's "
    "earliest match carries its largest ubound, so the pair survives "
    "row filtering iff PPJoin's pair test passes), dropping match rows "
    "map-side; the filter adds no new exchange and SHRINKS the "
    "existing one.",
)
def j_similarity_ppjoin_pos(spark: SparkSession, sf_dir: str) -> DataFrame:
    sets = _shingle_sets(spark, sf_dir).withColumn("n", F.size("sh")).persist()
    toks = sets.select("doc_id", "n", F.explode("sh").alias("tok"))
    df_tok = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    ranked = toks.join(df_tok, "tok")
    prefix_len = F.col("n") - F.floor(
        (F.lit(_TAU_NUM) * F.col("n") + F.lit(_TAU_DEN - 1)) / F.lit(_TAU_DEN)
    ) + 1
    w = Window.partitionBy("doc_id").orderBy("df", "tok")
    prefix = (
        ranked.withColumn("pos", F.row_number().over(w))
        .filter(F.col("pos") <= prefix_len)
        .select("doc_id", "n", "pos", F.xxhash64("tok").alias("tok"))
    )
    # positional filter PER MATCH ROW, before the pair dedup: for a
    # match at (ia, jb), ubound = 1 + min(n_a - ia, n_b - jb); the
    # EARLIEST match of a pair has the LARGEST ubound (ubound falls as
    # positions grow), so per-row pruning keeps a pair iff its earliest
    # match passes — exactly PPJoin's pair-level test — while shrinking
    # the dedup exchange map-side instead of shuffling every candidate
    # row into a min-struct aggregate first (the x10 fixture's 23.7M
    # match rows drop before the wire, not after).
    # alpha = ceil(tau/(1+tau)(n_a+n_b)); with tau = NUM/DEN that is
    # ceil(NUM(n_a+n_b)/(NUM+DEN)) = (NUM(n_a+n_b)+NUM+DEN-1) div
    # (NUM+DEN) — derived from the SAME shared constants as prefix_len
    # and the length filter, so retuning tau in round5c retunes the
    # positional prune losslessly with it (round-9 ADVICE).
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), "tok")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .filter(
            F.lit(_TAU_NUM) * F.greatest(F.col("a.n"), F.col("b.n"))
            <= F.lit(_TAU_DEN) * F.least(F.col("a.n"), F.col("b.n"))
        )
        .filter(
            F.lit(1)
            + F.least(
                F.col("a.n") - F.col("a.pos"), F.col("b.n") - F.col("b.pos")
            )
            >= F.floor(
                (
                    F.lit(_TAU_NUM) * (F.col("a.n") + F.col("b.n"))
                    + F.lit(_TAU_NUM + _TAU_DEN - 1)
                )
                / F.lit(_TAU_NUM + _TAU_DEN)
            )
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    # r14 opt: shared pinned-width exact verify — see _verify_pairs
    # (the positional filter above has already pruned the pair set;
    # the verify-stage parallelism fix applies identically).
    from banksy_spark.suite.round5c import _verify_pairs

    return _verify_pairs(spark, cand, sets)


# --- Streaming Bollinger twin ------------------------------------------------

from banksy_spark.suite.round5o import _BB_WIN, _BOLLINGER_DUCK, _daily  # noqa: E402


@query(
    "stream_bollinger_stateful",
    oracle=_BOLLINGER_DUCK,
    note=f"Bollinger bands, CUSTOM-STATEFUL form: the batch replay of "
    "streaming/stateful.py:bollinger, the bollinger step kernel "
    "(operators/folds.py) the same function runs on a stream "
    f"(state = last {_BB_WIN - 1} integer "
    "observations per series) — completes the streaming-twin arc of "
    "the rolling-diagnostics family (EWMA, SPRT, CUSUM, rolling-corr, "
    "now Bollinger). Verified against the SAME window-form oracle as "
    "w_bollinger_bands: Python-int moments ≡ the DECIMAL(38,0) sums, "
    "identical IEEE tail (correctly-rounded int→double, sqrt, same "
    "operation order), so stream, replay and window query are "
    "bit-identical; the cross-micro-batch contract is "
    "tests/test_streaming.py. Scale: daily grain upstream, few "
    "calendar-bounded series keys; the replay holds one Arrow batch "
    "at a time.",
)
def stream_bollinger_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    from banksy_spark.streaming.stateful import bollinger

    # _daily's day is a session-UTC timestamp (midnight) — route it
    # through the fold as its canonical string and restore the SAME
    # type on the way out so the twin's schema matches the window form
    daily = _daily(spark, sf_dir).select(
        "pri", F.col("day").cast("string").alias("day"), "cents"
    )
    return bollinger(daily, window=_BB_WIN).select(
        "pri",
        F.col("day").cast("timestamp").alias("day"),
        "cents",
        "mid",
        "lower_band",
        "upper_band",
        "breakout_up",
    )
