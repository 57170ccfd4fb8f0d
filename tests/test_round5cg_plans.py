"""Plan assertions for the round-5c..5g operators: the scale postures
the notes claim (shared exchanges, broadcast probes, pre-join pruning,
fold-not-quadratic shapes) must hold in the physical plan.
"""

from __future__ import annotations

import re

from tests.conftest import SF_SMOKE


def _plan(spark, name: str) -> str:
    from banksy_spark.suite import REGISTRY

    df = REGISTRY[name].fn(spark, SF_SMOKE)
    return df._jdf.queryExecution().executedPlan().toString()


def test_prefix_join_no_cartesian_and_verify_joins(spark):
    plan = _plan(spark, "j_similarity_prefix_join")
    assert "CartesianProduct" not in plan
    # candidate generation + two verify joins, all equi-joins
    assert "BroadcastNestedLoopJoin" not in plan


def test_fuzzy_join_single_customer_scan_per_side(spark):
    plan = _plan(spark, "j_fuzzy_edit1_join")
    # two posting sides from the customer scan; never quadratic
    assert "CartesianProduct" not in plan


def test_interpolate_one_exchange_two_frames(spark):
    plan = _plan(spark, "w_linear_interpolate")
    # ffill + bfill windows share ONE user_id exchange
    n_exch = len(re.findall(r"Exchange hashpartitioning\(user_id", plan))
    assert n_exch == 1, f"expected 1 user_id exchange, saw {n_exch}"
    assert len(re.findall(r"\bWindow\b", plan)) >= 1


def test_asof_nearest_no_quadratic_join(spark):
    plan = _plan(spark, "j_asof_nearest")
    # the union+window form must not join errors to purchases at all
    assert "Join" not in plan
    assert "Union" in plan


def test_holt_single_fold_exchange(spark):
    plan = _plan(spark, "w_holt_linear")
    # one series-key exchange for the fold; no window per row
    assert "CartesianProduct" not in plan
    assert "MapInPandas" in plan  # one bounded fold pass, no explode


def test_capped_sessions_fold_shape(spark):
    plan = _plan(spark, "w_capped_sessions")
    n_exch = len(re.findall(r"Exchange hashpartitioning\(user_id", plan))
    assert n_exch == 1, f"expected 1 user_id exchange, saw {n_exch}"
    assert "MapInPandas" in plan


def test_rolling_median_single_window_pass(spark):
    plan = _plan(spark, "w_rolling_median_7")
    n_exch = len(re.findall(r"Exchange hashpartitioning\(user_id", plan))
    assert n_exch == 1
    assert len(re.findall(r"\bWindow\b", plan)) == 1


def test_ltv_cohort_broadcasts(spark):
    plan = _plan(spark, "a_ltv_cumulative")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_funnel_within_prunes_before_aggregate(spark):
    plan = _plan(spark, "w_funnel_within")
    # event_type filters reach the scans
    assert re.search(r"DataFilters: \[.*event_type", plan)
    assert "CartesianProduct" not in plan


def test_keywords_topk_window_after_join(spark):
    plan = _plan(spark, "llm_keywords_tfidf")
    assert "Window" in plan
    assert "CartesianProduct" not in plan


def test_phrase_search_filters_postings_before_join(spark):
    plan = _plan(spark, "llm_phrase_search")
    # the term filters must prune the exploded postings before the
    # adjacency join (Filter below Join in the printed tree)
    assert "CartesianProduct" not in plan
    join_pos = plan.find("Join")
    assert join_pos >= 0
    assert re.search(r"Filter [^\n]*(term|t#)", plan[join_pos:])


def test_control_chart_broadcast_stats_one_series_exchange(spark):
    plan = _plan(spark, "w_control_chart")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_largest_remainder_no_fact_rescan(spark):
    plan = _plan(spark, "a_largest_remainder")
    # customer scanned exactly once; everything after is |groups|-sized
    assert len(re.findall(r"FileScan parquet [^\n]*customer", plan)) == 1


def test_skew_report_single_fact_scan(spark):
    # round 6: the key-count aggregate is localCheckpoint-ed before the
    # ordinal ranking (sampled + counted + ranked from ONE aggregation),
    # so the main plan reads the checkpoint, scans lineitem at most
    # once, and ranks with no single-partition window
    plan = _plan(spark, "dq_skew_report")
    assert len(re.findall(r"FileScan parquet [^\n]*lineitem", plan)) <= 1
    assert not re.search(
        r"Window[^\n]*\n[^\n]*Sort[^\n]*\n[^\n]*Exchange SinglePartition", plan
    )


def test_domain_cap_topk_window(spark):
    plan = _plan(spark, "llm_domain_cap")
    assert "Window" in plan
    n_exch = len(re.findall(r"Exchange hashpartitioning\(source", plan))
    assert n_exch == 1


def test_similarity_verify_stage_pinned_width(spark):
    # r14: the exact-Jaccard verify joins in both similarity-join
    # queries sit on user-specified repartitions of the candidate-pair
    # table (REPARTITION_BY_NUM) so AQE's byte-based coalescing cannot
    # collapse the small-bytes/high-CPU verify stage back to ~1 task.
    for name in ("j_similarity_prefix_join", "j_similarity_ppjoin_pos"):
        plan = _plan(spark, name)
        assert re.search(
            r"Exchange hashpartitioning\(doc_b[^\n]*REPARTITION_BY_NUM", plan
        ), f"{name}: verify join lost its pinned doc_b exchange"


def test_semantic_pair_stage_pinned_width(spark):
    # r14: both sides of the within-cluster pair join are repartitioned
    # on the exact join keys (cluster, _salt) at defaultParallelism —
    # the exchange the join needs anyway, pinned against AQE coalescing.
    plan = _plan(spark, "llm_dedup_semantic")
    hits = re.findall(
        r"Exchange hashpartitioning\(cluster[^\n]*_salt[^\n]*REPARTITION_BY_NUM",
        plan,
    )
    assert len(hits) >= 2, f"expected 2 pinned pair exchanges, saw {len(hits)}"


def test_basket_set_build_pinned_width(spark):
    # r14: the per-order set build + pair explode must hang off a
    # user-specified orderkey repartition (REPARTITION_BY_NUM), not an
    # AQE-coalescible ENSURE_REQUIREMENTS exchange.
    for name in ("j_basket_pairs", "j_basket_lift"):
        plan = _plan(spark, name)
        assert re.search(
            r"Exchange hashpartitioning\(l_orderkey[^\n]*REPARTITION_BY_NUM", plan
        ), f"{name}: set-build exchange lost its pinned width"


def test_dq_constraint_single_pinned_key_exchange(spark):
    # r14: exactly one exchange on the dedup key (pinned), not a
    # pinned + ENSURE_REQUIREMENTS pair (the concat_ws-expression
    # mismatch regression) and not the coalescible original.
    plan = _plan(spark, "dq_constraint_report")
    pinned = len(re.findall(r"Exchange hashpartitioning\(_k[^\n]*REPARTITION_BY_NUM", plan))
    ensure = len(re.findall(r"Exchange hashpartitioning\(_k[^\n]*ENSURE_REQUIREMENTS", plan))
    assert pinned == 1 and ensure == 0, f"pinned={pinned} ensure={ensure}"


def test_lsh_sigs_materialized_once(spark):
    # r14: _lsh_sigs is eagerly checkpointed, so consumers read the
    # stored sig table (ExistingRDD) and the plan contains NO documents
    # scan — the MinHash cannot be recomputed per subtree.
    plan = _plan(spark, "llm_dedup_minhash_lsh")
    assert "ExistingRDD" in plan
    assert "documents" not in plan, "consumer re-derives sigs from the raw scan"
