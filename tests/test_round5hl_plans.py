"""Plan assertions for the round-5h..5l operators: single fact scans,
fused pipeline exchanges, no quadratic joins."""

from __future__ import annotations

import re

from tests.conftest import SF_SMOKE


def _plan(spark, name: str) -> str:
    from banksy_spark.suite import REGISTRY

    df = REGISTRY[name].fn(spark, SF_SMOKE)
    return df._jdf.queryExecution().executedPlan().toString()


def test_survival_km_single_events_scan(spark):
    plan = _plan(spark, "a_survival_km")
    assert len(re.findall(r"FileScan parquet [^\n]*events", plan)) == 1
    assert "MapInPandas" in plan  # one bounded fold pass, no explode


def test_gini_split_one_pass_over_orders(spark):
    plan = _plan(spark, "ml_gini_split")
    # all nine thresholds from ONE orders scan (broadcast cross of the
    # 9-row literal is the only duplication)
    assert len(re.findall(r"FileScan parquet [^\n]*orders", plan)) == 1
    assert "CartesianProduct" not in plan


def test_roc_auc_no_join(spark):
    # round 7: tie groups collapse into a per-score aggregate BEFORE
    # any sort (checkpointed — the returned plan reads the materialized
    # RDD, hence ≤1 visible orders scan), and the literal-map ordinal
    # pass over the distinct-score frame adds no join and no
    # single-partition window anywhere.
    from banksy_spark.suite import REGISTRY
    from tests.conftest import SF_SMOKE

    df = REGISTRY["ml_roc_auc"].fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert len(re.findall(r"FileScan parquet [^\n]*orders", plan)) <= 1
    assert not re.search(
        r"Window[^\n]*\n[^\n]*Sort[^\n]*\n[^\n]*Exchange SinglePartition", plan
    )


def test_changepoint_binseg_one_window_pass(spark):
    plan = _plan(spark, "a_changepoint_binseg")
    # all n-1 candidate splits from one series exchange; no rescans
    assert len(re.findall(r"FileScan parquet [^\n]*orders", plan)) == 1
    assert "Join" not in plan


def test_sequence_ab_collapses_before_pair_join(spark):
    plan = _plan(spark, "a_sequence_ab")
    # the per-user pair join must sit ABOVE the (user, type) aggregate
    join_pos = plan.find("Join")
    aggs = [m.start() for m in re.finditer(r"HashAggregate", plan)]
    assert join_pos >= 0 and any(p > join_pos for p in aggs)


def test_e2e_prepare_single_scan_three_keyed_exchanges(spark):
    from tests.conftest import visible_plan

    plan = visible_plan(_plan(spark, "llm_e2e_prepare"))
    assert len(re.findall(r"FileScan parquet [^\n]*documents", plan)) == 1
    # Fact-scale exchanges: source-cap, content-hash, and lang-split
    # windows — one each.  The two extra hash exchanges both carry the
    # ≤|groups|·(2n+1)-row persisted directory (its exclusive-prefix
    # regroup and per-group total), not the corpus.
    n_exch = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_exch <= 5, f"expected <=5 keyed exchanges, saw {n_exch}"
    # the only join is the broadcast of the persisted directory offsets
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_ddsketch_single_scan_small_agg(spark):
    plan = _plan(spark, "a_ddsketch_log2")
    assert len(re.findall(r"FileScan parquet [^\n]*orders", plan)) == 1
    assert "Join" not in plan
    # map-side partial agg before the bucket exchange
    assert len(re.findall(r"HashAggregate", plan)) >= 2


def test_calibration_and_lift_single_scan(spark):
    for name in ("ml_calibration_bins", "ml_lift_gains"):
        plan = _plan(spark, name)
        # in-plan ordinals: <=4 static subtrees (main + directory
        # self-join sides + grand total) over ONE reused bucket
        # exchange (see test_roc_auc_no_join), broadcast-only joins
        assert len(re.findall(r"FileScan parquet [^\n]*orders", plan)) <= 4
        assert "SortMergeJoin" not in plan


def test_2hop_thinned_filter_reaches_scan(spark):
    plan = _plan(spark, "j_graph_2hop_recs")
    # the 1-in-23 thinning must prune at the orders scan, not post-join
    assert re.search(r"DataFilters: \[.*o_orderkey", plan)
    assert "CartesianProduct" not in plan
