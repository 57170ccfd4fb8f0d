"""Semantic + plan checks for the round-3 scale-technique operators
(suite.scale_ops). Oracle parity is covered by tools/check.py; these
tests pin the properties the oracle can't see: the bloom filter really
prunes before the join, the PPS draw hits its exact quota, the HLL
registers merge, and the gap-fill spine is hole-free.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def test_bloom_join_broadcasts_and_prunes(spark):
    from banksy_spark.suite import REGISTRY
    from banksy_spark.suite.registry import T
    from banksy_spark.suite.scale_ops import _bloom_pos

    plan = (
        REGISTRY["j_bloom_prune_join"]
        .fn(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the two bloom word-table probes are broadcast joins
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan

    # the bit test genuinely prunes: rebuild the bloom and count survivors
    o = (
        T(spark, SF_SMOKE, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    keys = {r[0] for r in o.collect()}
    li = T(spark, SF_SMOKE, "lineitem").select("l_orderkey")
    total = li.count()
    matching = li.filter(F.col("l_orderkey").isin(keys)).count()
    survivors = (
        REGISTRY["j_bloom_prune_join"].fn(spark, SF_SMOKE).agg(F.sum("n_items")).collect()[0][0]
    )
    # exactness: the final join output equals the true match count
    assert survivors == matching
    assert matching < total  # the filter has something to prune


def test_pps_quota_exact_per_stratum(spark):
    from banksy_spark.suite import REGISTRY
    from banksy_spark.suite.scale_ops import _PPS_K

    rows = REGISTRY["llm_sample_pps"].fn(spark, SF_SMOKE).groupBy("lang").count().collect()
    assert rows, "no strata sampled"
    for r in rows:
        assert r["count"] == _PPS_K, f"lang {r['lang']} drew {r['count']} != {_PPS_K}"


def test_hll_registers_merge_and_estimate_brackets_truth(spark):
    from banksy_spark.suite import REGISTRY
    from banksy_spark.suite.llm import _POLY_SPARK
    from banksy_spark.suite.registry import T
    from banksy_spark.suite.scale_ops import _HLL_M, _rho_case

    out = REGISTRY["llm_distinct_sketch_hll"].fn(spark, SF_SMOKE).collect()
    assert len(out) == _HLL_M
    est = out[0]["est_distinct"]
    truth = out[0]["true_distinct"]
    # 64 registers give ~13% standard error; 2x brackets are generous
    assert truth / 2 <= est <= truth * 2

    # mergeability: per-language registers max-merged == global registers
    d = T(spark, SF_SMOKE, "documents")
    hv = d.select("lang", F.explode(F.split("text", " ")).alias("tok")).select(
        "lang", F.expr(_POLY_SPARK.format(s="tok")).alias("hv")
    )
    rho = F.expr(_rho_case(f"(hv DIV {_HLL_M})"))
    per_lang = hv.groupBy("lang", (F.col("hv") % _HLL_M).alias("bucket")).agg(
        F.max(rho).alias("r")
    )
    merged = {
        r["bucket"]: r["r"]
        for r in per_lang.groupBy("bucket").agg(F.max("r").alias("r")).collect()
    }
    global_regs = {r["bucket"]: r["r"] for r in out if r["r"] > 0}
    assert merged == global_regs


def test_gap_fill_spine_is_hole_free_and_ffilled(spark):
    from banksy_spark.suite import REGISTRY

    out = REGISTRY["w_gap_fill_resample"].fn(spark, SF_SMOKE)
    per_user = out.groupBy("user_id").agg(
        F.count("*").alias("n"),
        (F.datediff(F.max("day"), F.min("day")) + 1).alias("span"),
        F.sum(F.col("is_gap").cast("int")).alias("n_gaps"),
    )
    bad = per_user.filter(F.col("n") != F.col("span")).count()
    assert bad == 0, "calendar spine has holes or duplicates"
    assert per_user.filter(F.col("n_gaps") > 0).count() > 0, "fixture has no gaps to fill"
    # every gap row carries a non-null forward-filled value (first day is never a gap)
    assert out.filter(F.col("is_gap") & F.col("value_ffill").isNull()).count() == 0


def test_incremental_view_merge_handles_disjoint_groups(spark):
    from banksy_spark.suite import REGISTRY
    from banksy_spark.suite.registry import T

    # groups touched by only one side of the merge still come out right:
    # compare against a direct single-pass aggregate
    e = T(spark, SF_SMOKE, "events")
    direct = (
        e.groupBy(F.to_date("ts").alias("day"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("value_sum"),
        )
    )
    merged = REGISTRY["a_incremental_view"].fn(spark, SF_SMOKE)
    assert merged.exceptAll(direct).count() == 0
    assert direct.exceptAll(merged).count() == 0


def test_cc_converges_where_fixed_budget_under_merges(spark, monkeypatch):
    """The judge-mandated counterexample (VERDICT r4 #1): a 64-node
    chain dup-graph has min-label eccentricity 63, so a fixed 6-round
    min-label propagation provably under-merges it, while the
    convergence-guaranteed large-star/small-star operator resolves it
    exactly (oracle: transitive closure = everything labels to node 0).
    Ids are adversarially permuted so pointer-jumping-style shortcuts
    can't accidentally rescue the bounded form."""
    import random

    from banksy_spark.operators import graph
    from banksy_spark.operators.graph import connected_components

    rng = random.Random(7)
    perm = list(range(64))
    rng.shuffle(perm)
    edges = [(perm[i], perm[i + 1]) for i in range(63)]
    df = spark.createDataFrame(edges, "src BIGINT, dst BIGINT")

    # 6 rounds of min-label propagation over the closed neighborhood
    adj = {n: {n} for n in range(64)}
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    bounded = {n: n for n in adj}
    for _ in range(6):
        bounded = {n: min(bounded[m] for m in adj[n]) for n in adj}
    assert any(lab != 0 for lab in bounded.values()), (
        "fixture too easy: 6 rounds solved the chain — deepen it"
    )

    # both execution paths: bounded driver union-find (default — 63
    # edges is far under DRIVER_EDGES) and the distributed
    # large-star/small-star loop (forced by patching DRIVER_EDGES to 0)
    exact = {r.node: r.lab for r in connected_components(df).collect()}
    assert exact == {i: 0 for i in range(64)}
    monkeypatch.setattr(graph, "DRIVER_EDGES", 0)
    dist = {r.node: r.lab for r in connected_components(df).collect()}
    assert dist == exact


def test_cc_driver_and_distributed_paths_agree(spark, monkeypatch):
    """The driver union-find fast path (bounded collect up to
    ``DRIVER_EDGES``) must produce bit-identical labels to the
    distributed large-star/small-star loop on a graph mixing a long
    chain, a clique, self-loops (node set membership without edges),
    and a random sparse blob with several components — and on a pair
    list of only self-loops (no canonical edge at all)."""
    import random

    from banksy_spark.operators import graph
    from banksy_spark.operators.graph import connected_components

    rng = random.Random(11)
    edges = [(i + 1, i) for i in range(50)]
    edges += [(100 + a, 100 + b) for a in range(6) for b in range(a)]
    edges += [(999, 999), (7, 7)]
    edges += [
        (rng.randint(200, 260), rng.randint(200, 260)) for _ in range(80)
    ]
    loops = [(5, 5), (3, 3), (5, 5)]
    dfs = [
        spark.createDataFrame(pairs, "src BIGINT, dst BIGINT")
        for pairs in (edges, loops)
    ]

    def labels(df):
        return {r.node: r.lab for r in connected_components(df).collect()}

    drv = [labels(df) for df in dfs]
    monkeypatch.setattr(graph, "DRIVER_EDGES", 0)
    dist = [labels(df) for df in dfs]
    assert drv == dist
    assert drv[0][50] == 0 and drv[0][105] == 100 and drv[0][999] == 999
    assert drv[1] == {5: 5, 3: 3}


def test_ann_recall_floor_at_pinned_nprobe(spark):
    """VERDICT r4 item 4: the ANN recall queries measure recall but
    nothing asserted a floor. Config pinned in BASELINE.md: IVF with
    the 10 label-mean cells at nprobe=6 clears recall@3 >= 0.9 on
    sf0.1 (measured 0.958); a tuning regression (probe-rank tie-break,
    centroid arithmetic, candidate filter) now fails loudly.

    Runs at the bench scale factor (sf0.1), the scale the floor was
    tuned at — smaller sfs have too few vectors for a stable curve."""
    from banksy_spark.suite import REGISTRY

    sf_bench = "/root/testdata/sf0.1"
    rec = REGISTRY["llm_ann_recall_multiprobe"].fn(spark, sf_bench)
    by_np = {
        r["nprobe"]: r["r"]
        for r in rec.groupBy("nprobe").agg(F.avg("recall").alias("r")).collect()
    }
    assert set(by_np) == {1, 2, 4, 6}
    # monotone in nprobe (candidate superset) — structural invariant
    assert by_np[1] <= by_np[2] <= by_np[4] <= by_np[6]
    assert by_np[6] >= 0.9, f"pinned config nprobe=6 regressed: {by_np}"


def test_ann_recall_clustered_fixture_sublinear(spark, tmp_path):
    """Round 7 (VERDICT r6 item 5): the driver's random 64-d vectors
    make sub-linear high recall impossible by construction (nprobe=6
    of 10 — a 60% scan — was the first config over 0.9). On a
    CLUSTERED table (mixture-of-Gaussians, same schema, generator in
    tools/clustered_embeddings.py) the same IVF machinery must clear
    recall@3 >= 0.9 probing TWO cells of 10 — a 20% probe fraction —
    which is the scale claim that matters: real embedding spaces are
    clustered, and the probe fraction is the scan cost at 100 TB.
    Measured: 1.0 at every nprobe in {1,2,4,6} (BASELINE.md)."""
    import sys as _sys
    from pathlib import Path as _Path

    _sys.path.insert(0, str(_Path(__file__).resolve().parents[1] / "tools"))
    from clustered_embeddings import write_parquet

    from banksy_spark.suite import REGISTRY

    d = str(tmp_path)
    write_parquet(f"{d}/embeddings.parquet")
    rec = REGISTRY["llm_ann_recall_multiprobe"].fn(spark, d)
    by_np = {
        r["nprobe"]: r["r"]
        for r in rec.groupBy("nprobe").agg(F.avg("recall").alias("r")).collect()
    }
    assert by_np[2] >= 0.9, f"20% probe fraction under 0.9 on clustered data: {by_np}"
    assert by_np[1] >= 0.9, f"10% probe fraction under 0.9 on clustered data: {by_np}"
    # LSH and exact-IVF single-probe on the same fixture
    r2 = REGISTRY["llm_ann_recall"].fn(spark, d)
    avg = r2.agg(
        F.avg("recall_ivf").alias("ivf"), F.avg("recall_lsh").alias("lsh")
    ).first()
    assert avg["ivf"] >= 0.9
    # 3-hyperplane sign-LSH is a coarse 8-bucket scheme; on clustered
    # data it finds some neighbors but is NOT the scale path (recorded
    # in BASELINE.md) — only a sanity bound here
    assert 0.0 <= avg["lsh"] <= 1.0


def test_bounded_depth_detectors_fire_on_deep_fixtures(spark):
    """VERDICT r4 item 7: the bounded iterative ops must flag, not
    silently truncate. On shallow graphs the detectors read 0/false
    (and the suite oracles assert that); on fixtures deeper than the
    budget they must fire."""
    from banksy_spark.operators.graph import ancestor_unroll, bfs_distances

    # 10-node path graph: eccentricity from node 0 is 9 > 4 rounds
    chain = [(i, i + 1) for i in range(9)]
    edges = spark.createDataFrame(
        chain + [(b, a) for a, b in chain], "u bigint, v bigint"
    )
    deep = bfs_distances(edges, source=0, rounds=4)
    assert deep.first()["frontier_delta"] > 0, "BFS detector failed to fire"
    done = bfs_distances(edges, source=0, rounds=9)
    assert done.first()["frontier_delta"] == 0
    assert done.count() == 10

    # 10-deep ancestor chain: node k's parent is k-1, root is 0
    parents = spark.createDataFrame(
        [(k, k - 1 if k else None) for k in range(10)],
        "node bigint, parent bigint",
    )
    short = ancestor_unroll(parents, depth=4)
    trunc = {r["node"]: r["truncated"] for r in short.collect()}
    assert trunc[9] and trunc[5], "deep rows must flag truncated"
    assert not trunc[4] and not trunc[0], "shallow rows must not flag"
    full = ancestor_unroll(parents, depth=9)
    rows = {r["node"]: r for r in full.collect()}
    assert not any(r["truncated"] for r in rows.values())
    assert rows[9]["path"] == "/".join(map(str, range(10)))
    assert rows[9]["root"] == 0 and rows[9]["depth"] == 9


def test_kmeans_train_converges_bit_exact_vs_python(spark):
    """operators/kmeans.py: the converged spherical k-means must be
    bit-identical to a pure-Python replica of its documented float
    contract (left-fold dots, fixed-point means, (sim desc, cell)
    tie-break, empty cells keep previous centroid) — the same
    verify-by-reimplementation discipline the oracle gives SQL-able
    queries."""
    import math

    from banksy_spark.operators.kmeans import kmeans_train
    from banksy_spark.suite.registry import T

    K = 8
    rows = (
        T(spark, SF_SMOKE, "embeddings")
        .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
        .collect()
    )
    vecs = {r["vec_id"]: list(r["v"]) for r in rows}

    def norm(v):
        acc = 0.0
        for x in v:
            acc += x * x
        return math.sqrt(acc)

    def dot(a, b):
        acc = 0.0
        for t in [x * y for x, y in zip(a, b)]:
            acc += t
        return acc

    def assign(cents):
        out = {}
        for vid, v in vecs.items():
            nv = norm(v)
            best = min(
                ((-(dot(v, cv) / (nv * cn)), cell) for cell, (cv, cn) in cents.items())
            )
            out[vid] = best[1]
        return out

    cents = {vid: (vecs[vid], norm(vecs[vid])) for vid in range(K)}
    assigned = assign(cents)
    py_iters = 0
    for _ in range(20):
        py_iters += 1
        new = {}
        for cell in cents:
            members = [vecs[vid] for vid, c in assigned.items() if c == cell]
            if not members:
                new[cell] = cents[cell]
                continue
            cv = []
            for pos in range(len(members[0])):
                s = sum(math.floor(m[pos] * 1e12) for m in members)
                cv.append(float(s) / 1e12 / len(members))
            new[cell] = (cv, norm(cv))
        cents = new
        nxt = assign(cents)
        moved = sum(1 for vid in nxt if nxt[vid] != assigned[vid])
        assigned = nxt
        if moved == 0:
            break

    df = spark.createDataFrame(
        [(vid, v) for vid, v in vecs.items()], "vec_id bigint, v array<double>"
    )
    sc, sa, n_iter, converged = kmeans_train(df, k=K, max_iter=20)
    # bit-exactness is the contract; whether THIS data converges inside
    # 20 iters is data luck (boundary vectors can oscillate) — but the
    # python replica must agree on that too
    assert n_iter == py_iters
    assert converged == (py_iters < 20 or moved == 0)
    got_assign = {r["vec_id"]: r["cell"] for r in sa.collect()}
    assert got_assign == assigned
    got_cents = {r["cell"]: list(r["cv"]) for r in sc.collect()}
    for cell, (cv, _n) in cents.items():
        assert got_cents[cell] == cv, f"centroid {cell} diverged"
    # sanity: it actually iterated and produced k cells
    assert n_iter >= 2 and len(got_cents) == K


def test_converged_bfs_and_ancestry_match_python(spark):
    """The convergence-guaranteed siblings of the bounded graph ops:
    bfs_converged exhausts any frontier (no rounds budget to outrun)
    and ancestors_converged resolves arbitrary-depth trees in O(log h)
    pointer-jumping rounds — both checked against python replicas on a
    deep chain plus a branching forest."""
    import random

    from banksy_spark.operators.graph import ancestors_converged, bfs_converged

    # 40-node path: eccentricity 39 — far beyond the 4-round budget
    chain = [(i, i + 1) for i in range(39)]
    edges = spark.createDataFrame(
        chain + [(b, a) for a, b in chain], "u bigint, v bigint"
    )
    dist, rounds = bfs_converged(edges, source=0)
    got = {r["node"]: r["dist"] for r in dist.collect()}
    assert got == {i: i for i in range(40)}
    assert rounds >= 39  # one frontier hop per round on a path
    # a source with no out-edges: only itself, at distance 0
    lone, _ = bfs_converged(edges, source=99)
    assert [tuple(r) for r in lone.collect()] == [(99, 0)]

    # random forest: 200 nodes, parent < node (acyclic by construction)
    rng = random.Random(11)
    parents = {0: None, 1: None}
    for n in range(2, 200):
        parents[n] = rng.randrange(n) if rng.random() < 0.9 else None
    pdf = spark.createDataFrame(
        [(n, p) for n, p in parents.items()], "node bigint, parent bigint"
    )
    out, pj_rounds = ancestors_converged(pdf)
    got = {r["node"]: (r["root"], r["depth"]) for r in out.collect()}

    def resolve(n):
        d = 0
        while parents[n] is not None:
            n = parents[n]
            d += 1
        return n, d

    want = {n: resolve(n) for n in parents}
    assert got == want
    max_depth = max(d for _r, d in want.values())
    import math

    assert pj_rounds <= math.ceil(math.log2(max(2, max_depth))) + 2, (
        f"pointer jumping took {pj_rounds} rounds for depth {max_depth}"
    )

    # a forest of roots only: nothing pending, every node its own root
    roots = spark.createDataFrame(
        [(n, None) for n in (3, 1, 2)], "node bigint, parent bigint"
    )
    out, _ = ancestors_converged(roots)
    assert {tuple(r) for r in out.collect()} == {(n, n, 0) for n in (1, 2, 3)}


def test_ancestors_converged_detects_cycles(spark):
    """A cycle in the parent relation can never resolve — the operator
    must raise its max_iter backstop instead of looping forever or
    emitting garbage roots."""
    import pytest

    from banksy_spark.operators.graph import ancestors_converged

    cyc = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (9, None)], "node bigint, parent bigint"
    )
    with pytest.raises(RuntimeError, match="cycle|max_iter|resolve"):
        ancestors_converged(cyc, max_iter=8)


def test_weighted_rollup_matches_python_and_is_logarithmic(spark):
    """weighted_rollup_converged must compose edge-quantity PRODUCTS
    exactly under path doubling: checked against a python replica on a
    random weighted forest, with the O(log h) round bound, plus the
    cycle backstop."""
    import math
    import random

    import pytest

    from banksy_spark.operators.graph import weighted_rollup_converged

    rng = random.Random(23)
    parents = {0: None, 1: None}
    weights = {}
    for n in range(2, 200):
        if rng.random() < 0.9:
            parents[n] = rng.randrange(n)
            weights[n] = rng.randrange(1, 5)
        else:
            parents[n] = None
    pdf = spark.createDataFrame(
        [(n, p, weights.get(n)) for n, p in parents.items()],
        "node bigint, parent bigint, w bigint",
    )
    out, rounds = weighted_rollup_converged(pdf)
    got = {r["node"]: (r["root"], r["mult"]) for r in out.collect()}

    def resolve(n):
        m = 1
        while parents[n] is not None:
            m *= weights[n]
            n = parents[n]
        return n, m

    want = {n: resolve(n) for n in parents}
    assert got == want

    def depth(n):
        d = 0
        while parents[n] is not None:
            n = parents[n]
            d += 1
        return d

    max_depth = max(depth(n) for n in parents)
    assert rounds <= math.ceil(math.log2(max(2, max_depth))) + 2

    # a forest of roots only: nothing pending, every multiplier 1
    roots = spark.createDataFrame(
        [(n, None, None) for n in (3, 1, 2)],
        "node bigint, parent bigint, w bigint",
    )
    out, _ = weighted_rollup_converged(roots)
    assert {tuple(r) for r in out.collect()} == {(n, n, 1) for n in (1, 2, 3)}

    cyc = spark.createDataFrame(
        [(1, 2, 2), (2, 1, 2), (9, None, None)],
        "node bigint, parent bigint, w bigint",
    )
    with pytest.raises(RuntimeError, match="cycle|max_iter|resolve"):
        weighted_rollup_converged(cyc, max_iter=6)
