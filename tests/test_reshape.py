"""Row-order reification operators on small fixtures (SURVEY §2.5-2.6)."""

from __future__ import annotations

from pyspark.sql import functions as F

from banksy_spark.operators.reshape import (
    drop_groups_with_dup,
    explode_pair,
    forward_fill,
    keep_first,
    melt,
    pair_id,
    pair_parity,
    union_all,
    with_seq,
)


def test_with_seq_pair_id_parity(spark):
    df = spark.createDataFrame(
        [("g", 10), ("g", 20), ("g", 30), ("g", 40)], "grp string, ord int"
    )
    out = with_seq(df, order_by=["ord"], partition_by=["grp"])
    rows = (
        out.select(
            "ord",
            pair_id(F.col("_seq")).alias("pid"),
            pair_parity(F.col("_seq")).alias("par"),
        )
        .orderBy("ord")
        .collect()
    )
    assert [(r.pid, r.par) for r in rows] == [(1, 0), (1, 1), (2, 0), (2, 1)]


def test_forward_fill(spark):
    df = spark.createDataFrame(
        [(1, None), (2, 5.0), (3, None), (4, None), (5, 7.0)], "ord int, v double"
    )
    out = forward_fill(df, "v", order_by=["ord"])
    vals = [r.v for r in out.orderBy("ord").collect()]
    assert vals == [None, 5.0, 5.0, 5.0, 7.0]


def test_keep_first_vs_drop_groups(spark):
    # bovada_pull.py:156-162: team B appears in games 1 and 2; the
    # reference drops ALL of game 2 (including opponent C's row).
    df = spark.createDataFrame(
        [("A", 1, 1), ("B", 1, 2), ("B", 2, 3), ("C", 2, 4)],
        "team string, game_id int, seq int",
    )
    kf = keep_first(df, keys=["team"], order_by=["seq"])
    assert sorted((r.team, r.game_id) for r in kf.collect()) == [
        ("A", 1), ("B", 1), ("C", 2),
    ]
    dg = drop_groups_with_dup(df, dup_keys=["team"], order_by=["seq"], group_col="game_id")
    assert sorted((r.team, r.game_id) for r in dg.collect()) == [("A", 1), ("B", 1)]


def test_melt_and_explode_pair(spark):
    df = spark.createDataFrame([(1, 10.0, 20.0)], "k int, a double, b double")
    m = melt(df, ["k"], ["a", "b"], "metric", "value")
    assert sorted((r.metric, r.value) for r in m.collect()) == [("a", 10.0), ("b", 20.0)]
    df2 = spark.createDataFrame([(1, "x", "y")], "k int, t1 string, t2 string")
    e = explode_pair(df2, ["t1", "t2"], out_col="team", label_col="side", labels=["home", "away"])
    assert sorted((r.side, r.team) for r in e.collect()) == [("away", "y"), ("home", "x")]


def test_union_all(spark):
    a = spark.createDataFrame([(1, "x")], "k int, v string")
    b = spark.createDataFrame([("y", 2)], "v string, k int")  # different column order
    out = union_all([a, b])
    assert sorted((r.k, r.v) for r in out.collect()) == [(1, "x"), (2, "y")]


def test_connected_components_chain_and_clique(spark):
    """Connected components labels a 7-node chain (diameter 6 — worse
    than any LSH near-clique) and a separate triangle correctly, and
    leaves the two components distinct; a second graph mixes a chain,
    an edge and a lone self-loop node."""
    from banksy_spark.operators.graph import connected_components

    edges = [(i, i + 1) for i in range(10, 16)]          # chain 10..16
    edges += [(30, 31), (31, 32), (30, 32)]              # triangle
    small = [(1, 2), (2, 3), (3, 4), (10, 11), (20, 20)]
    for pairs, want in [
        (edges, {**{i: 10 for i in range(10, 17)}, **{i: 30 for i in (30, 31, 32)}}),
        (small, {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20}),
    ]:
        df = spark.createDataFrame(pairs, "src bigint, dst bigint")
        got = {r.node: r.lab for r in connected_components(df).collect()}
        assert got == want
