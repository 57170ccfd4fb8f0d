"""operators/ordinals.py: the bucketed global-ordinal decomposition
must be bit-identical to the naive single-partition window forms, and
its physical plan must contain NO single-partition exchange.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from banksy_spark.operators.ordinals import global_ordinals, ntile_expr
from tests.conftest import SF_ORACLE


def _orders(spark):
    return spark.read.parquet(f"{SF_ORACLE}/orders.parquet").select(
        "o_orderkey",
        "o_custkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )


def test_row_number_matches_naive_asc(spark):
    o = _orders(spark)
    got = global_ordinals(
        o, ["price", "o_orderkey"], row_number="rn", n_buckets=16
    ).select("o_orderkey", "rn")
    w = Window.orderBy("price", "o_orderkey")
    want = o.select("o_orderkey", F.row_number().over(w).alias("rn"))
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_row_number_matches_naive_desc_mixed(spark):
    o = _orders(spark)
    got = global_ordinals(
        o, ["-price", "o_orderkey"], row_number="rn", n_buckets=16
    ).select("o_orderkey", "rn")
    w = Window.orderBy(F.col("price").desc(), "o_orderkey")
    want = o.select("o_orderkey", F.row_number().over(w).alias("rn"))
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_ntile_matches_spark_ntile(spark):
    o = _orders(spark)
    for n in (5, 10):
        got = global_ordinals(
            o, ["price", "o_orderkey"], ntile=(n, "tile"), n_buckets=16
        ).select("o_orderkey", "tile")
        w = Window.orderBy("price", "o_orderkey")
        want = o.select("o_orderkey", F.ntile(n).over(w).alias("tile"))
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0


def test_ntile_small_n_rows(spark):
    # total < n: each of the first `total` tiles gets exactly one row
    df = spark.createDataFrame([(i,) for i in range(4)], "v int")
    got = global_ordinals(df, ["v"], ntile=(10, "t"), n_buckets=4)
    assert sorted(r["t"] for r in got.collect()) == [1, 2, 3, 4]


def test_cumsum_and_totals_exact(spark):
    o = _orders(spark)
    got = global_ordinals(
        o,
        ["price", "o_orderkey"],
        cumsum=[("price", "cum")],
        total_count="n",
        totals=[("price", "tot")],
        n_buckets=16,
    ).select("o_orderkey", "cum", "n", "tot")
    w = Window.orderBy("price", "o_orderkey")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wall = Window.partitionBy()
    want = o.select(
        "o_orderkey",
        F.sum("price").over(wrun).alias("cum"),
        F.count(F.lit(1)).over(wall).alias("n"),
        F.sum("price").over(wall).alias("tot"),
    )
    g = {r["o_orderkey"]: r for r in got.collect()}
    for r in want.collect():
        m = g[r["o_orderkey"]]
        assert m["cum"] == r["cum"]
        assert m["n"] == r["n"]
        assert m["tot"] == r["tot"]


def test_cumsum_rejects_double(spark):
    df = spark.createDataFrame([(1.0,)], "v double")
    import pytest

    with pytest.raises(TypeError):
        global_ordinals(df, ["v"], cumsum=[("v", "c")])


def test_hot_value_sub_splits_buckets(spark):
    # one value carries 60% of the rows; with skew_split the decomposed
    # ordinals must still match the naive form AND spread the hot value
    # across >1 (bucket, sub) group
    rows = [(5.0, i) for i in range(6000)] + [
        (float(i % 97), 10_000 + i) for i in range(4000)
    ]
    df = spark.createDataFrame(rows, "v double, k bigint").repartition(8)
    from banksy_spark.operators.ordinals import bucketize

    bk = bucketize(df, ["v", "k"], n_buckets=16, rows_per_bucket=256)
    hot_groups = [
        (gb, gs) for gb, gs, cnt, _ in bk.directory if cnt > 0
    ]
    hot_cnt_max = max(cnt for _, _, cnt, _ in bk.directory)
    assert hot_cnt_max < 6000, "hot value was not sub-split"
    got = global_ordinals(
        df, ["v", "k"], row_number="rn", n_buckets=16, rows_per_bucket=256
    ).select("k", "rn")
    w = Window.orderBy("v", "k")
    want = df.select("k", F.row_number().over(w).alias("rn"))
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    assert len(hot_groups) >= 16


def test_no_single_partition_exchange_in_plan(spark):
    o = _orders(spark)
    got = global_ordinals(
        o,
        ["price", "o_orderkey"],
        row_number="rn",
        ntile=(10, "tile"),
        cumsum=[("price", "cum")],
        total_count="n",
        n_buckets=16,
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    # no WINDOW may sort through one partition — and with the literal-
    # map directory there is no join or extra exchange of ANY kind: the
    # whole plan is scan → project(map lookups) → one hash exchange →
    # per-bucket sort+window
    import re as _re

    assert not _re.search(
        r"Window[^\n]*\n[^\n]*Sort[^\n]*\n[^\n]*Exchange SinglePartition", plan
    )
    assert "Window" in plan  # the partitioned intra-bucket window
    assert "Join" not in plan  # offsets are literal maps, not a join
    assert "Exchange SinglePartition" not in plan
    n_exch = len(_re.findall(r"Exchange ", plan))
    assert n_exch == 1, f"expected exactly one bucket exchange, saw {n_exch}"


def test_empty_input(spark):
    df = spark.createDataFrame([], "v double, k bigint")
    got = global_ordinals(df, ["v", "k"], row_number="rn", ntile=(4, "t"))
    assert got.count() == 0


def test_ntile_expr_formula():
    # pure-python cross-check of the tile arithmetic against the spec:
    # first total%n tiles get total//n+1 rows
    import itertools

    for total, n in [(10, 3), (7, 7), (100, 9), (5, 10)]:
        q, r = divmod(total, n)
        sizes = [(q + 1 if i < r else q) for i in range(n)]
        expect = list(
            itertools.chain.from_iterable(
                [i + 1] * s for i, s in enumerate(sizes)
            )
        )
        expect = [t for t in expect if t]
        assert len(expect) == total


def test_string_leading_column_rejected(spark):
    df = spark.createDataFrame([("a", 1)], "s string, k int")
    import pytest

    with pytest.raises(TypeError, match="monotone prefix"):
        global_ordinals(df, ["s", "k"], row_number="rn")


def test_multi_ordinals_matches_naive_three_dims(spark):
    o = _orders(spark).withColumn(
        "bucket_key", (F.col("o_orderkey") % 37).cast("int")
    )
    got = global_ordinals.__wrapped__ if False else None  # noqa: F841
    from banksy_spark.operators.ordinals import multi_ordinals

    m = multi_ordinals(
        o,
        [
            {"order": ["price", "o_orderkey"], "ntile": (5, "t1"), "row_number": "r1"},
            {"order": ["-bucket_key", "o_orderkey"], "ntile": (4, "t2")},
            {"order": ["o_custkey", "o_orderkey"], "row_number": "r3"},
        ],
        n_buckets=16,
    ).select("o_orderkey", "t1", "r1", "t2", "r3")
    w1 = Window.orderBy("price", "o_orderkey")
    w2 = Window.orderBy(F.col("bucket_key").desc(), "o_orderkey")
    w3 = Window.orderBy("o_custkey", "o_orderkey")
    want = o.select(
        "o_orderkey",
        F.ntile(5).over(w1).alias("t1"),
        F.row_number().over(w1).alias("r1"),
        F.ntile(4).over(w2).alias("t2"),
        F.row_number().over(w3).alias("r3"),
    )
    assert m.exceptAll(want).count() == 0 and want.exceptAll(m).count() == 0


def test_multi_ordinals_plan_partitioned(spark):
    from banksy_spark.operators.ordinals import multi_ordinals

    o = _orders(spark)
    m = multi_ordinals(
        o,
        [
            {"order": ["price", "o_orderkey"], "ntile": (5, "t1")},
            {"order": ["-price", "o_orderkey"], "ntile": (5, "t2")},
        ],
        n_buckets=16,
    )
    plan = m._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan


def test_partition_invariance(spark):
    # the decomposition's results are a pure function of the DATA —
    # identical under any input partitioning
    o = _orders(spark)
    outs = []
    for parts in (3, 17):
        got = global_ordinals(
            o.repartition(parts),
            ["price", "o_orderkey"],
            row_number="rn",
            ntile=(7, "t"),
            cumsum=[("price", "cum")],
            n_buckets=16,
        ).select("o_orderkey", "rn", "t", "cum")
        outs.append({r["o_orderkey"]: (r["rn"], r["t"], str(r["cum"])) for r in got.collect()})
    assert outs[0] == outs[1]


def test_cumsum_null_semantics_match_naive(spark):
    # round-7 (ADVICE r6): SUM ... ROWS UNBOUNDED PRECEDING is NULL only
    # while EVERY preceding value is NULL — including across buckets
    rows = [(float(i), i, None if i < 40 or i % 7 == 0 else i) for i in range(200)]
    df = spark.createDataFrame(rows, "v double, k bigint, x bigint")
    got = global_ordinals(
        df, ["v", "k"], cumsum=[("x", "c")], n_buckets=16
    ).select("k", "c")
    w = Window.orderBy("v", "k").rowsBetween(Window.unboundedPreceding, 0)
    want = df.select("k", F.sum("x").over(w).alias("c"))
    g = {r["k"]: r["c"] for r in got.collect()}
    for r in want.collect():
        assert g[r["k"]] == r["c"], r["k"]


def test_null_secondary_key_in_hot_bucket(spark):
    # round-7 (ADVICE r6): a hot leading value whose secondary sort key
    # is NULL must land in the sub-bucket matching NULLS FIRST (asc) /
    # NULLS LAST (desc) — not the highest sub-bucket
    rows = [(5.0, None if i % 3 == 0 else float(i), i) for i in range(6000)] + [
        (float(i % 97), float(i), 10_000 + i) for i in range(4000)
    ]
    df = spark.createDataFrame(rows, "v double, s double, k bigint").repartition(8)
    got = global_ordinals(
        df, ["v", "s", "k"], row_number="rn", n_buckets=16, rows_per_bucket=256
    ).select("k", "rn")
    w = Window.orderBy("v", "s", "k")
    want = df.select("k", F.row_number().over(w).alias("rn"))
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    # desc secondary (NULLS LAST)
    got_d = global_ordinals(
        df, ["v", "-s", "k"], row_number="rn", n_buckets=16, rows_per_bucket=256
    ).select("k", "rn")
    w_d = Window.orderBy("v", F.col("s").desc(), "k")
    want_d = df.select("k", F.row_number().over(w_d).alias("rn"))
    assert got_d.exceptAll(want_d).count() == 0
    assert want_d.exceptAll(got_d).count() == 0


def test_date_leading_column(spark):
    # round-7 (ADVICE r6): DATE has no double cast; the bucketer must
    # route it through unix_date instead of dying in analysis
    df = spark.range(0, 500).select(
        F.col("id").alias("k"),
        F.date_add(F.lit("2024-01-01").cast("date"), (F.col("id") % 37).cast("int")).alias("d"),
    )
    got = global_ordinals(df, ["d", "k"], row_number="rn", n_buckets=8).select(
        "k", "rn"
    )
    w = Window.orderBy("d", "k")
    want = df.select("k", F.row_number().over(w).alias("rn"))
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_reserved_names_rejected(spark):
    # round-7 (ADVICE r6): '_go*' input columns / output names collide
    # with internals and must raise instead of being silently dropped
    import pytest

    df = spark.createDataFrame([(1.0, 2)], "v double, _good_flag int")
    with pytest.raises(ValueError, match="reserved"):
        global_ordinals(df, ["v"], row_number="rn")
    clean = spark.createDataFrame([(1.0, 2)], "v double, k int")
    with pytest.raises(ValueError, match="reserved"):
        global_ordinals(clean, ["v"], row_number="_gorownum")
    from banksy_spark.operators.ordinals import multi_ordinals

    with pytest.raises(ValueError, match="reserved"):
        multi_ordinals(
            clean.withColumnRenamed("k", "_gb0"), [{"order": ["v"], "row_number": "r"}]
        )


def test_ntile_col_form_matches_literal_form(spark):
    # in-plan (column-total) NTILE vs the literal-total formula vs Spark
    from banksy_spark.operators.ordinals import ntile_expr_col

    import itertools

    for total, n in [(10, 3), (7, 7), (100, 9), (5, 10), (64, 64), (1, 5)]:
        df = spark.range(1, total + 1).select(
            F.col("id").alias("rn"), F.lit(total).cast("long").alias("tot")
        )
        got = [
            r["t"]
            for r in df.select(
                "rn", ntile_expr_col(F.col("rn"), F.col("tot"), n).alias("t")
            )
            .orderBy("rn")
            .collect()
        ]
        q, r_ = divmod(total, n)
        sizes = [(q + 1 if i < r_ else q) for i in range(n)]
        expect = list(
            itertools.chain.from_iterable([i + 1] * s for i, s in enumerate(sizes))
        )
        assert got == expect, (total, n)


def test_stats_cache_hit_and_poison_invariance(spark):
    """The sketch memo (ANALYZE-style stats cache) must (a) actually
    replay on an identical call and (b) NEVER affect results, even when
    the cached boundaries are garbage — correctness is boundary-
    placement-invariant, so a deliberately poisoned cache entry still
    yields bit-exact ordinals (only bucket balance suffers)."""
    from banksy_spark.operators import ordinals as O

    o = _orders(spark)
    w = Window.orderBy("price", "o_orderkey")
    want = o.select("o_orderkey", F.row_number().over(w).alias("rn"))

    O.clear_stats_cache()
    got1 = global_ordinals(
        o, ["price", "o_orderkey"], row_number="rn", n_buckets=16
    ).select("o_orderkey", "rn")
    assert got1.exceptAll(want).count() == 0 and want.exceptAll(got1).count() == 0
    n_entries = len(O._STATS_CACHE)
    assert n_entries >= 1  # sketch memoized

    # poison EVERY cached sketch with absurd boundaries + wrong count
    for k, (val,) in list(O._STATS_CACHE.items()):
        if isinstance(val, tuple) and len(val) == 2:  # (n_rows, raws)
            n_rows, raws = val
            O._STATS_CACHE[k] = ((7, [[-1e18, 0.0, 0.0, 1e18] for _ in raws]),)
    got2 = global_ordinals(
        o, ["price", "o_orderkey"], row_number="rn", n_buckets=16
    ).select("o_orderkey", "rn")
    assert got2.exceptAll(want).count() == 0 and want.exceptAll(got2).count() == 0
    assert len(O._STATS_CACHE) == n_entries  # replayed, not recomputed
    O.clear_stats_cache()


def _lineitem(spark):
    return spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet").select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_quantity").alias("qty"),
        F.col("l_extendedprice").cast("decimal(18,2)").alias("price"),
        "l_orderkey",
        "l_linenumber",
    )


def test_grouped_ordinals_matches_naive(spark):
    from banksy_spark.operators.ordinals import grouped_ordinals

    li = _lineitem(spark)
    got = grouped_ordinals(
        li,
        ["flag"],
        ["price", "l_orderkey", "l_linenumber"],
        row_number="rn",
        group_count="n",
        ntile=(4, "tile"),
        cumsum=[("price", "cum")],
        group_totals=[("price", "tot")],
        n_buckets=16,
    ).select("l_orderkey", "l_linenumber", "rn", "n", "tile", "cum", "tot")
    wo = Window.partitionBy("flag").orderBy("price", "l_orderkey", "l_linenumber")
    wp = Window.partitionBy("flag")
    wrun = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    want = li.select(
        "l_orderkey",
        "l_linenumber",
        F.row_number().over(wo).alias("rn"),
        F.count("*").over(wp).alias("n"),
        F.ntile(4).over(wo).alias("tile"),
        F.sum("price").over(wrun).alias("cum"),
        F.sum("price").over(wp).alias("tot"),
    )
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_grouped_ordinals_hot_int_group_matches_naive(spark):
    # few huge int groups incl. one hot group with 60% of the rows (the
    # shape a plain PARTITION BY window serializes onto one task)
    from banksy_spark.operators.ordinals import grouped_ordinals

    rows = [(3, float(i % 113), i) for i in range(6000)] + [
        (i % 7, float(i % 211), 10_000 + i) for i in range(4000)
    ]
    df = spark.createDataFrame(rows, "g int, x double, k bigint").repartition(8)
    got = grouped_ordinals(
        df, ["g"], ["x", "k"], row_number="rn", n_buckets=16, rows_per_bucket=256
    ).select("k", "rn")
    w = Window.partitionBy("g").orderBy("x", "k")
    want = df.select("k", F.row_number().over(w).alias("rn"))
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_grouped_ordinals_desc_and_multi_group(spark):
    from banksy_spark.operators.ordinals import grouped_ordinals

    li = _lineitem(spark).withColumn(
        "parity", (F.col("l_orderkey") % 2).cast("int")
    )
    got = grouped_ordinals(
        li,
        ["flag", "parity"],
        ["-price", "l_orderkey", "l_linenumber"],
        row_number="rn",
        n_buckets=16,
    ).select("l_orderkey", "l_linenumber", "rn")
    wo = Window.partitionBy("flag", "parity").orderBy(
        F.col("price").desc(), "l_orderkey", "l_linenumber"
    )
    want = li.select(
        "l_orderkey", "l_linenumber", F.row_number().over(wo).alias("rn")
    )
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_grouped_ordinals_int_group_desc_and_plan(spark):
    # single int group, desc order (the literal path)
    from banksy_spark.operators.ordinals import grouped_ordinals

    rows = [(i % 5, float(i % 211), i) for i in range(4000)]
    df = spark.createDataFrame(rows, "g int, x double, k bigint").repartition(8)
    got = grouped_ordinals(
        df, ["g"], ["-x", "k"], row_number="rn", n_buckets=16, rows_per_bucket=256
    )
    w = Window.partitionBy("g").orderBy(F.col("x").desc(), "k")
    want = df.select("k", F.row_number().over(w).alias("rn"))
    assert got.select("k", "rn").exceptAll(want).count() == 0
    assert want.exceptAll(got.select("k", "rn")).count() == 0
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan
    # the one fact exchange partitions on (group, bucket, sub)
    import re as _re

    parts = _re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert parts and all("_gob" in p and "_gosub" in p for p in parts), plan


def test_grouped_ordinals_plan_partitioned(spark):
    from banksy_spark.operators.ordinals import grouped_ordinals

    li = _lineitem(spark)
    got = grouped_ordinals(
        li, ["flag"], ["price", "l_orderkey", "l_linenumber"], row_number="rn",
        n_buckets=16,
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan
    # every fact-side window partitions on (group, bucket, sub)
    import re as _re

    specs = _re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    fact = [s for s in specs if "_gob" in s]
    assert fact and all("flag" in s and "_gosub" in s for s in fact), plan


def test_grouped_ordinals_string_order_via_prefix(spark):
    # hash-ordered sampling (md5) through a numeric monotone prefix:
    # order by (pfx, h, id) must equal the naive order by (h, id)
    from banksy_spark.operators.ordinals import grouped_ordinals

    d = spark.range(2000).select(
        F.col("id"),
        (F.col("id") % 3).cast("string").alias("g"),
        F.md5(F.col("id").cast("string")).alias("h"),
    ).withColumn(
        "pfx", F.expr("CAST(conv(substring(h, 1, 13), 16, 10) AS DOUBLE)")
    )
    got = grouped_ordinals(
        d, ["g"], ["pfx", "h", "id"], row_number="rn", n_buckets=8
    ).select("id", "rn")
    w = Window.partitionBy("g").orderBy("h", "id")
    want = d.select("id", F.row_number().over(w).alias("rn"))
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_grouped_ordinals_literal_path_escaping_and_null_cumsum(spark):
    # the literal-map fast path builds SQL text from collected group
    # values: quotes/backslashes must escape, and the per-group cumsum
    # NULL parity (NULL until the group's first non-null value) must
    # survive the literal encoding
    import decimal
    import random

    from banksy_spark.operators.ordinals import grouped_ordinals

    random.seed(11)
    rows = []
    for i in range(3000):
        g = random.choice(["plain", "qu'ote", "back\\slash"])
        v = float(random.choice([7.0] * 5 + [random.uniform(0, 50)]))
        x = (
            None
            if random.random() < 0.3
            else decimal.Decimal(str(round(random.uniform(-9, 9), 2)))
        )
        rows.append((g, v, i, x))
    df = spark.createDataFrame(
        rows, "g string, v double, k bigint, x decimal(10,2)"
    ).repartition(8)
    got = grouped_ordinals(
        df,
        ["g"],
        ["v", "k"],
        row_number="rn",
        cumsum=[("x", "c")],
        group_totals=[("x", "tx")],
        n_buckets=16,
        rows_per_bucket=256,
    ).select("g", "k", "rn", "c", "tx")
    # plan proof the fast path was taken: no join anywhere
    assert "Join" not in got._jdf.queryExecution().executedPlan().toString()
    wo = Window.partitionBy("g").orderBy("v", "k")
    wrun = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wp = Window.partitionBy("g")
    want = df.select(
        "g",
        "k",
        F.row_number().over(wo).alias("rn"),
        F.sum("x").over(wrun).alias("c"),
        F.sum("x").over(wp).alias("tx"),
    )
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_grouped_ordinals_cap_falls_back_to_join_design(spark):
    # >4096 directory cells (many groups) must fall back to the
    # persisted-directory broadcast-join design, bit-identically
    from banksy_spark.operators.ordinals import grouped_ordinals

    df = spark.range(24000).select(
        (F.col("id") % 400).cast("string").alias("g"),
        (F.hash("id") % 1000).cast("double").alias("v"),
        F.col("id").alias("k"),
    )
    got = grouped_ordinals(
        df, ["g"], ["v", "k"], row_number="rn", n_buckets=16, rows_per_bucket=256
    ).select("g", "k", "rn")
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Join" in plan  # the general path's offsets broadcast join
    wo = Window.partitionBy("g").orderBy("v", "k")
    want = df.select("g", "k", F.row_number().over(wo).alias("rn"))
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_grouped_ordinals_double_group_falls_back(spark):
    # non-integral group values can't become literal map keys exactly —
    # must take the join path too, bit-identically
    from banksy_spark.operators.ordinals import grouped_ordinals

    rows = [(float(i % 5) / 2.0, float(i % 211), i) for i in range(4000)]
    df = spark.createDataFrame(rows, "g double, x double, k bigint").repartition(8)
    got = grouped_ordinals(
        df, ["g"], ["x", "k"], row_number="rn", n_buckets=16, rows_per_bucket=256
    )
    assert "Join" in got._jdf.queryExecution().executedPlan().toString()
    w = Window.partitionBy("g").orderBy("x", "k")
    want = df.select("k", F.row_number().over(w).alias("rn"))
    assert got.select("k", "rn").exceptAll(want).count() == 0
    assert want.exceptAll(got.select("k", "rn")).count() == 0


def test_stats_key_memoizes_checkpointed_frames(spark):
    """A checkpointed input canonicalizes to a fresh LogicalRDD id per
    execution, so without a stable identity its sketch misses the memo
    every run. stats_key opts into a caller-named key: the second call
    over a DIFFERENT checkpoint of the same data must replay the cached
    sketch (no new entry, no driver job) and stay bit-exact."""
    from banksy_spark.operators import ordinals as O
    from banksy_spark.operators.ordinals import grouped_ordinals

    o = _orders(spark).withColumn("grp", F.col("o_custkey") % 3)
    w = Window.partitionBy("grp").orderBy("price", "o_orderkey")
    want = o.select("o_orderkey", F.row_number().over(w).alias("rn"))

    O.clear_stats_cache()
    got1 = grouped_ordinals(
        o.localCheckpoint(), ["grp"], ["price", "o_orderkey"],
        row_number="rn", n_buckets=16, stats_key="test:mad-style",
    ).select("o_orderkey", "rn")
    assert got1.exceptAll(want).count() == 0 and want.exceptAll(got1).count() == 0
    n_entries = len(O._STATS_CACHE)
    assert n_entries >= 1

    got2 = grouped_ordinals(
        o.localCheckpoint(), ["grp"], ["price", "o_orderkey"],
        row_number="rn", n_buckets=16, stats_key="test:mad-style",
    ).select("o_orderkey", "rn")
    assert got2.exceptAll(want).count() == 0 and want.exceptAll(got2).count() == 0
    assert len(O._STATS_CACHE) == n_entries, (
        "same stats_key over a fresh checkpoint must hit the cache"
    )

    # a different stats_key is a different dataset: new entry
    grouped_ordinals(
        o.localCheckpoint(), ["grp"], ["price", "o_orderkey"],
        row_number="rn", n_buckets=16, stats_key="test:other",
    ).select("o_orderkey", "rn").count()
    assert len(O._STATS_CACHE) > n_entries
