"""operators/folds.py: each step kernel, run by ``fold`` on a bounded
frame, must be BIT-IDENTICAL to the aggregate-HOF array_append
expression the folds once were (the JVM reference for the oracle's
operation order), on series far longer than any testdata key produces;
the carry must survive Arrow-batch boundaries and reset on key changes;
a NULL value must read the same on a bounded frame and on a stream;
``fold`` must return the same rows from both."""

from __future__ import annotations

import datetime
import math
import pickle
import random
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from banksy_spark.operators.folds import (
    CUSUM,
    EWMA,
    HOLT,
    KM,
    RATE_LIMIT,
    bollinger,
    capped_sessions,
    fold,
    rolling_corr,
)


def _one_series_df(spark, values):
    return spark.createDataFrame(
        [(1, list(map(float, values)))], "k INT, xs ARRAY<DOUBLE>"
    )


def _fold_one_series(spark, kernel, ddl, rows):
    """``kernel`` through ``fold`` over ONE bounded key, rows in list order."""
    df = spark.createDataFrame(
        [(1, i, *r) for i, r in enumerate(rows)], f"k INT, i INT, {ddl}"
    )
    return fold(df, kernel, "k", ("i",)).orderBy("i").collect()


def test_ewma_scan_matches_old_fold(spark):
    rng = random.Random(7)
    xs = [rng.uniform(-1e6, 1e6) for _ in range(5000)]
    df = _one_series_df(spark, xs)
    old = df.select(
        F.expr(
            "transform(sequence(1, size(xs)),"
            " t -> aggregate(slice(xs, 1, t), CAST(0 AS DOUBLE),"
            "                (acc, x) -> acc * 0.75D + 0.25D * x))"
        ).alias("o")
    ).first()["o"]
    rows = _fold_one_series(spark, EWMA, "value DOUBLE", [(x,) for x in xs])
    new = [r.ewma for r in rows]
    assert len(old) == len(new) == len(xs)
    # bit-exact: compare through repr (shortest round-trip, ±0.0-aware)
    assert [repr(v) for v in old] == [repr(v) for v in new]


def test_cusum_scan_matches_old_fold(spark):
    rng = random.Random(11)
    xs = [float(rng.randrange(10**9)) for _ in range(5000)]
    mu, sigma = 4.87e8, 2.9e8
    df = _one_series_df(spark, xs).select(
        "xs", F.lit(mu).alias("mu"), F.lit(sigma).alias("sigma")
    )
    old = df.select(
        F.expr(
            "aggregate(xs,"
            " struct(CAST(array() AS ARRAY<DOUBLE>) AS out, CAST(0 AS DOUBLE) AS acc),"
            " (st, x) -> struct("
            "   array_append(st.out,"
            "     greatest(CAST(0 AS DOUBLE), st.acc + x - mu - 0.5D * sigma)),"
            "   greatest(CAST(0 AS DOUBLE), st.acc + x - mu - 0.5D * sigma)),"
            " st -> st.out)"
        ).alias("o")
    ).first()["o"]
    rows = _fold_one_series(
        spark,
        CUSUM,
        "cents DOUBLE, mu DOUBLE, sigma DOUBLE",
        [(x, mu, sigma) for x in xs],
    )
    new = [r.s_pos for r in rows]
    assert [repr(v) for v in old] == [repr(v) for v in new]


def test_holt_scan_matches_old_fold(spark):
    rng = random.Random(13)
    xs = [float(rng.randrange(10**12)) for _ in range(4000)]
    df = _one_series_df(spark, xs)
    old = df.select(
        F.expr(
            "aggregate(xs,"
            " struct(CAST(array() AS ARRAY<STRUCT<l: DOUBLE, b: DOUBLE>>) AS out,"
            "        0 AS t, CAST(0 AS DOUBLE) AS l, CAST(0 AS DOUBLE) AS b),"
            " (st, x) -> struct("
            "   array_append(st.out, struct("
            "     CASE WHEN st.t = 0 THEN x"
            "          ELSE 0.5D * x + 0.5D * (st.l + st.b) END AS l,"
            "     CASE WHEN st.t = 0 THEN CAST(0 AS DOUBLE)"
            "          ELSE 0.5D * (0.5D * x + 0.5D * (st.l + st.b) - st.l)"
            "               + 0.5D * st.b END AS b)),"
            "   st.t + 1,"
            "   CASE WHEN st.t = 0 THEN x"
            "        ELSE 0.5D * x + 0.5D * (st.l + st.b) END,"
            "   CASE WHEN st.t = 0 THEN CAST(0 AS DOUBLE)"
            "        ELSE 0.5D * (0.5D * x + 0.5D * (st.l + st.b) - st.l)"
            "             + 0.5D * st.b END),"
            " st -> st.out)"
        ).alias("o")
    ).first()["o"]
    new = _fold_one_series(spark, HOLT, "cents DOUBLE", [(x,) for x in xs])
    assert len(old) == len(new)
    for o, n in zip(old, new):
        assert repr(o["l"]) == repr(n["level"]) and repr(o["b"]) == repr(n["trend"])


def test_capped_sessions_scan_matches_old_fold(spark):
    gap, cap = 1_800_000_000, 14_400_000_000
    rng = random.Random(17)
    ts, t = [], 0
    for _ in range(5000):
        t += rng.choice([30_000_000, 600_000_000, 1_900_000_000, 3_600_000_000])
        ts.append(t)
    df = spark.createDataFrame([(1, ts)], "k INT, ts ARRAY<BIGINT>")
    old = df.select(
        F.expr(
            f"aggregate(ts,"
            f" struct(CAST(array() AS ARRAY<BIGINT>) AS out,"
            f"        CAST(0 AS BIGINT) AS sid,"
            f"        CAST(NULL AS BIGINT) AS prev_us,"
            f"        CAST(NULL AS BIGINT) AS anchor_us),"
            f" (st, x) -> struct("
            f"   array_append(st.out,"
            f"     CASE WHEN st.prev_us IS NULL OR x - st.prev_us > {gap}L"
            f"            OR x - st.anchor_us > {cap}L"
            f"          THEN st.sid + 1L ELSE st.sid END),"
            f"   CASE WHEN st.prev_us IS NULL OR x - st.prev_us > {gap}L"
            f"          OR x - st.anchor_us > {cap}L"
            f"        THEN st.sid + 1L ELSE st.sid END,"
            f"   x,"
            f"   CASE WHEN st.prev_us IS NULL OR x - st.prev_us > {gap}L"
            f"          OR x - st.anchor_us > {cap}L"
            f"        THEN x ELSE st.anchor_us END),"
            f" st -> st.out)"
        ).alias("o")
    ).first()["o"]
    rows = _fold_one_series(
        spark, capped_sessions(gap, cap), "ts_us BIGINT", [(x,) for x in ts]
    )
    new = [r.session_id for r in rows]
    assert list(old) == list(new)


def test_km_scan_matches_old_fold(spark):
    rng = random.Random(19)
    d = [rng.randrange(1, 50) for _ in range(3000)]
    n_total = sum(d)
    n_at_risk, acc = [], n_total
    for di in d:
        n_at_risk.append(acc)
        acc -= di
    df = spark.createDataFrame(
        [(1, d, n_at_risk)], "k INT, d ARRAY<BIGINT>, n ARRAY<BIGINT>"
    )
    old = df.select(
        F.expr(
            "aggregate(arrays_zip(d, n),"
            " struct(CAST(array() AS ARRAY<DOUBLE>) AS out, CAST(1 AS DOUBLE) AS acc),"
            " (st, x) -> struct("
            "   array_append(st.out, st.acc * (1.0D - CAST(x.d AS DOUBLE) / x.n)),"
            "   st.acc * (1.0D - CAST(x.d AS DOUBLE) / x.n)),"
            " st -> st.out)"
        ).alias("o")
    ).first()["o"]
    rows = _fold_one_series(
        spark, KM, "d BIGINT, n_at_risk BIGINT", list(zip(d, n_at_risk))
    )
    new = [r.survival for r in rows]
    assert [repr(v) for v in old] == [repr(v) for v in new]


def test_scan_edge_cases(spark):
    """Empty series and length-1 series round-trip through every kernel."""
    ddl = (
        "k INT, i INT, value DOUBLE, cents DOUBLE, mu DOUBLE, sigma DOUBLE,"
        " ts_us BIGINT, d BIGINT, n_at_risk BIGINT"
    )
    folds = {
        "e": EWMA,
        "c": CUSUM,
        "h": HOLT,
        "s": capped_sessions(10, 100),
        "m": KM,
    }

    def run(rows):
        df = spark.createDataFrame(rows, ddl)
        return {n: fold(df, f, "k", ("i",)).collect() for n, f in folds.items()}

    empty = run([])
    assert all(len(rows) == 0 for rows in empty.values())
    (e,), (c,), (h,), (s,), (m,) = run([(2, 0, 5.0, 5.0, 1.0, 1.0, 3, 3, 3)]).values()
    assert e.ewma == 0.0 * 0.75 + 0.25 * 5.0
    assert h.level == 5.0 and h.trend == 0.0
    assert s.session_id == 1
    assert m.survival == 1.0 * (1.0 - 3.0 / 3.0)
    assert not math.isnan(c.s_pos)


def test_fold_batch_carry_crosses_arrow_batches_and_resets_per_key(spark):
    """64-row Arrow batches over three interleaved 10k-row keys: each
    key spans ~157 batches and, in one partition, the key changes
    mid-batch. A carry reset per batch, or one not reset per key,
    changes the bits; so does a step that mutates its list carry in
    place (every key restarts from the same ``init`` object)."""
    gap, cap, day_len, win = 10, 100, 300, 20
    rng, rng_xy = random.Random(23), random.Random(29)
    rows, t = [], 0
    for i in range(30_000):
        t += rng.randrange(1, 15)
        x, y = rng_xy.randrange(0, 50), rng_xy.randrange(-1000, 1000)
        rows.append((i % 3, i, rng.uniform(-1e3, 1e3), t, t // day_len, x, y))
    want_e, want_s, want_n, want_c, want_b = {}, {}, {}, {}, {}
    for k in range(3):
        acc, sid, prev, anchor = 0.0, 0, None, None
        day, n, xs, ys = None, 0, [], []
        for _k, i, v, ts, d, x, y in rows[k::3]:
            acc = acc * 0.75 + 0.25 * v
            want_e[i] = repr(acc)
            if prev is None or ts - prev > gap or ts - anchor > cap:
                sid, anchor = sid + 1, ts
            prev = ts
            want_s[i] = sid
            n = n + 1 if d == day else 1
            day = d
            want_n[i] = n
            xs.append(x)
            ys.append(y)
            wx, wy = xs[-7:], ys[-7:]
            da = 7 * sum(a * a for a in wx) - sum(wx) ** 2
            db = 7 * sum(b * b for b in wy) - sum(wy) ** 2
            num = 7 * sum(a * b for a, b in zip(wx, wy)) - sum(wx) * sum(wy)
            ok = len(xs) >= 7 and da > 0 and db > 0
            want_c[i] = repr(float(num) / math.sqrt(float(da) * float(db)) if ok else None)
            wb = xs[-win:]
            kb, s1, s2 = len(wb), sum(wb), sum(a * a for a in wb)
            want_b[i] = repr(float(s1) / kb + 2.0 * math.sqrt(float(kb * s2 - s1 * s1)) / kb)

    conf = {
        "spark.sql.execution.arrow.maxRecordsPerBatch": "64",
        # one shuffle partition holds all three keys
        "spark.sql.shuffle.partitions": "1",
    }
    saved = {k: spark.conf.get(k) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        df = spark.createDataFrame(
            rows, "k INT, i INT, value DOUBLE, ts_us BIGINT, day BIGINT, x BIGINT, y BIGINT"
        ).withColumn("cents", F.col("x"))
        got_e = {
            r.i: repr(r.ewma)
            for r in fold(df, EWMA, "k", ("i",)).collect()
        }
        got_s = {
            r.i: r.session_id
            for r in fold(df, capped_sessions(gap, cap), "k", ("ts_us", "i")).collect()
        }
        got_n = {
            r.i: r.nth_today for r in fold(df, RATE_LIMIT, "k", ("i",)).collect()
        }
        got_c = {
            r.i: repr(r.corr7) for r in fold(df, rolling_corr(7), "k", ("i",)).collect()
        }
        got_b = {
            r.i: repr(r.upper_band)
            for r in fold(df, bollinger(win), "k", ("i",)).collect()
        }
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert max(want_s.values()) > 100  # many sessions per key
    assert max(want_n.values()) > 10  # day runs span Arrow batches
    assert got_e == want_e
    assert got_s == want_s
    assert got_n == want_n
    assert got_c == want_c
    assert got_b == want_b


def test_null_value_reads_the_same_in_batch_and_stream(spark, tmp_path):
    """A NULL value reaches the EWMA kernel as NaN: that row and every
    later row of the key read NULL — the DuckDB oracle's shape (list()
    keeps the NULL, list_reduce propagates it) — in w_ewma's batch path
    and in ewma on a stream alike; other keys are untouched."""
    from banksy_spark.streaming.core import read_events_stream
    from banksy_spark.streaming.stateful import ewma
    from banksy_spark.suite import REGISTRY

    t0 = datetime.datetime(2024, 1, 1)
    table = pa.table(
        {
            "event_id": pa.array([0, 1, 2, 3], pa.int64()),
            "ts": pa.array(
                [t0 + datetime.timedelta(minutes=m) for m in (0, 1, 2, 3)],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([1, 1, 1, 2], pa.int64()),
            "event_type": pa.array(["view"] * 4),
            "value": pa.array([4.0, None, 8.0, 2.0], pa.float64()),
            "props": pa.array(["{}"] * 4),
        }
    )
    batch_dir, stream_dir = tmp_path / "batch", tmp_path / "stream"
    batch_dir.mkdir()
    stream_dir.mkdir()
    pq.write_table(table, batch_dir / "events.parquet")
    pq.write_table(table, stream_dir / "0.parquet")
    want = {(1, 0): 1.0, (1, 1): None, (1, 2): None, (2, 3): 0.5}

    batch = REGISTRY["w_ewma"].fn(spark, str(batch_dir)).collect()
    assert {(r.user_id, r.event_id): r.ewma for r in batch} == want

    q = (
        ewma(read_events_stream(spark, str(stream_dir)))
        .writeStream.format("memory")
        .queryName("ewma_null")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not finish in time"
    stream = spark.sql("SELECT * FROM ewma_null").collect()
    assert {(r.user_id, r.event_id): r.ewma for r in stream} == want


def test_markov_pairs_with_null_type_match_lead_in_batch_and_stream(spark, tmp_path):
    """For one user's a, NULL, b the oracle's lead() pairs are (a, NULL)
    and (NULL, b), and ``WHERE to_type IS NOT NULL`` keeps only (NULL,
    b); a NULL-free user pairs as usual. markov_pairs must emit exactly
    those pairs on a bounded frame and on a stream."""
    import collections

    from banksy_spark.streaming.core import read_events_stream
    from banksy_spark.streaming.stateful import markov_pairs

    t0 = datetime.datetime(2024, 1, 1)
    users = [1, 1, 1, 2, 2, 2]
    types = ["a", None, "b", "view", "click", "purchase"]
    table = pa.table(
        {
            "event_id": pa.array(range(6), pa.int64()),
            "ts": pa.array(
                [t0 + datetime.timedelta(minutes=m) for m in range(6)],
                pa.timestamp("us"),
            ),
            "user_id": pa.array(users, pa.int64()),
            "event_type": pa.array(types),
            "value": pa.array([1.0] * 6, pa.float64()),
            "props": pa.array(["{}"] * 6),
        }
    )
    (tmp_path / "in").mkdir()
    pq.write_table(table, tmp_path / "in" / "0.parquet")

    want: collections.Counter = collections.Counter()
    for u in set(users):
        seq = [ty for uu, ty in zip(users, types) if uu == u]
        for cur, nxt in zip(seq, seq[1:]):  # lead() over (ts, event_id)
            if nxt is not None:
                want[(cur, nxt)] += 1
    assert want[(None, "b")] == 1

    batch = spark.read.parquet(str(tmp_path / "in"))
    got = collections.Counter(
        (r.from_type, r.to_type) for r in markov_pairs(batch).collect()
    )
    assert got == want

    q = (
        markov_pairs(read_events_stream(spark, str(tmp_path / "in")))
        .writeStream.format("memory")
        .queryName("markov_null")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not finish in time"
    stream = spark.sql("SELECT * FROM markov_null").collect()
    assert collections.Counter((r.from_type, r.to_type) for r in stream) == want


def _one_file_stream(spark, df, tmp_path):
    """``df`` written as one parquet file and read back as a stream: one
    micro-batch holding every row."""
    df.coalesce(1).write.parquet(str(tmp_path / "in"))
    return spark.readStream.schema(df.schema).parquet(str(tmp_path / "in"))


def test_fold_on_a_stream_needs_a_key(spark, tmp_path):
    """``key=None`` folds a bounded frame as one series; a stream has no
    single series order, so ``fold`` refuses it before planning."""
    df = spark.createDataFrame([(1, 0, 1.0)], "k INT, i INT, value DOUBLE")
    stream = _one_file_stream(spark, df, tmp_path)
    assert stream.isStreaming
    with pytest.raises(ValueError, match="key"):
        fold(stream, EWMA, None, ("i",))
    assert fold(df, EWMA, None, ("i",)).count() == 1


def test_fold_returns_the_same_rows_from_a_stream_and_a_bounded_frame(spark, tmp_path):
    """One function, two plans: on a one-micro-batch stream (state store)
    and on the same bounded frame (sorted mapInPandas) ``fold`` returns
    identical rows, bits included, for several interleaved keys."""
    rng = random.Random(31)
    df = spark.createDataFrame(
        [(i % 4, i, rng.uniform(-1e3, 1e3)) for i in range(400)],
        "k INT, i INT, value DOUBLE",
    )
    stream = fold(_one_file_stream(spark, df, tmp_path), EWMA, "k", ("i",))
    q = (
        stream.writeStream.format("memory")
        .queryName("fold_one_batch")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not finish in time"
    got = spark.sql("SELECT * FROM fold_one_batch").collect()
    want = fold(df, EWMA, "k", ("i",)).collect()
    assert len(want) == 400
    assert sorted(got, key=lambda r: r.i) == sorted(want, key=lambda r: r.i)


def test_kernels_reach_workers_that_cannot_import_the_package(tmp_path):
    """A Python worker started outside the repo root cannot import
    banksy_spark, so kernels and drivers must travel by value."""
    from pyspark import cloudpickle

    blob = cloudpickle.dumps((EWMA, capped_sessions(10, 100), fold))
    code = (
        "import pickle, sys\n"
        "e, s, _ = pickle.loads(sys.stdin.buffer.read())\n"
        "print(pickle.dumps((e.step(e.init, [4.0]), s.step(s.init, [1, 50]))).hex())"
    )
    run = subprocess.run(
        [sys.executable, "-c", code], input=blob, cwd=tmp_path, capture_output=True
    )
    assert run.returncode == 0, run.stderr.decode()[-500:]
    got = pickle.loads(bytes.fromhex(run.stdout.decode().strip()))
    assert got == (((1.0,), ([1.0],)), ((2, 50, 50), ([1, 2],)))
