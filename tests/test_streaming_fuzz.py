"""Randomized stream==batch parity for the stateful operators.

test_streaming.py proves each operator on the fixed fixtures with a
two-chunk time split; this module re-proves the carry discipline on
GENERATED event streams built to stress exactly what the fixtures
can't:

  - heavy (user_id, ts) collisions: a minute-grid clock over one day
    gives every user many same-timestamp runs, so the (ts, event_id)
    tie-break does real work in every fold;
  - micro-batch boundaries that SPLIT a timestamp tie: chunks are cut
    by global (ts, event_id) rank, not by a time threshold, so the
    same (user, ts) pair can straddle two micro-batches — legal under
    the twins' contract (cross-batch arrival must follow the
    (ts, event_id) total order; WITHIN a batch order is arbitrary and
    each fold re-sorts);
  - rows shuffled randomly inside each chunk file (the in-batch
    disorder the folds' sort_values must absorb);
  - three micro-batches, not two: state survives a middle hop where
    some users are absent (absent-key state retention).

Batch sides are the registry's oracle-checked queries run over the
same generated directory, so parity here chains to DuckDB parity via
tests/test_differential_fuzz.py.
"""

from __future__ import annotations

import datetime
import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

_ETYPE = ["signup", "click", "error", "view", "purchase"]


def _gen_events(seed: int, n: int = 600, users: int = 8) -> pd.DataFrame:
    """Tie-heavy random events: 8 users on a one-day minute grid means
    ~every user has same-minute runs; values on a coarse cent grid."""
    rng = np.random.RandomState(seed)
    epoch = datetime.datetime(2024, 1, 1)
    ts = [
        epoch + datetime.timedelta(minutes=int(m))
        for m in rng.randint(0, 1440, n)
    ]
    return pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pd.Series(ts, dtype="datetime64[us]"),
            "user_id": (rng.zipf(1.6, n) % users).astype(np.int64),
            "event_type": rng.choice(_ETYPE, n),
            "value": rng.choice(rng.randint(1, 20000, 40), n) / 100.0,
            "props": [json.dumps({"k": int(k)}) for k in rng.randint(0, 100, n)],
        }
    )


_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


@pytest.fixture(scope="module", params=[11, 12])
def fuzz_stream(request, tmp_path_factory):
    """(batch_dir, stream_dir): batch_dir holds one events.parquet for
    the registry queries; stream_dir holds three rank-cut, internally
    shuffled chunks with increasing mtimes (FileStreamSource replays
    them oldest-first, so maxFilesPerTrigger=1 gives three ordered
    micro-batches)."""
    seed = request.param
    rng = np.random.RandomState(seed + 1000)
    df = _gen_events(seed).sort_values(["ts", "event_id"]).reset_index(drop=True)
    root = tmp_path_factory.mktemp(f"sfuzz_{seed}")
    batch_dir = root / "batch"
    stream_dir = root / "stream"
    batch_dir.mkdir()
    stream_dir.mkdir()
    # full random table set (the daily-series twins aggregate
    # lineitem x part), then overwrite events with the tie-heavy
    # stream table so batch queries see exactly what streams
    from tests.test_differential_fuzz import generate_tables

    generate_tables(batch_dir, seed, "ties")
    pq.write_table(
        pa.Table.from_pandas(df, schema=_SCHEMA, preserve_index=False),
        batch_dir / "events.parquet",
    )
    cuts = np.array_split(np.arange(len(df)), 3)
    for i, idx in enumerate(cuts):
        chunk = df.iloc[idx].sample(frac=1.0, random_state=rng)  # in-chunk disorder
        path = stream_dir / f"{i}_chunk.parquet"
        pq.write_table(
            pa.Table.from_pandas(chunk, schema=_SCHEMA, preserve_index=False),
            path,
        )
        t = 1_700_000_000 + i * 10  # strictly increasing mtimes
        os.utime(path, (t, t))
    return str(batch_dir), str(stream_dir)


def _read_stream(spark, stream_dir: str, cols: list[str]):
    schema = spark.read.parquet(f"{stream_dir}/0_chunk.parquet").schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
        .select(*cols)
    )


def _run(spark, streaming_df, name: str, ckpt: str):
    q = (
        streaming_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180), "stream did not finish in time"
    return spark.sql(f"SELECT * FROM {name}").collect()


def _daily_three_chunks(spark, daily, day_col, tmp_path, tag):
    """Split a keyed daily frame into three day-tercile parquet chunks
    (state folds in day order; the aggregated grain has no duplicate
    (key, day), so a day-boundary cut preserves the fold order)."""
    days = sorted(r[0] for r in daily.select(day_col).distinct().collect())
    cuts = [days[len(days) // 3], days[2 * len(days) // 3]]
    src = tmp_path / f"{tag}_in"
    src.mkdir()
    import shutil

    from pyspark.sql import functions as F

    parts = [
        F.col(day_col) <= cuts[0],
        (F.col(day_col) > cuts[0]) & (F.col(day_col) <= cuts[1]),
        F.col(day_col) > cuts[1],
    ]
    for i, flt in enumerate(parts):
        daily.filter(flt).coalesce(1).write.parquet(str(src / "tmp"))
        part = next((src / "tmp").glob("part-*.parquet"))
        shutil.move(str(part), str(src / f"{i}_chunk.parquet"))
        shutil.rmtree(src / "tmp")
        t = 1_700_000_000 + i * 10
        os.utime(src / f"{i}_chunk.parquet", (t, t))
    return (
        spark.readStream.schema(daily.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )


def test_rolling_corr_fuzz_stream_equals_query(spark, fuzz_stream, tmp_path):
    """Rolling-corr twin on RANDOM daily series: the coarse money grid
    gives tied x/y runs (zero-variance windows → NULL corr on both
    sides) and random brands give short series (< window length)."""
    from pyspark.sql import functions as F

    from banksy_spark.streaming.stateful import rolling_corr
    from banksy_spark.suite import REGISTRY
    from banksy_spark.suite.registry import T

    batch_dir, _ = fuzz_stream
    li = T(spark, batch_dir, "lineitem").select(
        "l_partkey", "l_shipdate", "l_quantity", "l_extendedprice"
    )
    pt = T(spark, batch_dir, "part").select("p_partkey", "p_brand")
    daily = (
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .filter(F.col("p_brand").isin("Brand#11", "Brand#22", "Brand#3"))
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.col("l_shipdate").cast("date").alias("day"),
        )
        .agg(
            F.sum(F.round("l_quantity", 0).cast("bigint")).alias("x"),
            F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("bigint"))
            .alias("y"),
        )
        .select("brand", F.col("day").cast("string").alias("day"), "x", "y")
    )
    stream = _daily_three_chunks(spark, daily, "day", tmp_path, "rcf")
    rows = _run(spark, rolling_corr(stream), "rc_fuzz", str(tmp_path / "c5"))
    got = {(r.brand, r.day): (r.x, r.y, r.corr7) for r in rows}
    want = {
        (r.brand, str(r.day)): (int(r.x), int(r.y), r.corr7)
        for r in REGISTRY["w_rolling_corr"].fn(spark, batch_dir).collect()
    }
    assert len(want) >= 10
    assert set(got) == set(want)
    for k, (x, y, c) in want.items():
        gx, gy, gc = got[k]
        assert (gx, gy) == (x, y), k
        assert (gc is None and c is None) or gc == c, (k, gc, c)


def test_bollinger_fuzz_stream_equals_query(spark, fuzz_stream, tmp_path):
    """Bollinger twin on a RANDOM daily series: the 19-value buffer
    carries across three micro-batches; coarse grids give flat windows
    (zero stddev → band == mid, breakout comparisons on exact ties)."""
    from pyspark.sql import functions as F

    from banksy_spark.streaming.stateful import bollinger
    from banksy_spark.suite import REGISTRY
    from banksy_spark.suite.round5o import _BB_WIN, _daily

    batch_dir, _ = fuzz_stream
    daily = _daily(spark, batch_dir).select(
        "pri", F.col("day").cast("string").alias("day"), "cents"
    )
    stream = _daily_three_chunks(spark, daily, "day", tmp_path, "bbf")
    rows = _run(
        spark,
        bollinger(stream, window=_BB_WIN),
        "bb_fuzz",
        str(tmp_path / "c6"),
    )
    got = {
        (r.pri, r.day): (r.cents, r.mid, r.lower_band, r.upper_band, r.breakout_up)
        for r in rows
    }
    want = {
        (r.pri, str(r.day)): (r.cents, r.mid, r.lower_band, r.upper_band, r.breakout_up)
        for r in REGISTRY["w_bollinger_bands"].fn(spark, batch_dir).collect()
    }
    assert len(want) >= 10
    assert got == want  # bit-exact floats, no tolerance


def test_capped_balance_fuzz_stream_equals_query(spark, fuzz_stream, tmp_path):
    from banksy_spark.streaming.stateful import capped_balance
    from banksy_spark.suite import REGISTRY

    batch_dir, stream_dir = fuzz_stream
    stream = _read_stream(spark, stream_dir, ["event_id", "user_id", "ts", "value"])
    rows = _run(
        spark, capped_balance(stream), "cb_fuzz", str(tmp_path / "c1")
    )
    got = {r.event_id: (r.user_id, r.capped_balance) for r in rows}
    want = {
        r.event_id: (r.user_id, r.capped_balance)
        for r in REGISTRY["w_capped_running_sum"].fn(spark, batch_dir).collect()
    }
    assert len(want) == 600
    assert got == want  # bit-exact floats across 3 micro-batches


def test_markov_pairs_fuzz_stream_equals_query(spark, fuzz_stream, tmp_path):
    import collections

    from banksy_spark.streaming.stateful import markov_pairs
    from banksy_spark.suite import REGISTRY

    batch_dir, stream_dir = fuzz_stream
    stream = _read_stream(
        spark, stream_dir, ["event_id", "user_id", "ts", "event_type"]
    )
    rows = _run(spark, markov_pairs(stream), "mk_fuzz", str(tmp_path / "c2"))
    got = collections.Counter((r.from_type, r.to_type) for r in rows)
    want = {
        (r.from_type, r.to_type): r.n
        for r in REGISTRY["stream_markov_transitions"].fn(spark, batch_dir).collect()
    }
    assert got == {k: v for k, v in want.items()} and sum(want.values()) > 0


def test_rate_limit_fuzz_stream_equals_batch_replay(spark, fuzz_stream, tmp_path):
    from banksy_spark.streaming.stateful import rate_limit

    batch_dir, stream_dir = fuzz_stream
    stream = _read_stream(spark, stream_dir, ["user_id", "event_id", "ts"])
    rows = _run(spark, rate_limit(stream), "rl_fuzz", str(tmp_path / "c3"))
    got = sorted(r.event_id for r in rows)
    batch = spark.read.parquet(f"{batch_dir}/events.parquet")
    want = sorted(r.event_id for r in rate_limit(batch).collect())
    assert got == want and len(want) > 0


def test_tumbling_daily_fuzz_stream_equals_batch(spark, fuzz_stream, tmp_path):
    from banksy_spark.streaming import read_events_stream, tumbling_daily_counts

    batch_dir, stream_dir = fuzz_stream
    stream = read_events_stream(spark, stream_dir)
    q = (
        tumbling_daily_counts(stream)
        .writeStream.format("memory")
        .queryName("td_fuzz")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "c4"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180), "stream did not finish in time"
    got = {
        (str(r.day), r.event_type): r.n_events
        for r in spark.sql("SELECT * FROM td_fuzz").collect()
    }
    batch = spark.read.parquet(f"{batch_dir}/events.parquet")
    want = {
        (str(r.day), r.event_type): r.n_events
        for r in tumbling_daily_counts(batch).collect()
    }
    assert got == want and len(want) > 0


def test_file_manifest_fuzz_stream_equals_batch(spark, fuzz_stream, tmp_path):
    """Incremental file-stats manifest on RANDOM orders: the generated
    orders table (random key layout, so per-file min/max stats and file
    membership differ from the fixtures) streams in three key-shuffled
    chunks — most files' stats rows update across all three
    micro-batches — and the final manifest must equal the batch form
    bit-for-bit (count/min/max merge associatively). Chains to DuckDB
    parity via o_file_skipping_stats/o_manifest_prune in
    tests/test_differential_fuzz.py over the same generator."""
    import numpy as np

    from banksy_spark.streaming import file_stats_manifest

    batch_dir, _ = fuzz_stream
    orders = spark.read.parquet(f"{batch_dir}/orders.parquet").select(
        "o_orderkey", "o_orderdate"
    )
    pdf = orders.toPandas()
    rng = np.random.RandomState(77)
    pdf = pdf.sample(frac=1.0, random_state=rng).reset_index(drop=True)
    d = tmp_path / "orders_stream"
    d.mkdir()
    cuts = np.array_split(np.arange(len(pdf)), 3)
    for i, idx in enumerate(cuts):
        spark.createDataFrame(pdf.iloc[idx]).coalesce(1).write.parquet(
            str(d / f"c{i}"), mode="overwrite"
        )
    stream = (
        spark.readStream.schema(orders.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d / "c*"))
    )
    q = (
        file_stats_manifest(stream)
        .writeStream.format("memory")
        .queryName("fuzz_manifest")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_fm"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180), "stream did not finish in time"
    key = lambda r: r.file_id  # noqa: E731
    got = {
        key(r): (r.n_rows, r.min_key, r.max_key, str(r.min_date), str(r.max_date))
        for r in spark.sql("SELECT * FROM fuzz_manifest").collect()
    }
    want = {
        key(r): (r.n_rows, r.min_key, r.max_key, str(r.min_date), str(r.max_date))
        for r in file_stats_manifest(orders).collect()
    }
    assert got == want and len(want) > 0
