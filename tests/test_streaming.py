"""Structured Streaming slice: streaming results must equal the batch
forms of the same logic (SURVEY §2.9). Each stateful operator is one
function, run here on a stream and on the bounded frame."""

from __future__ import annotations

import os
import shutil
import time
import uuid

import pytest
from pyspark.sql import functions as F

from banksy_spark.streaming import read_events_stream, tumbling_daily_counts
from tests.conftest import SF_SMOKE


@pytest.fixture()
def events_dir(tmp_path):
    d = tmp_path / "events_in"
    d.mkdir()
    shutil.copy(f"{SF_SMOKE}/events.parquet", d / "part-0.parquet")
    return str(d)


def _drain(stream_df, tmp_path, mode="append"):
    """Run ``stream_df`` over all of its input into a fresh memory sink
    and return the sink as a DataFrame."""
    name = f"sink_{uuid.uuid4().hex}"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180), "stream did not finish in time"
    return stream_df.sparkSession.table(name)


def _file_stream(parts, tmp_path):
    """A stream that reads each frame of ``parts`` as one micro-batch, in
    list order: one parquet file per frame, its mtime pinned (the file
    source orders files by mtime at ms resolution, so files written
    within one ms could swap) and one file per trigger."""
    src = tmp_path / "chunks"
    src.mkdir()
    now = time.time()
    for i, part in enumerate(parts):
        part.coalesce(1).write.parquet(str(tmp_path / f"chunk{i}"))
        dst = src / f"{i}.parquet"
        shutil.move(str(next((tmp_path / f"chunk{i}").glob("part-*.parquet"))), str(dst))
        os.utime(dst, (now + 10 * i, now + 10 * i))
    return (
        parts[0].sparkSession.readStream.schema(parts[0].schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )


def _two_chunk_stream(df, tmp_path, by="ts"):
    """``df`` as two micro-batches split at its median ``by`` value, so
    every key whose series spans the median carries its state across
    the batch boundary."""
    vals = sorted(r[0] for r in df.select(by).distinct().collect())
    cut = vals[len(vals) // 2]
    return _file_stream([df.filter(F.col(by) <= cut), df.filter(F.col(by) > cut)], tmp_path)


def _events(spark):
    from banksy_spark.suite.registry import T

    return T(spark, SF_SMOKE, "events")


def test_tumbling_daily_stream_equals_batch(spark, events_dir, tmp_path):
    stream = read_events_stream(spark, events_dir)
    assert stream.isStreaming
    got = {
        (str(r.day), r.event_type): r.n_events
        for r in _drain(tumbling_daily_counts(stream), tmp_path, "complete").collect()
    }
    batch = tumbling_daily_counts(_events(spark))
    want = {(str(r.day), r.event_type): r.n_events for r in batch.collect()}
    assert got == want and len(want) > 0


def test_stateful_rate_limit_across_batches(spark, tmp_path):
    """applyInPandasWithState: the quota a day consumed in one
    micro-batch carries into the next. The stream runs once over one
    copy of the events file, then a second copy lands and the query
    restarts on the same checkpoint, so the second run's batch sees the
    same day again. The stream keeps only the busiest error day: the
    (day, n) carry restarts on a day change, so replaying earlier days
    would legitimately start them over."""
    from banksy_spark.streaming.stateful import rate_limit

    errors = _events(spark).filter(F.col("event_type") == "error")
    busiest = (
        errors.groupBy("user_id", F.to_date("ts").alias("day"))
        .count()
        .orderBy(F.desc("count"), "day", "user_id")
        .first()
    )
    # the limiter must act: one user-day holds >= 2 errors, so two
    # copies of it exceed the quota of 3 unless the carry survives
    assert busiest["count"] >= 2

    src = tmp_path / "multi_in"
    src.mkdir()
    shutil.copy(f"{SF_SMOKE}/events.parquet", src / "a.parquet")
    stream = read_events_stream(spark, str(src)).filter(
        (F.col("event_type") == "error") & (F.to_date("ts") == F.lit(busiest["day"]))
    )
    out_dir = str(tmp_path / "rl_out")

    def run():
        q = (
            rate_limit(stream)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt_state"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), "stream did not finish in time"
        assert sum(p["numInputRows"] for p in q.recentProgress) > 0

    run()
    first = spark.read.parquet(out_dir).count()
    shutil.copy(f"{SF_SMOKE}/events.parquet", src / "b.parquet")
    run()
    out = spark.read.parquet(out_dir)
    assert out.count() >= first > 0
    per_day = out.groupBy("user_id", "day").count()
    assert per_day.agg(F.max("count")).first()[0] <= 3
    # nth_today is a proper 1..3 counter within each (user, day)
    bad = out.filter((F.col("nth_today") < 1) | (F.col("nth_today") > 3))
    assert bad.count() == 0


def test_dedup_within_watermark_stream(spark, events_dir, tmp_path):
    from banksy_spark.streaming.core import dedup_earliest_within_watermark

    stream = read_events_stream(spark, events_dir)
    out = _drain(dedup_earliest_within_watermark(stream), tmp_path).select(
        "user_id", "event_type"
    )
    # exactly one row per observed (user, event_type) key
    assert out.count() == out.distinct().count() > 0


def test_stream_stream_interval_join_equals_batch(spark, events_dir, tmp_path):
    from banksy_spark.streaming.core import purchase_attribution_stream

    stream = read_events_stream(spark, events_dir)
    purchases = stream.filter(F.col("event_type") == "purchase")
    clicks = stream.filter(F.col("event_type") == "click")
    got = {
        (r.purchase_id, r.click_id)
        for r in _drain(purchase_attribution_stream(purchases, clicks), tmp_path).collect()
    }
    # batch twin over the same file
    from banksy_spark.suite import REGISTRY
    batch = REGISTRY["stream_interval_join"].fn(spark, SF_SMOKE)
    want = {(r.purchase_id, r.click_id) for r in batch.collect()}
    assert got == want and len(want) > 0


def test_stateful_limiter_equals_batch_twin(spark, events_dir, tmp_path):
    """The limiter returns the same rows on a one-batch stream and on
    the bounded frame (the oracle-checked suite form)."""
    from banksy_spark.streaming.stateful import rate_limit

    stream = read_events_stream(spark, events_dir).filter(F.col("event_type") == "error")
    got = {
        (r.event_id, r.day, r.nth_today)
        for r in _drain(rate_limit(stream), tmp_path).collect()
    }
    batch = _events(spark).filter(F.col("event_type") == "error")
    want = {(r.event_id, r.day, r.nth_today) for r in rate_limit(batch).collect()}
    assert got == want and len(got) > 0


def test_hopping_window_stream_equals_batch(spark, events_dir, tmp_path):
    from banksy_spark.streaming import hopping_hourly_sums

    stream = read_events_stream(spark, events_dir)
    got = {
        (str(r.win_start), r.event_type): r.n_events
        for r in _drain(hopping_hourly_sums(stream), tmp_path, "complete").collect()
    }
    batch = hopping_hourly_sums(_events(spark))
    want = {(str(r.win_start), r.event_type): r.n_events for r in batch.collect()}
    assert got == want and len(want) > 0


def test_session_window_stream_equals_batch(spark, events_dir, tmp_path):
    from banksy_spark.streaming import session_window_counts

    stream = read_events_stream(spark, events_dir)
    got = {
        (r.user_id, str(r.session_start)): (str(r.session_end), r.n_events)
        for r in _drain(session_window_counts(stream), tmp_path, "complete").collect()
    }
    batch = session_window_counts(_events(spark))
    want = {
        (r.user_id, str(r.session_start)): (str(r.session_end), r.n_events)
        for r in batch.collect()
    }
    assert got == want and len(want) > 0


def _batch_canonical(spark, sf_dir):
    """The incremental dedup's batch form: the same earliest-wins
    canonicalization computed in one pass from the all-at-once
    band-collision pairs."""
    from banksy_spark.suite.llm import _band_pairs, _lsh_sigs

    sigs = _lsh_sigs(spark, sf_dir, with_hs=False)
    canon = (
        _band_pairs(sigs)
        .groupBy(F.col("doc_b").alias("doc_id"))
        .agg(F.min("doc_a").alias("dup_of"))
    )
    return (
        sigs.select("doc_id")
        .join(canon, "doc_id", "left")
        .select(
            "doc_id",
            F.col("dup_of").isNotNull().alias("is_dup"),
            F.coalesce("dup_of", "doc_id").alias("canonical_id"),
        )
    )


def test_incremental_lsh_dedup_stream_equals_batch(spark, tmp_path):
    # Ingest the corpus as 3 ordered parquet drops; the per-batch
    # store-probe decisions must equal the all-at-once batch
    # canonicalization (earliest-wins via min band-collider).
    import pandas as pd

    from banksy_spark.streaming.dedup_incremental import (
        incremental_lsh_dedup,
        read_docs_stream,
    )
    from tests.conftest import SF_ORACLE

    pdf = pd.read_parquet(f"{SF_ORACLE}/documents.parquet").sort_values("doc_id")
    d = tmp_path / "docs_in"
    d.mkdir()
    n = len(pdf)
    for i in range(3):
        part = pdf.iloc[i * n // 3 : (i + 1) * n // 3]
        p = d / f"batch-{i}.parquet"
        part.to_parquet(p, index=False)
        os.utime(p, (1_000_000 + i * 60, 1_000_000 + i * 60))

    stream = read_docs_stream(spark, str(d))
    assert stream.isStreaming
    q = incremental_lsh_dedup(
        stream,
        str(tmp_path / "band_store"),
        str(tmp_path / "decisions"),
        str(tmp_path / "ckpt"),
    )
    assert q.awaitTermination(240), "stream did not finish in time"

    got = {
        r.doc_id: (r.is_dup, r.canonical_id)
        for r in spark.read.parquet(str(tmp_path / "decisions")).collect()
    }
    want = {
        r.doc_id: (r.is_dup, r.canonical_id)
        for r in _batch_canonical(spark, SF_ORACLE).collect()
    }
    assert got == want
    assert len(want) > 0 and any(v[0] for v in want.values()), "fixture has real dups"


def test_first_seen_stream_emits_each_user_once_across_batches(spark, tmp_path):
    """First-seen dedup emits each user exactly once even when the same
    data arrives in two micro-batches (two file copies,
    maxFilesPerTrigger=1)."""
    from banksy_spark.streaming.stateful import first_seen, first_seen_batch

    batch = _events(spark)
    want = {(r["user_id"], r["event_id"]) for r in first_seen_batch(batch).collect()}
    assert len(want) == batch.select("user_id").distinct().count()
    assert {(r["user_id"], r["event_id"]) for r in first_seen(batch).collect()} == want

    stream = _file_stream([batch, batch], tmp_path)
    got = {(r["user_id"], r["event_id"]) for r in _drain(first_seen(stream), tmp_path).collect()}
    assert got == want
    assert len(got) == batch.select("user_id").distinct().count()


def test_stateful_ewma_stream_equals_batch(spark, tmp_path):
    """The EWMA must return the same bits on a stream as on the bounded
    frame (w_ewma) when the stream delivers each user's timeline in
    order: events time-split into two files, processed one per batch
    in modification order — the acc carries across the batch boundary."""
    from banksy_spark.streaming.stateful import ewma

    batch = _events(spark)
    stream = _two_chunk_stream(batch, tmp_path)
    got = {
        (r["user_id"], r["event_id"]): r["ewma"]
        for r in _drain(ewma(stream), tmp_path).collect()
    }
    want = {(r["user_id"], r["event_id"]): r["ewma"] for r in ewma(batch).collect()}
    assert len(got) == len(want) > 0
    assert got == want, "incremental EWMA diverged from the batch fold"


def test_cms_maintenance_stream_equals_batch(spark, tmp_path):
    """The foreachBatch-maintained CMS grid must equal the one-shot
    batch grid cell-for-cell after streaming the events in two
    micro-batches (sketch merge == recompute, the IVM property)."""
    from banksy_spark.streaming.cms import cms_cells, cms_maintenance_stream

    events = _events(spark).select("user_id")
    store = str(tmp_path / "cms_store")
    q = (
        cms_maintenance_stream(_file_stream([events, events], tmp_path), store)
        .option("checkpointLocation", str(tmp_path / "ckpt_cms"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180), "stream did not finish in time"

    got = {(r.r, r.cell): r.cnt for r in spark.read.parquet(store).collect()}
    # the stream saw the events twice (two copies) -> 2x the batch counts
    want = {(r.r, r.cell): 2 * r.cnt for r in cms_cells(events).collect()}
    assert got == want and len(got) > 0


def test_stateful_attribution_stream_equals_batch(spark, tmp_path):
    """Last-touch attribution must return the same purchases on a
    stream as on the bounded frame, and re-aggregate to the batch
    query's per-channel (purchases, revenue-cents) exactly: events
    time-split into two files processed one per batch, the carried
    touchpoint crossing the boundary."""
    from banksy_spark.streaming.stateful import attribution
    from banksy_spark.suite import REGISTRY

    batch = _events(spark)
    rows = _drain(attribution(_two_chunk_stream(batch, tmp_path)), tmp_path)
    assert set(rows.collect()) == set(attribution(batch).collect())

    got = {}
    for r in (
        rows.groupBy("channel")
        .agg(
            F.count("*").alias("purchases"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents"),
        )
        .collect()
    ):
        got[r["channel"]] = (r["purchases"], r["cents"])

    want = {}
    for r in REGISTRY["stream_attribution"].fn(spark, SF_SMOKE).collect():
        want[r["channel"]] = (r["purchases"], round(r["revenue"] * 100))

    assert len(got) == len(want) > 0
    assert got == want, "incremental attribution diverged from batch window"


def test_stateful_cusum_stream_equals_batch(spark, tmp_path):
    """The CUSUM must return the same bits on a stream as on the bounded
    frame (w_cusum_changepoint) when the daily series arrives split
    across two micro-batches: (mu, sigma) are fitted offline by
    cusum_parts and frozen as online-detector parameters — the
    standard fit-offline/monitor-online sequential-test split."""
    from banksy_spark.streaming.stateful import cusum
    from banksy_spark.suite.round5 import cusum_parts

    daily, stats = cusum_parts(spark, SF_SMOKE)
    stream = _two_chunk_stream(daily, tmp_path, by="day")
    got = {
        (r["pri"], r["day"]): (r["cents"], r["s_pos"], r["drift"])
        for r in _drain(cusum(stream, stats), tmp_path).collect()
    }
    want = {
        (r["pri"], r["day"]): (r["cents"], r["s_pos"], r["drift"])
        for r in cusum(daily, stats).collect()
    }
    assert got == want
    assert len(want) > 100


def test_stateful_capped_sessions_stream_equals_batch(spark, tmp_path):
    """The capped sessionizer must return the same sessions on a stream
    as on the bounded frame (w_capped_sessions) when events arrive
    time-split across two micro-batches: session_id, last-event time,
    and the session-start anchor all carry across the batch boundary,
    so a session spanning the split is neither re-opened nor
    re-capped."""
    from banksy_spark.streaming.stateful import capped_sessions

    batch = _events(spark)
    stream = _two_chunk_stream(batch, tmp_path)
    got = {
        (r["user_id"], r["event_id"]): r["session_id"]
        for r in _drain(capped_sessions(stream), tmp_path).collect()
    }
    want = {
        (r["user_id"], r["event_id"]): r["session_id"]
        for r in capped_sessions(batch).collect()
    }
    assert len(got) == len(want) > 0
    assert got == want, "incremental capped sessions diverged from batch fold"


def test_stateful_holt_stream_equals_batch(spark, tmp_path):
    """The Holt fold must return the same bits on a stream as on the
    bounded frame (w_holt_linear) when the daily series arrives split
    across two micro-batches: (t, level, trend) carry across the
    boundary so the first post-split point smooths against the carried
    state, not a re-initialized one."""
    from banksy_spark.streaming.stateful import holt
    from banksy_spark.suite.round5 import cusum_parts

    daily, _stats = cusum_parts(spark, SF_SMOKE)
    stream = _two_chunk_stream(daily, tmp_path, by="day")
    got = {
        (r["pri"], r["day"]): (r["cents"], r["level"], r["trend"])
        for r in _drain(holt(stream), tmp_path).collect()
    }
    want = {
        (r["pri"], r["day"]): (r["cents"], r["level"], r["trend"])
        for r in holt(daily).collect()
    }
    assert len(got) == len(want) > 0
    assert got == want, "incremental Holt diverged from the batch fold"


# --- End-to-end scan app: scrape pages -> alerts, stream == batch -----------


def _odds_page(rows, header=("Team", "DraftKings", "FanDuel", "Caesars")):
    """Minimal odds page in the reference's scraped shape: banner row,
    header AS data, one <tr> per team."""
    trs = "".join(
        "<tr>" + "".join(f"<td>{c}</td>" for c in r) + "</tr>"
        for r in [header, *rows]
    )
    return f"<table><tr><td colspan='4'>banner</td></tr>{trs}</table>"


_EPOCHS = [
    # (alert_ts, {sport: page rows}) — the same NFL game arbs in every
    # scan; max_per_day=2 must let epochs 1-2 alert and suppress epoch 3
    ("2024-05-01 12:00:00", [("Alpha", "+150", "+140", "N/A"), ("Beta", "+120", "N/A", "+130")]),
    ("2024-05-01 13:00:00", [("Alpha", "+155", "+140", "N/A"), ("Beta", "+120", "N/A", "+135")]),
    ("2024-05-01 14:00:00", [("Alpha", "+160", "+140", "N/A"), ("Beta", "+120", "N/A", "+140")]),
]


def _alert_log(spark, path):
    return {
        (r["Team"], str(r["updated_at"]), r["combined"])
        for r in spark.read.parquet(path).collect()
    }


def test_scan_app_stream_equals_batch_with_replay(spark, tmp_path):
    """Round 7 (VERDICT r6 item 6): the full reference loop as one
    streaming app — scrape payloads -> S1 parse -> normalize ->
    arbitrage -> sign audit + daily rate limit -> notify + alert-log
    state — over 3 micro-batches, equals the sequential batch form,
    and a REPLAYED epoch (Structured Streaming's at-least-once
    redelivery) delivers nothing and leaves the state identical
    (exercises upsert_batch's write-once append under replay)."""
    from banksy_spark.streaming.app import process_scan_epoch, run_scan_stream

    payload_dir = str(tmp_path / "payloads")
    ckpt = str(tmp_path / "ckpt")
    state_s = str(tmp_path / "state_stream")
    state_b = str(tmp_path / "state_batch")
    posts_s: list[str] = []
    posts_b: list[str] = []

    # stream side: one payload file per scan cycle, drained as its own
    # micro-batch (availableNow after each drop => 3 micro-batches)
    for ts, rows in _EPOCHS:
        spark.createDataFrame(
            [("NFL", _odds_page(rows), ts)], "sport string, payload string, alert_ts string"
        ).write.mode("append").parquet(payload_dir)
        q = run_scan_stream(
            spark, payload_dir, ckpt, state_s, posts_s.append, max_per_day=2
        )
        q.awaitTermination(120)

    # batch twin: the same epochs folded sequentially through the same
    # pure scan function against a separate state dir
    for ts, rows in _EPOCHS:
        process_scan_epoch(
            spark, {"NFL": _odds_page(rows)}, ts, state_b, posts_b.append,
            max_per_day=2,
        )

    assert posts_s == posts_b
    assert len(posts_s) == 2, posts_s  # epoch 3 rate-limited away
    assert "Alpha" in posts_s[0] and "Beta" in posts_s[0]

    assert _alert_log(spark, state_s) == _alert_log(spark, state_b)
    assert len(_alert_log(spark, state_s)) == 4  # 2 teams x 2 delivered epochs

    # replayed epoch: redeliver scan 2 into the stream state — nothing
    # sends and nothing is appended
    before = _alert_log(spark, state_s)
    ts2, rows2 = _EPOCHS[1]
    sent = process_scan_epoch(
        spark, {"NFL": _odds_page(rows2)}, ts2, state_s, posts_s.append,
        max_per_day=2,
    )
    assert sent == 0
    assert posts_s == posts_b
    assert _alert_log(spark, state_s) == before


class _Crash(Exception):
    pass


# where an epoch is cut -> whether its replay repeats the epoch's post:
# only a crash between the send and the rename of the epoch's file does
# (the documented at-least-once window)
_EPOCH_CRASHES = {
    "after_decision_checkpoint": False,
    "after_send": True,
    "after_staging_write": True,
    "after_rename": False,
}


@pytest.fixture(scope="module")
def uninterrupted_scan(spark, tmp_path_factory):
    """(posts, alert log) of the _EPOCHS run with no crash."""
    from banksy_spark.streaming.app import process_scan_epoch

    state = str(tmp_path_factory.mktemp("uninterrupted") / "state")
    posts: list[str] = []
    for ts, rows in _EPOCHS:
        process_scan_epoch(spark, {"NFL": _odds_page(rows)}, ts, state, posts.append, max_per_day=2)
    return posts, _alert_log(spark, state)


@pytest.mark.parametrize("crash", sorted(_EPOCH_CRASHES))
def test_scan_app_replay_after_crash_at_each_step(
    spark, tmp_path, monkeypatch, uninterrupted_scan, crash
):
    """The second of the _EPOCHS is cut at one step and replayed, then
    the third runs.  The log ends equal to the uninterrupted run's with
    each (Team, updated_at) once, every expected alert is posted, and
    the crashed epoch's post repeats only when the crash fell between
    the send and the rename."""
    from banksy_spark import io
    from banksy_spark.sources import adapters
    from banksy_spark.streaming.app import process_scan_epoch

    want_posts, want_log = uninterrupted_scan
    send, rename = adapters.send_notifications, io._rename

    def crash_send(alerts, post, **kwargs):
        if crash == "after_send":
            send(alerts, post, **kwargs)
        raise _Crash(crash)

    def crash_rename(fs, src, dst):
        if crash == "after_rename":
            rename(fs, src, dst)
        raise _Crash(crash)

    state = tmp_path / "state"
    posts: list[str] = []
    for i, (ts, rows) in enumerate(_EPOCHS):
        page = {"NFL": _odds_page(rows)}
        if i == 1:
            with monkeypatch.context() as m:
                if crash in ("after_decision_checkpoint", "after_send"):
                    m.setattr(adapters, "send_notifications", crash_send)
                else:
                    m.setattr(io, "_rename", crash_rename)
                with pytest.raises(_Crash):
                    process_scan_epoch(spark, page, ts, str(state), posts.append, max_per_day=2)
        process_scan_epoch(spark, page, ts, str(state), posts.append, max_per_day=2)

    keys = [(r["Team"], r["updated_at"]) for r in spark.read.parquet(str(state)).collect()]
    assert len(keys) == len(set(keys))
    assert _alert_log(spark, str(state)) == want_log
    assert len(want_posts) == 2  # the third epoch is rate-limited away
    repeated = want_posts[:2] + want_posts[1:]
    assert posts == (repeated if _EPOCH_CRASHES[crash] else want_posts)
    assert not list(state.glob("_staging-*"))


def test_scan_app_commit_appends_one_file(spark, tmp_path):
    """An epoch's commit adds one file holding exactly the rows the
    epoch committed, and leaves the existing log file as it was: the
    log is appended to, never rewritten."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from banksy_spark.streaming.app import process_scan_epoch

    state = tmp_path / "state"
    state.mkdir()
    seed = state / "part-00000.parquet"
    t0 = dt.datetime(2024, 4, 1, tzinfo=dt.timezone.utc)
    pq.write_table(
        pa.table({
            "Team": pa.array([f"Seed{i % 50}" for i in range(1000)], pa.string()),
            "updated_at": pa.array(
                [t0 + dt.timedelta(minutes=i) for i in range(1000)], pa.timestamp("us", tz="UTC")
            ),
            "combined": pa.array([f"seed alert {i}" for i in range(1000)], pa.string()),
        }),
        seed,
    )
    before = (seed.read_bytes(), seed.stat().st_mtime_ns)
    seeded = _alert_log(spark, str(state))
    posts: list[str] = []
    ts, rows = _EPOCHS[0]
    assert process_scan_epoch(spark, {"NFL": _odds_page(rows)}, ts, str(state), posts.append) == 2

    assert (seed.read_bytes(), seed.stat().st_mtime_ns) == before
    (new,) = [f for f in state.glob("part-*.parquet") if f != seed]
    committed = _alert_log(spark, str(new))
    assert committed == _alert_log(spark, str(state)) - seeded
    assert sorted(c for _, _, c in committed) == posts[0].split("\n")


def test_scan_app_corrupt_state_fails_loudly(spark, tmp_path):
    """An alert log that cannot be read is an error, not "no alerts
    sent yet": the epoch raises and posts nothing, instead of resetting
    the daily cap."""
    from py4j.protocol import Py4JJavaError

    from banksy_spark.streaming.app import process_scan_epoch

    state = tmp_path / "state"
    state.mkdir()
    (state / "part-00000.parquet").write_bytes(b"not a parquet file")
    posts: list[str] = []
    ts, rows = _EPOCHS[0]
    with pytest.raises(Py4JJavaError, match="Parquet"):
        process_scan_epoch(spark, {"NFL": _odds_page(rows)}, ts, str(state), posts.append)
    assert posts == []


def test_scan_app_layout_drift_fails_before_any_effect(spark, tmp_path):
    """A page whose header lost a bookie column stops the epoch with a
    ValueError naming the sport and the column, before anything is
    posted or committed.  (Quarantining such pages is not built.)"""
    import os

    from banksy_spark.streaming.app import process_scan_epoch

    state = str(tmp_path / "state")
    posts: list[str] = []
    ts, rows = _EPOCHS[0]
    drifted = _odds_page(
        [(t, dk, cz) for t, dk, _fd, cz in rows],
        header=("Team", "DraftKings", "Caesars"),
    )
    with pytest.raises(ValueError, match=r"'NFL'.*\['FanDuel'\]"):
        process_scan_epoch(spark, {"NFL": drifted}, ts, state, posts.append)
    assert posts == []
    assert not os.path.exists(state)


def test_benchmark_traced_names_exist():
    """perfbench/probes.py ``install_wrappers`` traces the scan app by
    replacing these module attributes; a rename would silently leave a
    layer untraced.  ``process_scan_epoch`` must import ``upsert_batch``
    at call time, so the wrapped ``io.upsert_batch`` is the one called."""
    import dis

    from banksy_spark import io, pipelines
    from banksy_spark.sources import adapters
    from banksy_spark.streaming import app
    from banksy_spark.suite import REGISTRY, registry

    traced = {
        io: ["upsert_batch"],
        app: ["pages_to_raw", "read_alert_log", "process_scan_epoch"],
        adapters: ["first_table_rows", "promote_header", "send_notifications"],
        pipelines: ["normalize_odds", "find_arbitrage", "decide_alerts"],
        registry: ["T"],
    }
    for module, names in traced.items():
        for name in names:
            assert callable(getattr(module, name, None)), f"{module.__name__}.{name}"
    assert REGISTRY
    assert not hasattr(app, "upsert_batch")
    imports = {
        i.argval
        for i in dis.get_instructions(app.process_scan_epoch)
        if i.opname == "IMPORT_FROM"
    }
    assert "upsert_batch" in imports


def test_benchmark_parse_wrappers_see_every_page(spark, monkeypatch):
    """The traced benchmark wraps ``adapters.first_table_rows`` and
    ``adapters.promote_header`` as its ``sources.parse`` layer and fails
    a run in which that layer records no call, so ``pages_to_raw`` must
    reach both through the ``adapters`` module globals, once per page."""
    from banksy_spark.sources import adapters
    from banksy_spark.streaming import app

    calls = {"first_table_rows": 0, "promote_header": 0}
    for name in calls:
        fn = getattr(adapters, name)

        def counted(*args, _fn=fn, _name=name):
            calls[_name] += 1
            return _fn(*args)

        monkeypatch.setattr(adapters, name, counted)
    _, rows = _EPOCHS[0]
    raw = app.pages_to_raw(spark, {"NFL": _odds_page(rows), "MLB": _odds_page(rows)})
    assert calls == {"first_table_rows": 2, "promote_header": 2}
    assert raw.count() == 2 * len(rows)


def test_stateful_sprt_equals_batch_twin_across_batches(spark, tmp_path):
    """The SPRT monitor fires the SAME decisions at the SAME trial
    counts on a stream, on the bounded frame and in the oracle-checked
    batch query, with the event file split into two time-ordered chunks
    so state must carry across micro-batches (maxFilesPerTrigger=1)."""
    from banksy_spark.streaming.stateful import sprt_monitor

    ev = _events(spark)
    rows = _drain(sprt_monitor(_two_chunk_stream(ev, tmp_path)), tmp_path).collect()
    assert set(rows) == set(sprt_monitor(ev).collect())
    got = {r.day: (r.n_at_decision, r.k_at_decision, r.decision) for r in rows}
    from banksy_spark.suite import REGISTRY

    batch = REGISTRY["ml_sprt_sequential"].fn(spark, SF_SMOKE)
    want = {
        str(r.day): (r.n_at_decision, r.decision)
        for r in batch.filter(F.col("decision") != "continue").collect()
    }
    assert set(got) == set(want) and len(want) >= 5
    for day, (n_dec, k_dec, decision) in got.items():
        assert want[day] == (n_dec, decision)
        # the streaming k is internally consistent with its own n
        assert 0 <= k_dec <= n_dec


def test_space_saving_heavy_hitters_guarantees(spark, tmp_path):
    """Streaming Space-Saving across two micro-batches: (a) every item
    whose true count exceeds N_shard/capacity is tracked, (b) estimates
    bracket the truth (true <= est <= true + err), (c) state stays
    bounded at capacity entries per shard."""
    from banksy_spark.streaming.stateful import heavy_hitters_stateful

    ev = _events(spark)
    stream = _two_chunk_stream(ev, tmp_path)
    # keep only the LAST emission per (shard, item): update mode re-emits
    out = _drain(
        heavy_hitters_stateful(stream, "event_type", capacity=4, n_shards=2),
        tmp_path,
        "update",
    ).select("shard", "item", "est_count", "max_err").toPandas()
    # memory-sink rows are unordered; counts grow monotonically, so the
    # max est per (shard, item) IS the final summary state
    final = (
        out.sort_values("est_count").groupby(["shard", "item"]).last().reset_index()
    )
    assert final.groupby("shard").size().max() <= 4
    # truth per shard (same hash sharding)
    truth = (
        ev.select(
            F.pmod(F.xxhash64("event_type"), F.lit(2)).cast("int").alias("shard"),
            F.col("event_type").alias("item"),
        )
        .groupBy("shard", "item")
        .count()
        .toPandas()
    )
    for _, t in truth.iterrows():
        n_shard = truth[truth.shard == t.shard]["count"].sum()
        row = final[(final.shard == t.shard) & (final["item"] == t["item"])]
        if t["count"] > n_shard / 4:
            assert len(row) == 1, f"frequent item {t['item']} not tracked"
        if len(row):
            est, err = int(row.est_count.iloc[0]), int(row.max_err.iloc[0])
            assert t["count"] <= est <= t["count"] + err


def test_stateful_rolling_corr_equals_batch_across_batches(spark, tmp_path):
    """The rolling-corr operator emits BIT-IDENTICAL (brand, day, x, y,
    corr7) rows on a stream, on the bounded frame and in the
    oracle-checked window query, with the daily series split into two
    time-ordered chunks so the (buffer, counter) state must carry
    across micro-batches."""
    from banksy_spark.streaming.stateful import rolling_corr
    from banksy_spark.suite import REGISTRY
    from banksy_spark.suite.registry import T

    li = T(spark, SF_SMOKE, "lineitem").select(
        "l_partkey", "l_shipdate", "l_quantity", "l_extendedprice"
    )
    pt = T(spark, SF_SMOKE, "part").select("p_partkey", "p_brand")
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
    # median ISO day as the chunk boundary (string-ordered == date-ordered)
    stream = _two_chunk_stream(daily, tmp_path, by="day")
    rows = _drain(rolling_corr(stream), tmp_path).collect()
    assert set(rows) == set(rolling_corr(daily).collect())
    got = {(r.brand, r.day): (r.x, r.y, r.corr7) for r in rows}
    want = {
        (r.brand, str(r.day)): (r.x, r.y, r.corr7)
        for r in REGISTRY["w_rolling_corr"].fn(spark, SF_SMOKE).collect()
    }
    assert len(want) >= 100
    assert set(got) == set(want)
    for k, (x, y, c) in want.items():
        gx, gy, gc = got[k]
        assert (gx, gy) == (x, y), k
        # bit-exact float parity, NaN-free by construction
        assert (gc is None and c is None) or gc == c, (k, gc, c)


def test_stateful_bollinger_equals_batch_across_batches(spark, tmp_path):
    """The Bollinger operator emits BIT-IDENTICAL (pri, day, cents, mid,
    bands, breakout) rows on a stream, on the bounded frame and in the
    oracle-checked window query, with the daily series split into two
    time-ordered chunks so the value buffer must carry across
    micro-batches."""
    from banksy_spark.streaming.stateful import bollinger
    from banksy_spark.suite import REGISTRY
    from banksy_spark.suite.round5o import _BB_WIN, _daily

    daily = _daily(spark, SF_SMOKE).select(
        "pri", F.col("day").cast("string").alias("day"), "cents"
    )
    stream = _two_chunk_stream(daily, tmp_path, by="day")
    rows = _drain(bollinger(stream, window=_BB_WIN), tmp_path).collect()
    assert set(rows) == set(bollinger(daily, window=_BB_WIN).collect())
    got = {
        (r.pri, r.day): (r.cents, r.mid, r.lower_band, r.upper_band, r.breakout_up)
        for r in rows
    }
    want = {
        (r.pri, str(r.day)): (r.cents, r.mid, r.lower_band, r.upper_band, r.breakout_up)
        for r in REGISTRY["w_bollinger_bands"].fn(spark, SF_SMOKE).collect()
    }
    assert len(want) >= 100
    assert set(got) == set(want)
    assert got == want  # bit-exact floats, no tolerance


def test_stateful_capped_balance_equals_batch_across_batches(spark, tmp_path):
    """The token bucket emits BIT-IDENTICAL (event_id, user_id,
    capped_balance) rows on a stream, on the bounded frame and in the
    oracle-checked w_capped_running_sum, with the events split into two
    time-ordered chunks so every user's one-double balance must carry
    across micro-batches."""
    from banksy_spark.streaming.stateful import capped_balance
    from banksy_spark.suite import REGISTRY

    events = _events(spark).select("event_id", "user_id", "ts", "value")
    rows = _drain(capped_balance(_two_chunk_stream(events, tmp_path)), tmp_path).collect()
    assert set(rows) == set(capped_balance(events).collect())
    got = {r.event_id: (r.user_id, r.capped_balance) for r in rows}
    want = {
        r.event_id: (r.user_id, r.capped_balance)
        for r in REGISTRY["w_capped_running_sum"].fn(spark, SF_SMOKE).collect()
    }
    assert len(want) >= 1000
    assert got == want  # bit-exact floats, no tolerance


def test_stateful_markov_pairs_equal_batch_across_batches(spark, tmp_path):
    """The last-event pairing emits the SAME transition multiset on a
    stream, on the bounded frame and in stream_markov_transitions'
    lead() window, with the per-user last event carried across two
    micro-batches."""
    import collections

    from banksy_spark.streaming.stateful import markov_pairs
    from banksy_spark.suite import REGISTRY

    events = _events(spark).select("event_id", "user_id", "ts", "event_type")
    rows = _drain(markov_pairs(_two_chunk_stream(events, tmp_path)), tmp_path).collect()
    got = collections.Counter((r.from_type, r.to_type) for r in rows)
    assert got == collections.Counter(
        (r.from_type, r.to_type) for r in markov_pairs(events).collect()
    )
    want = {
        (r.from_type, r.to_type): r.n
        for r in REGISTRY["stream_markov_transitions"].fn(spark, SF_SMOKE).collect()
    }
    assert sum(want.values()) >= 900
    assert dict(got) == want


def test_ohlc_candles_stream_equals_batch(spark, events_dir, tmp_path):
    """OHLC via min_by/max_by is a DECLARATIVE windowed aggregation —
    streaming state per open candle is one candidate per extreme and
    the merge is associative, so the stream must equal the batch form
    bit-for-bit (values pass through unsummed). Twin of the
    oracle-checked suite query w_ohlc_resample (window.start ==
    date_trunc hour)."""
    from banksy_spark.streaming import ohlc_candles

    stream = read_events_stream(spark, events_dir)
    got = {
        (str(r.hour), r.event_type): (
            r.open_value, r.high_value, r.low_value, r.close_value, r.n_events
        )
        for r in _drain(ohlc_candles(stream), tmp_path, "complete").collect()
    }
    batch = ohlc_candles(_events(spark))
    want = {
        (str(r.hour), r.event_type): (
            r.open_value, r.high_value, r.low_value, r.close_value, r.n_events
        )
        for r in batch.collect()
    }
    assert got == want and len(want) > 0


def test_file_stats_manifest_stream_equals_batch(spark, tmp_path):
    """Incremental file-stats manifest (the lakehouse pruning manifest
    maintained AT WRITE TIME): orders arrive in three shuffled splits,
    one per micro-batch (maxFilesPerTrigger=1), so most files' stats
    rows are updated across multiple batches — count/min/max state
    merges associatively and the final manifest must equal the batch
    form bit-for-bit. Twin of the oracle-checked manifest CTE in
    suite.round12.o_manifest_prune / round11.o_file_skipping_stats."""
    from banksy_spark.streaming import file_stats_manifest
    from banksy_spark.suite.registry import T

    orders = T(spark, SF_SMOKE, "orders").select("o_orderkey", "o_orderdate")
    d = tmp_path / "orders_in"
    # deterministic 3-way split that interleaves every file's key range
    # across batches: split by orderkey mod 3, write one file per split
    for i in range(3):
        orders.filter(F.col("o_orderkey") % 3 == i).coalesce(1).write.parquet(
            str(d), mode="append"
        )
    stream = (
        spark.readStream.schema(orders.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    got = {
        r.file_id: (r.n_rows, r.min_key, r.max_key, str(r.min_date), str(r.max_date))
        for r in _drain(file_stats_manifest(stream), tmp_path, "complete").collect()
    }
    want = {
        r.file_id: (r.n_rows, r.min_key, r.max_key, str(r.min_date), str(r.max_date))
        for r in file_stats_manifest(orders).collect()
    }
    assert got == want and len(want) > 0


def test_kde_cell_density_stream_equals_batch(spark, tmp_path):
    """Incremental KDE heatmap: events arrive in three modulo splits
    (maxFilesPerTrigger=1), so most cells' (density_ppm, n_pts) state
    merges across micro-batches — integer sums merge associatively and
    the final surface must equal both the batch form AND the
    oracle-checked a_kde_epanechnikov output bit-for-bit."""
    from banksy_spark.streaming import kde_cell_density
    from banksy_spark.suite import REGISTRY

    pts = _events(spark).selectExpr(
        "value AS px", "CAST(user_id % 100 AS DOUBLE) AS py", "event_id"
    )
    d = tmp_path / "kde_in"
    for i in range(3):
        pts.filter(F.col("event_id") % 3 == i).select("px", "py").coalesce(
            1
        ).write.parquet(str(d), mode="append")
    stream = (
        spark.readStream.schema("px double, py double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    got = {
        (r.jx, r.jy): (r.density_ppm, r.n_pts)
        for r in _drain(kde_cell_density(stream), tmp_path, "complete").collect()
    }
    want_batch = {
        (r.jx, r.jy): (r.density_ppm, r.n_pts)
        for r in kde_cell_density(pts.select("px", "py")).collect()
    }
    assert got == want_batch and len(got) > 0
    # and the occupied-cell projection equals the oracle-checked query
    want_query = {
        (r.ix, r.iy): (r.density_ppm, r.n_pts)
        for r in REGISTRY["a_kde_epanechnikov"].fn(spark, SF_SMOKE).collect()
    }
    occupied = {k: v for k, v in got.items() if v[1] > 0}
    assert {k: (v[1], v[0]) for k, v in want_query.items()} == {
        k: (v[1], v[0]) for k, v in occupied.items()
    }


def test_reservoir_stateful_stream_equals_batch(spark, tmp_path):
    """A-ES reservoir across three shuffled micro-batches: per-shard
    state (top-50 by key) must merge-and-truncate to EXACTLY the
    reservoir the same operator takes of the bounded frame — and
    therefore to the per-shard window oracle of
    stream_reservoir_stateful. The final emission per shard is selected
    by the monotone n_seen counter."""
    from banksy_spark.streaming.stateful import reservoir
    from banksy_spark.suite import REGISTRY
    from banksy_spark.suite.registry import T
    from banksy_spark.suite.round13d import _RES_D, _RES_KEY, _RV_SHARDS

    d0 = spark.sql(
        _RES_D.replace("__DOCS__", "{d}"), d=T(spark, SF_SMOKE, "documents")
    )
    scored = d0.selectExpr(
        f"CAST(ABS(doc_id) % {_RV_SHARDS} AS INT) AS shard",
        "doc_id",
        "w AS weight",
        f"{_RES_KEY} AS es_key",
    )
    src = tmp_path / "rv_in"
    for i in range(3):
        scored.filter(F.col("doc_id") % 3 == i).coalesce(1).write.parquet(
            str(src), mode="append"
        )
    stream = (
        spark.readStream.schema(scored.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = _drain(reservoir(stream, k=50), tmp_path, "update").toPandas()
    final_seen = out.groupby("shard")["n_seen"].max()
    rows = out[
        out.apply(lambda r: r.n_seen == final_seen[r.shard], axis=1)
    ]
    got = {
        (r.shard, r.smp_rank): (r.doc_id, r.weight, r.es_key)
        for r in rows.itertuples()
    }
    want = {
        (r.shard, r.smp_rank): (r.doc_id, r.weight, r.es_key)
        for r in reservoir(scored, k=50).collect()
    }
    assert got == want and len(got) > 0
    # the registry query is the same replay, projected
    reg = {
        (r.shard, r.smp_rank): (r.doc_id, r.weight, r.es_key)
        for r in REGISTRY["stream_reservoir_stateful"].fn(spark, SF_SMOKE).collect()
    }
    assert reg == want
