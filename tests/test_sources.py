"""Source/sink adapters (SURVEY §2.1 S1/S2/S5/K1-K3)."""

from __future__ import annotations

from pathlib import Path

import pytest

from banksy_spark.io import read_csv_dim, write_append, write_overwrite
from banksy_spark.sources import (
    blob_to_df,
    poll_until_valid,
    send_notifications,
)


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t

    def sleep(self, s):
        self.t += s


def test_poll_until_valid_retries_then_succeeds():
    clock = FakeClock()
    payloads = iter(["", "short", "x" * 300])
    fetched = []

    def fetch():
        p = next(payloads)
        fetched.append(p)
        return p

    out = poll_until_valid(fetch, sleep=clock.sleep, clock=clock)
    assert out == "x" * 300
    assert len(fetched) == 3           # retried until valid
    assert clock.t == 4.0              # 2s between attempts (bovada_pull.py:40)


def test_poll_until_valid_gives_up_after_timeout():
    clock = FakeClock()
    out = poll_until_valid(lambda: "nope", sleep=clock.sleep, clock=clock, timeout_s=60.0)
    assert out is None
    assert clock.t >= 60.0             # gave up at the 60s budget (:34-38)


def test_blob_and_rows_sources(spark):
    assert blob_to_df(spark, "hello").count() == 1
    empty = blob_to_df(spark, None)
    assert empty.count() == 0 and empty.columns == ["payload"]
    df = spark.createDataFrame([("A", 1), ("B", 2)], "team string, n int")
    assert df.count() == 2


def test_send_notifications_min_batch(spark):
    alerts = spark.createDataFrame([("a1",), ("a2",)], "combined string")
    posted = []
    n = send_notifications(alerts, posted.append)
    assert n == 2 and posted == ["a1\na2"]
    # below min batch (>1 row required, arbitrage_scanner.py:434): no send
    one = spark.createDataFrame([("only",)], "combined string")
    assert send_notifications(one, posted.append) == 0
    assert len(posted) == 1
    # row order does not reach the push: lines are sorted before joining
    unsorted = spark.createDataFrame([("a2",), ("a1",)], "combined string")
    assert send_notifications(unsorted, posted.append) == 2
    assert posted[-1] == "a1\na2"


def test_csv_dim_and_parquet_sinks(spark, tmp_path):
    # heterogeneous dim schemas: select the common subset (S3, :188-191)
    p = tmp_path / "teams.csv"
    p.write_text("ID,Name,Team,Abbreviation,Conference,Division,Sport\n"
                 "1,Buffalo,Bills,BUF,AFC,East,NFL\n")
    dim = read_csv_dim(spark, str(p), columns=["Team", "Abbreviation", "Sport"])
    assert dim.columns == ["Team", "Abbreviation", "Sport"]

    out = tmp_path / "sink"
    write_overwrite(dim, str(out))
    write_append(dim, str(out))
    assert spark.read.parquet(str(out)).count() == 2  # K1 overwrite + K2 append


def test_jsonl_tolerant_quarantines_bad_lines(spark, tmp_path):
    from banksy_spark.io import read_jsonl_tolerant

    p = tmp_path / "feed.jsonl"
    p.write_text(
        '{"game": "A@B", "odds": 120}\n'
        "not json at all\n"
        '{"game": "C@D", "odds": -145}\n'
        '{"game": "E@F", "odds": }\n'
    )
    # Spark disallows referencing only _corrupt_record on a raw JSON
    # scan; materialize first (see read_jsonl_tolerant docstring)
    df = read_jsonl_tolerant(spark, str(p), "game STRING, odds BIGINT").cache()
    good = df.filter("_corrupt_record IS NULL")
    bad = df.filter("_corrupt_record IS NOT NULL")
    assert good.count() == 2 and bad.count() == 2
    assert {r.game for r in good.collect()} == {"A@B", "C@D"}


def test_dsv2_scrape_source_stream_equals_batch(spark, tmp_path):
    """VERDICT r4 item 6: the DSv2 scrape source (rate limit + validity
    predicate + give-up timeout) must deliver exactly what the batch
    poll loop delivers for the same scripted fetch sequence — one
    (attempt, payload) row on success, zero rows on give-up — in BOTH
    its batch and streaming forms."""
    import time

    from banksy_spark.sources.adapters import poll_until_valid
    from banksy_spark.sources.fetchers import flaky_then_valid, never_valid
    from banksy_spark.sources.scrape_source import register_scrape_source

    register_scrape_source(spark)

    def opts(reader, factory, timeout_s):
        return (
            reader.format("scrape")
            .option("fetcher", f"banksy_spark.sources.fetchers:{factory}")
            .option("min_len", "50")
            .option("timeout_s", str(timeout_s))
            .option("interval_s", "0.01")
            .option("sys_path", str(Path(__file__).resolve().parents[1]))
        )

    def run_stream(factory, timeout_s, name):
        q = (
            opts(spark.readStream, factory, timeout_s)
            .load()
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / f"ck_{name}"))
            .trigger(processingTime="50 milliseconds")
            .start()
        )
        deadline = time.time() + 90
        rows = []
        while time.time() < deadline:
            rows = spark.sql(f"SELECT * FROM {name}").collect()
            if rows or factory == "never_valid" and time.time() > deadline - 85:
                # give-up case: wait a grace period, then accept empty
                if factory == "never_valid":
                    time.sleep(2)
                    rows = spark.sql(f"SELECT * FROM {name}").collect()
                break
            time.sleep(0.2)
        q.stop()
        q.awaitTermination(30)
        return [(r["attempt"], r["payload"]) for r in rows]

    # driver-side oracle of record: the adapter poll loop
    want_payload = poll_until_valid(
        flaky_then_valid(), min_len=50, timeout_s=10, interval_s=0,
        sleep=lambda _s: None, clock=lambda: 0.0,
    )
    assert want_payload is not None

    batch = opts(spark.read, "flaky_then_valid", 10).load().collect()
    assert [(r["attempt"], r["payload"]) for r in batch] == [(3, want_payload)]
    assert run_stream("flaky_then_valid", 10, "dsv2_ok") == [(3, want_payload)]

    # give-up arm: always-invalid payload, tiny budget -> zero rows
    assert poll_until_valid(
        never_valid(), min_len=50, timeout_s=0.02, interval_s=0.01,
        sleep=lambda _s: None,
    ) is None
    assert opts(spark.read, "never_valid", 0.02).load().collect() == []
    assert run_stream("never_valid", 0.02, "dsv2_giveup") == []


def test_dsv2_notify_sink_applies_min_batch_rule(spark, tmp_path):
    """The DSv2 notification sink must behave exactly like the
    send_notifications adapter (K3): a micro-batch with >=2 alerts
    posts ONE newline-joined push; a 1-alert batch posts nothing.
    Two parquet files with pinned mtimes -> two micro-batches."""
    import os
    import shutil
    import time

    from banksy_spark.sources.notify_sink import (
        read_pushes,
        register_notify_sink,
    )

    register_notify_sink(spark)
    src = tmp_path / "alerts_in"
    src.mkdir()
    spark.createDataFrame([("a1",), ("a2",)], "combined string").coalesce(
        1
    ).write.parquet(str(tmp_path / "b1"))
    spark.createDataFrame([("only",)], "combined string").coalesce(1).write.parquet(
        str(tmp_path / "b2")
    )
    now = time.time()
    for i, d in enumerate(("b1", "b2")):
        for f in (tmp_path / d).glob("*.parquet"):
            dst = src / f"part-{i}.parquet"
            shutil.copy(f, dst)
            os.utime(dst, (now + 10 * i, now + 10 * i))

    log = tmp_path / "pushes.log"
    q = (
        spark.readStream.schema("combined string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .writeStream.format("notify")
        .option("path", str(log))
        .option("checkpointLocation", str(tmp_path / "ckpt_notify"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not finish in time"
    pushes = read_pushes(str(log))
    assert len(pushes) == 1, f"exactly the 2-alert batch sends: {pushes}"
    assert sorted(pushes[0].split("\n")) == ["a1", "a2"]


def test_dynamic_partition_overwrite_backfills_one_day(spark, tmp_path):
    """write_partition_overwrite must replace ONLY the partitions in
    the frame: backfilling day 2 leaves days 1 and 3 byte-identical."""
    from banksy_spark.io import write_overwrite, write_partition_overwrite

    p = str(tmp_path / "fact")
    full = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "day int, k string, v int"
    )
    write_overwrite(full, p, partition_by=["day"])
    fix = spark.createDataFrame([(2, "b2", 99)], "day int, k string, v int")
    write_partition_overwrite(fix, p, partition_by=["day"])
    got = {
        (r["day"], r["k"], r["v"]) for r in spark.read.parquet(p).collect()
    }
    assert got == {(1, "a", 10), (2, "b2", 99), (3, "c", 30)}
    # the conf must be restored (static) after the scoped write
    assert (
        spark.conf.get("spark.sql.sources.partitionOverwriteMode") == "static"
    )


def test_upsert_batch_is_idempotent_under_replay(spark, tmp_path):
    """upsert_batch appends each batch of new keys as one file; replaying
    a batch writes nothing and an empty batch writes nothing, so the
    table converges under at-least-once redelivery."""
    from banksy_spark.io import upsert_batch

    p = tmp_path / "state"
    b1 = spark.createDataFrame([(1, "x"), (2, "y")], "id int, v string")
    b2 = spark.createDataFrame([(3, "z"), (4, "w")], "id int, v string")
    empty = spark.createDataFrame([], "id int, v string")

    def listing():
        return {f.name: f.stat().st_mtime_ns for f in p.iterdir()}

    upsert_batch(b1, str(p), ["id"])
    assert len(list(p.glob("part-*.parquet"))) == 1
    upsert_batch(b2, str(p), ["id"])
    assert len(list(p.glob("part-*.parquet"))) == 2
    want = {(1, "x"), (2, "y"), (3, "z"), (4, "w")}
    assert {(r["id"], r["v"]) for r in spark.read.parquet(str(p)).collect()} == want
    before = listing()
    for batch in (b2, b1, empty):
        upsert_batch(batch, str(p), ["id"])
    assert listing() == before
    assert {(r["id"], r["v"]) for r in spark.read.parquet(str(p)).collect()} == want
    upsert_batch(empty, str(tmp_path / "none"), ["id"])
    assert not (tmp_path / "none").exists()


def test_html_table_parse_matches_declared_rows():
    """S1 (round 7): the regex <tr>/<td> extractor must emit exactly
    the raw rows the oracle fixture declares — first table only,
    nested markup dropped, entities decoded, ends stripped, ragged
    rows left ragged (promote_header squares them)."""
    from banksy_spark.sources.adapters import first_table_rows, parse_html_tables
    from banksy_spark.suite.pipe_scrape import _RAW_TR_ROWS, PAGES

    for sport, page in PAGES.items():
        want = [
            [c for c in r[2:] if c is not None]
            for r in _RAW_TR_ROWS
            if r[0] == sport
        ]
        got = first_table_rows(page)
        assert got == want, (sport, got)
    # the NFL page's second (footer) table exists but is not the first
    assert len(parse_html_tables(PAGES["NFL"])) == 2
    assert parse_html_tables("<p>no tables here</p>") == []


def test_html_header_promotion_reference_semantics():
    """promote_header mirrors arbitrage_scanner.py:61-66 + :142-143:
    banner dropped, blank-first-cell rows dropped, header promoted
    from DATA, mid-table repeated headers deleted, ragged rows padded
    to header width with None."""
    from banksy_spark.sources.adapters import first_table_rows, promote_header
    from banksy_spark.suite.pipe_scrape import PAGES

    header, data = promote_header(first_table_rows(PAGES["NFL"]))
    assert header == ["Team", "Time", "DraftKings", "FanDuel", "Caesars"]
    teams = [r[0] for r in data]
    assert teams == ["3 Seattle Seahawks", "Cardinals", "Bills & co", "Jets"]
    assert all(len(r) == 5 for r in data)
    jets = data[teams.index("Jets")]
    assert jets[4] is None  # ragged row padded like pd.DataFrame NaN
    assert promote_header([]) == ([], [])
    assert promote_header([["banner"]]) == ([], [])


def _table(rows):
    trs = "".join(
        "<tr>" + "".join(f"<td>{c}</td>" for c in r) + "</tr>" for r in rows
    )
    return f"<table><tr><td>banner</td></tr>{trs}</table>"


def test_scrape_tables_to_df_picks_columns_by_header_name(spark):
    """The one page parser picks each wanted column by its promoted
    header name, so pages whose bookie columns come in different
    orders land aligned; ``seq_col`` numbers rows from 1 within each
    page, and without it no sequence column is added."""
    from banksy_spark.sources.adapters import scrape_tables_to_df

    pages = {
        "NFL": _table([["Team", "FanDuel", "DraftKings"], ["Jets", "+110", "+120"],
                       ["Bills", "-105", "+100"]]),
        "MLB": _table([["Team", "DraftKings", "Extra", "FanDuel"],
                       ["Mets", "+130", "x", "+125"]]),
    }
    df = scrape_tables_to_df(
        spark, pages, "Sport string, _seq int, Team string, DraftKings string, FanDuel string",
        seq_col="_seq",
    )
    assert df.columns == ["Sport", "_seq", "Team", "DraftKings", "FanDuel"]
    assert sorted(tuple(r) for r in df.collect()) == [
        ("MLB", 1, "Mets", "+130", "+125"),
        ("NFL", 1, "Jets", "+120", "+110"),
        ("NFL", 2, "Bills", "+100", "-105"),
    ]
    plain = scrape_tables_to_df(spark, pages, "Sport string, Team string, FanDuel string")
    assert plain.columns == ["Sport", "Team", "FanDuel"]
    assert sorted(tuple(r) for r in plain.collect()) == [
        ("MLB", "Mets", "+125"), ("NFL", "Bills", "-105"), ("NFL", "Jets", "+110"),
    ]


def test_scrape_tables_to_df_names_page_and_missing_columns(spark):
    """A page whose header lost a wanted column raises ValueError
    naming that page and every missing column, not a bare KeyError or
    a silently misaligned frame."""
    from banksy_spark.sources.adapters import scrape_tables_to_df

    pages = {
        "NFL": _table([["Team", "DraftKings", "FanDuel"], ["Jets", "+120", "+110"]]),
        "NBA": _table([["Team", "Caesars"], ["Knicks", "+140"]]),
    }
    with pytest.raises(ValueError) as err:
        scrape_tables_to_df(
            spark, pages, "Sport string, Team string, DraftKings string, FanDuel string"
        )
    msg = str(err.value)
    assert "'NBA'" in msg and "['DraftKings', 'FanDuel']" in msg
    assert "'NFL'" not in msg


# Every state a crash can leave an upsert_batch commit in. The steps:
# (1) Spark writes the batch to _staging-<name>/ (_SUCCESS last),
# (2) its one part file is renamed to part-<name>.parquet, (3) the
# staging directory is deleted. Each case: what a reader sees.
_CRASH_STATES = {
    "staging_partial": "pre",
    "staging_complete_not_renamed": "pre",
    "renamed_staging_left": "post",
}


class _Crash(Exception):
    pass


@pytest.mark.parametrize("first", [True, False], ids=["first_commit", "later_commit"])
@pytest.mark.parametrize("crash", sorted(_CRASH_STATES))
def test_upsert_batch_survives_every_crash_state(spark, tmp_path, monkeypatch, crash, first):
    """A crash at any step of an upsert_batch commit leaves a table in
    which a plain schema'd read sees the complete pre-commit or
    post-commit rows — never a partial batch — and replaying the batch
    converges to the post-commit rows with no staging directory left."""
    from banksy_spark import io

    schema = "id int, v string"
    b1 = spark.createDataFrame([(1, "x"), (2, "y")], schema)
    b2 = spark.createDataFrame([(3, "z")], schema)
    p = tmp_path / "state"
    pre = set() if first else {(1, "x"), (2, "y")}
    post = pre | ({(1, "x"), (2, "y")} if first else {(3, "z")})
    batch = b1 if first else b2
    if not first:
        io.upsert_batch(b1, str(p), ["id"])

    rename = io._rename

    def crash_rename(fs, src, dst):
        if crash == "renamed_staging_left":
            rename(fs, src, dst)
        raise _Crash(crash)

    with monkeypatch.context() as m:
        m.setattr(io, "_rename", crash_rename)
        with pytest.raises(_Crash):
            io.upsert_batch(batch, str(p), ["id"])
    (staging,) = p.glob("_staging-*")
    if crash == "staging_partial":  # cut before the job commit: a torn part file
        (staging / "_SUCCESS").unlink()
        (part,) = staging.glob("part-*")
        part.write_bytes(part.read_bytes()[: part.stat().st_size // 2])

    def read():
        return {(r["id"], r["v"]) for r in spark.read.schema(schema).parquet(str(p)).collect()}

    assert read() == {"pre": pre, "post": post}[_CRASH_STATES[crash]]
    for _ in range(2):
        io.upsert_batch(batch, str(p), ["id"])
        assert read() == post
    assert len(list(p.glob("part-*.parquet"))) == (1 if first else 2)
    assert not list(p.glob("_staging-*"))


# Every state a crash can leave a compacting commit in: the table's
# files and the batch are written as one file to _compact-<name>/,
# renamed to part-<name>.parquet, then the other data files and the
# staging are deleted.  Each case: what read_appended sees.
_COMPACTION_CRASH_STATES = {
    "staging_partial": "pre",
    "staging_complete_not_renamed": "pre",
    "renamed_old_files_left": "post",
    "renamed_old_files_partly_deleted": "post",
}


@pytest.mark.parametrize("crash", sorted(_COMPACTION_CRASH_STATES))
def test_upsert_batch_compaction_survives_every_crash_state(spark, tmp_path, monkeypatch, crash):
    """Once the table holds COMPACT_AT files, a commit rewrites it and
    the batch as one file.  A crash at any step of that leaves a table
    read_appended sees as the complete pre- or post-commit rows, and
    replaying the batch converges to one file and no staging."""
    from banksy_spark import io

    schema = "id int, v string"
    batches = [spark.createDataFrame([(i, f"v{i}")], schema) for i in range(3)]
    p = tmp_path / "state"
    monkeypatch.setattr(io, "COMPACT_AT", 2)
    for b in batches[:2]:
        io.upsert_batch(b, str(p), ["id"])
    pre = {(0, "v0"), (1, "v1")}
    post = pre | {(2, "v2")}
    old = set(p.glob("part-*.parquet"))
    assert len(old) == 2

    rename = io._rename

    def crash_rename(fs, src, dst):
        if crash.startswith("renamed"):
            rename(fs, src, dst)
        raise _Crash(crash)

    with monkeypatch.context() as m:
        m.setattr(io, "_rename", crash_rename)
        with pytest.raises(_Crash):
            io.upsert_batch(batches[2], str(p), ["id"])
    (staging,) = p.glob("_compact-*")
    if crash == "staging_partial":  # cut before the job commit: a torn part file
        (staging / "_SUCCESS").unlink()
        (part,) = staging.glob("part-*")
        part.write_bytes(part.read_bytes()[: part.stat().st_size // 2])
    if crash == "renamed_old_files_partly_deleted":
        min(old).unlink()

    def read():
        rows = io.read_appended(spark, str(p), schema).collect()
        assert len(rows) == len(set(rows))
        return {(r["id"], r["v"]) for r in rows}

    assert read() == {"pre": pre, "post": post}[_COMPACTION_CRASH_STATES[crash]]
    for _ in range(2):
        io.upsert_batch(batches[2], str(p), ["id"])
        assert read() == post
    (compacted,) = p.glob("part-*.parquet")
    assert compacted not in old
    assert not list(p.glob("_compact-*")) and not list(p.glob("_staging-*"))
    assert {(r["id"], r["v"]) for r in spark.read.parquet(str(compacted)).collect()} == post


def test_read_appended_refuses_a_table_cut_mid_swap(spark, tmp_path):
    """Before the first commit read_appended gives an empty frame with
    the schema and creates nothing; a table that is absent while a
    sibling of the earlier directory-swap commit exists raises instead
    of reading as empty."""
    from banksy_spark.io import read_appended

    p = tmp_path / "state"
    empty = read_appended(spark, str(p), "id int, v string")
    assert empty.columns == ["id", "v"] and empty.count() == 0
    assert not p.exists()
    (tmp_path / "state__old__").mkdir()
    with pytest.raises(IOError, match="state__old__"):
        read_appended(spark, str(p), "id int, v string")


def test_write_sorted_shards_range_disjoint_and_balanced(spark, tmp_path):
    """Sorted-shard export: exact NTILE fill contract (sizes differ by
    at most 1), shard key-ranges non-overlapping and ascending, and
    each shard internally sorted."""
    from banksy_spark.io import write_sorted_shards

    df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    n = df.count()
    p = str(tmp_path / "shards")
    man = write_sorted_shards(df, p, ["o_totalprice", "o_orderkey"], 8)
    assert [m["shard"] for m in man] == list(range(1, 9))
    sizes = [m["rows"] for m in man]
    assert sum(sizes) == n and max(sizes) - min(sizes) <= 1
    for a, b in zip(man, man[1:]):
        assert a["hi"] <= b["lo"]  # range-disjoint ascending shards
    import pandas as pd  # noqa: F401

    one = (
        spark.read.parquet(p + "/shard=3").select("o_totalprice").toPandas()
    )
    assert one["o_totalprice"].is_monotonic_increasing


def test_orc_roundtrip_all_tables(spark, tmp_path):
    """ORC source/sink: every testdata table survives a
    parquet->ORC->read roundtrip with identical schema and values —
    the native second columnar format a Hive/Trino-resident user
    migrates through. Also pins that a filter reaches the ORC scan
    as a pushed predicate (same posture PLANS.md audits for parquet)."""
    from banksy_spark.io import read_orc, write_orc
    from banksy_spark.suite.registry import T
    from tests.conftest import SF_SMOKE

    for tbl in ("region", "nation", "orders", "events", "documents"):
        src = T(spark, SF_SMOKE, tbl)
        out = str(tmp_path / f"orc_{tbl}")
        write_orc(src, out)
        back = read_orc(spark, out)
        assert back.schema == src.schema, tbl
        a = sorted(map(str, src.collect()))
        b = sorted(map(str, back.collect()))
        assert a == b, f"{tbl}: ORC roundtrip changed values"

    ev = read_orc(spark, str(tmp_path / "orc_orders"))
    plan = ev.filter(ev.o_orderkey == 42).select("o_orderkey")._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "o_orderkey" in plan.split("PushedFilters")[1][:120], (
        "filter did not reach the ORC scan"
    )
