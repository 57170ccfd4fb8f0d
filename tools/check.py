#!/usr/bin/env python
"""Local driver-mimic: run every suite query on Spark and its DuckDB
oracle side-by-side, compare row count / column names / order-insensitive
value hash. Usage:

    python tools/check.py [--sf DIR] [--resume LOG] [name ...]

Exit 0 iff every checked query matches. On a 16 GB host the sf0.1
sweep must run under --resume: llm_self_bleu's DuckDB oracle is
OOM-killed there and takes the whole process with it, so rerun with
--resume on the log and name the queries left after it.
"""

from __future__ import annotations

import argparse
import datetime
import hashlib
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def canon(val) -> str:
    if val is None:
        return "NULL"
    if isinstance(val, float):
        if math.isnan(val):
            return "NaN"
        return repr(val)  # repr handles ±inf and shortest round-trip
    if isinstance(val, bool):
        return "true" if val else "false"
    if isinstance(val, datetime.datetime):
        return val.isoformat()
    if isinstance(val, datetime.date):
        return val.isoformat()
    if isinstance(val, (bytes, bytearray)):
        return bytes(val).hex()
    if isinstance(val, (list, tuple)):
        return "[" + ",".join(canon(v) for v in val) + "]"
    if isinstance(val, dict):  # Spark Row / struct as dict
        return "{" + ",".join(f"{k}:{canon(v)}" for k, v in sorted(val.items())) + "}"
    return str(val)


def table_digest(cols: list[str], rows) -> tuple[int, str, list[str]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return len(lines), h.hexdigest(), lines


def main() -> int:
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--resume",
        metavar="LOG",
        help="skip queries already recorded as PASS/rows in a previous "
        "run's log (the sf0.1 sweep exceeds one timeout budget — "
        "j_similarity_prefix_join's DuckDB oracle alone runs ~10 min)",
    )
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    import duckdb

    from banksy_spark.session import get_spark, release_caches
    from banksy_spark.suite import REGISTRY

    spark = get_spark("banksy-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{args.sf}/{t}.parquet'")

    names = args.names or list(REGISTRY)
    if args.resume:
        import re as _re

        done = set(
            _re.findall(
                r"(?:PASS|rows)\s+(\S+):", open(args.resume).read(), _re.M
            )
        )
        skipped = [n for n in names if n in done]
        names = [n for n in names if n not in done]
        print(f"resume: {len(skipped)} already green in {args.resume}, "
              f"{len(names)} to run")
    n_pass = n_fail = n_rows_only = 0
    for name in names:
        spec = REGISTRY[name]
        t0 = time.time()
        try:
            # centralized cache lifecycle: several queries persist()
            # corpus-scale intermediates (fuzzy-dedup signatures,
            # SemDeDup membership) and the ordinal operators persist
            # directories — release them between queries so a 298-query
            # sweep doesn't accumulate cached blocks all session
            release_caches(spark)
            df = spec.fn(spark, args.sf)
            scols = df.columns
            srows = [tuple(r) for r in df.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            continue
        if spec.oracle is None:
            print(f"rows  {name}: {len(srows)} rows (no oracle) [{time.time()-t0:.1f}s]")
            n_rows_only += 1
            continue
        try:
            cur = con.execute(spec.oracle)
            dcols = [d[0] for d in cur.description]
            drows = cur.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            continue
        sc, scols_sorted = len(srows), sorted(scols)
        dc, dcols_sorted = len(drows), sorted(dcols)
        if scols_sorted != dcols_sorted:
            print(f"FAIL  {name}: columns spark={scols_sorted} duck={dcols_sorted}")
            n_fail += 1
            continue
        sn, shash, slines = table_digest(scols, srows)
        dn, dhash, dlines = table_digest(dcols, drows)
        if sn != dn:
            print(f"FAIL  {name}: rowcount spark={sn} duck={dn}")
            n_fail += 1
            continue
        if shash != dhash:
            diff = next(
                (i for i, (a, b) in enumerate(zip(slines, dlines)) if a != b), None
            )
            print(f"FAIL  {name}: value hash mismatch ({sn} rows)")
            if diff is not None:
                print(f"      cols(sorted): {sorted(scols)}")
                print(f"      spark[{diff}]: {slines[diff][:240]}")
                print(f"      duck [{diff}]: {dlines[diff][:240]}")
            n_fail += 1
            continue
        print(f"PASS  {name}: {sn} rows [{time.time()-t0:.1f}s]")
        n_pass += 1

    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only, of {len(names)}")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
