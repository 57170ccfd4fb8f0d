#!/usr/bin/env python3
"""Record the suite_light result digests that the benchmark checks.

    python3 perfbench/record_digests.py

Runs every query of ``suite.QUERIES`` on Spark and its DuckDB oracle at
sf0.1, and writes ``digests.json`` only when every query's
``tools/check.py`` ``table_digest`` matches the oracle's.  Exits 1,
writing nothing, on any mismatch.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]


def main() -> int:
    import duckdb

    from banksy_spark.session import get_spark, release_caches
    from banksy_spark.suite import REGISTRY
    from suite import DIGESTS, QUERIES, sf_dir
    from tools.check import TABLES, table_digest

    sf = sf_dir(ROOT)
    spark = get_spark("perfbench-digests")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    digests, bad = {}, []
    for q in QUERIES:
        release_caches(spark)
        df = REGISTRY[q].fn(spark, sf)
        n, h, _ = table_digest(df.columns, [tuple(r) for r in df.collect()])
        cur = con.execute(REGISTRY[q].oracle)
        dn, dh, _ = table_digest([d[0] for d in cur.description], cur.fetchall())
        print(f"{'PASS' if (n, h) == (dn, dh) else 'FAIL'} {q}: {n} rows {h[:12]}", flush=True)
        if (n, h) != (dn, dh):
            bad.append(q)
        digests[q] = [n, h]
    spark.stop()
    if bad:
        return 1
    with open(DIGESTS, "w") as f:
        json.dump({"sf": os.path.basename(sf), "digests": digests}, f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
