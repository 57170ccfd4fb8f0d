#!/usr/bin/env python
"""Dump explain("formatted") for named queries (no execution).

    python tools/dump_plans.py --out /tmp/plans --suffix _before name ...
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--out", required=True)
    ap.add_argument("--suffix", default="")
    args = ap.parse_args()

    from banksy_spark.session import get_spark, release_caches
    from banksy_spark.suite import REGISTRY

    spark = get_spark("banksy-plans")
    os.makedirs(args.out, exist_ok=True)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    for name in args.names:
        release_caches(spark)
        df = REGISTRY[name].fn(spark, args.sf)
        txt = df._jdf.queryExecution().explainString(mode)
        with open(os.path.join(args.out, f"{name}{args.suffix}.txt"), "w") as f:
            f.write(txt)
        print("dumped", name)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
