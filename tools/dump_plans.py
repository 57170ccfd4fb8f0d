#!/usr/bin/env python
"""Dump explain("formatted") for named queries (no execution).

    python tools/dump_plans.py --out /tmp/plans --suffix _before name ...

The text is normalized so that two processes building the same plan
write byte-identical files: expression ids (``#123``), exchange
``plan_id=…``, the RDD id and JVM call site in ``Scan ExistingRDD``
arguments and the random view name ``spark.sql(query, df=frame)``
gives each frame argument differ between processes and are replaced
by fixed tokens.
"""

from __future__ import annotations

import argparse
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_VOLATILE = (
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    # MapPartitionsRDD[3] at localCheckpoint at NativeMethodAccessorImpl.java:0
    (re.compile(r"(\w+RDD)\[\d+\] at (\w+) at [^,\]]*?:\d+"), r"\1[N] at \2 at <site>"),
    (re.compile(r"_pyspark_[0-9a-f]{32}"), "_pyspark_N"),
)


def normalize(plan: str) -> str:
    """Replace the per-process tokens of an explain string."""
    for pat, token in _VOLATILE:
        plan = pat.sub(token, plan)
    return plan


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
            f.write(normalize(txt))
        print("dumped", name)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
