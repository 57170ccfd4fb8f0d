#!/usr/bin/env python
"""Microbench for the ordered folds (operators/folds.py): time the old
aggregate-HOF array_append fold over one series held in one row against
the EWMA step kernel run by ``fold`` over the same series as
rows, at growing series length — quadratic vs linear scaling.

    python tools/bench_folds.py [--lens 1000,4000,16000,64000,256000]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--lens", default="1000,4000,16000,64000,256000")
    ap.add_argument("--runs", type=int, default=3)
    # the quadratic side becomes intractable quickly (64k elements ≈
    # 2e9 copied doubles); cap it so the sweep finishes
    ap.add_argument("--old-max", type=int, default=64000)
    args = ap.parse_args()
    lens = [int(x) for x in args.lens.split(",")]

    from pyspark.sql import functions as F

    from banksy_spark.operators.folds import EWMA, fold
    from banksy_spark.session import get_spark

    spark = get_spark("banksy-bench-folds")

    old_expr = F.expr(
        "aggregate(xs,"
        " struct(CAST(array() AS ARRAY<DOUBLE>) AS out, CAST(0 AS DOUBLE) AS acc),"
        " (st, x) -> struct("
        "   array_append(st.out, st.acc * 0.75D + 0.25D * x),"
        "   st.acc * 0.75D + 0.25D * x),"
        " st -> st.out)"
    )

    print(f"{'n':>8s} {'old_append_s':>12s} {'fold_s':>12s}")
    for n in lens:
        # one series of length n, deterministic values; inputs are
        # materialized so timing excludes generation
        rows = spark.range(n).select(
            F.lit(1).alias("k"),
            F.col("id").alias("i"),
            (F.col("id") % 9973).cast("double").alias("value"),
        ).localCheckpoint()
        arr = spark.range(1).select(
            F.expr(f"transform(sequence(1, {n}), i -> CAST(i % 9973 AS DOUBLE))").alias("xs")
        ).localCheckpoint()
        runs = {"new": lambda: fold(rows, EWMA, "k", ("i",))}
        if n <= args.old_max:
            runs["old"] = lambda: arr.select(F.size(old_expr).alias("sz"))
        times = {"old": [], "new": []}
        for _ in range(args.runs):
            for mode in sorted(runs):
                t0 = time.time()
                runs[mode]().write.format("noop").mode("overwrite").save()
                times[mode].append(time.time() - t0)
        old_s = f"{min(times['old']):>12.3f}" if times["old"] else f"{'(skipped)':>12s}"
        print(f"{n:>8d} {old_s} {min(times['new']):>12.3f}", flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
