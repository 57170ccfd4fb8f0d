"""Adversarial-skew benchmark (VERDICT r4 item 5): prove the salt pays.

Every suite bench runs on uniform TPC-H-ish keys, so the salted
operators were plan-asserted only. This tool builds a zipfian-key
fixture sized to the sf0.1 bench scale and measures wall time for:

  agg_unsalted       groupBy(key).sum on the zipf key
  agg_salted         operators.skew.salted_agg, n_salt=16
  join_unsalted_noaqe  big-zipf ⋈ small, AQE skew-split OFF, no broadcast
  join_salted_noaqe    operators.skew.salted_join, same settings
  join_unsalted_aqe    same join with AQE skew-split ON (engine default)

Expected findings (recorded in BASELINE.md):
- Algebraic aggregation skew is a NON-problem in Spark: map-side
  partial aggregation collapses the hot key to one row per input
  partition before the shuffle, so salting buys nothing there — the
  honest reason `salted_agg` documents itself as being for aggregates
  whose partials DON'T combine map-side.
- Join skew is real: with the skew-split safety nets off, the hot
  key serializes onto one reducer and `salted_join` must win by ≥2×.
  AQE's skew-join splitting is the first-line cure (engine default);
  the manual salt is for stages AQE cannot split.

Zipf keys via inverse-CDF Pareto floor: key = floor(u^(-1/(s-1))),
s=2.0 (hot key ~50% of rows), capped at n_keys — deterministic from xxhash64(id), so reruns
see the identical fixture.

Usage: python tools/bench_skew.py  → one JSON line.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from banksy_spark.operators.skew import salted_agg, salted_join  # noqa: E402
from banksy_spark.session import get_spark  # noqa: E402

N_BIG = 40_000_000
N_KEYS = 50_000
ZIPF_S = 2.0
FIXTURE = "/tmp/banksy_skew_fixture"


def build_fixture(spark) -> None:
    if os.path.isdir(FIXTURE):
        shutil.rmtree(FIXTURE)
    u = (F.pmod(F.xxhash64("id"), F.lit(1_000_000)) + 1) / 1_000_000.0
    key = F.least(
        F.floor(F.pow(u, F.lit(-1.0 / (ZIPF_S - 1.0)))).cast("bigint"),
        F.lit(N_KEYS).cast("bigint"),
    )
    big = spark.range(N_BIG, numPartitions=32).select(
        key.alias("k"),
        (F.pmod(F.xxhash64("id", F.lit(7)), F.lit(1000))).alias("v"),
        F.xxhash64("id", F.lit(11)).alias("salt_src"),
        # ~64B payload: real fact rows are wide — the hot reducer must
        # sort/move real bytes, which is what skew actually costs
        F.repeat(F.md5(F.col("id").cast("string")), 2).alias("payload"),
    )
    big.write.mode("overwrite").parquet(f"{FIXTURE}/big")
    small = spark.range(1, N_KEYS + 1).select(
        F.col("id").alias("k"),
        F.concat(F.lit("dim_"), F.col("id")).alias("attr"),
    )
    small.write.mode("overwrite").parquet(f"{FIXTURE}/small")


def timed(fn) -> float:
    t0 = time.monotonic()
    fn()
    return round(time.monotonic() - t0, 2)


def main() -> None:
    spark = get_spark(app_name="bench_skew")
    spark.sparkContext.setLogLevel("ERROR")
    build_fixture(spark)
    big = spark.read.parquet(f"{FIXTURE}/big")
    small = spark.read.parquet(f"{FIXTURE}/small")
    hot_share = big.filter(F.col("k") == 1).count() / N_BIG

    results: dict[str, float] = {}

    def drain(df):
        df.write.format("noop").mode("overwrite").save()

    # --- aggregation arms (AQE default ON; partial agg is the story) --
    results["agg_unsalted"] = timed(
        lambda: drain(
            big.groupBy("k").agg(F.sum(F.col("v").cast("decimal(27,0)")).alias("s"))
        )
    )
    results["agg_salted"] = timed(
        lambda: drain(
            salted_agg(
                big,
                ["k"],
                {"s": F.sum(F.col("v").cast("decimal(27,0)"))},
                salt_col=F.col("salt_src"),
                n_salt=16,
            )
        )
    )

    # --- join arms ----------------------------------------------------
    def set_join_conf(aqe_skew: bool):
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", str(aqe_skew).lower())
        # keep AQE's coalescing out of the comparison too when off
        spark.conf.set("spark.sql.adaptive.enabled", str(aqe_skew).lower())

    set_join_conf(False)
    results["join_unsalted_noaqe"] = timed(
        lambda: drain(big.join(small, "k").select("k", "v", "attr", "payload"))
    )
    results["join_salted_noaqe"] = timed(
        lambda: drain(
            salted_join(big, small, ["k"], salt_col=F.col("salt_src"), n_salt=8)
            .select("k", "v", "attr", "payload")
        )
    )
    set_join_conf(True)
    results["join_unsalted_aqe"] = timed(
        lambda: drain(big.join(small, "k").select("k", "v", "attr", "payload"))
    )
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

    # --- global-ordinal arms (VERDICT r6 item 7) ----------------------
    # NTILE over (k, salt_src) with k zipfian: the naive form sorts all
    # 40M rows through ONE task; the ordinal decomposition range-buckets
    # on k, detects the hot value (~50% of rows) as a repeated quantile,
    # and sub-splits it by the secondary key — max bucket share proves it.
    from pyspark.sql import Window

    from banksy_spark.operators.ordinals import bucketize, global_ordinals

    # the naive arm routinely does NOT finish: one task sorts/spills all
    # 40M ~100B rows. Cap it with a job-group cancel and report the
    # bound — "didn't finish in N s" IS the measurement.
    NAIVE_BUDGET_S = 240
    import threading

    sc = spark.sparkContext
    naive_timed_out = False

    def naive():
        sc.setJobGroup("naive-ntile", "single-partition ntile arm", True)
        try:
            drain(
                big.select(
                    F.ntile(10)
                    .over(Window.orderBy("k", "salt_src"))
                    .alias("tile"),
                    "payload",
                )
            )
        finally:
            sc.setJobGroup("", "")

    timer = threading.Timer(
        NAIVE_BUDGET_S, lambda: sc.cancelJobGroup("naive-ntile")
    )
    timer.start()
    try:
        results["ntile_naive_global_window"] = timed(naive)
    except Exception:
        naive_timed_out = True
        results["ntile_naive_global_window"] = float(NAIVE_BUDGET_S)
    finally:
        timer.cancel()
    results["ntile_ordinal_bucketed"] = timed(
        lambda: drain(
            global_ordinals(big, ["k", "salt_src"], ntile=(10, "tile")).select(
                "tile", "payload"
            )
        )
    )
    bk = bucketize(big, ["k", "salt_src"], n_buckets=64)
    max_share = max(c for _, _, c, _ in bk.directory) / N_BIG

    # --- distributed skyline at fact scale (VERDICT r6 item 3) --------
    # 40M (price=salt_src, size=v) points through the code j_skyline_pareto
    # ships (suite/round5p.py pareto_front): range-bucketed sorted pass +
    # the driver-folded prefix-max literal map. The executed plan must
    # contain no single-partition stage.
    from banksy_spark.suite.round5p import pareto_front

    def skyline():
        pts = big.select(F.col("salt_src").alias("cents"), F.col("v"))
        fr = pareto_front(pts, "cents", "v")
        plan = fr._jdf.queryExecution().executedPlan().toString()
        assert "Exchange SinglePartition" not in plan, "skyline plan regressed"
        drain(fr)

    results["skyline_40m_bucketed"] = timed(skyline)

    out = {
        "metric": "skew_bench",
        "n_big": N_BIG,
        "n_keys": N_KEYS,
        "zipf_s": ZIPF_S,
        "hot_key_share": round(hot_share, 4),
        "times_sec": results,
        "join_salt_speedup_vs_noaqe": round(
            results["join_unsalted_noaqe"] / results["join_salted_noaqe"], 2
        ),
        "naive_ntile_timed_out_after_s": NAIVE_BUDGET_S if naive_timed_out else None,
        "ordinal_speedup_vs_naive": round(
            results["ntile_naive_global_window"]
            / results["ntile_ordinal_bucketed"],
            2,
        ),
        "ordinal_max_bucket_share": round(max_share, 4),
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
