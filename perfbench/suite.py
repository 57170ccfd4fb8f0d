"""The ``suite_light`` workload: passes over a frozen list of fast
headline queries at sf0.1.

One pass builds every query and executes it to the noop sink, with
``release_caches`` between queries, in an order drawn from the seed.
These queries run in well under a second each, so per-query fixed costs
(table resolution, DataFrame construction, planning, job scheduling)
are most of the pass.

Correctness: before the timed passes, every query is collected once
and its ``tools/check.py`` ``table_digest`` must equal the digest in
``digests.json``, recorded by ``record_digests.py`` from results that
matched the DuckDB oracle.
"""

from __future__ import annotations

import json
import os
import random
import re
import statistics
import time

# The 12 fastest headline queries of BENCH_perquery.json (bench.py's
# record), skipping those that return over 20k rows at sf0.1 so that the
# digest check stays cheap: f_point_in_polygon, llm_video_keyframes and
# llm_audio_frames.
QUERIES = (
    "dq_partition_checksum",
    "f_array_hof",
    "llm_chunk_fixed_overlap",
    "dq_l_diversity",
    "o_file_skipping_stats",
    "dq_t_closeness",
    "ml_diff_in_diff",
    "ml_tost_equivalence",
    "o_manifest_prune",
    "a_dow_hour_grid",
    "ml_mcc",
    "a_q6_forecast_revenue",
)

# Passes keep getting faster for about a minute from a fresh session
# (4.6 s to 3.8 s over twelve passes on 4 vCPUs); the digest check and
# two passes take the steepest part of that before timing starts.
WARMUP_PASSES = 2

HERE = os.path.dirname(os.path.abspath(__file__))
DIGESTS = os.path.join(HERE, "digests.json")


def sf_dir(root: str) -> str:
    """The sf0.1 fixtures: ``$SPARK_GRAFT_SF_DIR`` (as bench.py reads
    it), else the directory TESTDATA.md documents for sf 0.1."""
    if os.environ.get("SPARK_GRAFT_SF_DIR"):
        return os.environ["SPARK_GRAFT_SF_DIR"]
    with open(os.path.join(root, "TESTDATA.md")) as f:
        m = re.search(r"^\|\s*0\.1\s*\|\s*`([^`]+)`", f.read(), re.M)
    if not m:
        raise FileNotFoundError("TESTDATA.md names no sf 0.1 directory")
    return m.group(1).rstrip("/")


class SuiteLight:
    """One sample is one pass over QUERIES.  The pass time is assembled
    from each query's median over the passes, so one disturbed query in
    one pass does not move it; traced passes are kept apart."""

    # untraced passes a run takes at least, so each query's median is
    # over three times even when a slow host fits only two in the window
    MIN_SAMPLES = 3
    NOT_EXERCISED = (
        "sources.parse_s", "sources.send_s", "streaming.raw_s", "streaming.read_state_s",
        "streaming.decide_s", "pipelines.build_s", "io.commit_s", "io.write_amp",
    )

    def __init__(self, spark, seed: int, root: str, work: str, tracer, counters) -> None:
        self.spark, self.seed = spark, seed
        self.tracer, self.counters = tracer, counters
        self.sf = sf_dir(root)
        # seconds per query per pass (build + execution), untraced and traced
        self.times: dict[str, list[float]] = {q: [] for q in QUERIES}
        self.traced_times: dict[str, list[float]] = {q: [] for q in QUERIES}
        self.passes = 0
        self.ops = 0
        self.problems: list[str] = []
        self.traced: list[dict[str, float]] = []  # per traced pass
        self.warmup: list[float] = []  # seconds per warm-up pass

    def setup(self) -> None:
        """The digest check, then WARMUP_PASSES untimed passes: all warm up."""
        from banksy_spark.session import release_caches
        from banksy_spark.suite import REGISTRY
        from tools.check import table_digest

        with open(DIGESTS) as f:
            want = json.load(f)["digests"]
        for q in QUERIES:
            release_caches(self.spark)
            self.ops += 1
            df = REGISTRY[q].fn(self.spark, self.sf)
            n, h, _ = table_digest(df.columns, [tuple(r) for r in df.collect()])
            if [n, h] != want[q]:
                self.problems.append(f"{q}: {n} rows, digest {h[:12]} != recorded {want[q]}")
        for _ in range(WARMUP_PASSES):
            self.sample(traced=False)
        self.warmup = [sum(t) for t in zip(*self.times.values())]
        self.times = {q: [] for q in QUERIES}

    def sample(self, traced: bool) -> None:
        from banksy_spark.session import release_caches
        from banksy_spark.suite import REGISTRY

        order = list(QUERIES)
        random.Random(f"{self.seed}:pass:{self.passes}").shuffle(order)
        layer: dict[str, float] = {}
        for q in order:
            release_caches(self.spark)
            group = f"p{self.passes}:{q}"
            self.ops += 1
            self.tracer.sample = group
            self.tracer.enabled = traced
            self.counters.tag(group + ":build")
            t0 = time.perf_counter()
            try:
                df = REGISTRY[q].fn(self.spark, self.sf)
            finally:
                self.tracer.enabled = False
            build_s = time.perf_counter() - t0
            if traced:
                # planning is probed once on the side; the noop write
                # plans again inside its own call, so this is not in the time
                t0 = time.perf_counter()
                df._jdf.queryExecution().executedPlan()
                plan_s = time.perf_counter() - t0
                self.counters.tag(group + ":exec")
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            exec_s = time.perf_counter() - t0
            (self.traced_times if traced else self.times)[q].append(build_s + exec_s)
            if not traced:
                continue
            self_s, calls, _ = self.tracer.self_times(group)
            add = {f"{k}_s": v for k, v in self_s.items()}
            add["registry.resolve_calls"] = calls.get("registry.resolve", 0)
            add["suite.build_jobs"] = self.counters.read([group + ":build"])["jobs"]
            add["engine.plan_s"] = plan_s
            run = self.counters.read([group + ":build", group + ":exec"])
            add.update({f"engine.{k}": v for k, v in run.items()})
            add["engine.exec_s"] = self.counters.read([group + ":exec"])["exec_s"]
            for k, v in add.items():
                layer[k] = layer.get(k, 0.0) + v
        self.passes += 1
        if traced:
            self.traced.append(layer)

    @property
    def n_untraced(self) -> int:
        return len(self.times[QUERIES[0]])

    @property
    def n_traced(self) -> int:
        return len(self.traced)

    def p50_s(self) -> float:
        return sum(statistics.median(v) for v in self.times.values())

    def traced_latency_s(self) -> float:
        return sum(statistics.median(v) for v in self.traced_times.values())

    def check(self) -> list[str]:
        return self.problems

    def layer_totals(self) -> dict[str, float]:
        return {}

    def describe(self) -> dict:
        return {
            "queries": len(QUERIES), "sf_dir": self.sf, "passes": self.passes,
            "warmup_s": self.warmup,
            "pass_walls_s": [sum(t) for t in zip(*self.times.values())],
        }
