"""Measurement helpers that sit outside the program under test.

 - ``Tracer``: spans recorded by wrappers installed on the module
   attributes the program looks up at call time, so ``banksy_spark``
   itself is not edited.  Spans stay in memory; ``self_times`` turns one
   sample's spans into per-layer self time (duration minus the time its
   child spans cover), which sums to the sample's root span.
 - ``install_wrappers``: puts the tracer on every layer's entry points,
   whichever workload runs, so a layer a workload does not reach reports
   a measured zero and a layer it must reach can be checked for calls.
 - ``EngineCounters``: per-sample Spark counters read from the
   application status store through the job group each sample is
   tagged with.  Works with the UI disabled.
 - ``host_cpu`` / ``calibrate``: steal time and a fixed single-thread
   probe loop, which explain noise but are not the program's work.
"""

from __future__ import annotations

import dataclasses
import functools
import sys
import time
from collections import defaultdict

# the traced layers; each reports its self time as "<layer>_s"
LAYERS = (
    "sources.parse", "sources.send", "streaming.raw", "streaming.read_state",
    "streaming.decide", "pipelines.build", "io.commit", "registry.resolve", "suite.build",
)


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.sample = None
        self.spans: list[list] = []  # [sample, layer, start, end, parent index]
        self._stack: list[int] = []

    def wrap(self, layer: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            parent = self._stack[-1] if self._stack else None
            idx = len(self.spans)
            self.spans.append([self.sample, layer, time.perf_counter(), None, parent])
            self._stack.append(idx)
            try:
                return fn(*args, **kwargs)
            finally:
                self.spans[idx][3] = time.perf_counter()
                self._stack.pop()

        return traced

    def install(self, module, attr: str, layer: str) -> None:
        setattr(module, attr, self.wrap(layer, getattr(module, attr)))

    def reached(self) -> set[str]:
        """The layers with at least one recorded span."""
        return {s[1] for s in self.spans}

    def self_times(self, sample) -> tuple[dict[str, float], dict[str, int], float]:
        """(self seconds per layer, calls per layer, root seconds) of one
        sample."""
        mine = [i for i, s in enumerate(self.spans) if s[0] == sample]
        child_time: dict[int, float] = defaultdict(float)
        for i in mine:
            _, _, t0, t1, parent = self.spans[i]
            if parent is not None:
                child_time[parent] += t1 - t0
        out: dict[str, float] = defaultdict(float)
        calls: dict[str, int] = defaultdict(int)
        root = 0.0
        for i in mine:
            _, layer, t0, t1, parent = self.spans[i]
            out[layer] += (t1 - t0) - child_time[i]
            calls[layer] += 1
            if parent is None:
                root += t1 - t0
        return dict(out), dict(calls), root


def install_wrappers(tracer: Tracer, counters: "EngineCounters") -> None:
    """Wrap the module attributes each layer is looked up through.  The
    suite modules import ``T`` by name, so every such binding is
    wrapped; the query functions are wrapped in ``REGISTRY``."""
    from banksy_spark import io, pipelines
    from banksy_spark.sources import adapters
    from banksy_spark.streaming import app
    from banksy_spark.suite import REGISTRY, registry

    for attr in ("first_table_rows", "promote_header"):
        tracer.install(adapters, attr, "sources.parse")
    tracer.install(adapters, "send_notifications", "sources.send")
    tracer.install(app, "pages_to_raw", "streaming.raw")
    tracer.install(app, "read_alert_log", "streaming.read_state")
    tracer.install(app, "process_scan_epoch", "streaming.decide")
    for attr in ("normalize_odds", "find_arbitrage", "decide_alerts"):
        tracer.install(pipelines, attr, "pipelines.build")
    commit = io.upsert_batch

    def commit_in_own_group(*args, **kwargs):
        # the commit's jobs get their own group so its written rows count
        counters.tag(f"{tracer.sample}:io")
        try:
            return commit(*args, **kwargs)
        finally:
            counters.tag(tracer.sample)

    io.upsert_batch = tracer.wrap("io.commit", commit_in_own_group)
    t = registry.T
    resolve = tracer.wrap("registry.resolve", t)
    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith("banksy_spark.") and getattr(mod, "T", None) is t:
            mod.T = resolve
    for name, spec in list(REGISTRY.items()):
        REGISTRY[name] = dataclasses.replace(spec, fn=tracer.wrap("suite.build", spec.fn))


class EngineCounters:
    """Spark's own counters for the jobs run under one job group."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        self._bus = self.sc._jsc.sc().listenerBus()

    def tag(self, group: str) -> None:
        self.sc.setJobGroup(group, group, interruptOnCancel=False)

    def read(self, groups: list[str]) -> dict[str, float]:
        from py4j.protocol import Py4JJavaError

        self._bus.waitUntilEmpty()  # the status store is fed asynchronously
        tracker = self.sc.statusTracker()
        stages = []
        jobs = 0
        spans = []
        for g in groups:
            for job in tracker.getJobIdsForGroup(g):
                jobs += 1
                data = self._store.job(job)
                start, end = data.submissionTime(), data.completionTime()
                if start.isDefined() and end.isDefined():
                    spans.append((start.get().getTime(), end.get().getTime()))
                info = tracker.getJobInfo(job)
                for sid in info.stageIds if info else []:
                    try:
                        st = self._store.lastStageAttempt(sid)
                    except Py4JJavaError:  # never attempted
                        continue
                    if st.status().toString() == "SKIPPED":
                        continue
                    stages.append(st)
        run = [st.executorRunTime() for st in stages]
        total_run = sum(run)
        return {
            "jobs": jobs,
            # the time at least one of the jobs ran, from submission to
            # completion (AQE runs independent stages' jobs side by side)
            "exec_s": covered_ms(spans) / 1e3,
            "stages": len(stages),
            "tasks": sum(st.numTasks() for st in stages),
            "failed_tasks": sum(st.numFailedTasks() for st in stages),
            "executor_cpu_s": sum(st.executorCpuTime() for st in stages) / 1e9,
            "shuffle_bytes": sum(st.shuffleWriteBytes() for st in stages),
            "spill_bytes": sum(st.memoryBytesSpilled() + st.diskBytesSpilled() for st in stages),
            "output_records": sum(st.outputRecords() for st in stages),
            # one-task stages holding over a fifth of the executor time:
            # the shape AQE leaves when it coalesces a CPU-heavy stage
            "narrow_stages": sum(
                1 for st, r in zip(stages, run)
                if st.numTasks() == 1 and total_run and r > 0.2 * total_run
            ),
        }


def covered_ms(spans: list[tuple[int, int]]) -> int:
    """Length of the union of [start, end] millisecond intervals."""
    total, reach = 0, None
    for start, end in sorted(spans):
        if reach is None or start > reach:
            total += end - start
            reach = end
        elif end > reach:
            total += end - reach
            reach = end
    return total


def host_cpu() -> tuple[int, int]:
    """(steal ticks, all ticks) from the aggregate line of /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def calibrate(reps: int = 5) -> float:
    """Median seconds of a fixed pure-Python loop: the host's
    single-thread speed as this process sees it."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        acc = 0
        for i in range(200_000):
            acc += i * i % 7
        times.append(time.perf_counter() - t0)
    return sorted(times)[reps // 2]
