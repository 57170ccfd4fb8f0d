"""Persist/unpersist hygiene (round-9 verdict item 5).

The suite has two persist disciplines:

1. Functions that MATERIALIZE during construction (driver-loop trainers,
   bounded union-find) unpersist their scratch frames before returning —
   enforced where they live (operators/graph.py, kmeans.py, ordinals.py).
2. Functions that return a LAZY plan consuming a persisted intermediate
   more than once (graph_pagerank's edge/degree frames, the similarity
   joins' shingle sets) CANNOT unpersist in-function: ``unpersist()``
   takes effect immediately, so the cache would be gone before the
   caller ever materializes the plan and the persist would be dead code.
   For these, release is the HARNESS's job — bench.py, tools/check.py,
   tools/ansi_check.py, tools/plan_audit.py and tests/conftest.py all
   call ``spark.catalog.clearCache()`` after consuming each query.

This module pins the contract behind discipline 2:

* ``release_caches()`` (banksy_spark.session) really empties the JVM's
  persistent-RDD registry after materializing the heaviest persisting
  queries. ``catalog.clearCache()`` alone is NOT enough — writing this
  test caught llm_corpus_clean leaving 2 registry entries behind: the
  connected-components lineage cuts are ``localCheckpoint`` RDDs, which
  live in the persistent-RDD registry but not the CacheManager, so
  every harness now drains the registry too.
* no code persists at the raw-RDD layer (``.rdd.persist`` /
  ``sc.persist``) — kept as a static guard so a future raw-RDD persist
  can't dodge the registry drain's blocking=False semantics.
"""

from __future__ import annotations

import glob
import re

import pytest

from tests.conftest import SF_SMOKE

# Lazy-plan persisters: one per family (iterative graph, similarity
# join, ANN/semantic, corpus pipeline). Each returns a plan whose
# persisted intermediates are consumed >1 time at materialization.
PERSISTING = [
    "graph_kcore",
    "graph_pagerank",
    "j_similarity_ppjoin_pos",
    "llm_dedup_semantic",
    "llm_corpus_clean",
    # round-13 cached bounded frame (6-row cells, CUPED discipline)
    "ml_cuped_stratified",
    # bounded BFS: a persist per round, a lineage cut every third round
    "graph_bfs_distance",
    # pointer jumping: the fixpoint loop's per-round lineage cuts
    "j_bom_rollup",
    # the one persisted shingle table behind all three containment
    # queries (round8._containment_pairs)
    "llm_dedup_containment_k3",
]


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


@pytest.mark.parametrize("name", PERSISTING)
def test_release_caches_empties_registry(spark, name):
    from banksy_spark.session import release_caches
    from banksy_spark.suite import REGISTRY

    release_caches(spark)
    assert _n_persistent(spark) == 0
    df = REGISTRY[name].fn(spark, SF_SMOKE)
    assert df.count() >= 0
    release_caches(spark)
    assert _n_persistent(spark) == 0, (
        f"{name} left persisted RDDs that release_caches() could not "
        "drain — persisting outside both the CacheManager and the "
        "persistent-RDD registry?"
    )


def test_no_raw_rdd_persists_in_package():
    """clearCache() only releases DataFrame-layer caches. A raw-RDD
    persist (``df.rdd.persist()`` or ``sc.*.persist``) would survive
    every harness's per-query release and leak across the whole
    session — forbid the pattern statically."""
    offenders = []
    for path in glob.glob("banksy_spark/**/*.py", recursive=True):
        src = open(path).read()
        for m in re.finditer(r"\.rdd\s*\.\s*persist\s*\(|sparkContext\.[a-zA-Z]*\(.*\)\.persist\(", src):
            line = src[: m.start()].count("\n") + 1
            offenders.append(f"{path}:{line}")
    assert not offenders, f"raw-RDD persists (clearCache-invisible): {offenders}"
