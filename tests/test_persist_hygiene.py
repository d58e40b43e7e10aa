"""Round-1 finding #4: match_fuzzy / match_lev_weighted / cluster_pages
persisted without unpersist, accumulating cached sides over long
multi-query sessions.  Operators now register long-lived persists in
plans.caching; unpersist_tracked() must return the session to its
baseline cache footprint.
"""

from __future__ import annotations

import pytest


def _persistent_ids(spark) -> set[int]:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


def _settled_baseline(spark) -> set[int]:
    """Persistent RDD ids once earlier tests' garbage is gone.  Spark's
    ContextCleaner unpersists an RDD (e.g. a localCheckpoint) when a
    JVM GC collects it, so a baseline read while such RDDs are still
    collectable can shrink during the test at any GC."""
    import gc
    import time

    gc.collect()
    ids = None
    for _ in range(40):
        spark.sparkContext._jvm.System.gc()
        time.sleep(0.25)
        now = _persistent_ids(spark)
        if now == ids:
            break
        ids = now
    return ids


def test_fuzzy_matchers_release_caches(spark):
    from name_match_latest_spark.operators.algos import (
        match_fuzzy,
        match_lev_weighted,
    )
    from name_match_latest_spark.oracle import generate_persons
    from name_match_latest_spark.plans.caching import unpersist_tracked
    from tests.conftest import persons_df

    unpersist_tracked()
    spark.catalog.clearCache()
    baseline = _persistent_ids(spark)

    p1, p2 = generate_persons(120, seed=7)
    t1, t2 = persons_df(spark, p1), persons_df(spark, p2)
    n1 = match_fuzzy(t1, t2).count()
    n2 = match_lev_weighted(t1, t2).count()
    assert n1 >= 0 and n2 >= 0
    assert len(_persistent_ids(spark) - baseline) > 0  # caches were live

    released = unpersist_tracked(blocking=True)
    assert released >= 4  # two sides per matcher
    assert _persistent_ids(spark) <= baseline


def _logical_rdd_ids(dfs) -> set[int]:
    """Ids of the RDDs behind every ``LogicalRDD`` (a checkpoint) in
    the analysed plans of ``dfs``."""
    ids = set()
    stack = [df._jdf.queryExecution().analyzed() for df in dfs]
    while stack:
        node = stack.pop()
        if node.getClass().getSimpleName() == "LogicalRDD":
            ids.add(int(node.rdd().id()))
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
    return ids


@pytest.mark.parametrize("exclusive", [True, False])
def test_run_cascade_releases_caches(spark, exclusive):
    """Every tracked cache is released; what stays persistent is
    exactly the exclusion id sets (local checkpoints) the returned
    level plans still read, which Spark's ContextCleaner frees with
    those frames.  Independent mode leaves nothing behind."""
    from name_match_latest_spark.operators.cascade import CascadeConfig, run_cascade
    from name_match_latest_spark.oracle import generate_persons
    from name_match_latest_spark.plans.caching import unpersist_tracked
    from tests.conftest import persons_df

    unpersist_tracked()
    spark.catalog.clearCache()
    baseline = _settled_baseline(spark)

    p1, p2 = generate_persons(80, seed=9)
    t1, t2 = persons_df(spark, p1), persons_df(spark, p2)
    levels = [1, 2, 3]
    results = run_cascade(
        t1, t2, CascadeConfig(levels=levels, threshold=0.9, exclusive=exclusive)
    )
    assert sum(r.match_count for r in results[:-1]) > 0  # exclusion had ids

    # the two prepared sides plus one cache per level
    assert unpersist_tracked(blocking=True) == len(levels) + 2
    # checkpoints the cascade added on top of its inputs' plans
    id_sets = _logical_rdd_ids(r.matches for r in results) - _logical_rdd_ids([t1, t2])
    assert bool(id_sets) == exclusive
    assert _persistent_ids(spark) == baseline | id_sets


def test_driver_query_wrapper_clears_previous(spark):
    """Every registered driver query starts by releasing the previous
    query's tracked caches."""
    from name_match_latest_spark.driver_queries import SPARK_QUERIES
    from name_match_latest_spark.plans.caching import _TRACKED

    SPARK_QUERIES["algo3_full"](spark, "/root/testdata/sf0.001").count()
    n_after_first = len(_TRACKED)
    assert n_after_first > 0
    SPARK_QUERIES["algo1"](spark, "/root/testdata/sf0.001").count()
    # algo1 persists nothing; the wrapper must have drained the tracker
    assert len(_TRACKED) == 0
