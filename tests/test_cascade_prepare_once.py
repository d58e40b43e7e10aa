"""``run_cascade`` prepares each side once (the reference's per-person
fuzzy cache, mod.rs:418-463): the per-person preparation UDFs must run
only inside the two cached prepared relations, never again inside a
level's join or an exclusion anti-join.

The check reads Spark's executed plans and SQL metrics only: it walks
every level's plan through the adaptive plan, its query stages and the
plans behind cached relations, visiting each node once.
"""

from __future__ import annotations

import pytest

from name_match_latest_spark.oracle import generate_persons
from tests.conftest import persons_df

PREP_UDFS = {"normalize_text_udf", "dmeta_full_udf", "dmeta_no_mid_udf"}


def _cached_plan(df):
    """The executed plan behind ``df``'s cache entry, or None."""
    plan = df._jdf.queryExecution().withCachedData()
    if plan.getClass().getSimpleName() != "InMemoryRelation":
        return None
    return plan.cachedPlan()


def _prep_nodes(spark, results):
    """Every preparation ``ArrowEvalPythonExec`` reachable from the
    level plans, once each, with the identity of the innermost cached
    plan that holds it (None when it runs outside any cache)."""
    ident = spark._jvm.java.lang.System.identityHashCode
    seen: set[int] = set()
    found = []
    for lr in results:
        stack = [(lr.matches._jdf.queryExecution().executedPlan(), None)]
        while stack:
            node, holder = stack.pop()
            if ident(node) in seen:
                continue
            seen.add(ident(node))
            cls = node.getClass().getSimpleName()
            if cls == "ArrowEvalPythonExec":
                udfs = node.udfs()
                names = {udfs.apply(i).name() for i in range(udfs.size())}
                if names & PREP_UDFS:
                    rows = node.metrics().get("pythonNumRowsReceived").get().value()
                    found.append((holder, int(rows)))
            if cls == "AdaptiveSparkPlanExec":
                stack.append((node.executedPlan(), holder))
            elif cls.endswith("QueryStageExec"):
                stack.append((node.plan(), holder))
            elif cls == "InMemoryTableScanExec":
                cached = node.relation().cachedPlan()
                stack.append((cached, ident(cached)))
            children = node.children()
            for i in range(children.size()):
                stack.append((children.apply(i), holder))
    return found


@pytest.mark.parametrize("exclusive", [True, False])
def test_preparation_udfs_run_once_per_row(spark, exclusive):
    from name_match_latest_spark.operators.cascade import CascadeConfig, run_cascade
    from name_match_latest_spark.plans.caching import unpersist_tracked

    unpersist_tracked()
    p1, p2 = generate_persons(60, seed=7)
    t1, t2 = persons_df(spark, p1), persons_df(spark, p2)
    try:
        results = run_cascade(
            t1, t2,
            CascadeConfig(levels=[1, 2, 3, 10, 11], threshold=0.8, exclusive=exclusive),
        )
        assert sum(lr.match_count > 0 for lr in results) >= 2

        ident = spark._jvm.java.lang.System.identityHashCode
        prepared = [_cached_plan(t1), _cached_plan(t2)]
        assert None not in prepared, "run_cascade did not cache the prepared sides"
        prepared_ids = {ident(p) for p in prepared}

        found = _prep_nodes(spark, results)
        assert {holder for holder, _ in found} == prepared_ids
        assert sum(rows for _, rows in found) == len(p1) + len(p2)
    finally:
        unpersist_tracked(blocking=True)
