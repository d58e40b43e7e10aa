"""The exclusive cascade's level plans must not nest.

Each level excludes the ids matched so far through one left-anti join
per side against a lineage-cut id set, so a level's analysed plan
stays a small, fixed shape however many earlier levels matched.
Chaining the anti-joins over the previous levels' frames instead puts
every earlier level's plan inside the next one, and the tree roughly
triples with each level that matches.
"""

from __future__ import annotations

from name_match_latest_spark.oracle import generate_persons
from tests.conftest import persons_df


def _plan_shape(df) -> tuple[int, int]:
    """(nodes, LeftAnti joins) of ``df``'s analysed logical plan, every
    tree position counted."""
    nodes = anti = 0
    stack = [df._jdf.queryExecution().analyzed()]
    while stack:
        node = stack.pop()
        nodes += 1
        if (
            node.getClass().getSimpleName() == "Join"
            and node.joinType().toString() == "LeftAnti"
        ):
            anti += 1
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
    return nodes, anti


def test_exclusive_level_plans_stay_small(spark):
    from name_match_latest_spark.operators.cascade import CascadeConfig, run_cascade
    from name_match_latest_spark.plans.caching import unpersist_tracked

    unpersist_tracked()
    p1, p2 = generate_persons(60, seed=7)
    t1, t2 = persons_df(spark, p1), persons_df(spark, p2)
    try:
        results = run_cascade(
            t1, t2, CascadeConfig(levels=list(range(1, 12)), threshold=0.8)
        )
        # exclusion is exercised: several levels match before L11
        assert sum(lr.match_count > 0 for lr in results[:-1]) >= 2
        shapes = {lr.level: _plan_shape(lr.matches) for lr in results}
        assert all(anti <= 2 for _, anti in shapes.values()), shapes
        assert shapes[11][0] < 100, shapes
    finally:
        unpersist_tracked(blocking=True)
