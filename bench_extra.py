"""Targeted per-query benchmark (guide §1.4): times each named query
with the noop sink (computes every column, discards output) instead of
bench.py's .count(), for N repeats, printing every raw run plus
min/median.  bench.py itself is FROZEN for driver measurement; this
sidecar exists for optimization-round evidence.

Usage: python bench_extra.py [-n RUNS] [query ...]
Env:   SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (same contract as bench.py)
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def main() -> None:
    from name_match_latest_spark.driver_queries import SPARK_QUERIES
    from name_match_latest_spark.session import get_spark

    args = sys.argv[1:]
    n_runs = 3
    if args and args[0] == "-n":
        n_runs = int(args[1])
        args = args[2:]
    names = args

    spark = get_spark(
        "nm-bench-extra",
        master=f"local[{CPUS}]",
        shuffle_partitions=max(int(CPUS), 16),
    )
    spark.sparkContext.setLogLevel("ERROR")

    # same warmup as bench.py (python workers, codegen, buffer pools)
    SPARK_QUERIES["algo1"](spark, "/root/testdata/sf0.001").count()
    SPARK_QUERIES["algo3_full"](spark, "/root/testdata/sf0.001").count()
    spark.catalog.clearCache()

    out: dict[str, dict] = {}
    for name in names:
        fn = SPARK_QUERIES[name]
        runs = []
        for i in range(n_runs):
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(f"{name} run {i}")
            t0 = time.time()
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            runs.append(round(time.time() - t0, 3))
            spark.sparkContext.setJobDescription(None)
        out[name] = {
            "runs": runs,
            "min": min(runs),
            "median": statistics.median(runs),
        }
        print(
            f"{name}: min={out[name]['min']} "
            f"median={out[name]['median']} runs={runs}"
        )
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
