"""Every job of scripts/bench_scaling.py, generated and run in-process
at a tiny size: the measured body must return rows, and two runs must
return identical result fields (the harness asserts the same across
runs and across parallelism levels)."""

from __future__ import annotations

import functools
import importlib.util
import os
import sys

import pytest

SIZES = {
    "web": 200, "persons": 500, "cascade": 500, "pagerank": 2000, "lm": 50,
    "events": 4000,
}


@functools.cache
def _bench_scaling():
    spec = importlib.util.spec_from_file_location(
        "bench_scaling",
        os.path.join(os.path.dirname(__file__), "..", "scripts", "bench_scaling.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = mod  # the Job dataclass resolves its module
    spec.loader.exec_module(mod)
    return mod


def test_every_job_has_a_test_size():
    assert set(_bench_scaling().JOBS) == set(SIZES)


@pytest.mark.parametrize("name", sorted(SIZES))
def test_job_runs_and_repeats(spark, tmp_path, name):
    from name_match_latest_spark.plans.caching import unpersist_tracked

    job = _bench_scaling().JOBS[name]
    path = str(tmp_path / name)
    job.generate(spark, SIZES[name], path)
    results = []
    for _ in range(2):
        spark.catalog.clearCache()
        unpersist_tracked()
        results.append(job.body(spark, path))
    unpersist_tracked()
    first, second = results
    assert len(first) == len(job.fields)
    assert first[0] > 0, (name, first)
    assert first == second
