"""Benchmark entry point: one workload, one seed, one process tree.

    python3 perfbench/run.py --workload web_crawl|person_cascade
        --seed N --seconds S --trace 0|1

Run from the root of a checkout.  The workload runs in its own worker
process (``worker.py``) on ``local[<cpus>]``, as a closed loop of one
job at a time: a cold repetition, then warm repetitions for S seconds.
Inputs are generated from the seed into ``.perfbench/data`` and reused
only after their digest verifies.  Every repetition's output passes a
correctness gate; the last stdout line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (``--trace 0``) or the per-layer metrics
of a traced run (``--trace 1``).  The full report, with quartiles,
spans and errors, is written to ``.perfbench/last-<workload>.json``.
The exit code is non-zero when the gate fails.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("web_crawl", "person_cascade")
WORKER_TIMEOUT_S = 160
DRIVER_MEM = "2g"

#: end-to-end metrics: name -> unit
END_TO_END = {
    "wall_s": "s",
    "rows_per_s": "rows/s",
    "setup_s": "s",
    "pairwise_f1": "ratio",
    "peak_rss_mb": "MB",
}

#: per-layer metrics: name -> (unit, raw trace key or a list of keys summed)
PER_LAYER = {
    "session.start_s": ("s", "session.start_s"),
    "sources.web.wall_s": ("s", "sources.web.wall_s"),
    "sources.web.pages_in": ("count", "sources.web.scan_rows"),
    "sources.web.mentions_out": ("count", "sources.web.mentions_out"),
    "sources.web.python_ms": ("ms", "sources.web.python_ms"),
    "operators.persons.wall_s": ("s", "operators.persons.wall_s"),
    "operators.persons.rows": ("count", "operators.persons.rows"),
    "operators.persons.udf_rows": ("count", "operators.persons.python_rows"),
    "operators.persons.udf_python_ms": ("ms", "operators.persons.python_ms"),
    "operators.blocking.wall_s": ("s", "operators.blocking.wall_s"),
    "operators.blocking.candidate_pairs": ("count", "operators.blocking.candidate_pairs"),
    "operators.blocking.shuffle_bytes": ("bytes", "operators.blocking.shuffle_bytes"),
    "operators.blocking.broadcast_bytes": ("bytes", "operators.blocking.broadcast_bytes"),
    "operators.scoring.wall_s": ("s", "operators.scoring.wall_s"),
    "operators.scoring.jw_rows": ("count", "operators.scoring.python_rows"),
    "operators.scoring.matches": ("count", "operators.scoring.matches"),
    "operators.scoring.match_ratio": ("ratio", None),
    "operators.scoring.python_ms": ("ms", "operators.scoring.python_ms"),
    "operators.clustering.wall_s": ("s", "operators.clustering.wall_s"),
    "operators.clustering.edges_in": ("count", "operators.clustering.edges_in"),
    "operators.clustering.components": ("count", "operators.clustering.components"),
    **{
        f"operators.cascade.L{lv}.{what}": (unit, f"operators.cascade.L{lv}.{what}")
        for lv in (1, 2, 3, 10, 11)
        for what, unit in (("wall_s", "s"), ("matches", "count"))
    },
    "operators.cascade.exclusion_s": ("s", "operators.cascade.exclusion.wall_s"),
    "operators.cascade.shuffle_bytes": (
        "bytes",
        [f"operators.cascade.L{lv}.shuffle_bytes" for lv in (1, 2, 3, 10, 11)],
    ),
    "plans.checkpoint.commit_s": ("s", "plans.checkpoint.wall_s"),
    "plans.web_pipeline.wall_s": ("s", "plans.web_pipeline.wall_s"),
    "plans.web_pipeline.groups_run": ("count", "plans.web_pipeline.groups_run"),
    "plans.web_pipeline.groups_skipped": ("count", "plans.web_pipeline.groups_skipped"),
    "plans.web_pipeline.group_wall_s": ("s", "plans.web_pipeline.group_wall_s"),
    "plans.web_pipeline.killed_s": ("s", "plans.web_pipeline.killed_s"),
    "plans.web_pipeline.resume_s": ("s", "plans.web_pipeline.resume_s"),
    "sinks.write_s": ("s", "sinks.wall_s"),
    "sinks.rows_written": ("count", "sinks.rows_written"),
    "driver.spark_jobs": ("count", "driver.spark_jobs"),
    "driver.spark_tasks": ("count", "driver.spark_tasks"),
    "driver.residual_s": ("s", "rep.wall_s"),
    "trace.wall_s": ("s", "trace.wall_s"),
    "trace.overhead_s": ("s", "trace.overhead_s"),
}


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    return True


def _stop_group(proc: subprocess.Popen) -> None:
    """Stop the worker and everything it started (the JVM and the
    Python workers share its process group), and wait for them."""
    if proc.poll() is None:
        proc.terminate()
        try:
            proc.wait(timeout=5)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 5
    while _group_alive(proc.pid) and time.time() < deadline:
        time.sleep(0.1)
    if _group_alive(proc.pid):
        os.killpg(proc.pid, signal.SIGKILL)
        while _group_alive(proc.pid):
            time.sleep(0.1)


def _metric(raw: dict, key) -> float:
    if isinstance(key, list):
        return float(sum(raw.get(k, 0.0) for k in key))
    return float(raw.get(key, 0.0))


def _end_to_end(report: dict) -> dict:
    warm = report["warm"]
    wall = warm["wall_s"]["median"]
    values = {
        "wall_s": wall,
        "rows_per_s": report["input_rows"] / wall,
        "setup_s": report["session_s"] + report["cold_s"],
        "pairwise_f1": report["pairwise_f1"],
        "peak_rss_mb": report["peak_rss_mb"],
    }
    return {k: {"value": values[k], "unit": unit} for k, unit in END_TO_END.items()}


def _per_layer(report: dict) -> dict:
    raw = dict(report["trace"], **{"session.start_s": report["session_s"]})
    out = {}
    for name, (unit, key) in PER_LAYER.items():
        out[name] = {"value": _metric(raw, key) if key else 0.0, "unit": unit}
    jw = out["operators.scoring.jw_rows"]["value"]
    if jw:
        out["operators.scoring.match_ratio"]["value"] = (
            out["operators.scoring.matches"]["value"] / jw
        )
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "name_match_latest_spark", "__init__.py")):
        print(f"perfbench: no name_match_latest_spark package under {ROOT}", file=sys.stderr)
        return 2
    if importlib.util.find_spec("pyspark") is None:
        print("perfbench: pyspark is not importable", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = _cpus()
    env = dict(
        os.environ,
        # the package must be importable by Spark's Python workers too
        PYTHONPATH=os.pathsep.join(
            [ROOT] + [x for x in os.environ.get("PYTHONPATH", "").split(os.pathsep) if x]
        ),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_GRAFT_MASTER=f"local[{cpus}]",
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        # session.py's guidance: about twice the cores
        SPARK_GRAFT_SHUFFLE_PARTITIONS=str(2 * cpus),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    )
    result_path = os.path.join(work, f"result-{args.workload}-{os.getpid()}.json")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--spawned-at", repr(time.time()), "--work-dir", work,
        "--result", result_path,
    ]
    proc = subprocess.Popen(
        cmd, cwd=work, env=env, stdout=sys.stderr, start_new_session=True
    )
    try:
        proc.wait(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print("perfbench: worker timed out", file=sys.stderr)
    finally:
        _stop_group(proc)

    try:
        with open(result_path) as f:
            report = json.load(f)
        os.remove(result_path)
    except (OSError, json.JSONDecodeError):
        print("perfbench: worker wrote no report", file=sys.stderr)
        return 1
    report.update(master=f"local[{cpus}]", driver_mem=DRIVER_MEM,
                  shuffle_partitions=2 * cpus)
    with open(os.path.join(work, f"last-{args.workload}.json"), "w") as f:
        json.dump(report, f, indent=1)
    for err in report["errors"]:
        print(f"perfbench: {err}", file=sys.stderr)
    correct = report["failed"] == 0 and ("trace" if args.trace else "warm") in report
    if not correct:
        print(json.dumps({"correct": False, "attempted": report["attempted"],
                          "failed": report["failed"], "metrics": {}}))
        return 1
    metrics = _per_layer(report) if args.trace else _end_to_end(report)
    print(json.dumps({"detail": dict(report["warm"], warmup_s=report["warmup_s"])}))
    print(json.dumps({
        "correct": True,
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
