"""One workload in one process: start Spark, make the inputs, run a cold
repetition, then warm repetitions until the time is up.

Started by ``run.py``, which owns the process group; the report goes to
``--result`` as JSON.

    python3 worker.py --workload NAME --seed N --seconds S --trace 0|1
        --spawned-at EPOCH --work-dir DIR --result FILE
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import threading
import time
import traceback


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _tree_mem_bytes(root_pid: int) -> int:
    """Proportional set size of ``root_pid`` and all its descendants
    (the driver JVM and the Python workers).  PSS is RSS with each
    shared page split between its sharers, so the forked Python
    workers do not count their daemon's pages again."""
    parent = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                parent[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
    total, frontier = 0, [root_pid]
    while frontier:
        pid = frontier.pop()
        total += _pss_bytes(pid)
        frontier.extend(p for p, pp in parent.items() if pp == pid)
    return total


class MemPeak:
    """Samples the process tree's memory in a thread; keeps the maximum."""

    def __init__(self, interval: float = 0.25) -> None:
        self.peak = 0
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_mem_bytes(os.getpid()))
            self._stop.wait(self._interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def _quartiles(xs: list[float]) -> dict:
    q1, q3 = (statistics.quantiles(xs, n=4)[i] for i in (0, 2)) if len(xs) > 1 else (xs[0],) * 2
    return {"median": statistics.median(xs), "q1": q1, "q3": q3, "n": len(xs)}


#: counters that must repeat exactly across traced repetitions
EXACT = (
    "driver.spark_jobs",
    "operators.blocking.candidate_pairs",
    "operators.scoring.matches",
    "operators.scoring.python_rows",
    "operators.cascade.L1.matches",
    "operators.cascade.L2.matches",
    "operators.cascade.L3.matches",
    "operators.cascade.L10.matches",
    "operators.cascade.L11.matches",
    "plans.web_pipeline.groups_skipped",
)


class Runner:
    """Runs gated repetitions of one workload and keeps the tallies."""

    def __init__(self, spark, wl, out_root: str) -> None:
        from spans import Tracer

        self.spark, self.wl, self.out_root = spark, wl, out_root
        self.tracer_cls = Tracer
        self.attempted = 0
        self.errors: list[str] = []
        self.digests: dict[str, int] = {}

    @property
    def failed(self) -> int:
        return len(self.errors)

    def fail(self, what: str) -> None:
        self.errors.append(what)

    def attempt(self, body):
        """One repetition between cache resets, with its own job group
        and the correctness gate.  ``body(tracer, out)`` runs the
        workload.  Returns the result, or None when it failed."""
        from name_match_latest_spark.plans.caching import unpersist_tracked
        from workloads import GateError

        i = self.attempted
        self.attempted += 1
        tr = self.tracer_cls(self.spark, f"rep{i}")
        try:
            t0 = time.perf_counter()
            with tr.span("rep"):
                res = body(tr, os.path.join(self.out_root, f"rep{i}"))
            res["traced_wall_s"] = time.perf_counter() - t0
            res["tracer"] = tr
            res["spark_jobs"], res["spark_tasks"] = tr.jobs_and_tasks()
            unpersist_tracked()
            self.spark.catalog.clearCache()
            res.update(self.wl.check(res))
        except GateError as exc:
            self.fail(f"rep {i}: {exc}")
            return None
        except Exception:  # a failed repetition is counted, not fatal
            self.fail(f"rep {i}: {traceback.format_exc()}")
            return None
        self.digests[res["digest"]] = self.digests.get(res["digest"], 0) + 1
        return res

    def untraced(self, tr, out: str) -> dict:
        return self.wl.run(out)


def _layer_metrics(res: dict) -> dict:
    """Raw per-layer figures of one traced repetition: every span's
    self time as ``<span>.wall_s`` (the root span's is the residual)
    plus the tracer's counters."""
    tr = res["tracer"]
    m = {f"{name}.wall_s": s for name, s in tr.self_times().items()}
    m.update(tr.counters)
    m["trace.wall_s"] = res["traced_wall_s"]
    m["driver.spark_jobs"] = res["spark_jobs"]
    m["driver.spark_tasks"] = res["spark_tasks"]
    m["operators.clustering.components"] = res.get("components", 0)
    return m


def _trace_report(run: Runner, traced: list[dict], warm: list[dict],
                  resumes: list[dict]) -> dict:
    layers = [_layer_metrics(r) for r in traced]
    for key in EXACT:
        seen = {lm.get(key, 0) for lm in layers}
        if len(seen) > 1:
            run.fail(f"{key} differs across traced repetitions: {sorted(seen)}")
    walls = [lm["trace.wall_s"] for lm in layers]
    # report the repetition at the median traced wall, so its layer self
    # times plus the residual add up to one measured wall
    mid = sorted(range(len(walls)), key=walls.__getitem__)[(len(walls) - 1) // 2]
    chosen = dict(layers[mid])
    chosen["trace.overhead_s"] = statistics.median(walls) - statistics.median(
        r["wall_s"] for r in warm
    )
    chosen["trace.spans"] = traced[mid]["tracer"].spans
    # the checkpoint layers come from the traced resumable pass
    for res in resumes:
        chosen.update((k, v) for k, v in _layer_metrics(res).items() if k.startswith("plans."))
        chosen["trace.spans"] += res["tracer"].spans
    return chosen


def _measure(run: Runner, args, report: dict) -> None:
    wl = run.wl
    with MemPeak() as mem:
        cold = run.attempt(run.untraced)
        if cold is None:
            return
        report["cold_s"] = cold["wall_s"]
        resumes = []
        if args.trace and hasattr(wl, "resume"):
            resumes = [r for r in [run.attempt(wl.resume)] if r]
        # JIT warm-up: gated like any repetition, timed in neither
        # setup_s nor wall_s
        warmup = [run.attempt(run.untraced) for _ in range(wl.warmup_reps)]
        report["warmup_s"] = [r["wall_s"] for r in warmup if r]
        warm, traced, took = [], [], []
        min_reps = 2 if args.trace else 1
        start = time.perf_counter()
        while (len(warm) + len(traced) < min_reps and not run.failed) or (
            # start another repetition only if it should end in time
            took and time.perf_counter() - start + statistics.median(took) <= args.seconds
        ):
            # trace mode alternates untraced and traced repetitions, so
            # trace.overhead_s compares neighbours
            is_traced = bool(args.trace) and len(traced) < len(warm)
            t0 = time.perf_counter()
            res = run.attempt(wl.traced if is_traced else run.untraced)
            took.append(time.perf_counter() - t0)
            if res is not None:
                (traced if is_traced else warm).append(res)
    report["peak_rss_mb"] = mem.peak / 2**20
    if len(run.digests) != 1:
        run.fail(f"outputs differ across repetitions: {run.digests}")
    jobs = {r["spark_jobs"] for r in warm}
    if len(jobs) > 1:
        run.fail(f"Spark job count differs across warm repetitions: {sorted(jobs)}")
    if not warm:
        return
    # every output has the same digest, so one F1 stands for all
    report["pairwise_f1"] = wl.quality(cold)
    report["warm"] = {
        "wall_s": _quartiles([r["wall_s"] for r in warm]),
        "walls": [r["wall_s"] for r in warm],
        "spark_jobs": sorted(jobs),
    }
    if traced:
        report["trace"] = _trace_report(run, traced, warm, resumes)


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], required=True)
    p.add_argument("--spawned-at", type=float, required=True)
    p.add_argument("--work-dir", required=True)
    p.add_argument("--result", required=True)
    args = p.parse_args()

    from name_match_latest_spark.session import get_spark

    spark = get_spark(
        "perfbench-" + args.workload,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "session_s": time.time() - args.spawned_at,
    }

    import workloads

    out_root = os.path.join(args.work_dir, f"out-{args.workload}-{os.getpid()}")
    run = None
    errors = []
    try:
        wl = workloads.WORKLOADS[args.workload](
            spark, os.path.join(args.work_dir, "data"), args.seed
        )
        report["input_rows"] = wl.input_rows
        run = Runner(spark, wl, out_root)
        _measure(run, args, report)
    except Exception:  # report it: run.py reads the result file
        errors.append(traceback.format_exc())
    finally:
        shutil.rmtree(out_root, ignore_errors=True)
        if run is not None:
            errors = run.errors + errors
        report.update(
            attempted=max(run.attempted if run else 0, 1),
            failed=len(errors),
            errors=errors,
        )
        with open(args.result, "w") as f:
            json.dump(report, f)
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
