"""Spans, Spark job counts and SQL-metric reading for the traced run.

The tracer lives in the benchmark, not in the package: spans are
recorded around the benchmark's own calls into each package module.

* A span is ``(id, name, parent, run, start, end)``; spans are kept
  in memory and handed back to the caller at the end of the run.
  A layer's self time is its span time minus its direct children.
* Every span gets its own Spark job group, so the jobs (and their
  completed tasks) a layer launched are exact counts read from the
  status tracker.
* ``force`` runs a DataFrame through its own ``QueryExecution`` and
  then walks the executed plan, descending into the final adaptive
  plan, its query stages and the plans behind cached relations, and
  adds each node's SQL metrics to the layer.  A plan node that was
  already read (a cached plan reused by a later layer) only adds the
  part of its metrics that grew since.
"""

from __future__ import annotations

import time
from collections import defaultdict
from contextlib import contextmanager

#: Python UDF name -> the package layer it belongs to.  Python time is
#: attributed by UDF, not by span: the cascade re-evaluates the
#: preparation UDFs inside every level, and that cost is the
#: preparation layer's.
UDF_LAYER = {
    "parse": "sources.web",
    "normalize_text_udf": "operators.persons",
    "dmeta_full_udf": "operators.persons",
    "dmeta_no_mid_udf": "operators.persons",
    "jaro_winkler_udf": "operators.scoring",
}

_PYTHON_NODES = ("ArrowEvalPythonExec", "MapInPandasExec")


class Tracer:
    """Records spans and per-layer counters for one repetition."""

    def __init__(self, spark, run_id: str) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self._seen: dict[tuple[int, str], float] = {}
        self._ident = spark._jvm.java.lang.System.identityHashCode

    def _group(self, span_id: int) -> str:
        return f"{self.run_id}/{span_id}"

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self.sc.setJobGroup(self._group(rec["id"]), name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(self._group(parent), self.spans[parent]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def add(self, key: str, value: float) -> None:
        self.counters[key] += value

    def force(self, layer: str, df, persist: bool = True):
        """Materialize ``df`` through its own query execution and read
        its plan metrics into ``layer``.  Returns ``(df, rows)``."""
        if persist:
            df = df.persist()
        qe = df._jdf.queryExecution()
        rows = qe.toRdd().count()
        self.read_plan(layer, qe.executedPlan())
        return df, rows

    def read_plan(self, layer: str, root) -> None:
        stack = [root]
        while stack:
            node = stack.pop()
            cls = node.getClass().getSimpleName()
            ident = self._ident(node)
            if cls in _PYTHON_NODES:
                self._read_python(node, cls, ident)
            elif cls == "ShuffleExchangeExec":
                self._delta(layer + ".shuffle_bytes", ident, node, "shuffleBytesWritten")
            elif cls == "BroadcastExchangeExec":
                self._delta(layer + ".broadcast_bytes", ident, node, "dataSize")
            elif cls == "FileSourceScanExec":
                self._delta(layer + ".scan_rows", ident, node, "numOutputRows")
            if cls == "AdaptiveSparkPlanExec":
                stack.append(node.executedPlan())
            elif cls.endswith("QueryStageExec"):
                stack.append(node.plan())
            elif cls == "InMemoryTableScanExec":
                stack.append(node.relation().cachedPlan())
            children = node.children()
            for i in range(children.size()):
                stack.append(children.apply(i))

    def _read_python(self, node, cls: str, ident: int) -> None:
        if cls == "MapInPandasExec":
            names = [node.func().name()]
        else:
            udfs = node.udfs()
            names = [udfs.apply(i).name() for i in range(udfs.size())]
        layer = UDF_LAYER.get(names[0], "python.other")
        self._delta(layer + ".python_ms", ident, node, "pythonTotalTime")
        self._delta(layer + ".python_rows", ident, node, "pythonNumRowsReceived")

    def _delta(self, key: str, ident: int, node, metric: str) -> None:
        opt = node.metrics().get(metric)
        if not opt.isDefined():
            return
        value = float(opt.get().value())
        seen = self._seen.get((ident, metric), 0.0)
        if value > seen:
            self.counters[key] += value - seen
            self._seen[(ident, metric)] = value

    def jobs_and_tasks(self) -> tuple[int, int]:
        """Exact Spark job and completed-task counts over every span."""
        tracker = self.sc.statusTracker()
        jobs, stages = 0, set()
        for rec in self.spans:
            for jid in tracker.getJobIdsForGroup(self._group(rec["id"])):
                jobs += 1
                info = tracker.getJobInfo(jid)
                # a stage a later job reuses is listed (skipped) there too
                stages.update(info.stageIds if info else ())
        infos = (tracker.getStageInfo(sid) for sid in stages)
        return jobs, sum(stage.numCompletedTasks for stage in infos if stage)

    def self_times(self) -> dict[str, float]:
        """Self time per span name; the root span's self time is the
        residual the layer spans do not cover."""
        child_time: dict[int, float] = defaultdict(float)
        for rec in self.spans:
            if rec["parent"] is not None:
                child_time[rec["parent"]] += rec["end"] - rec["start"]
        out: dict[str, float] = defaultdict(float)
        for rec in self.spans:
            out[rec["name"]] += rec["end"] - rec["start"] - child_time[rec["id"]]
        return dict(out)
