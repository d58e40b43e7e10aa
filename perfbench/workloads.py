"""The benchmark workloads: an untraced repetition, a traced
repetition and the correctness gate for each.

An untraced repetition calls the entry point a user would: the web CLI
or ``run_cascade``.  A traced repetition calls the public functions
that entry point composes, one layer at a time, and forces each
layer's output, so the tracer can time it and read its plan metrics.
Both must write the same output (same digest).
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import time
from collections import Counter, defaultdict
from contextlib import contextmanager

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from name_match_latest_spark import webcli
from name_match_latest_spark.operators.blocking import pair_join
from name_match_latest_spark.operators.cascade import (
    CascadeConfig,
    match_level,
    run_cascade,
)
from name_match_latest_spark.operators.clustering import connected_components
from name_match_latest_spark.operators.persons import prepare_persons
from name_match_latest_spark.operators.scoring import score_pairs
from name_match_latest_spark.plans.caching import tracked_cache
from name_match_latest_spark.plans.checkpoint import AuditLog
from name_match_latest_spark.plans.web_pipeline import (
    MATCH_COLS,
    _block_key,
    prepare_mentions,
    run_resumable,
)
from name_match_latest_spark.sources.web import extract_mentions, mentions_as_persons

import inputs

WEB_PAGES = 5_000
PERSONS_PER_SIDE = 2_000
#: the CLI's cascade defaults (cli.py: --cascade-levels, --threshold)
CASCADE = CascadeConfig(
    levels=[1, 2, 3, 10, 11], threshold=0.95, allow_birthdate_swap=False, exclusive=True
)
RESUME_GROUPS = 8
RESUME_FAIL_AFTER = 3
#: persons side b ids are side a ids plus this offset (sources/synth.py)
SIDE_B_OFFSET = 1_000_000_000
#: the columns person_cascade writes
MATCH_OUT = ["t1_id", "t2_id", "confidence", "case_label", "level"]


class GateError(Exception):
    """An output failed the benchmark's correctness gate."""


def _require(ok: bool, what: str) -> None:
    if not ok:
        raise GateError(what)


def _f1(tp: int, fp: int, fn: int) -> float:
    return 2 * tp / max(2 * tp + fp + fn, 1)


def _read_rows(path: str, cols: list[str]) -> list[tuple]:
    """A written output's rows, read in this process: the gate costs no
    Spark job, so it does not lengthen the run."""
    table = pq.read_table(path, columns=cols)
    return list(zip(*(table.column(c).to_pylist() for c in cols)))


def _digest(rows: list[tuple]) -> str:
    """Order-insensitive digest: row count and md5 of the sorted rows."""
    h = hashlib.md5()
    for row in sorted(rows):
        h.update(repr(row).encode())
    return f"{len(rows)}:{h.hexdigest()}"


class WebCrawl:
    """Pages -> entity clusters through the web CLI's batch mode; the
    traced run adds one killed-and-resumed pass of the checkpointed
    pipeline."""

    name = "web_crawl"
    #: the first warm repetition is still ~30% slower than the later
    #: ones (JIT); it is gated but not timed
    warmup_reps = 1

    def __init__(self, spark, data_dir: str, seed: int) -> None:
        self.spark = spark
        self.pages = inputs.webpages(spark, data_dir, seed, WEB_PAGES)
        self.input_rows = WEB_PAGES

    def run(self, out: str) -> dict:
        t0 = time.perf_counter()
        rc = webcli.run([self.pages, out, "--format", "parquet"])
        wall = time.perf_counter() - t0
        _require(rc == 0, f"webcli exited {rc}")
        return {"wall_s": wall, "clusters": out}

    def traced(self, tr, out: str) -> dict:
        pages = self.spark.read.parquet(self.pages)
        with tr.span("sources.web"):
            mentions = mentions_as_persons(extract_mentions(pages.drop("html")))
            mentions, n_mentions = tr.force("sources.web", mentions)
        with tr.span("operators.persons"):
            prepared = prepare_persons(mentions).select(*MATCH_COLS)
            prepared, n_prepared = tr.force("operators.persons", prepared)
        mentions.unpersist()
        with tr.span("operators.blocking"):
            pairs = pair_join(prepared, prepared, lambda p: [_block_key(p)])
            pairs = pairs.filter(F.col("t1_id") < F.col("t2_id")).filter(
                F.col("t1_birthdate") == F.col("t2_birthdate")
            )
            pairs, n_pairs = tr.force("operators.blocking", pairs)
        with tr.span("operators.scoring"):
            edges = score_pairs(pairs, no_middle=True).select(
                F.col("t1_id").alias("src"), F.col("t2_id").alias("dst")
            )
            edges, n_edges = tr.force("operators.scoring", edges)
        pairs.unpersist()
        nodes = prepared.select("id", "url", "mention_idx")
        with tr.span("operators.clustering"):
            cc = connected_components(edges, nodes=nodes.select("id"))
            cc, _ = tr.force("operators.clustering", cc)
        n_written = _write_clusters(tr, nodes, cc, out)
        for df in (prepared, edges, cc):
            df.unpersist()
        tr.add("sources.web.mentions_out", n_mentions)
        tr.add("operators.persons.rows", n_prepared)
        tr.add("operators.blocking.candidate_pairs", n_pairs)
        tr.add("operators.scoring.matches", n_edges)
        tr.add("operators.clustering.edges_in", n_edges)
        tr.add("sinks.rows_written", n_written)
        return {"clusters": out}

    def resume(self, tr, out: str) -> dict:
        """One traced resumable pass over the same pages:
        ``run_resumable`` is killed after RESUME_FAIL_AFTER + 1
        committed groups, then restarted; the restart must skip exactly
        the committed groups and write the batch pipeline's clusters."""
        t0 = time.perf_counter()
        with tr.span("plans.web_pipeline"), _commit_spans(tr):
            try:
                run_resumable(
                    self.spark, self.spark.read.parquet(self.pages), out,
                    n_groups=RESUME_GROUPS, fail_after_group=RESUME_FAIL_AFTER,
                )
            except RuntimeError as exc:
                _require("injected failure" in str(exc), f"unexpected failure: {exc}")
            else:
                raise GateError("the injected kill did not fire")
        killed = _audit(out)
        t1 = time.perf_counter()
        with tr.span("plans.web_pipeline"), _commit_spans(tr):
            metrics = run_resumable(
                self.spark, self.spark.read.parquet(self.pages), out, n_groups=RESUME_GROUPS
            )
        t2 = time.perf_counter()
        final = _audit(out)
        skipped = [g for g in killed if final[g]["committed_at"] == killed[g]["committed_at"]]
        _require(len(killed) == RESUME_FAIL_AFTER + 1,
                 f"{len(killed)} groups committed before the kill")
        _require(sorted(skipped) == sorted(killed), "the restart recomputed a committed group")
        _require(sorted(final) == list(range(RESUME_GROUPS)), "not every group committed")
        _require(metrics["groups"] == RESUME_GROUPS, "the resumed run lost groups")
        tr.add("plans.web_pipeline.groups_skipped", len(skipped))
        tr.add("plans.web_pipeline.groups_run", RESUME_GROUPS - len(skipped))
        tr.add("plans.web_pipeline.group_wall_s", sum(r["duration_sec"] for r in final.values()))
        tr.add("plans.web_pipeline.resume_s", t2 - t1)
        tr.add("plans.web_pipeline.killed_s", t1 - t0)
        return {"wall_s": t2 - t0, "clusters": metrics["clusters_path"]}

    def check(self, res: dict) -> dict:
        rows = _read_rows(res["clusters"], ["id", "cluster_id"])
        _require(len(rows) > 0, "no clusters written")
        # components are labelled by their minimum member id
        bad = sum(cluster > mention for mention, cluster in rows)
        _require(bad == 0, f"{bad} mentions labelled above their own id")
        return {"digest": _digest(rows), "components": len({c for _, c in rows})}

    def quality(self, res: dict) -> float:
        return _cluster_f1(self, res["clusters"])


def _write_clusters(tr, nodes, cc, out: str) -> int:
    """The final assignment join and the CLI's sorted parquet write."""
    with tr.span("sinks"):
        clusters = nodes.join(cc, nodes.id == cc.node, "left").select(
            "id", "url", "mention_idx",
            F.coalesce("component", "id").alias("cluster_id"),
        )
        clusters.orderBy("id").write.mode("overwrite").parquet(out)
        return tr.spark.read.parquet(out).count()


def _cluster_f1(wl, clusters_path: str) -> float:
    """Pairwise F1 of the clusters against generator truth over the
    candidate pairs at the pipeline's blocking key (the definition in
    tests/test_web_pipeline.py)."""
    spark = wl.spark
    truth = prepare_mentions(spark.read.parquet(wl.pages), with_truth=True).select(
        "id", "true_entity", "sx_last_n", "lang", "domain"
    )
    truth_pairs = (
        pair_join(truth, truth, lambda p: [_block_key(p)])
        .filter(F.col("t1_id") < F.col("t2_id"))
        .select(
            "t1_id", "t2_id",
            (F.col("t1_true_entity") == F.col("t2_true_entity")).alias("same_true"),
        )
    )
    a = spark.read.parquet(clusters_path).select("id", "cluster_id")
    scored = (
        truth_pairs.join(a.toDF("t1_id", "c1"), "t1_id")
        .join(a.toDF("t2_id", "c2"), "t2_id")
        .select("same_true", (F.col("c1") == F.col("c2")).alias("same_pred"))
    )
    row = scored.agg(
        F.sum((F.col("same_pred") & F.col("same_true")).cast("long")).alias("tp"),
        F.sum((F.col("same_pred") & ~F.col("same_true")).cast("long")).alias("fp"),
        F.sum((~F.col("same_pred") & F.col("same_true")).cast("long")).alias("fn"),
    ).collect()[0]
    tp, fp, fn = (int(row[k] or 0) for k in ("tp", "fp", "fn"))
    _require(tp > 0, "no true pair was clustered")
    return _f1(tp, fp, fn)


class PersonCascade:
    """Two person tables through the L1-L11 cascade at the CLI's
    defaults; the per-level matches are written as one sorted parquet."""

    name = "person_cascade"
    #: one warm repetition costs ~20 s, more than a run measures, so
    #: none is discarded
    warmup_reps = 0

    def __init__(self, spark, data_dir: str, seed: int) -> None:
        self.spark = spark
        self.sides = [
            inputs.persons(spark, data_dir, seed, PERSONS_PER_SIDE, side)
            for side in ("a", "b")
        ]
        self.input_rows = 2 * PERSONS_PER_SIDE

    def _tables(self):
        return [self.spark.read.parquet(p) for p in self.sides]

    def _write(self, levels, out: str) -> int:
        union = None
        for level, matches in levels:
            lvl = matches.withColumn("level", F.lit(level)).select(*MATCH_OUT)
            union = lvl if union is None else union.unionByName(lvl)
        union.orderBy("t1_id", "t2_id").write.mode("overwrite").parquet(out)
        return self.spark.read.parquet(out).count()

    def run(self, out: str) -> dict:
        t0 = time.perf_counter()
        t1, t2 = (prepare_persons(t) for t in self._tables())
        results = run_cascade(t1, t2, CASCADE)
        self._write([(r.level, r.matches) for r in results], out)
        wall = time.perf_counter() - t0
        return {
            "wall_s": wall,
            "matches": out,
            "level_counts": {r.level: r.match_count for r in results},
        }

    def traced(self, tr, out: str) -> dict:
        raw1, raw2 = self._tables()
        with tr.span("operators.persons"):
            # counted, not persisted: the cascade re-evaluates the
            # prepared sides at every level, and the trace keeps that
            t1, n1 = tr.force("operators.persons", prepare_persons(raw1), persist=False)
            t2, n2 = tr.force("operators.persons", prepare_persons(raw2), persist=False)
        tr.add("operators.persons.rows", n1 + n2)
        rem1, rem2 = t1, t2
        levels, counts = [], {}
        for level in CASCADE.levels:
            key = f"operators.cascade.L{level}"
            with tr.span(key):
                m = match_level(
                    rem1, rem2, level,
                    threshold=CASCADE.threshold,
                    allow_swap=CASCADE.allow_birthdate_swap,
                    max_block=CASCADE.max_fuzzy_block,
                )
                m, count = tr.force(key, tracked_cache(m.orderBy("t1_id", "t2_id")), persist=False)
            tr.add(key + ".matches", count)
            if level in (10, 11):
                tr.add("operators.scoring.matches", count)
            levels.append((level, m))
            counts[level] = count
            if CASCADE.exclusive and count > 0:
                with tr.span("operators.cascade.exclusion"):
                    m1 = m.select(F.col("t1_id").alias("id")).distinct()
                    m2 = m.select(F.col("t2_id").alias("id")).distinct()
                    tr.force("operators.cascade.exclusion", m1, persist=False)
                    tr.force("operators.cascade.exclusion", m2, persist=False)
                rem1 = rem1.join(m1, "id", "left_anti")
                rem2 = rem2.join(m2, "id", "left_anti")
        with tr.span("sinks"):
            n_written = self._write(levels, out)
        tr.add("sinks.rows_written", n_written)
        return {"matches": out, "level_counts": counts}

    def check(self, res: dict) -> dict:
        rows = _read_rows(res["matches"], MATCH_OUT)
        by_level = dict(Counter(level for *_, level in rows))
        want = {lv: n for lv, n in res["level_counts"].items() if n}
        _require(by_level == want, f"written per-level rows {by_level} != counted {want}")
        _require(all(conf >= CASCADE.threshold for _, _, conf, _, _ in rows),
                 "a match below the threshold was written")
        # exclusive cascade: an id is matched at one level only
        levels = defaultdict(set)
        for t1, t2, _, _, level in rows:
            levels[t1].add(level)
            levels[t2].add(level)
        multi = sum(len(v) > 1 for v in levels.values())
        _require(multi == 0, f"{multi} ids matched at more than one level")
        return {"digest": _digest(rows)}

    def quality(self, res: dict) -> float:
        """Matched pairs against the synthetic entity truth: row i on
        side a and row i on side b are the same person."""
        rows = _read_rows(res["matches"], ["t1_id", "t2_id"])
        tp = sum(t2 - t1 == SIDE_B_OFFSET for t1, t2 in rows)
        _require(tp > 0, "no true pair was matched")
        return _f1(tp, len(rows) - tp, PERSONS_PER_SIDE - tp)


def _audit(out: str) -> dict[int, dict]:
    recs = {}
    for path in glob.glob(os.path.join(out, "audit", "group-*.json")):
        with open(path) as f:
            rec = json.load(f)
        recs[int(rec["group"])] = rec
    return recs


@contextmanager
def _commit_spans(tr):
    """Wrap AuditLog.commit so each group commit is a checkpoint span."""
    commit = AuditLog.commit

    def traced_commit(self, group, **metrics):
        with tr.span("plans.checkpoint"):
            return commit(self, group, **metrics)

    AuditLog.commit = traced_commit
    try:
        yield
    finally:
        AuditLog.commit = commit


WORKLOADS = {w.name: w for w in (WebCrawl, PersonCascade)}

