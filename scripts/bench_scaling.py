"""Scaling-efficiency evidence (north rule): the SAME job at two
parallelism levels — local[N] and local[4N] — on the SAME stored input,
reporting throughput at both plus efficiency = speedup / 4.  A single
box stands in for two cluster sizes.  Usage:

    python scripts/bench_scaling.py [job] [size] [N]

``job`` is one of the ``JOBS`` below and defaults to ``web``, so the
canonical ``bench_scaling.py 4000000 2`` run is the web pipeline.
``size`` counts the job's input unit (pages, person rows per side,
edges, documents, events).

Every job shares one protocol:

- the input is generated once, at local[32], into
  ``<tmpdir>/nm_bench_<job>_<size>``; every generator is a pure
  function of row ids, so the input is parallelism-invariant;
- each level runs in its own subprocess (a JVM's master is fixed at
  startup) with 4 shuffle partitions per core: a single wave is gated
  by its slowest partition, 4x gives packing slack and AQE coalesces
  any excess;
- each level makes ``SPARK_GRAFT_SCALING_RUNS`` runs (default 3), with
  caches cleared before each.  Run 0 pays one-time session costs
  (Python worker fleet, codegen), so a level's time is the minimum of
  the warm runs, the interference-free number on a bursty shared host;
- a job's result fields must be identical across runs and levels;
- a failed generator or worker exits non-zero with its stderr tail.

Writes one JSON line to stdout; record it in BASELINE.md.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time
from collections.abc import Callable
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

TARGET = 0.8


@dataclass(frozen=True)
class Job:
    describe: str
    unit: str  # names the size and the throughput: n_<unit>, <unit>_per_sec
    default_size: int
    default_n: int
    generate: Callable[[SparkSession, int, str], None]
    body: Callable[[SparkSession, str], tuple]  # the measured run
    fields: tuple[str, ...]  # names body's result, which must not vary


def gen_web(spark, n_pages, path):
    from name_match_latest_spark.sources.web import generate_webpages

    generate_webpages(spark, n_pages, seed=42, partitions=64).write.mode(
        "overwrite").parquet(path)


def run_web(spark, path):
    from name_match_latest_spark.plans.web_pipeline import cluster_pages

    # the real pipeline shape: READ the page table from storage ->
    # extract -> block -> score -> cluster
    return (cluster_pages(spark.read.parquet(path)).count(),)


def gen_persons(spark, n, path):
    from name_match_latest_spark.sources.synth import generate_persons_distributed

    for side in ("a", "b"):
        generate_persons_distributed(spark, n, side, partitions=64).write.mode(
            "overwrite").parquet(f"{path}/{side}")


def run_persons(spark, path):
    from name_match_latest_spark.operators.algos import match_fuzzy
    from name_match_latest_spark.operators.persons import prepare_persons

    # read raw tables from storage -> prepare (normalize + phonetics,
    # the per-person UDF pass) -> blocked fuzzy match with fallback
    # tiers -> scored matches
    t1 = prepare_persons(spark.read.parquet(f"{path}/a"))
    t2 = prepare_persons(spark.read.parquet(f"{path}/b"))
    return (match_fuzzy(t1, t2).count(),)


#: the CLI's cascade defaults (cli.py: --cascade-levels, --threshold)
CASCADE_LEVELS = (1, 2, 3, 10, 11)


def run_cascade_job(spark, path):
    from name_match_latest_spark.operators.cascade import CascadeConfig, run_cascade
    from name_match_latest_spark.operators.persons import prepare_persons

    # read -> prepare both sides -> exclusive L1/L2/L3/L10/L11 cascade;
    # every level is counted inside run_cascade
    t1 = prepare_persons(spark.read.parquet(f"{path}/a"))
    t2 = prepare_persons(spark.read.parquet(f"{path}/b"))
    cfg = CascadeConfig(levels=list(CASCADE_LEVELS), threshold=0.95)
    return tuple(lr.match_count for lr in run_cascade(t1, t2, cfg))


def gen_pagerank(spark, n_edges, path):
    # scale-free-ish: src spread uniformly with a slice of hub srcs of
    # big fan-out via xxhash mixing, dst biased toward low ids
    n_nodes = max(1000, n_edges // 10)
    e = (spark.range(n_edges, numPartitions=64)
         .select(
             F.pmod(F.xxhash64(F.col("id"), F.lit("src")), F.lit(n_nodes))
              .cast("string").alias("src"),
             F.pmod(
                 F.pmod(F.xxhash64(F.col("id"), F.lit("dst")), F.lit(n_nodes))
                 * F.pmod(F.xxhash64(F.col("id"), F.lit("bias")), F.lit(97)),
                 F.lit(n_nodes),
             ).cast("string").alias("dst")))
    e.write.mode("overwrite").parquet(path)


def run_pagerank(spark, path):
    from name_match_latest_spark.operators.graph import pagerank

    r = pagerank(spark.read.parquet(path), iterations=5)
    # CONSUME the rank column (a bare count would let pruning skip the
    # arithmetic): checksum = (sum, count) over the produced ranks
    row = r.agg(F.sum("rank").alias("s"), F.count("*").alias("n")).collect()[0]
    return row.s, row.n


def gen_lm(spark, n_docs, path):
    # word soup over a ~5k-token vocabulary with a mild frequency bias
    vocab, toks = 5000, 60
    words = F.transform(
        F.sequence(F.lit(0), F.lit(toks - 1)),
        lambda i: F.concat(
            F.lit("tok"),
            F.pmod(
                F.pmod(F.xxhash64(F.col("id"), i), F.lit(vocab))
                * F.pmod(F.xxhash64(F.col("id"), i, F.lit(7)), F.lit(89)),
                F.lit(vocab),
            ),
        ),
    )
    d = spark.range(n_docs, numPartitions=64).select(
        F.col("id").alias("doc_id"), F.array_join(words, " ").alias("text"))
    d.write.mode("overwrite").parquet(path)


def run_lm(spark, path):
    from name_match_latest_spark.operators.textstats import lm_bigram_nll

    out = lm_bigram_nll(spark.read.parquet(path))
    # CONSUME the scores via the integer checksum (a bare count would
    # let pruning skip the model entirely)
    row = out.agg(F.sum("nll_fx").alias("s"), F.sum("n_bigrams").alias("b"),
                  F.count("*").alias("n")).collect()[0]
    return row.s, row.b, row.n


def gen_events(spark, n, path):
    # ~n/4000 users, event times over 90 days with md5-derived jitter,
    # 1/8 of events are 'error'
    df = spark.range(0, n, 1, 64).select(F.col("id").alias("event_id"))
    df = df.withColumns({
        "user_id": F.pmod(
            F.conv(F.substring(F.md5(F.concat(F.lit("u"), F.col("event_id"))), 1, 12), 16, 10).cast("long"),
            F.lit(max(1, n // 4000)),
        ),
        "_jit": F.conv(F.substring(F.md5(F.concat(F.lit("t"), F.col("event_id"))), 1, 12), 16, 10).cast("long"),
    })
    df = df.withColumns({
        "ts": F.timestamp_add(
            "SECOND",
            F.pmod(F.col("_jit"), F.lit(90 * 86400)),
            F.lit("2024-01-01 00:00:00").cast("timestamp_ntz"),
        ),
        "event_type": F.when(F.pmod(F.col("_jit"), F.lit(8)) == 0, "error").otherwise("click"),
        "value": (F.pmod(F.col("_jit"), F.lit(10000)) / 100.0),
    }).drop("_jit")
    df.write.mode("overwrite").parquet(path)


def run_events(spark, path):
    from name_match_latest_spark.operators.events import asof_join, session_stats

    ev = spark.read.parquet(path)
    s = session_stats(ev)
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    errors = (ev.filter(F.col("event_type") == "error")
                .groupBy("user_id", F.col("ts").alias("err_ts"))
                .agg(F.max("value").alias("err_value")))
    j = asof_join(clicks, errors, on="user_id", left_ts="ts", right_ts="err_ts")
    # consume the matched payload: a bare count() lets Catalyst prune
    # the window entirely (cardinality-preserving op, unused columns)
    # and measures only the scan
    n_s = s.count()
    n_j = j.agg(
        F.count("*").alias("n"), F.count("err_value").alias("nm")
    ).collect()[0]
    return n_s, [n_j.n, n_j.nm]


JOBS = {
    "web": Job("web_pipeline (generate -> extract -> block -> score -> cluster)",
               "pages", 60_000, 8, gen_web, run_web, ("mentions",)),
    "persons": Job("algo3 fuzzy match (read -> prepare -> blocked fuzzy + "
                   "fallback tiers -> score), two tables of n_rows each",
                   "rows", 5_000_000, 8, gen_persons, run_persons, ("matches",)),
    "cascade": Job("exclusive L1/L2/L3/L10/L11 cascade at the CLI defaults "
                   "(read -> prepare -> per-level match and exclusion), two "
                   "tables of n_rows each",
                   "rows", 1_000_000, 8, gen_persons, run_cascade_job,
                   tuple(f"L{level}" for level in CASCADE_LEVELS)),
    "pagerank": Job("pagerank x5 iterations (read edges -> rank -> checksum)",
                    "edges", 20_000_000, 8, gen_pagerank, run_pagerank,
                    ("rank_sum", "n_nodes")),
    # N=2 keeps both levels under-subscribed on the 32-core box: see
    # docs/SCALE.md "Why local[2] vs local[8]"
    "lm": Job("lm_bigram_nll (train + score + integer checksum)",
              "docs", 1_000_000, 2, gen_lm, run_lm,
              ("nll_fx_sum", "n_bigrams", "n_docs")),
    "events": Job("session_stats + asof_join (sessionize + rollup, as-of match)",
                  "events", 20_000_000, 8, gen_events, run_events,
                  ("n_sessions", "n_asof_rows")),
}


def child(mode: str, name: str, arg: str, path: str) -> None:
    """Subprocess entry: ``--generate`` writes the input of ``arg``
    units, ``--worker`` measures one level of ``arg`` cores."""
    from name_match_latest_spark.plans.caching import unpersist_tracked
    from name_match_latest_spark.session import get_spark

    job = JOBS[name]
    if mode == "--generate":
        spark = get_spark(f"gen-{name}", master="local[32]")
        spark.sparkContext.setLogLevel("ERROR")
        job.generate(spark, int(arg), path)
        spark.stop()
        open(os.path.join(path, "_SUCCESS"), "a").close()  # input complete
        return
    cpus = int(arg)
    spark = get_spark(f"scaling-{name}-{cpus}", master=f"local[{cpus}]",
                      shuffle_partitions=4 * cpus)
    spark.sparkContext.setLogLevel("ERROR")
    runs, results = [], []
    for _ in range(int(os.environ.get("SPARK_GRAFT_SCALING_RUNS", "3"))):
        spark.catalog.clearCache()  # no cross-run cache reuse
        unpersist_tracked()
        t0 = time.time()
        results.append(list(job.body(spark, path)))
        runs.append(time.time() - t0)
    spark.stop()
    assert all(r == results[0] for r in results), results
    print(json.dumps({"runs_sec": runs, **dict(zip(job.fields, results[0]))}))


def _run(*args: str) -> str:
    res = subprocess.run([sys.executable, os.path.abspath(__file__), *args],
                         capture_output=True, text=True, cwd=ROOT)
    if res.returncode != 0:
        sys.stderr.write(f"{' '.join(args)}: exit {res.returncode}\n"
                         f"{res.stderr[-2000:]}\n")
        raise SystemExit(res.returncode)
    return res.stdout


def run_level(name: str, cpus: int, size: int, path: str) -> dict:
    out = json.loads(_run("--worker", name, str(cpus), path).splitlines()[-1])
    runs = out.pop("runs_sec")
    best = min(runs[1:]) if len(runs) > 1 else runs[0]
    return {"cpus": cpus, "cold_sec": round(runs[0], 2),
            "runs_sec": [round(r, 2) for r in runs], "sec": round(best, 2),
            f"{JOBS[name].unit}_per_sec": round(size / best, 1), **out}


def main(argv: list[str]) -> None:
    if argv and argv[0] in ("--generate", "--worker"):
        return child(*argv)
    name = argv.pop(0) if argv and argv[0] in JOBS else "web"
    job = JOBS[name]
    size = int(argv[0]) if argv else job.default_size
    n = int(argv[1]) if len(argv) > 1 else job.default_n
    path = os.path.join(tempfile.gettempdir(), f"nm_bench_{name}_{size}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        _run("--generate", name, str(size), path)
    lo = run_level(name, n, size, path)
    hi = run_level(name, n * 4, size, path)
    for f in job.fields:
        if lo[f] != hi[f]:
            raise SystemExit(f"{f} differs across levels: {lo[f]} vs {hi[f]}")
    rate = f"{job.unit}_per_sec"
    eff = (hi[rate] / lo[rate]) / 4.0
    print(json.dumps({
        "job": job.describe,
        f"n_{job.unit}": size,
        f"local[{n}]": lo,
        f"local[{n * 4}]": hi,
        "speedup": round(hi[rate] / lo[rate], 2),
        "scaling_efficiency": round(eff, 3),
        "target": TARGET,
        "pass": eff >= TARGET,
    }))


if __name__ == "__main__":
    main(sys.argv[1:])
