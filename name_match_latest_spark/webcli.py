"""Web-pipeline command line: Common-Crawl-style input -> entity clusters.

    python -m name_match_latest_spark.webcli INPUT OUT_DIR
        [--format warc|wet|jsonl|parquet] [--master URL]
        [--resumable] [--groups N] [--stream-state DIR]

INPUT: a WARC/WET/JSONL path glob or a parquet pages directory.
Modes:
  default      one-shot batch: cluster_pages -> parquet at OUT_DIR
  --resumable  checkpointed batch (per-group audit commits; rerun
               resumes from the last committed group)
  --stream-state DIR  incremental: treat INPUT as a WATCHED DIRECTORY
               of WARC files; maintain clusters in DIR across calls
               (exactly-once per micro-batch; rerun on a schedule)

This is the spark-submit entry the north rule describes: every mode
is a plain declarative pipeline, so `--master spark://...` scales it
to a cluster unchanged.
"""

from __future__ import annotations

import argparse
import sys
import time

__all__ = ["main", "run"]


def _load_pages(spark, path: str, fmt: str):
    from .sources import warc

    if fmt == "warc":
        return warc.read_warc_pages(spark, path)
    if fmt == "wet":
        return warc.read_wet_pages(spark, path)
    if fmt == "jsonl":
        return warc.read_jsonl_pages(spark, path)
    return spark.read.parquet(path)


def run(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="name_match_latest_spark.webcli")
    p.add_argument("input", help="WARC/WET/JSONL glob or parquet pages dir")
    p.add_argument("out_dir")
    p.add_argument(
        "--format",
        choices=["warc", "wet", "jsonl", "parquet"],
        default="warc",
    )
    p.add_argument("--master", default=None)
    p.add_argument("--resumable", action="store_true")
    p.add_argument("--groups", type=int, default=8)
    p.add_argument("--stream-state", default=None)
    p.add_argument("--dedup-threshold", type=float, default=None)
    args = p.parse_args(sys.argv[1:] if argv is None else argv)

    from .session import get_spark

    spark = get_spark("nm-webcli", master=args.master)
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()

    if args.stream_state is not None:
        from .sources.warc import stream_warc_pages
        from .streaming.incremental_cluster import IncrementalClusterer

        clusterer = IncrementalClusterer(
            spark,
            args.stream_state,
            dedup_threshold=args.dedup_threshold,
        )
        q = clusterer.attach(
            stream_warc_pages(spark, args.input),
            f"{args.stream_state}/checkpoint",
        )
        q.awaitTermination()
        clusterer.cluster_members().orderBy("id").write.mode(
            "overwrite"
        ).parquet(args.out_dir)
        n = spark.read.parquet(args.out_dir).count()
        print(
            f"mode=stream members={n} batches={len(clusterer.audit.records())} "
            f"out={args.out_dir} secs={time.time() - t0:.1f}"
        )
        return 0

    pages = _load_pages(spark, args.input, args.format)
    if args.resumable:
        from .plans.web_pipeline import run_resumable

        metrics = run_resumable(
            spark, pages, args.out_dir, n_groups=args.groups
        )
        print(
            f"mode=resumable groups={metrics['groups']} "
            f"mentions={metrics['mentions']} edges={metrics['edges']} "
            f"out={metrics['clusters_path']} secs={time.time() - t0:.1f}"
        )
        return 0

    from .plans.web_pipeline import cluster_pages

    cluster_pages(pages).orderBy("id").write.mode("overwrite").parquet(
        args.out_dir
    )
    n = spark.read.parquet(args.out_dir).count()
    print(f"mode=batch members={n} out={args.out_dir} secs={time.time() - t0:.1f}")
    return 0


def main() -> None:
    sys.exit(run())


if __name__ == "__main__":
    main()
