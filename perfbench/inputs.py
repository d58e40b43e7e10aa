"""Seeded benchmark inputs, generated once per (seed, size) into parquet.

A cached input is reused only after its row count and its
order-insensitive digest match the manifest written next to it; any
mismatch regenerates it.  The workloads receive only the parquet path.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import functions as F


def _digest(df, cols) -> tuple[int, str]:
    """(rows, Σ xxhash64(cols)) — exact (decimal sum), order-insensitive."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return int(row["n"]), str(row["h"] if row["h"] is not None else 0)


def _cached(spark, path: str, make) -> str:
    manifest = os.path.join(path, "_manifest.json")
    if os.path.exists(manifest):
        with open(manifest) as f:
            want = json.load(f)
        df = spark.read.parquet(path)
        if list(_digest(df, df.columns)) == [want["rows"], want["digest"]]:
            return path
    shutil.rmtree(path, ignore_errors=True)
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    make().write.parquet(tmp)
    df = spark.read.parquet(tmp)
    rows, dig = _digest(df, df.columns)
    with open(os.path.join(tmp, "_manifest.json"), "w") as f:
        json.dump({"rows": rows, "digest": dig}, f)
    os.replace(tmp, path)
    return path


def webpages(spark, data_dir: str, seed: int, n_pages: int) -> str:
    """Crawl pages with the html binary column and generator truth."""
    from name_match_latest_spark.sources.web import generate_webpages

    path = os.path.join(data_dir, f"pages-s{seed}-n{n_pages}")
    return _cached(spark, path, lambda: generate_webpages(spark, n_pages, seed=seed))


def persons(spark, data_dir: str, seed: int, n_rows: int, side: str) -> str:
    """One side of the person-match job; row i of side a and row i of
    side b are the same synthetic entity."""
    from name_match_latest_spark.sources.synth import generate_persons_distributed

    path = os.path.join(data_dir, f"persons-{side}-s{seed}-n{n_rows}")
    return _cached(
        spark,
        path,
        lambda: generate_persons_distributed(spark, n_rows, side=side, seed=seed),
    )
