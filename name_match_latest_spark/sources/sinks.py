"""Sinks: match-pair and household writers + run summary.

Reference parity:
* CSV match sink (csv_export.rs:10-207); its skip-below-threshold
  (:151-154) is a filter the CLI applies before any writer; Spark's
  committer gives atomicity.
* Household CSV sink (csv_export.rs:211-300).
* XLSX summary sheet (xlsx_export.rs:14-60) — re-expressed as a run
  summary DataFrame (counts, timings, percentiles) written next to
  the results; XLSX itself needs a writer lib this container lacks,
  and a summary TABLE is the cluster-native shape anyway.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["write_matches_csv", "write_households_csv", "run_summary"]

MATCH_OUTPUT_COLS = [
    "t1_id", "t2_id", "t1_uuid", "t2_uuid",
    "t1_first_name", "t1_middle_name", "t1_last_name", "t1_birthdate",
    "t2_first_name", "t2_middle_name", "t2_last_name", "t2_birthdate",
    "confidence", "case_label",
]


def write_matches_csv(matches: DataFrame, path: str) -> None:
    """Deterministically ordered match CSV.  The threshold filter
    (csv_export.rs:151-154) is the caller's: the CLI applies it once
    for every output format."""
    cols = [c for c in MATCH_OUTPUT_COLS if c in matches.columns]
    extra = [
        c for c in ("matched_fields",) if c in matches.columns
    ]
    proj = matches.select(
        *cols, *[F.array_join(F.col(c), ";").alias(c) for c in extra]
    )
    proj.orderBy("t1_id", "t2_id").write.mode("overwrite").option(
        "header", True
    ).csv(path)


def write_households_csv(households: DataFrame, path: str) -> None:
    households.orderBy("uuid", "hh_id").write.mode("overwrite").option(
        "header", True
    ).csv(path)


def run_summary(
    spark,
    t1_count: int,
    t2_count: int,
    matches: DataFrame,
    started_at: float,
    algorithm: str,
) -> DataFrame:
    """The XLSX summary sheet as a one-row DataFrame: table sizes,
    match counts, confidence percentiles, wall time
    (xlsx_export.rs:14-60; percentiles benchmarking/mod.rs:175-199)."""
    agg = matches.agg(
        F.count("*").alias("n_matches"),
        F.expr("percentile_approx(confidence, array(0.5, 0.95, 0.99))").alias("pcts"),
        F.avg("confidence").alias("mean_confidence"),
    ).collect()[0]
    pcts = agg.pcts or [None, None, None]
    return spark.createDataFrame(
        [
            (
                algorithm,
                t1_count,
                t2_count,
                agg.n_matches,
                float(pcts[0]) if pcts[0] is not None else None,
                float(pcts[1]) if pcts[1] is not None else None,
                float(pcts[2]) if pcts[2] is not None else None,
                float(agg.mean_confidence) if agg.mean_confidence is not None else None,
                round(time.time() - started_at, 3),
            )
        ],
        "algorithm string, t1_rows long, t2_rows long, n_matches long, "
        "conf_p50 double, conf_p95 double, conf_p99 double, "
        "mean_confidence double, duration_sec double",
    )
