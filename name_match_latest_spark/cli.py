"""Command-line entry point — the reference CLI's Spark twin.

Reference (`src/main.rs:205-265`):

    name_matcher <host> <port> <user> <password> <database>
                 <table1> <table2> <algo:1|2|3|4|5|6> <out_path>
                 [format] [--direct-fuzzy-normalization] [gpu flags...]

Spark twin: tables are paths (parquet dir / .csv / .xlsx file) or
JDBC URLs, dispatched on the prefix or (case-insensitive) extension;
GPU flags are meaningless (Catalyst/Tungsten owns the physical layer)
and are accepted-and-ignored with a note, so reference invocations
keep working.  Algo numbering matches the reference: 1/2 exact,
3 fuzzy, 4 fuzzy-no-middle, 5/6 household options, 7 Levenshtein-
weighted; plus ``cascade`` for the L1-L11 workflow.

    python -m name_match_latest_spark TABLE1 TABLE2 ALGO OUT_PATH
        [--format csv|parquet|xlsx] [--threshold F]
        [--allow-birthdate-swap] [--direct-fuzzy-normalization]
        [--master URL] [--cascade-levels 1,2,3,10,11]
"""

from __future__ import annotations

import argparse
import sys
import time

__all__ = ["main", "run"]

_IGNORED_GPU_FLAGS = {
    "--gpu-hash-join", "--gpu-fuzzy-direct-hash", "--gpu-fuzzy-metrics",
    "--gpu-fuzzy-force", "--gpu-levenshtein-prepass",
    "--gpu-levenshtein-full-scoring", "--gpu-pinned-host",
    "--gpu-buffer-pool", "--no-gpu-buffer-pool",
}


def _load_table(spark, path: str):
    from pyspark.sql import functions as F

    from .operators.persons import PERSON_SCHEMA, prepare_persons
    from .sources.csv_source import load_persons_csv
    from .sources.excel_source import load_persons_xlsx

    lower = path.lower()
    if path.startswith("jdbc:"):
        df = _load_jdbc(spark, path)
    elif lower.endswith(".csv"):
        df = load_persons_csv(spark, path)
    elif lower.endswith(".xlsx"):
        df = load_persons_xlsx(spark, path)
    else:
        df = spark.read.parquet(path)
    # a parquet or JDBC table may lack the optional person columns
    # (hh_id, geo codes): they become NULLs
    missing = {
        f.name: F.lit(None).cast(f.dataType)
        for f in PERSON_SCHEMA.fields
        if f.name not in df.columns
    }
    return prepare_persons(df.withColumns(missing))


def _parse_jdbc_arg(url: str) -> tuple[str, str, str, str]:
    """``jdbc:...?table=T&user=U&password=P`` -> (base_url, table,
    user, password).  `table` is required; `user`/`password` default
    to empty (e.g. socket auth); remaining query params are kept in
    the base url VERBATIM — re-encoding via parse_qs would
    percent-decode values (breaking e.g.
    sessionVariables=sql_mode%3DANSI) and drop repeated keys."""
    from urllib.parse import unquote, urlsplit

    parts = urlsplit(url[len("jdbc:"):])
    ours: dict[str, str] = {}
    kept: list[str] = []
    for pair in parts.query.split("&") if parts.query else []:
        key = pair.partition("=")[0]
        if key in ("table", "user", "password"):
            ours[key] = unquote(pair.partition("=")[2])
        else:
            kept.append(pair)
    table = ours.get("table")
    if not table:
        raise SystemExit(
            f"JDBC table arg needs ?table=<name>: {url!r}"
        )
    base = f"jdbc:{parts.scheme}://{parts.netloc}{parts.path}"
    if kept:
        base += "?" + "&".join(kept)
    return base, table, ours.get("user", ""), ours.get("password", "")


def _load_jdbc(spark, url: str):
    """Route a ``jdbc:...?table=T&user=U&password=P`` arg through the
    partitioned JDBC source."""
    from .sources.jdbc import read_person_table_jdbc

    base, table, user, password = _parse_jdbc_arg(url)
    return read_person_table_jdbc(spark, base, table, user, password)


def run(argv: list[str] | None = None) -> int:
    argv = list(sys.argv[1:] if argv is None else argv)
    ignored = [a for a in argv if a in _IGNORED_GPU_FLAGS or a.startswith("--gpu-streams")]
    argv = [a for a in argv if a not in ignored]
    if ignored:
        print(f"note: GPU flags {ignored} have no effect (Spark owns the physical layer)")

    p = argparse.ArgumentParser(prog="name_match_latest_spark")
    p.add_argument(
        "table1",
        help="parquet dir, .csv or .xlsx file, or "
        "jdbc:...?table=T&user=U&password=P (match source)",
    )
    p.add_argument(
        "table2",
        help="parquet dir, .csv or .xlsx file, or "
        "jdbc:...?table=T&user=U&password=P (match target)",
    )
    p.add_argument("algo", help="1|2|3|4|5|6|7|cascade")
    p.add_argument("out_path")
    p.add_argument("--format", choices=["csv", "parquet", "xlsx"], default="csv")
    p.add_argument("--threshold", type=float, default=0.95)
    p.add_argument("--allow-birthdate-swap", action="store_true")
    p.add_argument("--direct-fuzzy-normalization", action="store_true")
    p.add_argument("--cascade-levels", default="1,2,3,10,11")
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)

    from .session import get_spark

    spark = get_spark("nm-cli", master=args.master)
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()
    t1 = _load_table(spark, args.table1)
    t2 = _load_table(spark, args.table2)

    from pyspark.sql import functions as F

    from .operators.algos import (
        match_algo1,
        match_algo2,
        match_fuzzy,
        match_fuzzy_no_mid,
        match_lev_weighted,
    )
    from .operators.cascade import CascadeConfig, run_cascade
    from .operators.households import household_aggregate
    from .plans.caching import unpersist_tracked
    from .sources.sinks import write_households_csv, write_matches_csv

    def _write(df, household: bool = False) -> int:
        # count the WRITTEN output, never df.count() — re-counting the
        # unpersisted result would re-execute the entire match lineage
        # a second time (parquet counts come from footer metadata;
        # header=True handles Spark's per-part-file CSV headers)
        if not household:
            # every format skips pairs below the threshold at write
            # time (csv_export.rs:151-154); households were already
            # aggregated at it
            df = df.filter(F.col("confidence") >= args.threshold)
        order = ["uuid", "hh_id"] if household else ["t1_id", "t2_id"]
        if args.format == "parquet":
            df.orderBy(*order).write.mode("overwrite").parquet(args.out_path)
            return spark.read.parquet(args.out_path).count()
        if args.format == "xlsx":
            from .sources.xlsx import write_matches_xlsx

            # total_rows, not rows_written: the sheet is capped at 100k
            # rows and the CLI must report the REAL match count
            return write_matches_xlsx(df.orderBy(*order), args.out_path)[
                "total_rows"
            ]
        if household:
            write_households_csv(df, args.out_path)
        else:
            write_matches_csv(df, args.out_path)
        return spark.read.option("header", True).csv(args.out_path).count()

    algo = args.algo.lower()
    swap = args.allow_birthdate_swap
    if algo == "1":
        n = _write(match_algo1(t1, t2, swap, args.direct_fuzzy_normalization))
    elif algo == "2":
        n = _write(match_algo2(t1, t2, swap, args.direct_fuzzy_normalization))
    elif algo == "3":
        n = _write(match_fuzzy(t1, t2, allow_swap=swap))
    elif algo == "4":
        n = _write(match_fuzzy_no_mid(t1, t2, allow_swap=swap))
    elif algo in ("5", "6"):
        pairs = match_fuzzy_no_mid(t1, t2, allow_swap=swap)
        hh = household_aggregate(pairs, t1, t2, min_conf=args.threshold, option=int(algo))
        n = _write(hh, household=True)
    elif algo == "7":
        n = _write(match_lev_weighted(t1, t2))
    elif algo == "cascade":
        levels = [int(x) for x in args.cascade_levels.split(",") if x]
        results = run_cascade(
            t1, t2,
            CascadeConfig(levels=levels, threshold=args.threshold,
                          allow_birthdate_swap=swap),
        )
        out = None
        for lr in results:
            lvl = lr.matches.withColumn("level", F.lit(lr.level))
            # fuzzy levels carry score columns the exact ones lack
            out = (
                lvl
                if out is None
                else out.unionByName(lvl, allowMissingColumns=True)
            )
            print(f"level {lr.level}: {lr.match_count} matches")
        n = _write(out)
    else:
        p.error(f"unknown algo {args.algo!r}")
        return 2

    print(f"algo={algo} matches={n} out={args.out_path} secs={time.time() - t0:.1f}")
    unpersist_tracked()
    return 0


def main() -> None:
    sys.exit(run())
