"""Sinks and explain mode."""

from __future__ import annotations

from datetime import date

import pytest

from name_match_latest_spark.functions.scoring import explain_pair
from name_match_latest_spark.oracle import generate_persons
from tests.conftest import persons_df


class TestExplainPair:
    def test_birthdate_gate(self):
        r = explain_pair(
            "Jon", None, "Smith", date(1990, 1, 1),
            "John", None, "Smith", date(1991, 1, 1),
            no_middle=True,
        )
        assert r["birthdate_match"] is False
        assert r["confidence"] is None
        assert "Birthdates" in r["message"]

    def test_swap_flag(self):
        r = explain_pair(
            "Ana", None, "Cruz", date(1990, 4, 12),
            "Ana", None, "Cruz", date(1990, 12, 4),
            no_middle=True, allow_swap=True,
        )
        assert r["birthdate_match"] is True
        assert r["birthdate_swap_used"] is True
        assert r["case_label"] == "DIRECT MATCH"

    def test_metrics_present(self):
        r = explain_pair(
            "Jon", None, "Smith", date(1990, 1, 1),
            "John", None, "Smith", date(1990, 1, 1),
            no_middle=True,
        )
        assert r["levenshtein_pct"] is not None
        assert r["jaro_winkler_pct"] is not None
        assert r["confidence"] > 85.0


def test_explain_mode_keeps_non_matches(spark):
    from name_match_latest_spark.operators.blocking import pair_join
    from name_match_latest_spark.operators.scoring import score_pairs
    from pyspark.sql import functions as F

    t1, t2 = generate_persons(20, seed=3)
    d1, d2 = persons_df(spark, t1), persons_df(spark, t2)
    pairs = pair_join(
        d1.filter(F.col("birthdate").isNotNull()),
        d2.filter(F.col("birthdate").isNotNull()),
        lambda p: [F.col(f"{p}bd_str")],
    )
    strict = score_pairs(pairs, no_middle=True)
    explained = score_pairs(pairs, no_middle=True, explain=True)
    n_all = explained.count()
    n_match = strict.count()
    assert n_all >= n_match
    # explain rows carry metrics even for non-matches
    nm = explained.filter(F.col("case_label").isNull())
    if nm.count() > 0:
        row = nm.select("lev_pct", "jw_pct", "mp_pct", "confidence").first()
        assert row.jw_pct is not None
        assert row.confidence is None
    # matched subset identical to strict mode
    a = {(r.t1_id, r.t2_id, round(r.confidence, 9)) for r in
         strict.select("t1_id", "t2_id", "confidence").collect()}
    b = {(r.t1_id, r.t2_id, round(r.confidence, 9)) for r in
         explained.filter(F.col("case_label").isNotNull())
         .select("t1_id", "t2_id", "confidence").collect()}
    assert a == b


def test_match_csv_sink_threshold(spark, tmp_path):
    from name_match_latest_spark.operators.algos import match_fuzzy_no_mid
    from name_match_latest_spark.sources.sinks import run_summary, write_matches_csv

    t1, t2 = generate_persons(20, seed=5)
    d1, d2 = persons_df(spark, t1), persons_df(spark, t2)
    m = match_fuzzy_no_mid(d1, d2)
    import time

    out = str(tmp_path / "m")
    # the sink writes every pair it is given: the CLI filters by
    # --threshold before any writer
    write_matches_csv(m.filter("confidence >= 0.95"), out)
    back = spark.read.option("header", True).csv(out)
    assert back.count() == m.filter("confidence >= 0.95").count()
    assert "matched_fields" in back.columns

    s = run_summary(spark, len(t1), len(t2), m, time.time(), "FuzzyNoMiddle")
    row = s.collect()[0]
    assert row.algorithm == "FuzzyNoMiddle"
    assert row.n_matches == m.count()
    assert row.conf_p50 is not None
