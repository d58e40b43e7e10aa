"""Skew defusal: block guards + histogram."""

from __future__ import annotations

from datetime import date

from pyspark.sql import functions as F

from name_match_latest_spark.oracle import Person, generate_persons
from tests.conftest import persons_df


def _skewed_tables(spark):
    """One pathologically hot birthdate + normal tail."""
    hot = date(1990, 1, 1)
    t1 = [Person(id=i, first_name=f"a{i % 7}", last_name="hot", birthdate=hot)
          for i in range(200)]
    t1 += [Person(id=1000 + i, first_name=f"b{i}", last_name="cold",
                  birthdate=date(1980, 1, 1 + i % 27)) for i in range(50)]
    t2 = [Person(id=5000 + i, first_name=f"a{i % 7}", last_name="hot", birthdate=hot)
          for i in range(180)]
    t2 += [Person(id=9000 + i, first_name=f"b{i}", last_name="cold",
                  birthdate=date(1980, 1, 1 + i % 27)) for i in range(50)]
    return persons_df(spark, t1), persons_df(spark, t2)


def test_block_histogram_and_guard(spark):
    from name_match_latest_spark.operators.blocking import (
        block_histogram,
        block_size_guard,
    )

    d1, _ = _skewed_tables(spark)
    hist = {r.block_key: r["count"] for r in block_histogram(d1, F.col("bd_str")).collect()}
    assert hist["1990-01-01"] == 200
    guarded = block_size_guard(d1, F.col("bd_str"), limit=100)
    assert guarded.filter(F.col("bd_str") == "1990-01-01").count() == 0
    assert guarded.count() == 50  # cold rows survive


def test_algo4_alt_blocking_smoke(spark):
    from name_match_latest_spark.operators.algos import (
        match_fuzzy_no_mid,
        match_fuzzy_no_mid_blocked,
    )

    t1, t2 = generate_persons(30, seed=21)
    d1, d2 = persons_df(spark, t1), persons_df(spark, t2)
    default = {(r.t1_id, r.t2_id) for r in
               match_fuzzy_no_mid(d1, d2).select("t1_id", "t2_id").collect()}
    alt = {(r.t1_id, r.t2_id) for r in
           match_fuzzy_no_mid_blocked(d1, d2).select("t1_id", "t2_id").collect()}
    # alt blocking is strictly tighter (adds name-key constraints on top
    # of scoring that already requires similar names + equal bd)
    assert alt <= default
    assert len(alt) > 0
