"""Spark engine vs single-node oracle: pair-for-pair equality.

The oracle re-implements the reference routines faithfully
(oracle.py); the Spark engine must reproduce the same (id1, id2)
pair sets, confidences (f64) and case labels on the seeded fixture
corpus — with and without birthdate swap.
"""

from __future__ import annotations

import pytest

from name_match_latest_spark.oracle import (
    generate_persons,
    oracle_algo1,
    oracle_algo2,
    oracle_fuzzy,
    oracle_fuzzy_no_mid,
    oracle_lev_weighted,
)
from tests.conftest import persons_df


@pytest.fixture(scope="module")
def fixture(spark):
    t1, t2 = generate_persons(60, seed=42)
    return t1, t2, persons_df(spark, t1), persons_df(spark, t2)


def _spark_pairs(df):
    return {(r.t1_id, r.t2_id) for r in df.select("t1_id", "t2_id").collect()}


def _spark_scored(df):
    return {
        (r.t1_id, r.t2_id): (r.confidence, r.case_label)
        for r in df.select("t1_id", "t2_id", "confidence", "case_label").collect()
    }


@pytest.mark.parametrize("allow_swap", [False, True])
def test_algo1(spark, fixture, allow_swap):
    from name_match_latest_spark.operators.algos import match_algo1

    t1, t2, d1, d2 = fixture
    got = _spark_pairs(match_algo1(d1, d2, allow_swap))
    want = set(oracle_algo1(t1, t2, allow_swap))
    assert got == want
    assert len(want) > 0


@pytest.mark.parametrize("allow_swap", [False, True])
def test_algo2(spark, fixture, allow_swap):
    from name_match_latest_spark.operators.algos import match_algo2

    t1, t2, d1, d2 = fixture
    got = _spark_pairs(match_algo2(d1, d2, allow_swap))
    want = set(oracle_algo2(t1, t2, allow_swap))
    assert got == want


@pytest.mark.parametrize("allow_swap", [False, True])
def test_fuzzy_algo3(spark, fixture, allow_swap):
    from name_match_latest_spark.operators.algos import match_fuzzy

    t1, t2, d1, d2 = fixture
    got = _spark_scored(match_fuzzy(d1, d2, allow_swap))
    want = {(a, b): (c, l) for a, b, c, l in oracle_fuzzy(t1, t2, allow_swap)}
    assert set(got) == set(want)
    for k, (conf, label) in want.items():
        assert got[k][1] == label, k
        assert got[k][0] == pytest.approx(conf, abs=1e-12), k
    assert len(want) > 0


@pytest.mark.parametrize("allow_swap", [False, True])
def test_fuzzy_algo4(spark, fixture, allow_swap):
    from name_match_latest_spark.operators.algos import match_fuzzy_no_mid

    t1, t2, d1, d2 = fixture
    got = _spark_scored(match_fuzzy_no_mid(d1, d2, allow_swap))
    want = {(a, b): (c, l) for a, b, c, l in oracle_fuzzy_no_mid(t1, t2, allow_swap)}
    assert set(got) == set(want)
    for k, (conf, label) in want.items():
        assert got[k][1] == label, k
        assert got[k][0] == pytest.approx(conf, abs=1e-12), k
    assert len(want) > 0


@pytest.mark.parametrize("max_block", [None, 3])
@pytest.mark.parametrize("allow_swap", [False, True])
def test_birthdate_pairs_equal_predicate(spark, allow_swap, max_block):
    """``blocking.birthdate_pairs`` returns exactly the pairs of a
    Python cross product, each once, and no helper column.  Unguarded
    the model is ``birthdate_matches_naive``; guarded, a pair needs a
    shared date key carried by at most ``max_block`` t2 rows (counted
    by the date alone, whatever the extra keys)."""
    import random
    from collections import Counter
    from datetime import date

    from pyspark.sql import functions as F

    from name_match_latest_spark.operators.blocking import birthdate_pairs
    from name_match_latest_spark.operators.dates import (
        birthdate_keys,
        birthdate_matches_naive,
    )
    from name_match_latest_spark.oracle import Person

    rng = random.Random(12)
    # swap partners, day > 12 (no swap), a swap fixed point, Feb 29, NULL
    dates = [
        date(1990, 3, 4), date(1990, 4, 3), date(1990, 3, 25), date(1990, 12, 12),
        date(2000, 2, 29), date(2004, 1, 2), date(2004, 2, 1), None,
    ]
    weights = [6, 2, 5, 1, 2, 1, 4, 3]

    def side(base):
        return [
            Person(
                id=base + i, first_name="ana", last_name=rng.choice(["cruz", "reyes"]),
                birthdate=rng.choices(dates, weights)[0],
            )
            for i in range(40)
        ]

    t1, t2 = side(0), side(1000)
    d1, d2 = persons_df(spark, t1), persons_df(spark, t2)
    df = birthdate_pairs(
        d1, d2, allow_swap, keys=lambda p: [F.col(f"{p}last_n")], max_block=max_block
    )
    got = [(r.t1_id, r.t2_id) for r in df.select("t1_id", "t2_id").collect()]

    def keys(p):
        return set(birthdate_keys(p.birthdate, allow_swap))

    naive = {
        (a.id, b.id)
        for a in t1 for b in t2
        if a.birthdate and b.birthdate and a.last_name == b.last_name
        and birthdate_matches_naive(a.birthdate, b.birthdate, allow_swap)
    }
    if max_block is None:
        want = naive
    else:
        sizes = Counter(k for b in t2 if b.birthdate for k in keys(b))
        oversized = {k for k, n in sizes.items() if n > max_block}
        want = {
            (a.id, b.id)
            for a in t1 for b in t2
            if a.birthdate and b.birthdate and a.last_name == b.last_name
            and keys(a) & keys(b) - oversized
        }
        assert want < naive
    assert want
    assert len(got) == len(set(got))
    assert set(got) == want
    assert df.columns == [f"t1_{c}" for c in d1.columns] + [f"t2_{c}" for c in d2.columns]


def test_algo7(spark, fixture):
    from name_match_latest_spark.operators.algos import match_lev_weighted

    t1, t2, d1, d2 = fixture
    rows = match_lev_weighted(d1, d2).select(
        "t1_id", "t2_id", "confidence", "matched_fields"
    ).collect()
    got = {(r.t1_id, r.t2_id): (r.confidence, tuple(r.matched_fields)) for r in rows}
    want = {(a, b): (c, f) for a, b, c, f in oracle_lev_weighted(t1, t2)}
    assert set(got) == set(want)
    for k, (conf, fields) in want.items():
        assert got[k][1] == fields, k
        assert got[k][0] == pytest.approx(conf, abs=1e-12), k
    assert len(want) > 0


def test_direct_norm_fuzzy_toggle(spark):
    """NAME_MATCHER_DIRECT_FUZZY_NORMALIZATION (mod.rs:2140-2177):
    with the toggle, keys are additionally normalize_simple'd so
    'J.ose'/'Jose' and 'Dela-Cruz'/'Dela Cruz' become key-equal."""
    from datetime import date

    from name_match_latest_spark.operators.algos import match_algo1
    from name_match_latest_spark.oracle import Person
    from tests.conftest import persons_df

    t1 = [Person(id=1, first_name="J.ose", last_name="Dela-Cruz", birthdate=date(1990, 1, 1))]
    t2 = [Person(id=2, first_name="Jose", last_name="Dela Cruz", birthdate=date(1990, 1, 1))]
    d1, d2 = persons_df(spark, t1), persons_df(spark, t2)
    assert match_algo1(d1, d2).count() == 0
    assert match_algo1(d1, d2, direct_norm_fuzzy=True).count() == 1
