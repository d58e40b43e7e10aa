"""Households Opt5/Opt6 and the exclusive cascade vs the oracle."""

from __future__ import annotations

import pytest

from name_match_latest_spark.oracle import (
    generate_persons,
    oracle_cascade,
    oracle_households,
)
from tests.conftest import persons_df


@pytest.fixture(scope="module")
def fixture(spark):
    t1, t2 = generate_persons(50, seed=11)
    return t1, t2, persons_df(spark, t1), persons_df(spark, t2)


@pytest.mark.parametrize("option", [5, 6])
def test_households_vs_oracle(spark, fixture, option):
    from name_match_latest_spark.operators.algos import match_fuzzy_no_mid
    from name_match_latest_spark.operators.households import household_aggregate

    t1, t2, d1, d2 = fixture
    pairs = match_fuzzy_no_mid(d1, d2, allow_swap=False)
    got = [
        (r.row_id, r.uuid, r.hh_id, round(r.match_percentage, 6))
        for r in household_aggregate(
            pairs, d1, d2, min_conf=0.8, option=option
        ).collect()
    ]
    want = [
        (rid, uuid, hh, round(pct, 6))
        for rid, uuid, hh, pct in oracle_households(t1, t2, 0.8, option=option)
    ]
    assert got == want
    assert len(want) > 0


@pytest.mark.parametrize("exclusive", [True, False])
@pytest.mark.parametrize(
    "levels",
    # the second order runs fuzzy levels before exact ones: the cascade
    # must honour the order it is given, not sort it
    [[1, 2, 3, 5, 9, 10, 11], [11, 3, 10, 1, 9, 2, 5]],
    ids=["ascending", "shuffled"],
)
def test_cascade_vs_oracle(spark, fixture, exclusive, levels):
    from name_match_latest_spark.operators.cascade import CascadeConfig, run_cascade

    t1, t2, d1, d2 = fixture
    results = run_cascade(
        d1,
        d2,
        CascadeConfig(
            levels=levels, threshold=0.8, allow_birthdate_swap=True,
            exclusive=exclusive,
        ),
    )
    want = oracle_cascade(
        t1, t2, levels, threshold=0.8, allow_swap=True, exclusive=exclusive
    )
    total = 0
    for lr in results:
        got_pairs = sorted(
            (r.t1_id, r.t2_id) for r in lr.matches.select("t1_id", "t2_id").collect()
        )
        assert got_pairs == want[lr.level], f"level {lr.level}"
        total += len(got_pairs)
    assert [lr.level for lr in results] == levels
    assert total > 0


def test_opt6_hh_fallback_to_id(spark):
    """hh_id NULL falls back to str(id) as the household key
    (mod.rs:1004, test opt6_denominator_and_hh_fallback :5781)."""
    from datetime import date

    from name_match_latest_spark.operators.algos import match_fuzzy_no_mid
    from name_match_latest_spark.operators.households import household_aggregate
    from name_match_latest_spark.oracle import Person, oracle_households
    from tests.conftest import persons_df

    t1 = [
        Person(id=1, uuid="u1", first_name="Ana", last_name="Cruz",
               birthdate=date(1990, 1, 1)),
        Person(id=2, uuid="u1", first_name="Jose", last_name="Cruz",
               birthdate=date(1991, 2, 2)),
    ]
    # t2 rows WITHOUT hh_id: each becomes its own household keyed by id
    t2 = [
        Person(id=77, first_name="Ana", last_name="Cruz",
               birthdate=date(1990, 1, 1), hh_id=None),
        Person(id=88, first_name="Jose", last_name="Cruz",
               birthdate=date(1991, 2, 2), hh_id=None),
    ]
    d1, d2 = persons_df(spark, t1), persons_df(spark, t2)
    pairs = match_fuzzy_no_mid(d1, d2)
    got5 = [(r.row_id, r.uuid, r.hh_id, round(r.match_percentage, 6))
            for r in household_aggregate(pairs, d1, d2, 0.9, option=5).collect()]
    got6 = [(r.row_id, r.uuid, r.hh_id, round(r.match_percentage, 6))
            for r in household_aggregate(pairs, d1, d2, 0.9, option=6).collect()]
    assert got5 == [(rid, u, h, round(p, 6)) for rid, u, h, p in
                    oracle_households(t1, t2, 0.9, option=5)]
    assert got6 == [(rid, u, h, round(p, 6)) for rid, u, h, p in
                    oracle_households(t1, t2, 0.9, option=6)]
    # opt6 denominator = single-member fallback households -> 100% each
    assert {h for _, _, h, _ in got6} == {77, 88}
    assert all(p == 100.0 for *_, p in got6)
    # opt5: each t1 member matched into a DIFFERENT fallback household,
    # so per-(uuid, hh) percentage is 1/2 = 50% -> filtered out (>50 rule)
    assert got5 == []


def test_cascade_fuzzy_block_guard(spark):
    """``max_fuzzy_block`` drops exactly the L10/L11 pairs whose shared
    birthdate keys are all oversized t2 keys (more t2 rows than the
    limit) and keeps every other pair."""
    from collections import Counter
    from dataclasses import replace
    from datetime import date

    from name_match_latest_spark.functions.normalize import is_full_middle
    from name_match_latest_spark.operators.cascade import CascadeConfig, run_cascade
    from name_match_latest_spark.operators.dates import birthdate_keys

    t1, t2 = generate_persons(50, seed=11)
    limit = 4
    # eight t1 people and their t2 copies share one birthdate, a block
    # of eight t2 rows; 1970-03-25 has no month/day swap
    planted = [
        replace(p, birthdate=date(1970, 3, 25), middle_name="Bautista") for p in t1[:8]
    ]
    t1 = planted + t1[8:]
    t2 = t2 + [replace(p, id=900_000 + i) for i, p in enumerate(planted)]
    d1, d2 = persons_df(spark, t1), persons_df(spark, t2)

    def pairs(max_block):
        cfg = CascadeConfig(
            levels=[10, 11], threshold=0.8, allow_birthdate_swap=True,
            exclusive=False, max_fuzzy_block=max_block,
        )
        return {
            lr.level: {(r.t1_id, r.t2_id) for r in lr.matches.select("t1_id", "t2_id").collect()}
            for lr in run_cascade(d1, d2, cfg)
        }

    unguarded, guarded = pairs(None), pairs(limit)
    bd1 = {p.id: p.birthdate for p in t1}
    bd2 = {p.id: p.birthdate for p in t2}
    for level, swap in ((10, True), (11, False)):  # L11 never swaps
        side = [
            p for p in t2
            if p.birthdate and (level == 11 or is_full_middle((p.middle_name or "").strip()))
        ]
        sizes = Counter(k for p in side for k in birthdate_keys(p.birthdate, swap))
        oversized = {k for k, n in sizes.items() if n > limit}
        keep = {
            (a, b) for a, b in unguarded[level]
            if set(birthdate_keys(bd1[a], swap)) & set(birthdate_keys(bd2[b], swap)) - oversized
        }
        assert guarded[level] == keep, f"level {level}"
        assert keep and keep < unguarded[level]
