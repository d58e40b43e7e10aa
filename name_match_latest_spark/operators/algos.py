"""The five matching algorithms as Spark joins.

Each returns a MatchPair DataFrame: every person column prefixed
``t1_``/``t2_`` plus ``confidence`` (0-1 double), ``matched_fields``
(array<string>) and ``case_label`` / ``algorithm``.  Inputs must be
``prepare_persons`` outputs.

Algorithm map (reference semantics, file:line cited per function):

  1 ``match_algo1``      deterministic first+last+birthdate equi-join
  2 ``match_algo2``      + middle (None==None matches, Some vs None fails)
  3 ``match_fuzzy``      blocked fuzzy w/ middle (year/initials/soundex
                         blocks + 2 fallback probe tiers)
  4 ``match_fuzzy_no_mid`` birthdate-blocked fuzzy, no middle
  7 ``match_lev_weighted`` OR-blocked per-field Levenshtein mean
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .blocking import (
    algo3_block_key,
    algo3_fallback1_key,
    algo3_fallback2_key,
    birthdate_pairs,
    pair_join,
)
from .dates import bd_match_cond
from .persons import soundex4_col
from .scoring import score_pairs, sim_lev_pct_col

__all__ = [
    "match_algo1",
    "match_algo2",
    "match_fuzzy",
    "match_fuzzy_no_mid",
    "match_fuzzy_no_mid_blocked",
    "match_lev_weighted",
    "sort_matches",
]

_NULL_MARKER = "\x00∅"  # distinguishes NULL middle from empty string


def sort_matches(df: DataFrame) -> DataFrame:
    """Deterministic output order (cascade.rs:253-266)."""
    return df.orderBy("t1_id", "t2_id")


# normalize_text is NULL iff its input is NULL, so requiring a
# normalized column is equivalent to requiring its raw source — and the
# raw form is a pure scan predicate (PushedFilters), while a filter on
# the UDF output splits the plan into TWO ArrowEvalPython nodes (the
# pushed filter re-evaluates the UDF below itself; guide §4.4).
_RAW_OF = {"first_n": "first_name", "middle_n": "middle_name", "last_n": "last_name"}


def _require(df: DataFrame, *cols: str) -> DataFrame:
    cond = None
    for c in cols:
        x = F.col(_RAW_OF.get(c, c)).isNotNull()
        cond = x if cond is None else (cond & x)
    return df.filter(cond)


def match_algo1(
    t1: DataFrame, t2: DataFrame, allow_swap: bool = False,
    direct_norm_fuzzy: bool = False,
) -> DataFrame:
    """Algo 1 (IdUuidYasIsMatchedInfnbd): exact normalized last+first+
    birthdate (key_for mod.rs:5970-5987; predicate matches_algo1
    :2148-2178).  Missing first/last/birthdate on either side -> no
    match (mod.rs:5640 test).  ``direct_norm_fuzzy`` is the
    NAME_MATCHER_DIRECT_FUZZY_NORMALIZATION toggle (mod.rs:2140-2146):
    keys additionally normalize_simple'd (dots dropped, dashes->space)."""
    from .persons import simple_col

    t1 = _require(t1, "first_n", "last_n", "birthdate")
    t2 = _require(t2, "first_n", "last_n", "birthdate")
    wrap = simple_col if direct_norm_fuzzy else (lambda c: c)

    def keys(p):
        return [wrap(F.col(f"{p}last_n")), wrap(F.col(f"{p}first_n"))]

    pairs = birthdate_pairs(t1, t2, allow_swap, keys)
    return pairs.withColumns(
        {
            "confidence": F.lit(1.0),
            "matched_fields": F.array(
                *[F.lit(x) for x in ["id", "uuid", "first_name", "last_name", "birthdate"]]
            ),
            "case_label": F.lit("ALGO1"),
        }
    )


def match_algo2(
    t1: DataFrame, t2: DataFrame, allow_swap: bool = False,
    direct_norm_fuzzy: bool = False,
) -> DataFrame:
    """Algo 2: Algo 1 + middle name; None==None matches, Some vs None
    fails (matches_algo2 mod.rs:2179-2223) — encoded with a NULL
    marker distinct from the empty string."""
    from .persons import simple_col

    t1 = _require(t1, "first_n", "last_n", "birthdate")
    t2 = _require(t2, "first_n", "last_n", "birthdate")
    wrap = simple_col if direct_norm_fuzzy else (lambda c: c)

    def keys(p):
        return [
            wrap(F.col(f"{p}last_n")),
            wrap(F.col(f"{p}first_n")),
            F.coalesce(wrap(F.col(f"{p}middle_n")), F.lit(_NULL_MARKER)),
        ]

    pairs = birthdate_pairs(t1, t2, allow_swap, keys)
    return pairs.withColumns(
        {
            "confidence": F.lit(1.0),
            "matched_fields": F.array(
                *[
                    F.lit(x)
                    for x in ["id", "uuid", "first_name", "middle_name", "last_name", "birthdate"]
                ]
            ),
            "case_label": F.lit("ALGO2"),
        }
    )


def _algo3_candidates(t1: DataFrame, t2: DataFrame) -> DataFrame:
    """Algo 3's three candidate tiers, unioned: the primary block, then
    fallback 1 for probe rows whose primary block is empty, then
    fallback 2 for rows whose fallback-1 block is empty too.  Every
    tier probes t2's PRIMARY key.  Shared by ``match_fuzzy`` and the
    ``algo3_prefilter`` driver query."""
    t2_keys = t2.select(algo3_block_key().alias("_tk")).distinct()

    def primary(p):
        return [algo3_block_key(p)]

    tier1 = pair_join(t1, t2, primary, primary)

    # probe rows whose PRIMARY block is empty
    t1_miss1 = t1.join(
        t2_keys, on=[algo3_block_key() == F.col("_tk")], how="left_anti"
    )
    tier2 = pair_join(t1_miss1, t2, lambda p: [algo3_fallback1_key(p)], primary)

    t1_miss2 = t1_miss1.join(
        t2_keys, on=[algo3_fallback1_key() == F.col("_tk")], how="left_anti"
    )
    tier3 = pair_join(t1_miss2, t2, lambda p: [algo3_fallback2_key(p)], primary)

    return tier1.unionByName(tier2).unionByName(tier3)


def match_fuzzy(t1: DataFrame, t2: DataFrame, allow_swap: bool = False) -> DataFrame:
    """Algo 3 (Fuzzy, with middle): the canonical blocked CPU route
    ``match_fuzzy_cpu_gpu_equivalent`` (mod.rs:2747-2903).

    Blocking: t2 indexed by (birth_year, first_init, last_init,
    soundex4(last_n)); a t1 row probes its primary key, then — ONLY
    when the primary block is empty — fallback 1 (first-initial
    wildcard), then fallback 2 (2-char soundex).  "Block empty" is a
    property of the KEY (no t2 row carries it), so the fallback tiers
    are anti-joins against t2's distinct key set, NOT against scored
    results.  Then: birthdate equality (swap-aware) + scoring cascade.
    """
    t1 = _require(t1, "first_n", "last_n", "birthdate")
    t2 = _require(t2, "first_n", "last_n", "birthdate")
    # the fallback tiers reference each side 3x; without materialization
    # every branch re-runs the per-person normalize/metaphone UDFs
    # (plan audit: 48 ArrowEvalPython nodes -> 8). The reference
    # precomputes CpuFuzzyCache once for the same reason (mod.rs:2793).
    # Tracked: the caller releases via plans.caching.unpersist_tracked.
    # The persist is a pruning barrier, so drop the derived columns
    # this algorithm never reads BEFORE it (normalize_text x3 and the
    # no-middle metaphone never evaluate at all — only dmeta_full of
    # the five per-person Python UDFs survives; guide §2.3/§4.1).
    from ..plans.caching import tracked_cache

    drop = ["first_n", "middle_n", "last_n", "simple_full_no_mid", "dmeta_no_mid"]
    t1, t2 = tracked_cache(t1.drop(*drop)), tracked_cache(t2.drop(*drop))

    cand = _algo3_candidates(t1, t2).filter(
        bd_match_cond(F.col("t1_birthdate"), F.col("t2_birthdate"), allow_swap)
    )
    scored = score_pairs(cand, no_middle=False)
    return scored.withColumn(
        "matched_fields",
        F.array(F.lit("fuzzy"), F.col("case_label"), F.lit("birthdate")),
    )


def match_fuzzy_no_mid(t1: DataFrame, t2: DataFrame, allow_swap: bool = False) -> DataFrame:
    """Algo 4 (FuzzyNoMiddle): birthdate-blocked
    (``match_fuzzy_no_mid_cpu_gpu_equivalent`` mod.rs:2906-3013).
    Candidates are t2 rows whose exact date equals t1's date or its
    swap (mod.rs:2972-2984), from ``blocking.birthdate_pairs``; the
    reference explodes t1's key set, which gives the same pairs.
    Birthdate blocks are the skew hot-spot; AQE skew-join splitting
    (on in session.py) handles them."""
    t1 = _require(t1, "birthdate")
    t2 = _require(t2, "birthdate")
    pairs = birthdate_pairs(t1, t2, allow_swap)
    scored = score_pairs(pairs, no_middle=True)
    return scored.withColumn(
        "matched_fields",
        F.array(F.lit("fuzzy"), F.col("case_label"), F.lit("birthdate")),
    )


def match_fuzzy_no_mid_blocked(
    t1: DataFrame, t2: DataFrame, allow_swap: bool = False
) -> DataFrame:
    """Algo 4 ALTERNATE blocking: the Algo-3-style
    (year, initials, soundex) blocks applied to the no-middle variant
    (``match_fuzzy_no_mid_blocked_cpu`` mod.rs:2603-2745).  Present for
    parity completeness; the reference's default CPU route is the
    birthdate-blocked ``match_fuzzy_no_mid`` (routing mod.rs:1731-1742)
    and so is ours."""
    t1 = _require(t1, "first_n", "last_n", "birthdate")
    t2 = _require(t2, "first_n", "last_n", "birthdate")

    def primary(p):
        return [algo3_block_key(p)]

    pairs = pair_join(t1, t2, primary)
    pairs = pairs.filter(
        bd_match_cond(F.col("t1_birthdate"), F.col("t2_birthdate"), allow_swap)
    )
    scored = score_pairs(pairs, no_middle=True)
    return scored.withColumn(
        "matched_fields",
        F.array(F.lit("fuzzy"), F.col("case_label"), F.lit("birthdate")),
    )


def match_lev_weighted(t1: DataFrame, t2: DataFrame) -> DataFrame:
    """Algo 7 (LevenshteinWeighted): OR-blocked union of three
    equi-joins (match_levenshtein_weighted_cpu mod.rs:3016-3217):

      (bd, soundex4(simple_first), soundex4(simple_last))
      (bd, first-3-chars, last-3-chars)        [both non-empty]
      (bd, soundex4(simple_mid))               [both mids non-empty]

    Emits ALL deduped candidates with per-field Levenshtein mean
    confidence and matched-field flags; thresholding happens at export
    (csv_export.rs:151-154)."""
    from ..plans.caching import tracked_cache

    # Algo 7's keys and scoring are all JVM expressions over bd_str and
    # simple_* — persisting the full prepared frame would materialize
    # all five per-person Python UDF columns for nothing (the persist
    # is a pruning barrier), so drop every derived column it does not
    # read; zero ArrowEvalPython nodes remain in the plan.
    drop = [
        "first_n", "middle_n", "last_n", "simple_full",
        "simple_full_no_mid", "dmeta_full", "dmeta_no_mid",
        "first_init", "last_init", "sx_last_n", "birth_year",
    ]
    t1 = tracked_cache(_require(t1, "birthdate").drop(*drop))
    t2 = tracked_cache(_require(t2, "birthdate").drop(*drop))

    def sx_keys(p):
        return [
            F.col(f"{p}bd_str"),
            soundex4_col(F.col(f"{p}simple_first")),
            soundex4_col(F.col(f"{p}simple_last")),
        ]

    def pf_keys(p):
        return [
            F.col(f"{p}bd_str"),
            F.substring(F.col(f"{p}simple_first"), 1, 3),
            F.substring(F.col(f"{p}simple_last"), 1, 3),
        ]

    def mid_keys(p):
        return [F.col(f"{p}bd_str"), soundex4_col(F.col(f"{p}simple_mid"))]

    j_sx = pair_join(t1, t2, sx_keys)
    pf_filter = (F.col("simple_first") != "") & (F.col("simple_last") != "")
    j_pf = pair_join(t1.filter(pf_filter), t2.filter(pf_filter), pf_keys)
    mid_filter = F.col("simple_mid") != ""
    j_mid = pair_join(t1.filter(mid_filter), t2.filter(mid_filter), mid_keys)

    cand = (
        j_sx.unionByName(j_pf)
        .unionByName(j_mid)
        .dropDuplicates(["t1_id", "t2_id"])
    )

    mid_present = (F.col("t1_simple_mid") != "") & (F.col("t2_simple_mid") != "")
    last_sim = sim_lev_pct_col(F.col("t1_simple_last"), F.col("t2_simple_last"))
    first_sim = sim_lev_pct_col(F.col("t1_simple_first"), F.col("t2_simple_first"))
    mid_sim = F.when(
        mid_present, sim_lev_pct_col(F.col("t1_simple_mid"), F.col("t2_simple_mid"))
    ).otherwise(F.lit(0.0))
    denom = F.when(mid_present, F.lit(3.0)).otherwise(F.lit(2.0))
    confidence = ((last_sim + first_sim + F.when(mid_present, mid_sim).otherwise(0.0)) / denom) / 100.0

    fields = F.filter(
        F.array(
            F.when(F.col("t1_simple_first") == F.col("t2_simple_first"), F.lit("FirstName")),
            F.when(F.col("t1_simple_mid") == F.col("t2_simple_mid"), F.lit("MiddleName")),
            F.when(F.col("t1_simple_last") == F.col("t2_simple_last"), F.lit("LastName")),
            F.lit("Birthdate"),
        ),
        lambda x: x.isNotNull(),
    )
    return cand.withColumns(
        {
            "confidence": confidence,
            "matched_fields": fields,
            "case_label": F.lit("LEV_WEIGHTED"),
        }
    )
