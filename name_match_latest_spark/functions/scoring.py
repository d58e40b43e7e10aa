"""The fuzzy scoring cascade (pure Python oracle).

Replicates the reference's authoritative CPU classifier exactly:

* ``classify_full``   — ``fuzzy_compare_names_new`` / ``classify_cached_full``
  (``src/matching/mod.rs:67-141`` and ``:465-512``)
* ``classify_no_mid`` — ``fuzzy_compare_names_no_mid`` / ``classify_cached_no_mid``
  (``:355-416`` and ``:514-561``)

Cascade (identical for both variants):

    full = normalize_simple(first + " " + [mid + " "] + last)
    either empty (after trim)      -> None
    full1 == full2                 -> (100.0, "DIRECT MATCH")
    lev = sim_levenshtein_pct(full1, full2)      # char-dist / byte-maxlen
    jw  = jaro_winkler(full1, full2) * 100       # strsim 0.11
    mp  = 100 if dmeta(full1) == dmeta(full2) != "" else 0
    CASE 1: lev>=85 & jw>=85 & mp==100           -> avg
    CASE 2: >=2 of {lev>=85, jw>=85, mp==100}    -> avg
    CASE 3: CASE2 & avg>=88 & per-field lev dist<=2 (first/last[/mid])
    else None

Confidence scale: the algo-3/4 pipelines emit ``score / 100`` (0-1,
``mod.rs:2894``); cascade L10/L11 emit 0-100 (``advanced_matcher.rs:354``).
The Spark engine emits 0-1 everywhere and documents the mapping.

This module is the single-pair oracle used by pytest and by the golden
fixture generator.  The distributed path in ``operators/scoring.py``
evaluates the same cascade as Spark Column expressions (lev, mp, CASE
logic JVM-side) plus one Arrow-batched pandas UDF for Jaro-Winkler;
tests assert the two paths agree pair-for-pair in f64.
"""

from __future__ import annotations

from .normalize import simple_full_name, simple_full_name_no_mid, normalize_simple
from .phonetics import dmeta_code_from_simple
from .similarity import jaro_winkler, levenshtein, sim_levenshtein_pct

__all__ = [
    "PersonCache",
    "classify_full",
    "classify_no_mid",
    "classify_cached_full",
    "classify_cached_no_mid",
]


class PersonCache:
    """Python twin of the reference's ``CpuFuzzyCache`` (``mod.rs:418-463``)."""

    __slots__ = (
        "simple_full",
        "simple_full_no_mid",
        "simple_first",
        "simple_mid",
        "simple_last",
        "dmeta_full",
        "dmeta_no_mid",
    )

    def __init__(self, first: str | None, mid: str | None, last: str | None) -> None:
        self.simple_first = normalize_simple(first or "")
        self.simple_mid = normalize_simple(mid or "")
        self.simple_last = normalize_simple(last or "")
        self.simple_full = simple_full_name(first, mid, last)
        self.simple_full_no_mid = simple_full_name_no_mid(first, last)
        self.dmeta_full = dmeta_code_from_simple(self.simple_full)
        self.dmeta_no_mid = dmeta_code_from_simple(self.simple_full_no_mid)


def _cascade(
    full1: str,
    full2: str,
    dm1: str,
    dm2: str,
    f1: str,
    f2: str,
    l1: str,
    l2: str,
    m1: str | None,
    m2: str | None,
) -> tuple[float, str] | None:
    if not full1.strip() or not full2.strip():
        return None
    if full1 == full2:
        return (100.0, "DIRECT MATCH")
    lev = sim_levenshtein_pct(full1, full2)
    jw = jaro_winkler(full1, full2) * 100.0
    mp = 100.0 if (dm1 != "" and dm2 != "" and dm1 == dm2) else 0.0

    if lev >= 85.0 and jw >= 85.0 and mp == 100.0:
        return ((lev + jw + mp) / 3.0, "CASE 1")

    passed = (lev >= 85.0) + (jw >= 85.0) + (mp == 100.0)
    if passed >= 2:
        avg = (lev + jw + mp) / 3.0
        if avg >= 88.0:
            ok = levenshtein(f1, f2) <= 2 and levenshtein(l1, l2) <= 2
            if ok and m1 is not None and m2 is not None:
                ok = levenshtein(m1, m2) <= 2
            if ok:
                return (avg, "CASE 3")
        return (avg, "CASE 2")
    return None


def classify_cached_full(c1: PersonCache, c2: PersonCache) -> tuple[float, str] | None:
    return _cascade(
        c1.simple_full, c2.simple_full,
        c1.dmeta_full, c2.dmeta_full,
        c1.simple_first, c2.simple_first,
        c1.simple_last, c2.simple_last,
        c1.simple_mid, c2.simple_mid,
    )


def classify_cached_no_mid(c1: PersonCache, c2: PersonCache) -> tuple[float, str] | None:
    return _cascade(
        c1.simple_full_no_mid, c2.simple_full_no_mid,
        c1.dmeta_no_mid, c2.dmeta_no_mid,
        c1.simple_first, c2.simple_first,
        c1.simple_last, c2.simple_last,
        None, None,
    )


def classify_full(
    first1: str | None, mid1: str | None, last1: str | None,
    first2: str | None, mid2: str | None, last2: str | None,
) -> tuple[float, str] | None:
    """Uncached form — ``fuzzy_compare_names_new`` (``mod.rs:67-141``)."""
    return classify_cached_full(PersonCache(first1, mid1, last1), PersonCache(first2, mid2, last2))


def classify_no_mid(
    first1: str | None, last1: str | None,
    first2: str | None, last2: str | None,
) -> tuple[float, str] | None:
    """Uncached form — ``fuzzy_compare_names_no_mid`` (``mod.rs:355-416``)."""
    return classify_cached_no_mid(PersonCache(first1, None, last1), PersonCache(first2, None, last2))


def explain_pair(
    first1: str | None, mid1: str | None, last1: str | None, bd1,
    first2: str | None, mid2: str | None, last2: str | None, bd2,
    no_middle: bool = False,
    allow_swap: bool = False,
) -> dict:
    """Single-pair explain — the reference's ``explain_pair_fuzzy``
    (``mod.rs:143-250``, ScoreBreakdown ``:17-29``): birthdate gate,
    per-metric percentages, case label, confidence (0-100 like the
    breakdown), swap flag."""
    from ..operators.dates import birthdate_matches_naive, swap_month_day

    bd_match = None
    swap_used = False
    if bd1 is not None and bd2 is not None:
        bd_match = birthdate_matches_naive(bd1, bd2, allow_swap)
        swap_used = bd1 != bd2 and bd_match
    if bd_match is not True:
        return {
            "algorithm": "fuzzy-no-middle" if no_middle else "fuzzy",
            "birthdate_match": bd_match,
            "birthdate_swap_used": swap_used,
            "case_label": None,
            "confidence": None,
            "levenshtein_pct": None,
            "jaro_winkler_pct": None,
            "metaphone_pct": None,
            "message": "Birthdates do not match for this fuzzy rule.",
        }
    c1 = PersonCache(first1, mid1, last1)
    c2 = PersonCache(first2, mid2, last2)
    if no_middle:
        full1, full2 = c1.simple_full_no_mid, c2.simple_full_no_mid
        dm1, dm2 = c1.dmeta_no_mid, c2.dmeta_no_mid
        res = classify_cached_no_mid(c1, c2)
    else:
        full1, full2 = c1.simple_full, c2.simple_full
        dm1, dm2 = c1.dmeta_full, c2.dmeta_full
        res = classify_cached_full(c1, c2)
    return {
        "algorithm": "fuzzy-no-middle" if no_middle else "fuzzy",
        "birthdate_match": True,
        "birthdate_swap_used": swap_used,
        "case_label": res[1] if res else None,
        "confidence": res[0] if res else None,
        "levenshtein_pct": sim_levenshtein_pct(full1, full2),
        "jaro_winkler_pct": jaro_winkler(full1, full2) * 100.0,
        "metaphone_pct": 100.0 if (dm1 and dm2 and dm1 == dm2) else 0.0,
        "message": None,
    }
