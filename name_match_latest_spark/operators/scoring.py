"""Distributed pair scoring: the fuzzy cascade over candidate-pair DataFrames.

Stage layout (per candidate pair produced by a blocking join):

1. JVM: ``lev_pct`` via ``F.levenshtein`` (codepoint distance) ÷
   ``octet_length`` byte max-length — the reference's exact quirk
   (helpers.rs:26-33); ``mp`` via precomputed Double Metaphone code
   equality (mod.rs:476-482); DIRECT via string equality.
2. JVM EXACT prefilter: a pair can only classify if it is DIRECT, or
   lev>=85, or mp==100 (CASE 2 needs two passing metrics; jw alone is
   never enough).  This is tighter than the reference's 84.0
   max(lev,jw) GPU gate (mod.rs:65) and provably decision-identical —
   the gate never changes outcomes, only cost (see tests).  It drops
   the bulk of junk pairs before any Python runs.
3. Python (Arrow): Jaro-Winkler for survivors — the single per-pair UDF.
4. JVM: CASE 1/2/3 classification + confidence (score/100, 0-1 scale;
   mod.rs:2894 — cascade levels multiply back at their layer).

Everything here expects the two sides' derived columns prefixed
``t1_`` / ``t2_`` (see ``pair_join`` in blocking.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.udfs import jaro_winkler_udf

__all__ = ["sim_lev_pct_col", "score_pairs", "SCORE_COLS"]

# Marked non-deterministic so the optimizer cannot duplicate the
# evaluation: the match filter (case_label IS NOT NULL) references a
# column computed from this UDF, and Catalyst's filter pushdown
# otherwise materializes TWO ArrowEvalPython nodes per scoring tier —
# every candidate pair crossed the Python boundary twice (plan audit,
# round 6; spark_optimization_guide §4.4).  The function itself is
# pure, so values are unchanged.
_jw_udf = jaro_winkler_udf.asNondeterministic()

SCORE_COLS = ["lev_pct", "jw_pct", "mp_pct", "confidence", "case_label"]


def sim_lev_pct_col(a: Column, b: Column) -> Column:
    """(1 - char_distance/byte_maxlen) * 100; 100.0 when both empty."""
    max_len = F.greatest(F.octet_length(a), F.octet_length(b))
    return F.when(max_len == 0, F.lit(100.0)).otherwise(
        (F.lit(1.0) - F.levenshtein(a, b) / max_len) * 100.0
    )


def score_pairs(pairs: DataFrame, no_middle: bool, explain: bool = False) -> DataFrame:
    """Classify candidate pairs; keeps only matches.

    Adds ``lev_pct, jw_pct, mp_pct, confidence (0-1), case_label``.
    ``no_middle`` selects the full vs no-mid variant (mod.rs:465-561).

    ``explain=True`` is the distributed twin of the reference's
    ``explain_pair_fuzzy`` (mod.rs:143-250): every candidate pair is
    kept (the JVM prefilter is bypassed so jw is computed for all),
    with NULL case_label/confidence for non-matches — the debug-mode
    projection of the scoring UDF's intermediate columns.
    """
    if no_middle:
        full1, full2 = F.col("t1_simple_full_no_mid"), F.col("t2_simple_full_no_mid")
        dm1, dm2 = F.col("t1_dmeta_no_mid"), F.col("t2_dmeta_no_mid")
    else:
        full1, full2 = F.col("t1_simple_full"), F.col("t2_simple_full")
        dm1, dm2 = F.col("t1_dmeta_full"), F.col("t2_dmeta_full")

    non_empty = (F.trim(full1) != "") & (F.trim(full2) != "")
    direct = full1 == full2
    lev = sim_lev_pct_col(full1, full2)
    mp = F.when((dm1 != "") & (dm2 != "") & (dm1 == dm2), F.lit(100.0)).otherwise(
        F.lit(0.0)
    )

    staged = pairs.withColumns(
        {"lev_pct": lev, "mp_pct": mp, "_direct": direct}
    ).filter(non_empty)
    if not explain:
        staged = staged.filter(
            F.col("_direct") | (F.col("lev_pct") >= 85.0) | (F.col("mp_pct") == 100.0)
        )

    jw = F.when(F.col("_direct"), F.lit(100.0)).otherwise(
        _jw_udf(full1, full2) * 100.0
    )
    staged = staged.withColumn("jw_pct", jw)

    lev_c, jw_c, mp_c = F.col("lev_pct"), F.col("jw_pct"), F.col("mp_pct")
    avg = (lev_c + jw_c + mp_c) / 3.0
    case1 = (lev_c >= 85.0) & (jw_c >= 85.0) & (mp_c == 100.0)
    passes = (
        (lev_c >= 85.0).cast("int") + (jw_c >= 85.0).cast("int") + (mp_c == 100.0).cast("int")
    )
    field_lev_ok = (
        F.levenshtein("t1_simple_first", "t2_simple_first") <= 2
    ) & (F.levenshtein("t1_simple_last", "t2_simple_last") <= 2)
    if not no_middle:
        field_lev_ok = field_lev_ok & (
            F.levenshtein("t1_simple_mid", "t2_simple_mid") <= 2
        )
    case3 = (passes >= 2) & (avg >= 88.0) & field_lev_ok

    label = (
        F.when(F.col("_direct"), F.lit("DIRECT MATCH"))
        .when(case1, F.lit("CASE 1"))
        .when(case3, F.lit("CASE 3"))
        .when(passes >= 2, F.lit("CASE 2"))
    )
    score = F.when(F.col("_direct"), F.lit(100.0)).otherwise(avg)

    out = staged.withColumns(
        {
            "case_label": label,
            "confidence": F.when(label.isNotNull(), score / 100.0),
        }
    )
    if not explain:
        out = out.filter(F.col("case_label").isNotNull())
    return out.drop("_direct")
