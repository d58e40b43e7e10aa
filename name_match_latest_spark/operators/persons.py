"""Person-table preparation: one projection pass per side.

The reference precomputes a ``CpuFuzzyCache`` per person
(mod.rs:418-463) so nothing is re-normalized inside the pair loop.
The Spark translation is a single ``select`` that adds every derived
column ONCE per side, before any join — normalization never happens
inside the pair-scoring stage, and column pruning keeps untouched
payload columns (e.g. ``html: binary``) out of the shuffle entirely.

JVM Column expressions (whole-stage codegen, no Python):
  * ``simple_*``   — normalize_simple (helpers.rs:8-23)
  * ``sx_last_n``  — nonstandard soundex4 (helpers.rs:97-132)
  * block initials, birthdate keys

Arrow-batched pandas UDFs (per person, once):
  * ``*_n``        — normalize_text (NFD strip marks; normalize.rs:3-17)
  * ``dmeta_*``    — Double Metaphone codes (mod.rs:429-438)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DateType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions.udfs import dmeta_full_udf, dmeta_no_mid_udf, normalize_text_udf

# Non-deterministic marking (the functions are pure — values are
# unchanged): joins on UDF-derived key columns make Catalyst infer
# isnotnull(key) filters, push them below the projection, and
# re-evaluate every per-person UDF a second time (two ArrowEvalPython
# nodes per side in the round-6 plan audit; guide §4.4).  Marking the
# expressions non-deterministic pins each UDF to a single evaluation.
_norm_udf = normalize_text_udf.asNondeterministic()
_dmeta_full_udf = dmeta_full_udf.asNondeterministic()
_dmeta_no_mid_udf = dmeta_no_mid_udf.asNondeterministic()

__all__ = [
    "PERSON_SCHEMA",
    "simple_col",
    "soundex4_col",
    "prepare_persons",
]

PERSON_SCHEMA = StructType(
    [
        StructField("id", LongType(), False),
        StructField("uuid", StringType(), True),
        StructField("first_name", StringType(), True),
        StructField("middle_name", StringType(), True),
        StructField("last_name", StringType(), True),
        StructField("birthdate", DateType(), True),
        StructField("hh_id", StringType(), True),
        StructField("barangay_code", StringType(), True),
        StructField("city_code", StringType(), True),
    ]
)

# classic soundex digit table for a..z ('0' = not coded)
_SOUNDEX_DIGITS = "01230120022455012623010202"


def simple_col(c: Column) -> Column:
    """normalize_simple as a pure Column expr: trim -> drop '.' ->
    '-'->' ' -> lowercase.  (helpers.rs:8-23; per-char ops are
    order-independent.)"""
    trimmed = F.regexp_replace(c, r"^\s+|\s+$", "")
    return F.lower(F.translate(trimmed, "-.", " "))


def soundex4_col(c: Column) -> Column:
    """The reference's nonstandard 4-char soundex (helpers.rs:97-132)
    as a pure Column expr.

    Equivalence argument (tests assert it empirically): the Rust loop
    records digit d iff d!=0 and d!=code(previous char).  Over the
    letters-only digit string that is exactly "collapse runs of equal
    digits, then drop zeros" — a 0 between equal digits breaks the run,
    matching the reset-on-non-coded-char behavior.  Multi-byte UTF-8
    chars contribute no ASCII-alpha bytes, so a char-level
    ``[^a-zA-Z]`` strip is byte-equivalent.
    """
    letters = F.regexp_replace(c, "[^a-zA-Z]", "")
    first = F.upper(F.substring(letters, 1, 1))
    tail = F.lower(F.substring(letters, 2, 1 << 30))
    digits = F.translate(tail, "abcdefghijklmnopqrstuvwxyz", _SOUNDEX_DIGITS)
    collapsed = F.regexp_replace(digits, r"(\d)\1+", "$1")
    nozeros = F.regexp_replace(collapsed, "0", "")
    code3 = F.rpad(F.substring(nozeros, 1, 3), 3, "0")
    return F.when(letters == "", F.lit("0000")).otherwise(F.concat(first, code3))


def _full_name_raw(first: Column, mid: Column | None, last: Column) -> Column:
    """format!("{} {} {}") / ("{} {}") with None -> "" (mod.rs:75-86).
    Deliberately NOT concat_ws: empty middle must leave a double space."""
    f = F.coalesce(first, F.lit(""))
    l = F.coalesce(last, F.lit(""))
    if mid is None:
        return F.concat(f, F.lit(" "), l)
    m = F.coalesce(mid, F.lit(""))
    return F.concat(f, F.lit(" "), m, F.lit(" "), l)


def _block_initial(name_n: Column) -> Column:
    """First ASCII-alpha byte of the normalized name, uppercased, '?'
    fallback (mod.rs:2778-2787)."""
    init = F.upper(F.regexp_extract(name_n, "[a-zA-Z]", 0))
    return F.when(name_n.isNull() | (init == ""), F.lit("?")).otherwise(init)


def prepare_persons(df: DataFrame) -> DataFrame:
    """Add all derived columns in one projection (CpuFuzzyCache twin).

    Requires columns: id, first_name, middle_name, last_name,
    birthdate (others pass through untouched).
    """
    first, mid, last = F.col("first_name"), F.col("middle_name"), F.col("last_name")
    first_n = _norm_udf(first)
    mid_n = _norm_udf(mid)
    last_n = _norm_udf(last)
    simple_full = simple_col(_full_name_raw(first, mid, last))
    simple_full_no_mid = simple_col(_full_name_raw(first, None, last))

    # ONE projection: all five pandas UDFs sit in the same layer so
    # Catalyst fuses them into a single ArrowEval node (one Arrow
    # round trip per batch); dmeta consumes the RAW names directly
    out = df.withColumns(
        {
            "first_n": first_n,
            "middle_n": mid_n,
            "last_n": last_n,
            "simple_first": simple_col(F.coalesce(first, F.lit(""))),
            "simple_mid": simple_col(F.coalesce(mid, F.lit(""))),
            "simple_last": simple_col(F.coalesce(last, F.lit(""))),
            "simple_full": simple_full,
            "simple_full_no_mid": simple_full_no_mid,
            "dmeta_full": _dmeta_full_udf(first, mid, last),
            "dmeta_no_mid": _dmeta_no_mid_udf(first, last),
            "birth_year": F.year("birthdate"),
            "bd_str": F.date_format("birthdate", "yyyy-MM-dd"),
        }
    )
    return out.withColumns(
        {
            "first_init": _block_initial(F.col("first_n")),
            "last_init": _block_initial(F.col("last_n")),
            "sx_last_n": soundex4_col(F.coalesce(F.col("last_n"), F.lit(""))),
        }
    )
