"""Birthdate semantics (pure Python + Spark Column builders).

Mirrors reference ``src/matching/birthdate_matcher.rs``:

* ``parse_date_strict``   — :34-41 (exactly-10-char %Y-%m-%d)
* ``swap_month_day``      — :44-46 (None when swapped date invalid)
* ``birthdate_keys``      — :49-61 (key expansion turning the swap
  predicate into an equi-join — exactly Spark's preferred pattern)
* ``birthdate_matches_naive`` — :85-95

Spark side: ``bd_key_array_col`` builds the key array that
``blocking.birthdate_pairs`` explodes, the one birthdate join behind
Algo 1/2/4, L10/L11 and the Algo 4 driver queries.  ``bd_match_cond``
is the predicate form, for joins not keyed on the date (Algo 3 and the
Algo-3-blocked Algo 4).  All date arithmetic is JVM-side
(``make_date`` returns NULL for invalid dates, matching
``from_ymd_opt``'s None).
"""

from __future__ import annotations

from datetime import date

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "parse_date_strict",
    "swap_month_day",
    "birthdate_keys",
    "birthdate_matches_naive",
    "swapped_bd_col",
    "bd_key_array_col",
    "bd_match_cond",
]


def parse_date_strict(s: str | None) -> date | None:
    if s is None:
        return None
    s = s.strip()
    if len(s) != 10:
        return None
    try:
        y, m, d = s.split("-")
        if len(y) != 4 or len(m) != 2 or len(d) != 2:
            return None
        return date(int(y), int(m), int(d))
    except ValueError:
        return None


def swap_month_day(d: date) -> date | None:
    try:
        return date(d.year, d.day, d.month)
    except ValueError:
        return None


def birthdate_keys(d: date, allow_swap: bool) -> list[str]:
    primary = d.strftime("%Y-%m-%d")
    if not allow_swap:
        return [primary]
    swapped = swap_month_day(d)
    if swapped is not None:
        alt = swapped.strftime("%Y-%m-%d")
        if alt != primary:
            return [primary, alt]
    return [primary]


def birthdate_matches_naive(d1: date, d2: date, allow_swap: bool) -> bool:
    if d1 == d2:
        return True
    if allow_swap:
        return swap_month_day(d2) == d1
    return False


# --- Spark Column builders (all JVM-side) ---------------------------------


def swapped_bd_col(bd: Column) -> Column:
    """``make_date(year, day, month)`` — NULL when invalid, like
    ``from_ymd_opt`` returning None (birthdate_matcher.rs:44-46).

    Spark's make_date with ANSI off returns NULL on invalid input.
    """
    return F.try_to_date(
        F.format_string(
            "%04d-%02d-%02d", F.year(bd), F.dayofmonth(bd), F.month(bd)
        )
    )


def bd_key_array_col(bd: Column, allow_swap: bool) -> Column:
    """Array of distinct %Y-%m-%d keys ([d] or [d, swapped]) —
    birthdate_matcher.rs:49-61.  ``blocking.birthdate_pairs`` explodes
    it to turn the swap predicate into an equi-join."""
    primary = F.date_format(bd, "yyyy-MM-dd")
    if not allow_swap:
        return F.array(primary)
    alt = F.date_format(swapped_bd_col(bd), "yyyy-MM-dd")
    return F.array_distinct(
        F.filter(F.array(primary, alt), lambda x: x.isNotNull())
    )


def bd_match_cond(bd1: Column, bd2: Column, allow_swap: bool) -> Column:
    """Residual predicate form of ``birthdate_matches_naive`` (both
    sides must be non-null)."""
    cond = bd1.isNotNull() & bd2.isNotNull() & (bd1 == bd2)
    if allow_swap:
        cond = cond | (
            bd1.isNotNull() & bd2.isNotNull() & (swapped_bd_col(bd2) == bd1)
        )
    return cond
