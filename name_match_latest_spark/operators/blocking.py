"""Blocking-key projections and the blocked candidate joins.

Blocking is the reference's hand-rolled candidate-pair reduction
(mod.rs:2764-2790, :2925-2930, :3080-3156) — the one "optimizer" piece
Catalyst cannot invent for us.  Every blocking scheme becomes an
equi-join on a derived key column; OR-blocking becomes a union of
equi-joins; fallback tiers become anti-join retries; the swap
predicate becomes key expansion (explode), in one place:
``birthdate_pairs``.

Skew: birthdate and common-surname blocks are Zipfian.  Defenses, in
order: (a) AQE skew-join splitting (on by default in session.py);
(b) ``block_size_guard`` — the reference's explicit oversized-block
skip (advanced_matcher.rs:193-216) as a broadcast left-anti join
against the oversized keys.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dates import bd_key_array_col

__all__ = [
    "prefix_cols",
    "pair_join",
    "birthdate_pairs",
    "algo3_block_key",
    "algo3_fallback1_key",
    "algo3_fallback2_key",
    "block_size_guard",
    "block_histogram",
]


def prefix_cols(df: DataFrame, prefix: str) -> DataFrame:
    return df.select([F.col(c).alias(f"{prefix}{c}") for c in df.columns])


def pair_join(
    t1: DataFrame,
    t2: DataFrame,
    t1_keys,
    t2_keys=None,
    broadcast_t2: bool = False,
) -> DataFrame:
    """Equi-join two PREPARED person DataFrames on derived key columns,
    prefixing every person column ``t1_``/``t2_``.

    ``t1_keys``/``t2_keys`` are callables ``prefix -> list[Column]``
    (``t2_keys`` defaults to the same builder).  Key columns are
    materialized so Catalyst shuffles on exactly them, then dropped.
    Pairs where any key is NULL never join (SQL equi-join semantics ==
    the reference's ``key_for(..) -> None`` skip).
    """
    t2_keys = t2_keys or t1_keys
    k1, k2 = t1_keys("t1_"), t2_keys("t2_")
    left = prefix_cols(t1, "t1_").withColumns(
        {f"_k{i}": k for i, k in enumerate(k1)}
    )
    right = prefix_cols(t2, "t2_").withColumns(
        {f"_k{i}": k for i, k in enumerate(k2)}
    )
    if broadcast_t2:
        right = F.broadcast(right)
    joined = left.join(right, on=[f"_k{i}" for i in range(len(k1))], how="inner")
    return joined.drop(*[f"_k{i}" for i in range(len(k1))])


def birthdate_pairs(
    t1: DataFrame,
    t2: DataFrame,
    allow_swap: bool,
    keys=lambda p: [],
    max_block: int | None = None,
) -> DataFrame:
    """Pairs whose birthdates match — ``b1 == b2``, or with
    ``allow_swap`` also ``b1 == swap(b2)`` (birthdate_matcher.rs:85-95)
    — and whose extra ``keys`` (``prefix -> list[Column]``) are equal,
    as an equi-join on PREPARED person DataFrames.

    t2's distinct date keys K2 = {b2, swap(b2)} (``bd_key_array_col``,
    birthdate_matcher.rs:49-61) are exploded and probed with t1's exact
    date ``bd_str``.  b1 ∈ K2 is the predicate itself, and since K2 is
    distinct each pair joins at most once.  Exploding t1 and probing
    t2's date gives the same pairs: month/day swap is an involution
    wherever both dates are valid (swap(b1) = b2 means b2's day is
    b1's month <= 12, so swap(b2) is defined and equals b1).  NULL
    dates have no key and never pair.

    ``max_block`` is the oversized-block skip guard
    (advanced_matcher.rs:193-216): t2 rows are dropped from every date
    key carried by more than ``max_block`` t2 rows, counted by the date
    key alone.  A pair whose primary block was dropped can still
    surface through the swap key, so the guarded probe iterates t1's
    own keys too (the reference's :302-330 loop): both sides explode,
    a pair joins when K1 ∩ K2' is non-empty, and pairs are deduped.
    """
    def exploded(df):
        return df.withColumn("_bdk", F.explode(bd_key_array_col(F.col("birthdate"), allow_swap)))

    if max_block is None:
        pairs = pair_join(
            t1,
            exploded(t2),
            lambda p: keys(p) + [F.col(f"{p}bd_str")],
            lambda p: keys(p) + [F.col(f"{p}_bdk")],
        )
    else:
        t2e = block_size_guard(exploded(t2), F.col("_bdk"), max_block)
        pairs = pair_join(
            exploded(t1), t2e, lambda p: keys(p) + [F.col(f"{p}_bdk")]
        ).dropDuplicates(["t1_id", "t2_id"])
    return pairs.drop("t1__bdk", "t2__bdk")


def algo3_block_key(p: str = "") -> Column:
    """(birth_year, first_init, last_init, soundex4(last_n)) — the Algo
    3 primary block key (mod.rs:2764-2790), pipe-joined to one string
    column so the shuffle hashes a single key."""
    return F.concat_ws(
        "\x1f",
        F.col(f"{p}birth_year").cast("string"),
        F.col(f"{p}first_init"),
        F.col(f"{p}last_init"),
        F.col(f"{p}sx_last_n"),
    )


def algo3_fallback1_key(p: str = "") -> Column:
    """Fallback probe 1: first-initial wildcarded (mod.rs:2851-2855)."""
    return F.concat_ws(
        "\x1f",
        F.col(f"{p}birth_year").cast("string"),
        F.lit("?"),
        F.col(f"{p}last_init"),
        F.col(f"{p}sx_last_n"),
    )


def algo3_fallback2_key(p: str = "") -> Column:
    """Fallback probe 2: soundex truncated to 2 chars + '00'
    (mod.rs:2857-2864)."""
    return F.concat_ws(
        "\x1f",
        F.col(f"{p}birth_year").cast("string"),
        F.col(f"{p}first_init"),
        F.col(f"{p}last_init"),
        F.concat(F.substring(F.col(f"{p}sx_last_n"), 1, 2), F.lit("00")),
    )


def block_histogram(df: DataFrame, key: Column) -> DataFrame:
    """groupBy(block_key).count() — the reference's candidate-pair
    estimator (mod.rs:1863-1902)."""
    return df.groupBy(key.alias("block_key")).count()


def block_size_guard(df: DataFrame, key: Column, limit: int | None) -> DataFrame:
    """Drop rows belonging to blocks larger than ``limit`` — the
    NAME_MATCHER_MAX_FUZZY_BIRTHDATE_BLOCK skip guard
    (advanced_matcher.rs:193-216).  Implemented as a broadcast
    semi-join against the (tiny) oversized-key list rather than a
    window count, so the big side is scanned once with no extra
    shuffle."""
    if limit is None:
        return df
    oversized = (
        df.groupBy(key.alias("_gk")).count().filter(F.col("count") > limit).select("_gk")
    )
    return df.join(
        F.broadcast(oversized), on=[key == F.col("_gk")], how="left_anti"
    )
