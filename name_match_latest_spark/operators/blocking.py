"""Blocking-key projections and the blocked candidate joins.

Blocking is the reference's hand-rolled candidate-pair reduction
(mod.rs:2764-2790, :2925-2930, :3080-3156) — the one "optimizer" piece
Catalyst cannot invent for us.  Every blocking scheme becomes an
equi-join on a derived key column; OR-blocking becomes a union of
equi-joins; fallback tiers become anti-join retries; the swap
predicate becomes key expansion (explode).

Skew: birthdate and common-surname blocks are Zipfian.  Defenses, in
order: (a) AQE skew-join splitting (on by default in session.py);
(b) ``block_size_guard`` — the reference's explicit oversized-block
skip (advanced_matcher.rs:193-216) as a broadcast left-anti join
against the oversized keys.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "prefix_cols",
    "pair_join",
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
