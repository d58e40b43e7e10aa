"""Distributed deterministic person-table generator.

The pytest fixtures use a driver-side Python generator
(`oracle.generate_persons`) — right for oracle-sized data, unusable at
millions of rows.  This is its DISTRIBUTED twin: every row is a pure
Column-expression function of (id, seed), so any scale generates in
parallel with no Python in the row path and regenerates identically at
any parallelism (same property as sources/web.generate_webpages).

Used by the person-match scaling job (``scripts/bench_scaling.py
persons``): the reference hard-blocks fuzzy matching at >= 1M rows per
side (run_service/scale.rs:8-10), so demonstrating Algo-3 at 5M x 5M
and measuring N -> 4N scaling is the headline capability claim.

Name shape: three syllables from a 24-syllable pool (13,824 distinct
names per field) — large enough that (birth_year, initials,
soundex4(last)) blocks stay realistic, small enough that real
collisions occur.  Side B re-draws the SAME entity's names and applies
an edit-distance-1 variant ~30% of the time (append / delete /
transpose — the web generator's variant mix), so A-B pairs exercise the
full scoring cascade.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["generate_persons_distributed"]

_SYL = [
    "ka", "ro", "mi", "ta", "le", "su", "na", "vi", "do", "pe",
    "ra", "jo", "ma", "li", "ben", "cor", "dan", "fel", "gar", "han",
    "sel", "tor", "van", "wil",
]


def _h(*cols: Column | str) -> Column:
    """Non-negative deterministic 64-bit hash of the inputs."""
    return F.abs(F.xxhash64(*cols))


def _name(key: Column) -> Column:
    """Three-syllable name from a 64-bit key (13,824 combinations)."""
    syl = F.array(*[F.lit(s) for s in _SYL])
    n = len(_SYL)
    return F.concat(
        F.element_at(syl, (key % n + 1).cast("int")),
        F.element_at(syl, ((key / n).cast("long") % n + 1).cast("int")),
        F.element_at(syl, ((key / (n * n)).cast("long") % n + 1).cast("int")),
    )


def _variant(name: Column, key: Column, rate: float = 0.30) -> Column:
    """Edit-distance-1 variant of ``name`` with probability ``rate``:
    append 'h' / delete one char / transpose two chars (deterministic
    in ``key``; mirrors sources/web._variant)."""
    r = key % 100
    i = (key % (F.length(name) - 2) + 2).cast("int")  # position 2..len-1
    one, rest = F.lit(1), F.lit(1 << 20)
    head = name.substr(F.lit(1), (i - 1).cast("int"))
    appended = F.concat(name, F.lit("h"))
    deleted = F.concat(head, name.substr(i + 1, rest))
    transposed = F.concat(
        head,
        name.substr(i + 1, one),
        name.substr(i, one),
        name.substr(i + 2, rest),
    )
    return (
        F.when(r >= int(rate * 100), name)
        .when(r % 3 == 0, appended)
        .when(r % 3 == 1, deleted)
        .otherwise(transposed)
    )


def generate_persons_distributed(
    spark: SparkSession,
    n: int,
    side: str = "a",
    seed: int = 42,
    partitions: int | None = None,
    variant_rate: float = 0.30,
) -> DataFrame:
    """n person rows (PERSON_SCHEMA shape) as pure Column expressions.

    Entity e(i) is shared across sides: row i on side "a" and row i on
    side "b" describe the same person (b re-draws names with
    ``variant_rate`` edit-1 noise and NULLs middle ~30%), so an A-B
    match job has ground truth without any driver-side state.
    """
    base = spark.range(0, n, numPartitions=partitions or max(8, n // 2_000_000))
    ent = F.col("id")
    fk = _h(F.concat(F.lit(f"s{seed}f"), ent))
    mk = _h(F.concat(F.lit(f"s{seed}m"), ent))
    lk = _h(F.concat(F.lit(f"s{seed}l"), ent))
    bd = F.date_add(
        F.lit("1950-01-01").cast("date"), (_h(F.concat(F.lit(f"s{seed}d"), ent)) % 18000).cast("int")
    )

    first, mid, last = _name(fk), _name(mk), _name(lk)
    if side == "b":
        vf = _h(F.concat(F.lit(f"s{seed}vf"), ent))
        vl = _h(F.concat(F.lit(f"s{seed}vl"), ent))
        first_v = _variant(first, vf, variant_rate)
        # at most one varied field per row (web generator's rule):
        # vary last only when first came through unchanged
        last_v = F.when(first_v == first, _variant(last, vl, variant_rate)).otherwise(last)
        first, last = first_v, last_v
        mid = F.when(_h(F.concat(F.lit(f"s{seed}vm"), ent)) % 10 < 3, F.lit(None)).otherwise(mid)

    offset = 0 if side == "a" else 1_000_000_000
    return base.select(
        (F.col("id") + F.lit(offset)).alias("id"),
        F.when(_h(F.concat(F.lit(f"s{seed}u"), ent)) % 5 == 0, F.lit(None))
        .otherwise(F.concat(F.lit("u"), ent.cast("string")))
        .alias("uuid"),
        first.alias("first_name"),
        mid.alias("middle_name"),
        last.alias("last_name"),
        bd.alias("birthdate"),
        F.lit(None).cast("string").alias("hh_id"),
        F.concat(F.lit("B"), (ent % 500).cast("string")).alias("barangay_code"),
        F.concat(F.lit("C"), (ent % 120).cast("string")).alias("city_code"),
    )
