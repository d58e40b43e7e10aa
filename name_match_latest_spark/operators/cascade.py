"""The L1-L11 advanced-matching cascade (advanced_matcher.rs + cascade.rs).

L1-L9 are exact hash equi-joins on composite pipe-joined keys
(advanced_matcher.rs:77-156); L10/L11 are birthdate-blocked fuzzy
joins (:289-478).  The cascade driver (cascade.rs:622-903) is
orchestration: a Python loop over levels with left-anti exclusion of
already-matched ids between iterations — not a new Spark operator.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..plans.caching import tracked_cache
from .blocking import birthdate_pairs, pair_join
from .scoring import score_pairs

__all__ = ["CascadeConfig", "LevelResult", "exact_key_col", "match_level", "run_cascade"]


def _full_middle_valid(mid: Column) -> Column:
    """>=2 non-dot non-space chars after stripping leading/trailing
    dots (advanced_matcher.rs:84-91)."""
    stripped = F.regexp_replace(mid, r"^\.+|\.+$", "")
    return F.length(F.regexp_replace(stripped, r"\s", "")) >= 2


def _middle_initials_col(mid: Column) -> Column:
    """First ASCII-alpha char per whitespace token, lowercased,
    concatenated; NULL when empty (advanced_matcher.rs:52-61)."""
    initials = F.array_join(
        F.transform(
            F.split(mid, r"\s+"),
            lambda t: F.lower(F.regexp_extract(t, "[a-zA-Z]", 0)),
        ),
        "",
    )
    return F.when(mid.isNull() | (initials == ""), F.lit(None)).otherwise(initials)


def _geo_norm(code: Column) -> Column:
    """normalize_text applied to geo codes (advanced_matcher.rs:118).
    Codes are ASCII in practice; lower+trim is the exact equivalent
    for mark-free input (tests cover the general path via the UDF)."""
    return F.lower(F.trim(code))


def exact_key_col(level: int, p: str = "") -> Column:
    """Pipe-joined exact key for L1-L9 (advanced_matcher.rs:77-156).
    NULL when any required component is missing — null keys never join.
    """
    f = F.col(f"{p}first_n")
    l = F.col(f"{p}last_n")
    mid = F.col(f"{p}middle_n")
    bd = F.col(f"{p}bd_str")
    brgy = _geo_norm(F.col(f"{p}barangay_code"))
    city = _geo_norm(F.col(f"{p}city_code"))

    mfull = F.when(_full_middle_valid(mid), mid)  # NULL if not valid
    mi = _middle_initials_col(mid)

    def key(*parts: Column) -> Column:
        # concat propagates NULL if any part is NULL (unlike concat_ws)
        out = parts[0]
        for x in parts[1:]:
            out = F.concat(out, F.lit("|"), x)
        return F.when(f.isNull() | l.isNull(), F.lit(None)).otherwise(out)

    if level == 1:
        return key(f, l, mfull, bd)
    if level == 2:
        return key(f, l, mi, bd)
    if level == 3:
        return key(f, l, bd)
    if level == 4:
        return key(f, l, mfull, brgy)
    if level == 5:
        return key(f, l, mi, brgy)
    if level == 6:
        return key(f, l, brgy)
    if level == 7:
        return key(f, l, mfull, city)
    if level == 8:
        return key(f, l, mi, city)
    if level == 9:
        return key(f, l, city)
    raise ValueError(f"no exact key for level {level}")


_EXACT_FIELDS = {
    1: ["first_name", "middle_name", "last_name", "birthdate"],
    2: ["first_name", "middle_initial", "last_name", "birthdate"],
    3: ["first_name", "last_name", "birthdate"],
    4: ["first_name", "middle_name", "last_name", "barangay_code"],
    5: ["first_name", "middle_initial", "last_name", "barangay_code"],
    6: ["first_name", "last_name", "barangay_code"],
    7: ["first_name", "middle_name", "last_name", "city_code"],
    8: ["first_name", "middle_initial", "last_name", "city_code"],
    9: ["first_name", "last_name", "city_code"],
}


def _fuzzy_level(
    t1: DataFrame,
    t2: DataFrame,
    level: int,
    threshold: float,
    allow_swap: bool,
    max_block: int | None,
) -> DataFrame:
    """L10 (full middle, swap per config) / L11 (no middle, swap
    hard-forced off — advanced_matcher.rs:396)."""
    swap = allow_swap if level == 10 else False
    t1 = t1.filter(F.col("birthdate").isNotNull())
    t2 = t2.filter(F.col("birthdate").isNotNull())
    if level == 10:
        # full-middle validity required on BOTH sides (:359-375); a pure
        # per-side condition, filtered before the join (equivalent,
        # cheaper).  The reference checks the RAW middle, trimmed first
        # (:359-372) — unlike L1's key which checks the normalized one.
        t1 = t1.filter(_full_middle_valid(F.trim(F.col("middle_name"))))
        t2 = t2.filter(_full_middle_valid(F.trim(F.col("middle_name"))))

    pairs = birthdate_pairs(t1, t2, swap, max_block=max_block)
    scored = score_pairs(pairs, no_middle=(level == 11))
    scored = scored.filter(F.col("confidence") >= threshold)
    fields = (
        ["fuzzy", "first_name", "middle_name", "last_name", "birthdate"]
        if level == 10
        else ["fuzzy", "first_name", "last_name", "birthdate"]
    )
    return scored.withColumn("matched_fields", F.array(*[F.lit(x) for x in fields]))


def match_level(
    t1: DataFrame,
    t2: DataFrame,
    level: int,
    threshold: float = 0.95,
    allow_swap: bool = False,
    max_block: int | None = None,
) -> DataFrame:
    """One cascade level as a MatchPair DataFrame (inputs prepared)."""
    if level in (10, 11):
        return _fuzzy_level(t1, t2, level, threshold, allow_swap, max_block)
    pairs = pair_join(t1, t2, lambda p: [exact_key_col(level, p)])
    return pairs.withColumns(
        {
            "confidence": F.lit(1.0),
            "matched_fields": F.array(*[F.lit(x) for x in _EXACT_FIELDS[level]]),
            "case_label": F.lit(f"L{level}"),
        }
    )


@dataclass
class CascadeConfig:
    """cascade.rs:72-118 (compute-backend fields are Spark-irrelevant)."""

    levels: list[int] = field(default_factory=lambda: list(range(1, 12)))
    threshold: float = 0.95
    allow_birthdate_swap: bool = False
    exclusive: bool = True  # Exclusive vs Independent (cascade.rs:60-69)
    max_fuzzy_block: int | None = None


@dataclass
class LevelResult:
    level: int
    matches: DataFrame
    match_count: int


def run_cascade(
    t1: DataFrame, t2: DataFrame, cfg: CascadeConfig | None = None
) -> list[LevelResult]:
    """Driver loop (cascade.rs:622-903): run levels in order; in
    exclusive mode, ids matched at level k are removed from BOTH sides
    for levels > k (cascade.rs:797-809).

    Both prepared sides are cached once at entry (the reference's
    per-person fuzzy cache, mod.rs:418-463), and every level reads
    those two cached relations, so the per-person preparation UDFs run
    once per row for the whole cascade, in both modes.  Each level's
    matches DataFrame is cached and materialized (count) before the
    next level runs.

    Exclusion is one left-anti join per side against ``done``, the
    union of the ``(t1_id, t2_id)`` projections of every earlier level
    that matched.  A lazy ``localCheckpoint`` cuts each projection from
    its level's lineage and fills from the level's cache during the
    next level's first job, so it adds no job and a level's plan holds
    id-set scans, not every earlier level's plan (chained anti-joins
    over the previous levels' frames nest each plan inside the next,
    and the driver re-analyses the whole tree on every call).  As with
    ``connected_components``' per-round checkpoints, an id set lives
    on the executors only and is lost with one; that trade is cheap
    here, as the sets are two ``long`` columns.  Spark's ContextCleaner
    frees them with the level frames that read them.

    Levels come back unsorted: ordering is the sinks' job (the CLI
    writers and ``write_matches_csv`` sort by ``(t1_id, t2_id)``).
    All caches are registered with :func:`tracked_cache`; release them
    with ``unpersist_tracked`` once the results are consumed.
    """
    cfg = cfg or CascadeConfig()
    t1, t2 = tracked_cache(t1), tracked_cache(t2)
    rem1, rem2 = t1, t2
    done: DataFrame | None = None
    out: list[LevelResult] = []
    for i, level in enumerate(cfg.levels):
        m = match_level(
            rem1,
            rem2,
            level,
            threshold=cfg.threshold,
            allow_swap=cfg.allow_birthdate_swap,
            max_block=cfg.max_fuzzy_block,
        )
        m = tracked_cache(m)
        count = m.count()
        out.append(LevelResult(level, m, count))
        # after the last level nothing reads the id set
        if cfg.exclusive and count > 0 and i + 1 < len(cfg.levels):
            ids = m.select("t1_id", "t2_id").localCheckpoint(eager=False)
            done = ids if done is None else done.union(ids)
            rem1 = t1.join(done.select(F.col("t1_id").alias("id")), "id", "left_anti")
            rem2 = t2.join(done.select(F.col("t2_id").alias("id")), "id", "left_anti")
    return out
