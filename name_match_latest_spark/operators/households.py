"""Household aggregation — Options 5 and 6 (mod.rs:591-835, :840-1092).

Shape: person-level FuzzyNoMiddle pairs -> best-1 household per person
(argmax confidence with tie semantics) -> group by (uuid, hh) ->
match_percentage = matched/total*100 -> keep > 50 -> deterministic sort.

Tie semantics (faithful translation of mod.rs:747-793): the reference
scans pairs in arrival order keeping (best_hh, conf, tie): a strictly
higher conf replaces; an equal conf with lexicographically smaller hh
replaces and CLEARS the tie flag; an equal conf with a different,
larger hh SETS it.  Net effect: the person counts toward min(hh) at
top confidence iff no pair with a different hh arrives AFTER the first
arrival of min(hh).  Arrival order = other-side input order = other-
side id ascending (t2 index order in by_bd2 lists, mod.rs:2925-2930) —
which we reproduce with window functions, keeping the whole operator
JVM-side:

    top        = max(conf)                 over person
    hh_min     = min(hh | conf == top)     over person
    first_min  = min(other_id | conf == top and hh == hh_min)
    tie        = any(conf == top and hh != hh_min and other_id > first_min)

Confidence equality is exact (f64); the reference compares f32 within
EPSILON, which for identically-derived scores is the same predicate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["household_aggregate", "best_assignment"]


def best_assignment(
    pairs: DataFrame,
    person_id: str,
    group_col: str,
    arrival_id: str,
    min_conf: float,
) -> DataFrame:
    """One (person -> group) assignment per person, tie-dropped.

    ``pairs`` needs columns: person_id, group_col, arrival_id,
    confidence.  Returns person_id + group_col (+ any grouping payload
    columns must be re-joined by the caller).
    """
    p = pairs.filter(F.col("confidence") >= F.lit(min_conf))
    w = Window.partitionBy(person_id)
    p = p.withColumn("_top", F.max("confidence").over(w)).filter(
        F.col("confidence") == F.col("_top")
    )
    p = p.withColumn("_hh_min", F.min(group_col).over(w))
    p = p.withColumn(
        "_first_min",
        F.min(F.when(F.col(group_col) == F.col("_hh_min"), F.col(arrival_id))).over(w),
    )
    p = p.withColumn(
        "_tie",
        F.max(
            (
                (F.col(group_col) != F.col("_hh_min"))
                & (F.col(arrival_id) > F.col("_first_min"))
            ).cast("int")
        ).over(w),
    )
    return (
        p.filter((F.col("_tie") == 0) & (F.col(group_col) == F.col("_hh_min")))
        .select(person_id, group_col)
        .dropDuplicates([person_id])
    )


def household_aggregate(
    pairs: DataFrame,
    t1: DataFrame,
    t2: DataFrame,
    min_conf: float,
    option: int = 5,
) -> DataFrame:
    """Aggregate person-level pairs into HouseholdAggRow rows.

    option=5 (mod.rs:591-835): best t2-household per T1 person;
    denominator = T1 uuid size; requires t1 uuid non-null.
    option=6 (mod.rs:840-1092): best t1-uuid per T2 person;
    denominator = T2 hh size (hh_id falls back to str(id)).

    Output: row_id, uuid, hh_id (bigint, unparseable -> 0),
    match_percentage — sorted by (uuid, hh_id); row_id assigned in
    (uuid, hh_key-string) order (BTreeMap iteration, mod.rs:798).
    """
    pairs = pairs.withColumn(
        "_hh_key", F.coalesce(F.col("t2_hh_id"), F.col("t2_id").cast("string"))
    ).filter(F.col("t1_uuid").isNotNull())
    # NOTE (round-6 measurement): pairs feed BOTH the best-assignment
    # window lineage and the uuid/hh re-attachment map, so the pair
    # lineage executes twice.  A localCheckpoint here (even projected
    # to the five consumed columns) measured ~2x SLOWER at bench scale
    # than the double execution — the materialization job serializes
    # what the scheduler otherwise overlaps, and Catalyst prunes each
    # consumer's side to a narrow column set anyway.  Callers whose
    # pair lineage is genuinely expensive (a fuzzy scoring cascade)
    # should checkpoint/persist the pairs THEMSELVES before calling.

    if option == 5:
        assigned = best_assignment(
            pairs.withColumn("_grp", F.col("_hh_key")),
            person_id="t1_id",
            group_col="_grp",
            arrival_id="t2_id",
            min_conf=min_conf,
        )
        # re-attach uuid of the t1 person
        uuid_map = pairs.select("t1_id", "t1_uuid").dropDuplicates(["t1_id"])
        assigned = assigned.join(uuid_map, "t1_id")
        matched = assigned.groupBy(
            F.col("t1_uuid").alias("uuid"), F.col("_grp").alias("hh_key")
        ).agg(F.count("*").alias("members"))
        totals = (
            t1.filter(F.col("uuid").isNotNull())
            .groupBy(F.col("uuid"))
            .agg(F.count("*").alias("total"))
        )
        agg = matched.join(F.broadcast(totals), "uuid")
    else:
        assigned = best_assignment(
            pairs.withColumn("_grp", F.col("t1_uuid")),
            person_id="t2_id",
            group_col="_grp",
            arrival_id="t1_id",
            min_conf=min_conf,
        )
        hh_map = pairs.select("t2_id", "_hh_key").dropDuplicates(["t2_id"])
        assigned = assigned.join(hh_map, "t2_id")
        matched = assigned.groupBy(
            F.col("_grp").alias("uuid"), F.col("_hh_key").alias("hh_key")
        ).agg(F.count("*").alias("members"))
        totals = t2.groupBy(
            F.coalesce(F.col("hh_id"), F.col("id").cast("string")).alias("hh_key")
        ).agg(F.count("*").alias("total"))
        agg = matched.join(F.broadcast(totals), "hh_key")

    agg = agg.withColumn(
        "match_percentage", F.col("members") / F.col("total") * 100.0
    ).filter(F.col("match_percentage") > 50.0)

    out = agg.withColumn(
        "hh_id", F.coalesce(F.col("hh_key").try_cast("bigint"), F.lit(0))
    )

    # row_id follows the reference's BTreeMap iteration order: (uuid,
    # hh) for opt5 (mod.rs:787-798), (hh, uuid) for opt6 (:1057-1068).
    # A global Window.orderBy is a one-partition sort — acceptable
    # because it runs AFTER the >50% filter (output is household-level,
    # ~|uuid| rows, already reduced by two shuffles).
    order_w = (
        Window.orderBy("uuid", "hh_key") if option == 5 else Window.orderBy("hh_key", "uuid")
    )
    return (
        out.withColumn("row_id", F.row_number().over(order_w))
        .select("row_id", "uuid", "hh_id", "match_percentage")
        .orderBy("uuid", "hh_id")
    )
