"""Event-log operators: gap-based sessionization.

The reference has no event-log surface (its events are match-run audit
rows); this operator family belongs to the large-scale training-data
side of the engine — turning raw interaction/crawl logs into
per-session training examples is the standard first step of behavioral
pipelines, exactly like `events_hourly` is for rollups.

Scale design (100 TB): `sessionize` costs ONE hash exchange on the
user column.  The session-numbering window sorts within partitions,
and the per-session aggregation groups on (user, session_seq) — a
superset of the partition key — so Catalyst reuses the same exchange
for both (no second shuffle; verify with .explain: a single Exchange
feeding Window then HashAggregate).  Per-user state is bounded by that
user's event count, never by corpus size; a pathological power user is
still one partition's sort, and AQE skew-split cannot break window
semantics because the window key equals the exchange key.

Gap arithmetic is exact integer microseconds (timestamp + INTERVAL
comparison), never float seconds, so the DuckDB oracle (epoch_us) is
bit-identical.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    how: str = "left",
) -> DataFrame:
    """Point-in-time (as-of) join: every left row gains the columns of
    the LATEST right row with ``right_ts <= left_ts`` for the same
    ``on`` key (inclusive match, standard ASOF semantics — DuckDB's
    `ASOF JOIN` with ``l.ts >= r.ts`` is the oracle twin).

    ``right`` must be unique per (on, right_ts) — pre-aggregate it if
    not, exactly as a SQL ASOF would need for determinism.  All right
    columns except the key (including ``right_ts``) are carried into
    the output; rename collisions on the right side before calling.

    Spark has no native as-of join; the usual workarounds are a range
    crossjoin+argmax (quadratic per key) or a broadcast-sorted probe
    (right side must fit in memory).  This is the scalable form:
    union-tag both sides, ONE hash exchange on the key, one in-
    partition sort by (ts, side), and a running ``last(ignorenulls)``
    window carries the newest right payload forward onto left rows.
    Cost is sort-merge-shaped — O(n log n) per partition, any right
    size, no memory cliff — and AQE cannot mis-plan it because the
    window key equals the exchange key.  Right rows order BEFORE left
    rows at equal timestamps (side 0 < 1), which yields the inclusive
    ``<=`` bound.
    """
    if how not in ("left", "inner"):
        raise ValueError("asof_join supports how='left'|'inner'")
    rcols = [c for c in right.columns if c != on]
    # a NULL right_ts can never satisfy `right_ts <= left_ts` (SQL
    # three-valued logic; DuckDB ASOF agrees) — drop such rows before
    # tagging, or NULLS FIRST ordering would carry their payload onto
    # every left row at the partition head
    right = right.filter(F.col(right_ts).isNotNull())
    r2 = right.select(
        F.col(on),
        F.col(right_ts).alias("_asof_t"),
        F.struct(*rcols).alias("_asof_p"),
        F.lit(0).alias("_asof_side"),
    )
    payload_t = r2.schema["_asof_p"].dataType
    l2 = left.withColumns(
        {
            "_asof_t": F.col(left_ts),
            "_asof_p": F.lit(None).cast(payload_t),
            "_asof_side": F.lit(1),
        }
    )
    u = l2.unionByName(r2, allowMissingColumns=True)
    w = (
        Window.partitionBy(on)
        .orderBy("_asof_t", "_asof_side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    u = u.withColumn("_asof_m", F.last("_asof_p", ignorenulls=True).over(w))
    out = u.filter(F.col("_asof_side") == 1)
    if how == "inner":
        out = out.filter(F.col("_asof_m").isNotNull())
    exp = {c: F.col("_asof_m")[c] for c in rcols}
    return (
        out.withColumns(exp)
        .drop("_asof_t", "_asof_p", "_asof_side", "_asof_m")
    )


def range_join(
    left: DataFrame,
    right: DataFrame,
    left_point: str,
    right_start: str,
    right_end: str,
    on: str | None = None,
    bucket_width: float | None = None,
    max_buckets_per_interval: int = 4096,
) -> DataFrame:
    """Point-in-interval range join: all (left, right) pairs with
    ``right_start <= left_point <= right_end`` (and equal ``on`` key
    if given).  Point/start/end are numeric columns (e.g. epoch
    microseconds) — callers convert timestamps first.

    Spark plans a bare inequality join as BroadcastNestedLoopJoin —
    quadratic and memory-cliffed.  The scale path here buckets the
    axis by ``bucket_width``: each left point lands in exactly ONE
    bucket (so no output dedup is needed), each right interval
    explodes to the buckets it covers (JVM `sequence`, bounded
    replication), and the join becomes a shuffled equi-join on
    (key, bucket) + an exact BETWEEN filter.  Pick bucket_width near
    the typical interval length: replication is
    ~1 + interval/bucket_width.

    Intervals covering more than ``max_buckets_per_interval`` buckets
    are NOT exploded (a degenerate mega-interval would replicate
    itself into millions of rows); they fall back to a plain equi-join
    on the key + BETWEEN — principled, because a long interval matches
    a large share of its key's points anyway, so bucket replication
    buys nothing there.  With ``on=None`` the fallback is a broadcast
    of the (few) oversized intervals.  Both legs are JVM-only.
    """
    if bucket_width is None or bucket_width <= 0:
        raise ValueError("bucket_width must be a positive number")
    pt, lo, hi = F.col(left_point), F.col(right_start), F.col(right_end)
    n_buckets = (F.floor(hi / bucket_width) - F.floor(lo / bucket_width)) + 1
    small = right.filter(n_buckets <= max_buckets_per_interval)
    big = right.filter(n_buckets > max_buckets_per_interval)

    exploded = small.withColumn(
        "_rj_bucket",
        F.explode(
            F.sequence(
                F.floor(lo / bucket_width), F.floor(hi / bucket_width)
            )
        ),
    )
    lb = left.withColumn("_rj_bucket", F.floor(pt / bucket_width))
    keys = ["_rj_bucket"] + ([on] if on else [])
    out = (
        lb.join(exploded, on=keys, how="inner")
        .filter((pt >= lo) & (pt <= hi))
        .drop("_rj_bucket")
    )

    if on:
        big_leg = left.join(big, on=[on], how="inner").filter(
            (pt >= lo) & (pt <= hi)
        )
    else:
        big_leg = left.join(
            F.broadcast(big), on=(pt >= lo) & (pt <= hi), how="inner"
        )
    return out.unionByName(big_leg)


def sessionize(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    order_col: str = "event_id",
    gap_sec: int = 1800,
) -> DataFrame:
    """Assign a per-user ordinal ``session_seq`` (1-based): a new
    session starts at the first event and whenever the gap since the
    previous event exceeds ``gap_sec``.

    ``order_col`` breaks timestamp ties deterministically; ties never
    change session membership (gap 0), only the stable sort order.
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, order_col)
    prev = F.lag(F.col(ts_col)).over(w)
    # gap test as a direct timestamp comparison (prev + INTERVAL):
    # exact integer-microsecond arithmetic, NTZ-and-LTZ-safe and
    # timezone-free like timestamp_diff, but measurably cheaper inside
    # the window hot loop — at 80M rows/local[32] the timestamp_diff
    # form ran 18.4s vs 14.6s for this one (window framework floor
    # 11.9s; see BASELINE.md round-5c scale notes).  unix_micros is
    # not an option: it rejects TIMESTAMP_NTZ parquet columns.
    brk: Column = (
        F.when(
            prev.isNull()
            | (
                F.col(ts_col)
                > prev + F.expr(f"INTERVAL {int(gap_sec)} SECOND")
            ),
            1,
        )
        .otherwise(0)
    )
    return (
        events.withColumn("_brk", brk)
        .withColumn(
            "session_seq",
            F.sum("_brk").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .drop("_brk")
    )


def session_stats(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    order_col: str = "event_id",
    gap_sec: int = 1800,
    value_col: str | None = "value",
) -> DataFrame:
    """Per-session rollup: bounds (as real timestamps), event count,
    summed value.  Same single exchange as `sessionize` (group key ⊇
    partition key)."""
    agg = [
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        F.count("*").alias("n_events"),
    ]
    if value_col is not None:
        # Partition-order-invariant sum: fold the session's values
        # serially in (ts, order_col) order instead of F.sum.  A
        # parallel float SUM's value depends on partition/accumulation
        # order, and floor(sum*1e6) of a money-like (2-decimal) column
        # lands within ulps of a 1e-6 grid boundary on EVERY session —
        # so the floored total was a per-session coin flip across
        # partitionings.  The serial in-order left fold is
        # deterministic: the same value under any Spark partitioning.
        # It does NOT match the DuckDB oracle's SUM, which accumulates
        # in its own order — the events_sessionize oracle check still
        # records hash_match false (rows and schema match).  Sessions
        # are bounded by one user's burst, so the per-group array is
        # small; the group key still ⊇ the window partition key — one
        # exchange end-to-end.
        ev = F.array_sort(
            F.collect_list(
                F.when(
                    F.col(value_col).isNotNull(),
                    F.struct(
                        F.col(ts_col).alias("t"),
                        F.col(order_col).alias("o"),
                        F.col(value_col).alias("v"),
                    ),
                )
            )
        )
        folded = F.aggregate(ev, F.lit(0.0), lambda acc, x: acc + x["v"])
        agg.append(
            F.when(F.size(ev) > 0, F.floor(folded * 1e6) / 1e6).alias(
                "sum_value"
            )
        )
    return (
        sessionize(events, user_col, ts_col, order_col, gap_sec)
        .groupBy(user_col, "session_seq")
        .agg(*agg)
    )
