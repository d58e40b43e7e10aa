"""Cache bookkeeping (round-1 finding: cache leaks).

Some operators ``cache()`` DataFrames whose lifetime extends past
their function return — the blocked fuzzy matchers cache the
per-person UDF materialization that three join tiers share
(algos.py), and ``run_cascade`` caches the two prepared sides that
every level reads, plus each level's matches, which the caller
consumes and from which the next level's exclusion id set fills.
The caller, not the operator, knows when the results have been
consumed, so the operators register every such frame here
(:func:`tracked_cache`) and long-running sessions call
:func:`unpersist_tracked` between queries (the driver-query registry
does this automatically — each query clears the previous query's
caches on entry).

``cache()`` is ``persist()`` at its default storage level
(``MEMORY_AND_DISK_DESER``), so this one helper covers both.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

__all__ = ["tracked_cache", "unpersist_tracked"]

_TRACKED: list[DataFrame] = []


def tracked_cache(df: DataFrame) -> DataFrame:
    out = df.cache()
    _TRACKED.append(out)
    return out


def unpersist_tracked(blocking: bool = False) -> int:
    """Unpersist every tracked DataFrame; returns how many."""
    n = 0
    while _TRACKED:
        df = _TRACKED.pop()
        try:
            df.unpersist(blocking)
            n += 1
        except Exception:
            pass  # session already stopped — nothing to release
    return n
