"""Arrow-batched pandas UDFs wrapping the parity-layer functions.

Only three things genuinely need Python at scale (everything else in
the engine is JVM Column expressions inside whole-stage codegen):

* ``normalize_text_udf`` — Unicode NFD + combining-mark stripping
  (per-PERSON, applied once per side before any join)
* ``dmeta_full_udf`` / ``dmeta_no_mid_udf`` — Double Metaphone code
  (per-PERSON; pair scoring then compares codes JVM-side)
* ``jaro_winkler_udf``   — the single per-PAIR Python hotspot

All are SCALAR pandas UDFs: Spark ships Arrow record batches
(``spark.sql.execution.arrow.maxRecordsPerBatch``), so there is no
per-row Python dispatch at the Spark level (north-rule requirement).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType, StringType

from .normalize import normalize_text
from .phonetics import dmeta_code_from_simple
from .similarity import jaro_winkler

__all__ = [
    "normalize_text_udf",
    "dmeta_full_udf",
    "dmeta_no_mid_udf",
    "jaro_winkler_udf",
]


#: process-level memo bound: name columns are highly repetitive (a 5M-row
#: national registry has ~100k distinct names), so caches persist across
#: Arrow batches in each reused python worker; cleared wholesale at the
#: bound to keep worker RSS flat on adversarial high-cardinality input
_CACHE_MAX = 1 << 20


def _bounded(cache: dict) -> dict:
    if len(cache) > _CACHE_MAX:
        cache.clear()
    return cache


_norm_cache: dict[str, str] = {}


@pandas_udf(StringType())
def normalize_text_udf(s: pd.Series) -> pd.Series:
    cache = _bounded(_norm_cache)

    def norm(x: str | None):
        if x is None:
            return None
        hit = cache.get(x)
        if hit is None:
            hit = cache[x] = normalize_text(x)
        return hit

    return s.map(norm)


def _dmeta_from_names(parts: tuple) -> str:
    from .normalize import simple_full_name, simple_full_name_no_mid

    if len(parts) == 3:
        simple = simple_full_name(parts[0], parts[1], parts[2])
    else:
        simple = simple_full_name_no_mid(parts[0], parts[1])
    return dmeta_code_from_simple(simple)


_dmeta_full_cache: dict[tuple, str] = {}
_dmeta_no_mid_cache: dict[tuple, str] = {}


@pandas_udf(StringType())
def dmeta_full_udf(first: pd.Series, mid: pd.Series, last: pd.Series) -> pd.Series:
    """dmeta(simple_full_name(first, mid, last)) straight from the raw
    name columns — lets ALL per-person UDFs live in one projection
    (single ArrowEval node, one Arrow round trip per batch)."""
    cache = _bounded(_dmeta_full_cache)
    out = []
    for t in zip(first, mid, last):
        v = cache.get(t)
        if v is None:
            v = cache[t] = _dmeta_from_names(t)
        out.append(v)
    return pd.Series(out, dtype="object")


@pandas_udf(StringType())
def dmeta_no_mid_udf(first: pd.Series, last: pd.Series) -> pd.Series:
    cache = _bounded(_dmeta_no_mid_cache)
    out = []
    for t in zip(first, last):
        v = cache.get(t)
        if v is None:
            v = cache[t] = _dmeta_from_names(t)
        out.append(v)
    return pd.Series(out, dtype="object")


_jw_cache: dict[tuple[str, str], float] = {}


@pandas_udf(DoubleType())
def jaro_winkler_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """strsim-0.11 Jaro-Winkler over pair batches, with a process-level
    memo (blocked candidate batches repeat the probe-side string)."""
    cache = _bounded(_jw_cache)
    out = []
    for x, y in zip(a, b):
        if x is None or y is None:
            out.append(0.0)
            continue
        key = (x, y)
        v = cache.get(key)
        if v is None:
            v = cache[key] = jaro_winkler(x, y)
        out.append(v)
    return pd.Series(out, dtype="float64")
