"""Driver-contract queries: Spark engine vs DuckDB oracle SQL.

Every entry exercises one operator family from SURVEY.md §2 on the
driver testdata (`/root/testdata/sf*`).  Person tables are DERIVED
deterministically from `part` with dialect-neutral SQL that both
Spark and DuckDB execute identically (names are lowercase ASCII, so
the Unicode normalizers are identity here — their semantics are
covered by pytest parity vectors instead).

33 of 34 queries carry a value-hash DuckDB oracle (round 2 flipped the
full fuzzy cascades via a precomputed Double-Metaphone side-table, the
md5-deterministic LSH families, the opt6 households, the exclusive
cascade chain, and connected components via recursive-CTE closure).
The one rows-only query (web_cluster_pages) consumes Python-generated
pages DuckDB cannot replay; its stages are covered piecewise.

Float outputs use floor(x*1e6)/1e6 in BOTH engines (floor is
rounding-mode-free, unlike round()).  All hashing is md5 (portable).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register the testdata tables as temp views.

    Idempotent per (session, sf_dir): every ``spark.read.parquet``
    call runs a driver-side schema/footer job, so re-registering ten
    tables at EVERY query construction cost ~12 jobs per query
    (round-6 profiling: 12 of algo1's 13 jobs were these reads).
    Only metadata is memoized — the views stay lazy plans and every
    execution re-scans the parquet files; switching ``sf_dir`` within
    a session re-registers (the memo tracks the CURRENT dir, so
    A->B->A ping-pong stays correct), and so does a dropped view
    (``tableExists`` is a catalog lookup, not a Spark job)."""
    if getattr(spark, "_nm_views_dir", None) == sf_dir and all(
        spark.catalog.tableExists(t) for t in TABLES
    ):
        return
    for t in TABLES:
        spark.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)
    spark._nm_views_dir = sf_dir


# ---------------------------------------------------------------------------
# Deterministic person derivation (dialect-neutral SQL — runs verbatim
# in Spark SQL and DuckDB)
# ---------------------------------------------------------------------------

PERSONS_A_SQL = """
SELECT
  p_partkey AS id,
  concat('u', lpad(cast(p_partkey % 211 AS STRING), 5, '0')) AS uuid,
  split_part(p_name, ' ', 1) AS first_name,
  CASE WHEN p_partkey % 4 = 0 THEN CAST(NULL AS STRING)
       ELSE split_part(p_name, ' ', 2) END AS middle_name,
  split_part(p_name, ' ', 2) AS last_name,
  make_date(1950 + (p_partkey * 7) % 50,
            1 + (p_partkey * 5) % 12,
            1 + (p_partkey * 3) % 28) AS birthdate,
  CAST(NULL AS STRING) AS hh_id,
  concat('B', lpad(cast(p_partkey % 500 AS STRING), 4, '0')) AS barangay_code,
  concat('C', lpad(cast(p_partkey % 120 AS STRING), 3, '0')) AS city_code
FROM part
"""

PERSONS_B_SQL = """
SELECT
  p_partkey + 1000000 AS id,
  CAST(NULL AS STRING) AS uuid,
  CASE WHEN p_partkey % 5 = 0 THEN concat(split_part(p_name, ' ', 1), 'h')
       ELSE split_part(p_name, ' ', 1) END AS first_name,
  CASE WHEN p_partkey % 3 = 0 THEN CAST(NULL AS STRING)
       ELSE split_part(p_name, ' ', 2) END AS middle_name,
  split_part(p_name, ' ', 2) AS last_name,
  CASE WHEN p_partkey % 7 = 0 AND (1 + (p_partkey * 3) % 28) <= 12
       THEN make_date(1950 + (p_partkey * 7) % 50,
                      1 + (p_partkey * 3) % 28,
                      1 + (p_partkey * 5) % 12)
       ELSE make_date(1950 + (p_partkey * 7) % 50,
                      1 + (p_partkey * 5) % 12,
                      1 + (p_partkey * 3) % 28) END AS birthdate,
  cast(2000 + p_partkey % 211 AS STRING) AS hh_id,
  concat('B', lpad(cast((p_partkey * 3) % 500 AS STRING), 4, '0')) AS barangay_code,
  concat('C', lpad(cast((p_partkey * 3) % 120 AS STRING), 3, '0')) AS city_code
FROM part
"""

_PERSONS_CTE = f"WITH pa AS ({PERSONS_A_SQL}), pb AS ({PERSONS_B_SQL})"


def load_persons(spark: SparkSession, sf_dir: str):
    """Prepared (t1, t2) person DataFrames derived from part.

    NOTE (round-6 measurement): the testdata parquet is single-row-
    group, so this scan (and the per-person UDF projection above it)
    runs as ONE task.  An unconditional repartition(defaultParallelism)
    here was A/B-measured interleaved in one session: it HELPED only
    the explode-heavy cascade L10 (-0.7s) and hurt algo1/algo3 (+0.5s)
    — the per-person UDFs are memo-cached (~15k distinct names), so
    the serial eval is cheaper than the extra exchange + 32-task
    scheduling it buys.  Left as-is deliberately."""
    from .operators.persons import prepare_persons

    register_views(spark, sf_dir)
    return (
        prepare_persons(spark.sql(PERSONS_A_SQL)),
        prepare_persons(spark.sql(PERSONS_B_SQL)),
    )


# --- SQL builders -----------------------------------------------------------


def _sx_sql(col: str) -> str:
    """The nonstandard soundex4 as (DuckDB-compatible, RE2-safe) SQL."""
    letters = f"regexp_replace({col}, '[^a-zA-Z]', '', 'g')"
    collapsed = (
        f"translate(lower(substr({letters}, 2, 100000)),"
        f" 'abcdefghijklmnopqrstuvwxyz', '01230120022455012623010202')"
    )
    for d in "123456":
        collapsed = f"regexp_replace({collapsed}, '{d}{{2,}}', '{d}', 'g')"
    nozeros = f"regexp_replace({collapsed}, '0', '', 'g')"
    return (
        f"CASE WHEN {letters} = '' THEN '0000' ELSE "
        f"upper(substr({letters}, 1, 1)) || rpad(substr({nozeros}, 1, 3), 3, '0') END"
    )


_F6 = "floor({expr} * 1000000) / 1000000"


def _f6(expr: str) -> str:
    return _F6.format(expr=expr)


_SWAP_B = (
    "(pa.birthdate = CASE WHEN day(pb.birthdate) <= 12 THEN "
    "make_date(year(pb.birthdate), day(pb.birthdate), month(pb.birthdate)) END)"
)


def _bd_cond(allow_swap: bool) -> str:
    base = "pa.birthdate = pb.birthdate"
    return f"({base} OR {_SWAP_B})" if allow_swap else base


# full-name expressions (names already lowercase ascii; normalize_simple
# is identity except the None -> '' double-space quirk)
_FULL_A = "concat(pa.first_name, ' ', coalesce(pa.middle_name, ''), ' ', pa.last_name)"
_FULL_B = "concat(pb.first_name, ' ', coalesce(pb.middle_name, ''), ' ', pb.last_name)"
_FULL_A_NM = "concat(pa.first_name, ' ', pa.last_name)"
_FULL_B_NM = "concat(pb.first_name, ' ', pb.last_name)"


def _lev_pct(a: str, b: str) -> str:
    return (
        f"CASE WHEN greatest(length({a}), length({b})) = 0 THEN 100.0 "
        f"ELSE (1.0 - levenshtein({a}, {b}) * 1.0 / greatest(length({a}), length({b}))) * 100.0 END"
    )


# ---------------------------------------------------------------------------
# Full fuzzy-cascade oracle (Double Metaphone via inline side-table)
# ---------------------------------------------------------------------------
#
# dmeta is not SQL-expressible, but it IS a pure function of the full-
# name string — scripts/gen_dmeta_map.py materializes code(s) for every
# distinct name string the part-derived person tables can produce (the
# TPC-H color vocabulary keeps this to a few hundred rows), and the
# oracle carries it as an inline VALUES CTE keyed by the STRING, which
# the SQL computes itself.  The Spark engine computes dmeta with its
# own pandas UDF (functions/phonetics.py) — two independent paths.


def _dmeta_values_cte() -> str | None:
    import pyarrow.parquet as pq

    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "..", "fixtures", "dmeta_map.parquet"
    )
    try:
        t = pq.read_table(path)
    except (OSError, ImportError):
        # running from a --py-files zip (no fixtures dir): the Spark
        # queries are unaffected; the three full-cascade oracles
        # degrade to rows-only rather than failing the whole import
        return None
    rows = ",".join(
        f"('{s}','{c}')"
        for s, c in zip(t.column("s").to_pylist(), t.column("code").to_pylist())
    )
    return f"dm AS (SELECT * FROM (VALUES {rows}) AS _dmv(s, code))"


_DM_CTE = _dmeta_values_cte()


def _swap_sql(a: str, b: str) -> str:
    """a.birthdate == swap(b.birthdate) (defined only when day<=12)."""
    return (
        f"({a}.birthdate = CASE WHEN day({b}.birthdate) <= 12 THEN "
        f"make_date(year({b}.birthdate), day({b}.birthdate), month({b}.birthdate)) END)"
    )


def _bd_cond2(a: str, b: str, allow_swap: bool) -> str:
    base = f"{a}.birthdate = {b}.birthdate"
    return f"({base} OR {_swap_sql(a, b)})" if allow_swap else base


def _score_metrics_ctes(
    cand: str, no_middle: bool, carry: str = "", prefix: str = ""
) -> str:
    """The score_pairs classification (scoring.py:43-113 / reference
    mod.rs:465-561) as a CTE chain over a candidate CTE exposing
    columns: t1_id, t2_id, f1, f2 (simple full strings), dm1, dm2
    (dmeta codes), sf1/sf2, sl1/sl2 (+ sm1/sm2 unless no_middle)
    simple field strings.  Produces ``{prefix}cls`` with columns
    t1_id, t2_id [, carry...], case_label (NULL for non-match), score.
    ``carry`` ("", or ", col AS x, ...") rides extra columns through.
    """
    flev = "levenshtein(sf1, sf2) <= 2 AND levenshtein(sl1, sl2) <= 2"
    if not no_middle:
        flev += " AND levenshtein(sm1, sm2) <= 2"
    return f"""
{prefix}metrics AS (
  SELECT t1_id, t2_id{carry}, f1, f2,
         {_lev_pct('f1', 'f2')} AS lev,
         CASE WHEN f1 = f2 THEN 100.0
              ELSE jaro_winkler_similarity(f1, f2) * 100.0 END AS jw,
         CASE WHEN dm1 <> '' AND dm2 <> '' AND dm1 = dm2
              THEN 100.0 ELSE 0.0 END AS mp,
         ({flev}) AS flev_ok
  FROM {cand}
  WHERE trim(f1) <> '' AND trim(f2) <> ''),
{prefix}labeled AS (
  SELECT *, (lev + jw + mp) / 3.0 AS avg_s,
         (CASE WHEN lev >= 85.0 THEN 1 ELSE 0 END
          + CASE WHEN jw >= 85.0 THEN 1 ELSE 0 END
          + CASE WHEN mp = 100.0 THEN 1 ELSE 0 END) AS passes,
         (f1 = f2) AS direct
  FROM {prefix}metrics),
{prefix}cls AS (
  SELECT t1_id, t2_id{carry}, lev, jw, mp,
         CASE WHEN direct THEN 'DIRECT MATCH'
              WHEN lev >= 85.0 AND jw >= 85.0 AND mp = 100.0 THEN 'CASE 1'
              WHEN passes >= 2 AND avg_s >= 88.0 AND flev_ok THEN 'CASE 3'
              WHEN passes >= 2 THEN 'CASE 2' END AS case_label,
         CASE WHEN direct THEN 100.0 ELSE avg_s END AS score
  FROM {prefix}labeled)"""


def _score_cascade_sql(
    cand: str, no_middle: bool, threshold: float | None = None
) -> str:
    """CTE chain + the standard final projection (confidence floored
    to 1e-6, non-matches dropped, optional raw-confidence threshold)."""
    thr = f"AND score / 100.0 >= {threshold}" if threshold is not None else ""
    return f"""{_score_metrics_ctes(cand, no_middle)}
SELECT t1_id, t2_id,
       floor((score / 100.0) * 1000000) / 1000000 AS confidence,
       case_label
FROM cls
WHERE case_label IS NOT NULL {thr}
"""


# ---------------------------------------------------------------------------
# Query registry
# ---------------------------------------------------------------------------

SPARK_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE_SQL: dict[str, str] = {}


def q(name: str, oracle: str | None = None):
    def deco(fn):
        import functools

        @functools.wraps(fn)
        def wrapped(spark, sf_dir):
            # lazy cache hygiene: each query releases the frames the
            # PREVIOUS query's operators persisted (their lifetime ends
            # when the driver finishes collecting that query)
            from .plans.caching import unpersist_tracked

            unpersist_tracked()
            return fn(spark, sf_dir)

        SPARK_QUERIES[name] = wrapped
        if oracle is not None:
            ORACLE_SQL[name] = oracle
        return wrapped

    return deco


# --- deterministic joins (Algo 1/2) ----------------------------------------


@q(
    "algo1",
    f"""{_PERSONS_CTE}
SELECT pa.id AS t1_id, pb.id AS t2_id
FROM pa JOIN pb
  ON pa.first_name = pb.first_name AND pa.last_name = pb.last_name
 AND pa.birthdate = pb.birthdate
""",
)
def _algo1(spark, sf_dir):
    from .operators.algos import match_algo1

    t1, t2 = load_persons(spark, sf_dir)
    return match_algo1(t1, t2, allow_swap=False).select("t1_id", "t2_id")


@q(
    "algo1_swap",
    f"""{_PERSONS_CTE}
SELECT pa.id AS t1_id, pb.id AS t2_id
FROM pa JOIN pb
  ON pa.first_name = pb.first_name AND pa.last_name = pb.last_name
 AND {_bd_cond(True)}
""",
)
def _algo1_swap(spark, sf_dir):
    from .operators.algos import match_algo1

    t1, t2 = load_persons(spark, sf_dir)
    return match_algo1(t1, t2, allow_swap=True).select("t1_id", "t2_id")


@q(
    "algo2",
    f"""{_PERSONS_CTE}
SELECT pa.id AS t1_id, pb.id AS t2_id
FROM pa JOIN pb
  ON pa.first_name = pb.first_name AND pa.last_name = pb.last_name
 AND pa.birthdate = pb.birthdate
 AND ((pa.middle_name IS NULL AND pb.middle_name IS NULL)
      OR pa.middle_name = pb.middle_name)
""",
)
def _algo2(spark, sf_dir):
    from .operators.algos import match_algo2

    t1, t2 = load_persons(spark, sf_dir)
    return match_algo2(t1, t2, allow_swap=False).select("t1_id", "t2_id")


# --- blocked fuzzy candidates (Algo 3/4 blocking + prefilter) ---------------

_A3_KEYS_B = f"""
SELECT pb.*, year(pb.birthdate) AS yr,
       upper(substr(pb.first_name, 1, 1)) AS fi,
       upper(substr(pb.last_name, 1, 1)) AS li,
       {_sx_sql('pb.last_name')} AS sx,
       {_FULL_B} AS fullname
FROM pb
WHERE pb.first_name IS NOT NULL AND pb.last_name IS NOT NULL
  AND pb.birthdate IS NOT NULL
"""

_A3_KEYS_A = f"""
SELECT pa.*, year(pa.birthdate) AS yr,
       upper(substr(pa.first_name, 1, 1)) AS fi,
       upper(substr(pa.last_name, 1, 1)) AS li,
       {_sx_sql('pa.last_name')} AS sx,
       {_FULL_A} AS fullname
FROM pa
WHERE pa.first_name IS NOT NULL AND pa.last_name IS NOT NULL
  AND pa.birthdate IS NOT NULL
"""


@q(
    "algo3_prefilter",
    f"""{_PERSONS_CTE},
na AS ({_A3_KEYS_A}), nb AS ({_A3_KEYS_B}),
keys2 AS (SELECT DISTINCT yr, fi, li, sx FROM nb),
tier1 AS (
  SELECT na.id a_id, nb.id b_id, na.birthdate a_bd, nb.birthdate b_bd,
         na.fullname f1, nb.fullname f2
  FROM na JOIN nb ON na.yr = nb.yr AND na.fi = nb.fi AND na.li = nb.li AND na.sx = nb.sx
),
m1 AS (SELECT * FROM na WHERE NOT EXISTS (
  SELECT 1 FROM keys2 k WHERE k.yr = na.yr AND k.fi = na.fi AND k.li = na.li AND k.sx = na.sx)),
tier2 AS (
  SELECT m1.id a_id, nb.id b_id, m1.birthdate a_bd, nb.birthdate b_bd,
         m1.fullname f1, nb.fullname f2
  FROM m1 JOIN nb ON nb.yr = m1.yr AND nb.fi = '?' AND nb.li = m1.li AND nb.sx = m1.sx
),
m2 AS (SELECT * FROM m1 WHERE NOT EXISTS (
  SELECT 1 FROM keys2 k WHERE k.yr = m1.yr AND k.fi = '?' AND k.li = m1.li AND k.sx = m1.sx)),
tier3 AS (
  SELECT m2.id a_id, nb.id b_id, m2.birthdate a_bd, nb.birthdate b_bd,
         m2.fullname f1, nb.fullname f2
  FROM m2 JOIN nb ON nb.yr = m2.yr AND nb.fi = m2.fi AND nb.li = m2.li
                 AND nb.sx = substr(m2.sx, 1, 2) || '00'
),
cand AS (SELECT * FROM tier1 UNION ALL SELECT * FROM tier2 UNION ALL SELECT * FROM tier3)
SELECT a_id AS t1_id, b_id AS t2_id,
       {_f6(_lev_pct('f1', 'f2'))} AS lev_pct,
       {_f6('jaro_winkler_similarity(f1, f2) * 100.0')} AS jw_pct
FROM cand
WHERE a_bd = b_bd
  AND greatest({_lev_pct('f1', 'f2')}, jaro_winkler_similarity(f1, f2) * 100.0) >= 84.0
""",
)
def _algo3_prefilter(spark, sf_dir):
    from .functions.udfs import jaro_winkler_udf
    from .operators.algos import _algo3_candidates, _require
    from .operators.dates import bd_match_cond
    from .operators.scoring import sim_lev_pct_col

    t1, t2 = load_persons(spark, sf_dir)
    t1 = _require(t1, "first_n", "last_n", "birthdate")
    t2 = _require(t2, "first_n", "last_n", "birthdate")
    cand = _algo3_candidates(t1, t2)
    cand = cand.filter(bd_match_cond(F.col("t1_birthdate"), F.col("t2_birthdate"), False))
    lev = sim_lev_pct_col(F.col("t1_simple_full"), F.col("t2_simple_full"))
    jw = jaro_winkler_udf(F.col("t1_simple_full"), F.col("t2_simple_full")) * 100.0
    return (
        cand.withColumns({"_lev": lev, "_jw": jw})
        .filter(F.greatest("_lev", "_jw") >= 84.0)
        .select(
            "t1_id",
            "t2_id",
            (F.floor(F.col("_lev") * 1e6) / 1e6).alias("lev_pct"),
            (F.floor(F.col("_jw") * 1e6) / 1e6).alias("jw_pct"),
        )
    )


@q(
    "algo4_prefilter",
    f"""{_PERSONS_CTE}
SELECT pa.id AS t1_id, pb.id AS t2_id,
       {_f6(_lev_pct(_FULL_A_NM, _FULL_B_NM))} AS lev_pct
FROM pa JOIN pb ON pb.birthdate = pa.birthdate
WHERE pa.birthdate IS NOT NULL AND pb.birthdate IS NOT NULL
  AND greatest({_lev_pct(_FULL_A_NM, _FULL_B_NM)},
               jaro_winkler_similarity({_FULL_A_NM}, {_FULL_B_NM}) * 100.0) >= 84.0
""",
)
def _algo4_prefilter(spark, sf_dir):
    from .functions.udfs import jaro_winkler_udf
    from .operators.blocking import birthdate_pairs
    from .operators.scoring import sim_lev_pct_col

    t1, t2 = load_persons(spark, sf_dir)
    t1 = t1.filter(F.col("birthdate").isNotNull())
    t2 = t2.filter(F.col("birthdate").isNotNull())
    pairs = birthdate_pairs(t1, t2, allow_swap=False)
    lev = sim_lev_pct_col(F.col("t1_simple_full_no_mid"), F.col("t2_simple_full_no_mid"))
    jw = jaro_winkler_udf(F.col("t1_simple_full_no_mid"), F.col("t2_simple_full_no_mid")) * 100.0
    return (
        pairs.withColumns({"_lev": lev, "_jw": jw})
        .filter(F.greatest("_lev", "_jw") >= 84.0)
        .select(
            "t1_id", "t2_id", (F.floor(F.col("_lev") * 1e6) / 1e6).alias("lev_pct")
        )
    )


# --- Algo 7: OR-blocked per-field Levenshtein mean --------------------------

_A7_CACHE = """
SELECT p.id, p.birthdate, p.first_name AS af,
       coalesce(p.middle_name, '') AS am, p.last_name AS al,
       substr(p.first_name, 1, 3) AS af3, substr(p.last_name, 1, 3) AS al3,
       {sxf} AS sxf, {sxl} AS sxl,
       CASE WHEN coalesce(p.middle_name, '') = '' THEN NULL ELSE {sxm} END AS sxm
FROM {tbl} p
WHERE p.birthdate IS NOT NULL
"""


@q(
    "algo7",
    f"""{_PERSONS_CTE},
ca AS ({_A7_CACHE.format(tbl='pa', sxf=_sx_sql('p.first_name'), sxl=_sx_sql('p.last_name'), sxm=_sx_sql("coalesce(p.middle_name, '')"))}),
cb AS ({_A7_CACHE.format(tbl='pb', sxf=_sx_sql('p.first_name'), sxl=_sx_sql('p.last_name'), sxm=_sx_sql("coalesce(p.middle_name, '')"))}),
cand AS (
  SELECT ca.id a_id, cb.id b_id FROM ca JOIN cb
    ON ca.birthdate = cb.birthdate AND ca.sxf = cb.sxf AND ca.sxl = cb.sxl
  UNION
  SELECT ca.id, cb.id FROM ca JOIN cb
    ON ca.birthdate = cb.birthdate AND ca.af3 = cb.af3 AND ca.al3 = cb.al3
   AND ca.af3 <> '' AND ca.al3 <> ''
  UNION
  SELECT ca.id, cb.id FROM ca JOIN cb
    ON ca.birthdate = cb.birthdate AND ca.sxm = cb.sxm
)
SELECT c.a_id AS t1_id, c.b_id AS t2_id,
       {_f6("((" + _lev_pct('ca.al', 'cb.al') + ") + (" + _lev_pct('ca.af', 'cb.af') + ") + "
            "CASE WHEN ca.am <> '' AND cb.am <> '' THEN (" + _lev_pct('ca.am', 'cb.am') + ") ELSE 0.0 END) "
            "/ (CASE WHEN ca.am <> '' AND cb.am <> '' THEN 3.0 ELSE 2.0 END) / 100.0")} AS confidence,
       concat(CASE WHEN ca.af = cb.af THEN 'FirstName,' ELSE '' END,
              CASE WHEN ca.am = cb.am THEN 'MiddleName,' ELSE '' END,
              CASE WHEN ca.al = cb.al THEN 'LastName,' ELSE '' END,
              'Birthdate') AS matched
FROM cand c JOIN ca ON ca.id = c.a_id JOIN cb ON cb.id = c.b_id
""",
)
def _algo7(spark, sf_dir):
    from .operators.algos import match_lev_weighted

    t1, t2 = load_persons(spark, sf_dir)
    out = match_lev_weighted(t1, t2)
    return out.select(
        "t1_id",
        "t2_id",
        (F.floor(F.col("confidence") * 1e6) / 1e6).alias("confidence"),
        F.array_join("matched_fields", ",").alias("matched"),
    )


# --- cascade exact levels ----------------------------------------------------


@q(
    "cascade_l1",
    f"""{_PERSONS_CTE}
SELECT pa.id AS t1_id, pb.id AS t2_id
FROM pa JOIN pb
  ON pa.first_name = pb.first_name AND pa.last_name = pb.last_name
 AND pa.middle_name = pb.middle_name AND pa.birthdate = pb.birthdate
WHERE length(replace(trim(pa.middle_name, '.'), ' ', '')) >= 2
  AND length(replace(trim(pb.middle_name, '.'), ' ', '')) >= 2
""",
)
def _cascade_l1(spark, sf_dir):
    from .operators.cascade import match_level

    t1, t2 = load_persons(spark, sf_dir)
    return match_level(t1, t2, 1).select("t1_id", "t2_id")


@q(
    "cascade_l2",
    f"""{_PERSONS_CTE}
SELECT pa.id AS t1_id, pb.id AS t2_id
FROM pa JOIN pb
  ON pa.first_name = pb.first_name AND pa.last_name = pb.last_name
 AND substr(pa.middle_name, 1, 1) = substr(pb.middle_name, 1, 1)
 AND pa.birthdate = pb.birthdate
WHERE pa.middle_name IS NOT NULL AND pb.middle_name IS NOT NULL
""",
)
def _cascade_l2(spark, sf_dir):
    from .operators.cascade import match_level

    t1, t2 = load_persons(spark, sf_dir)
    return match_level(t1, t2, 2).select("t1_id", "t2_id")


@q(
    "cascade_l9",
    f"""{_PERSONS_CTE}
SELECT pa.id AS t1_id, pb.id AS t2_id
FROM pa JOIN pb
  ON pa.first_name = pb.first_name AND pa.last_name = pb.last_name
 AND lower(pa.city_code) = lower(pb.city_code)
WHERE pa.city_code IS NOT NULL AND pb.city_code IS NOT NULL
""",
)
def _cascade_l9(spark, sf_dir):
    from .operators.cascade import match_level

    t1, t2 = load_persons(spark, sf_dir)
    return match_level(t1, t2, 9).select("t1_id", "t2_id")


# --- households (over Algo 1 pairs — SQL-exact) ------------------------------


@q(
    "households_opt5",
    f"""{_PERSONS_CTE},
pairs AS (
  SELECT pa.id t1_id, pb.id t2_id, pa.uuid,
         coalesce(pb.hh_id, cast(pb.id AS STRING)) hh_key
  FROM pa JOIN pb
    ON pa.first_name = pb.first_name AND pa.last_name = pb.last_name
   AND pa.birthdate = pb.birthdate
  WHERE pa.uuid IS NOT NULL
),
win AS (SELECT *, min(hh_key) OVER (PARTITION BY t1_id) hh_min FROM pairs),
fm AS (SELECT t1_id, min(t2_id) first_min FROM win WHERE hh_key = hh_min GROUP BY t1_id),
tie AS (
  SELECT w.t1_id,
         max(CASE WHEN w.hh_key <> w.hh_min AND w.t2_id > f.first_min THEN 1 ELSE 0 END) t
  FROM win w JOIN fm f ON w.t1_id = f.t1_id GROUP BY w.t1_id),
assigned AS (
  SELECT DISTINCT w.t1_id, w.uuid, w.hh_min FROM win w JOIN tie ON w.t1_id = tie.t1_id
  WHERE tie.t = 0),
matched AS (SELECT uuid, hh_min hh_key, count(*) members FROM assigned GROUP BY uuid, hh_min),
totals AS (SELECT uuid, count(*) total FROM pa WHERE uuid IS NOT NULL GROUP BY uuid),
agg AS (
  SELECT m.uuid, m.hh_key, m.members * 100.0 / t.total AS pct
  FROM matched m JOIN totals t ON m.uuid = t.uuid
  WHERE m.members * 100.0 / t.total > 50.0)
SELECT cast(row_number() OVER (ORDER BY uuid, hh_key) AS BIGINT) row_id, uuid,
       coalesce(try_cast(hh_key AS BIGINT), 0) hh_id,
       {_f6('pct')} AS match_percentage
FROM agg
""",
)
def _households_opt5(spark, sf_dir):
    from .operators.algos import match_algo1
    from .operators.households import household_aggregate

    t1, t2 = load_persons(spark, sf_dir)
    pairs = match_algo1(t1, t2, allow_swap=False)
    out = household_aggregate(pairs, t1, t2, min_conf=0.5, option=5)
    return out.select(
        F.col("row_id").cast("long").alias("row_id"),
        "uuid",
        "hh_id",
        (F.floor(F.col("match_percentage") * 1e6) / 1e6).alias("match_percentage"),
    )


# --- set ops: anti-join exclusion -------------------------------------------


@q(
    "anti_join_unmatched",
    f"""{_PERSONS_CTE},
m AS (
  SELECT DISTINCT pa.id FROM pa JOIN pb
    ON pa.first_name = pb.first_name AND pa.last_name = pb.last_name
   AND pa.birthdate = pb.birthdate)
SELECT pa.id AS t1_id FROM pa WHERE NOT EXISTS (SELECT 1 FROM m WHERE m.id = pa.id)
""",
)
def _anti_join_unmatched(spark, sf_dir):
    from .operators.algos import match_algo1

    t1, t2 = load_persons(spark, sf_dir)
    matched = match_algo1(t1, t2).select(F.col("t1_id").alias("id")).distinct()
    return t1.join(matched, "id", "left_anti").select(F.col("id").alias("t1_id"))


# --- documents: dedup --------------------------------------------------------


@q(
    "dedup_ngram_jaccard",
    f"""
WITH toks AS (
  SELECT d.doc_id, d.lang,
         list_filter(string_split_regex(lower(d.text), '\\s+'), x -> x <> '') tl
  FROM documents d),
tok AS (
  SELECT doc_id, lang,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(tl) - 2, 0) + 1),
           i -> array_to_string(list_slice(tl, i, i + 2), ' ')))) AS tok
  FROM toks),
sizes AS (SELECT doc_id, count(*) n FROM tok GROUP BY doc_id),
inter AS (
  SELECT a.doc_id d1, b.doc_id d2, count(*) c
  FROM tok a JOIN tok b ON a.tok = b.tok AND a.lang = b.lang AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id)
SELECT i.d1, i.d2, {_f6('i.c * 1.0 / (s1.n + s2.n - i.c)')} AS jaccard
FROM inter i JOIN sizes s1 ON s1.doc_id = i.d1 JOIN sizes s2 ON s2.doc_id = i.d2
WHERE i.c * 1.0 / (s1.n + s2.n - i.c) >= 0.4
""",
)
def _dedup_ngram_jaccard(spark, sf_dir):
    """Word-3-gram Jaccard near-dup — the order-sensitive variant of
    the token-set metric (brief: 'n-gram Jaccard').  Uncapped
    (max_df=None) to pin the exact metric the SQL computes; n-gram
    keys are inherently df-spread, which is the production skew
    answer anyway."""
    from .operators.dedup import token_jaccard_pairs

    register_views(spark, sf_dir)
    out = token_jaccard_pairs(
        spark.table("documents"), threshold=0.4, max_df=None, ngram=3
    )
    return out.select(
        "d1", "d2", (F.floor(F.col("jaccard") * 1e6) / 1e6).alias("jaccard")
    )


@q(
    "dedup_cluster_reps",
    f"""
WITH RECURSIVE toks AS (
  SELECT d.doc_id, d.lang,
         list_filter(string_split_regex(lower(d.text), '\\s+'), x -> x <> '') tl
  FROM documents d),
tok AS (
  SELECT doc_id, lang,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(tl) - 2, 0) + 1),
           i -> array_to_string(list_slice(tl, i, i + 2), ' ')))) AS tok
  FROM toks),
sizes AS (SELECT doc_id, count(*) n FROM tok GROUP BY doc_id),
inter AS (
  SELECT a.doc_id d1, b.doc_id d2, count(*) c
  FROM tok a JOIN tok b ON a.tok = b.tok AND a.lang = b.lang AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id),
mp AS (
  SELECT i.d1, i.d2
  FROM inter i JOIN sizes s1 ON s1.doc_id = i.d1 JOIN sizes s2 ON s2.doc_id = i.d2
  WHERE i.c * 1.0 / (s1.n + s2.n - i.c) >= 0.4),
edges AS (SELECT d1 AS s, d2 AS d FROM mp UNION SELECT d2, d1 FROM mp),
vertices AS (SELECT DISTINCT s AS node FROM edges),
reach(node, r) AS (
  SELECT node, node FROM vertices
  UNION
  SELECT e.d, reach.r FROM reach JOIN edges e ON e.s = reach.node),
comp AS (SELECT node, min(r) AS rep FROM reach GROUP BY node),
csize AS (SELECT rep, count(*) AS n FROM comp GROUP BY rep)
SELECT comp.node AS doc_id, comp.rep AS rep_id, csize.n AS cluster_size
FROM comp JOIN csize ON csize.rep = comp.rep
""",
)
def _dedup_cluster_reps(spark, sf_dir):
    """Corpus-level near-dup clustering with canonical representative
    selection: 3-gram-Jaccard-verified pairs -> connected components
    -> (doc_id, rep_id = min doc_id in cluster, cluster_size).  The
    oracle replays the pair metric then the same min-label transitive
    closure as entity_clusters' recursive CTE."""
    from .operators.dedup import dedup_cluster_reps

    register_views(spark, sf_dir)
    return dedup_cluster_reps(
        spark.table("documents"), threshold=0.4, ngram=3, max_df=None
    )


@q(
    "dedup_exact",
    """
SELECT md5(text) AS text_hash, min(doc_id) AS canonical_doc_id,
       count(*) AS n_dups
FROM documents GROUP BY md5(text) HAVING count(*) > 1
""",
)
def _dedup_exact(spark, sf_dir):
    from .operators.dedup import exact_dedup

    register_views(spark, sf_dir)
    return exact_dedup(spark.table("documents"))


@q(
    "dedup_token_jaccard",
    f"""
WITH tok AS (
  SELECT d.doc_id, d.lang, unnest(list_distinct(string_split_regex(lower(d.text), '\\s+'))) AS tok
  FROM documents d),
tok2 AS (SELECT * FROM tok WHERE tok <> ''),
nd AS (SELECT count(*) AS n FROM documents),
keep AS (
  SELECT tok FROM (SELECT tok, count(*) AS c FROM tok2 GROUP BY tok) df, nd
  WHERE df.c <= 0.5 * nd.n),
tok3 AS (SELECT t.* FROM tok2 t JOIN keep USING (tok)),
sizes AS (SELECT doc_id, count(*) n FROM tok3 GROUP BY doc_id),
inter AS (
  SELECT a.doc_id d1, b.doc_id d2, count(*) c
  FROM tok3 a JOIN tok3 b ON a.tok = b.tok AND a.lang = b.lang AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id)
SELECT i.d1, i.d2, {_f6('i.c * 1.0 / (s1.n + s2.n - i.c)')} AS jaccard
FROM inter i JOIN sizes s1 ON s1.doc_id = i.d1 JOIN sizes s2 ON s2.doc_id = i.d2
WHERE i.c * 1.0 / (s1.n + s2.n - i.c) >= 0.6
""",
)
def _dedup_token_jaccard(spark, sf_dir):
    """The guarded (stop-token max_df=0.5) path — the one that
    survives Zipf skew at web scale; the oracle applies the identical
    document-frequency cutoff."""
    from .operators.dedup import token_jaccard_pairs

    register_views(spark, sf_dir)
    out = token_jaccard_pairs(spark.table("documents"), threshold=0.6, max_df=0.5)
    return out.select(
        "d1", "d2", (F.floor(F.col("jaccard") * 1e6) / 1e6).alias("jaccard")
    )


def _minhash_oracle(k: int = 8, bands: int = 4, max_bucket: int | None = None) -> str:
    """Mirrors minhash_signatures_wide/minhash_lsh_candidates: one
    md5-derived 32-bit base hash per shingle, k affine mixes
    (a_i*h + b_i) mod 2^31-1, banded md5 bucket hashes; optional
    ``max_bucket`` cap mirrors the web-scale dup-crowd guard."""
    from .operators.dedup import MINHASH_P, minhash_params

    r = k // bands
    params = minhash_params(k)
    sig_cols = ",\n         ".join(
        f"min((h * {a} + {b}) % {MINHASH_P}) AS sig_{i}"
        for i, (a, b) in enumerate(params)
    )
    band_rows = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band_id, md5(array_to_string(list_sort([{members}]), ',')) AS band_hash FROM sigs".format(
            b=b,
            members=", ".join(
                f"concat('{i}', '|', cast(sig_{i} AS VARCHAR))"
                for i in range(b * r, (b + 1) * r)
            ),
        )
        for b in range(bands)
    )
    guard = ""
    bands_src = "bands0"
    if max_bucket is not None:
        guard = f""",
keepb AS (
  SELECT band_id, band_hash FROM bands0
  GROUP BY band_id, band_hash HAVING count(*) <= {max_bucket}),
bands AS (SELECT b.* FROM bands0 b JOIN keepb USING (band_id, band_hash))"""
        bands_src = "bands"
    return f"""
WITH toks AS (
  SELECT d.doc_id,
         list_filter(string_split_regex(lower(d.text), '\\s+'), x -> x <> '') tl
  FROM documents d),
tok AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(tl) - 2, 0) + 1),
           i -> array_to_string(list_slice(tl, i, i + 2), ' ')))) AS tok
  FROM toks),
hashed AS (SELECT doc_id, ({_HEX32.format(tok='tok')}) % {MINHASH_P} AS h FROM tok),
sigs AS (
  SELECT doc_id,
         {sig_cols}
  FROM hashed GROUP BY doc_id),
bands0 AS ({band_rows}){guard}
SELECT DISTINCT b1.doc_id d1, b2.doc_id d2
FROM {bands_src} b1 JOIN {bands_src} b2
  ON b1.band_id = b2.band_id AND b1.band_hash = b2.band_hash AND b1.doc_id < b2.doc_id
"""


@q("dedup_minhash_lsh", None)  # oracle attached below (needs _HEX32)
def _dedup_minhash_lsh(spark, sf_dir):
    from .operators.dedup import minhash_lsh_candidates

    register_views(spark, sf_dir)
    # max_bucket=None pins the exact uncapped metric the oracle SQL
    # computes (the engine default is "auto"; the capped path is
    # oracle-checked separately as dedup_minhash_guarded)
    return minhash_lsh_candidates(
        spark.table("documents"), k=8, bands=4, max_bucket=None
    )


# --- documents: text analysis ------------------------------------------------


_PUNCT_EXPR = (
    "(length(text) - length(regexp_replace(text, '[^" + "\\" + "w" + "\\" + "s]', '', 'g')))"
    " * 1.0 / greatest(length(text), 1)"
)
_STOP_EXPR = (
    "len(list_filter(toks, x -> x IN ('the','a','of','and','to')))"
    " * 1.0 / greatest(len(toks), 1)"
)
_MTL_EXPR = (
    "list_sum(list_transform(toks, x -> length(x))) * 1.0 / greatest(len(toks), 1)"
)


@q(
    "text_quality",
    f"""
WITH t AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') toks
  FROM documents)
SELECT doc_id,
       length(text) AS n_chars,
       cast(len(toks) AS INT) AS n_tokens,
       {_f6(_PUNCT_EXPR)} AS punct_ratio,
       {_f6(_STOP_EXPR)} AS stopword_ratio,
       {_f6(_MTL_EXPR)} AS mean_token_len
FROM t
""",
)
def _text_quality(spark, sf_dir):
    from .operators.textstats import text_quality

    register_views(spark, sf_dir)
    out = text_quality(spark.table("documents"))
    return out.select(
        "doc_id",
        "n_chars",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        (F.floor(F.col("punct_ratio") * 1e6) / 1e6).alias("punct_ratio"),
        (F.floor(F.col("stopword_ratio") * 1e6) / 1e6).alias("stopword_ratio"),
        (F.floor(F.col("mean_token_len") * 1e6) / 1e6).alias("mean_token_len"),
    )


@q(
    "token_counts",
    """
SELECT doc_id,
       cast(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS INT) AS n_ws_tokens,
       cast(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS INT) AS n_bpe_tokens
FROM documents
""",
)
def _token_counts(spark, sf_dir):
    from .operators.textstats import token_counts

    register_views(spark, sf_dir)
    out = token_counts(spark.table("documents"))
    return out.select(
        "doc_id",
        F.col("n_ws_tokens").cast("int").alias("n_ws_tokens"),
        F.col("n_bpe_tokens").cast("int").alias("n_bpe_tokens"),
    )


@q(
    "doc_fingerprints",
    """
SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
FROM documents
""",
)
def _doc_fingerprints(spark, sf_dir):
    from .operators.textstats import doc_fingerprints

    register_views(spark, sf_dir)
    return doc_fingerprints(spark.table("documents"))


@q(
    "lang_id",
    """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') toks
  FROM documents),
s AS (
  SELECT doc_id,
         cast(len(list_filter(toks, x -> x IN ('der','die','das','und','ist'))) AS INT) score_de,
         cast(len(list_filter(toks, x -> x IN ('the','a','of','and','to'))) AS INT) score_en,
         cast(len(list_filter(toks, x -> x IN ('el','la','de','y','que'))) AS INT) score_es
  FROM t)
SELECT doc_id, score_de, score_en, score_es,
       CASE WHEN greatest(score_de, score_en, score_es) = 0 THEN 'und'
            WHEN score_de = greatest(score_de, score_en, score_es) THEN 'de'
            WHEN score_en = greatest(score_de, score_en, score_es) THEN 'en'
            ELSE 'es' END AS lang_guess
FROM s
""",
)
def _lang_id(spark, sf_dir):
    from .operators.textstats import lang_id_heuristic

    register_views(spark, sf_dir)
    out = lang_id_heuristic(spark.table("documents"))
    return out.select(
        "doc_id",
        F.col("score_de").cast("int").alias("score_de"),
        F.col("score_en").cast("int").alias("score_en"),
        F.col("score_es").cast("int").alias("score_es"),
        "lang_guess",
    )


# --- embeddings: similarity search -------------------------------------------


@q(
    "ann_topk",
    f"""
WITH q AS (SELECT vec_id query_id, embedding::DOUBLE[] qv FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id neighbor_id, embedding::DOUBLE[] cv FROM embeddings),
scored AS (
  SELECT q.query_id, c.neighbor_id,
         list_dot_product(c.cv, q.qv) / (sqrt(list_dot_product(c.cv, c.cv)) * sqrt(list_dot_product(q.qv, q.qv))) AS cosine
  FROM c, q WHERE c.neighbor_id <> q.query_id),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) rank
  FROM scored)
SELECT query_id, neighbor_id, {_f6('cosine')} AS cosine, cast(rank AS INT) rank
FROM ranked WHERE rank <= 10
""",
)
def _ann_topk(spark, sf_dir):
    from .operators.annsearch import cosine_topk

    register_views(spark, sf_dir)
    emb = spark.table("embeddings")
    out = cosine_topk(emb, emb.filter(F.col("vec_id") < 5), k=10)
    return out.select(
        "query_id",
        "neighbor_id",
        (F.floor(F.col("cosine") * 1e6) / 1e6).alias("cosine"),
        F.col("rank").cast("int").alias("rank"),
    )


# 64 explicit left-to-right terms: the exact summation order of the
# Spark side's sequential F.aggregate fold (float-identical ranks)
_L2_TERMS = " + ".join(
    f"(c.cv[{i}] - q.qv[{i}]) * (c.cv[{i}] - q.qv[{i}])" for i in range(1, 65)
)


@q(
    "ann_topk_l2",
    f"""
WITH q AS (SELECT vec_id query_id, embedding::DOUBLE[] qv FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id neighbor_id, embedding::DOUBLE[] cv FROM embeddings),
scored AS (
  SELECT q.query_id, c.neighbor_id, sqrt({_L2_TERMS}) AS distance
  FROM c, q WHERE c.neighbor_id <> q.query_id),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY distance ASC, neighbor_id ASC) rank
  FROM scored)
SELECT query_id, neighbor_id, {_f6('distance')} AS distance, cast(rank AS INT) rank
FROM ranked WHERE rank <= 10
""",
)
def _ann_topk_l2(spark, sf_dir):
    """Euclidean top-k — the norm-sensitive complement of ann_topk
    (same broadcast-queries / streaming-corpus shape)."""
    from .operators.annsearch import l2_topk

    register_views(spark, sf_dir)
    emb = spark.table("embeddings")
    out = l2_topk(emb, emb.filter(F.col("vec_id") < 5), k=10)
    return out.select(
        "query_id",
        "neighbor_id",
        (F.floor(F.col("distance") * 1e6) / 1e6).alias("distance"),
        F.col("rank").cast("int").alias("rank"),
    )


# --- TPC-H operator shapes ----------------------------------------------------


@q(
    "agg_pricing",
    f"""
SELECT l_returnflag, l_linestatus,
       {_f6('sum(l_quantity)')} AS sum_qty,
       {_f6('sum(l_extendedprice)')} AS sum_base_price,
       {_f6('avg(l_discount)')} AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""",
)
def _agg_pricing(spark, sf_dir):
    register_views(spark, sf_dir)
    l = spark.table("lineitem").filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("date"))
    return l.groupBy("l_returnflag", "l_linestatus").agg(
        (F.floor(F.sum("l_quantity") * 1e6) / 1e6).alias("sum_qty"),
        (F.floor(F.sum("l_extendedprice") * 1e6) / 1e6).alias("sum_base_price"),
        (F.floor(F.avg("l_discount") * 1e6) / 1e6).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


@q(
    "window_argmax",
    """
WITH ranked AS (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) rn
  FROM orders)
SELECT o_custkey, o_orderkey AS best_order, o_totalprice AS best_price
FROM ranked WHERE rn = 1
""",
)
def _window_argmax(spark, sf_dir):
    from pyspark.sql import Window

    register_views(spark, sf_dir)
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        spark.table("orders")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("best_order"),
            F.col("o_totalprice").alias("best_price"),
        )
    )


@q(
    "events_hourly",
    f"""
SELECT cast(date_trunc('hour', ts) AS STRING) AS hour, event_type,
       count(*) AS n, {_f6('sum(value)')} AS sum_value
FROM events GROUP BY date_trunc('hour', ts), event_type
""",
)
def _events_hourly(spark, sf_dir):
    register_views(spark, sf_dir)
    return (
        spark.table("events")
        .groupBy(
            F.date_trunc("hour", "ts").cast("string").alias("hour"), "event_type"
        )
        .agg(
            F.count("*").alias("n"),
            (F.floor(F.sum("value") * 1e6) / 1e6).alias("sum_value"),
        )
    )


@q(
    "union_dedup",
    """
SELECT DISTINCT c_custkey AS custkey FROM (
  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
  UNION ALL
  SELECT o_custkey FROM orders WHERE o_totalprice > 100000
) u(c_custkey)
""",
)
def _union_dedup(spark, sf_dir):
    register_views(spark, sf_dir)
    a = spark.table("customer").filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("custkey")
    )
    b = spark.table("orders").filter(F.col("o_totalprice") > 100000).select(
        F.col("o_custkey").alias("custkey")
    )
    return a.unionByName(b).distinct()


# --- full fuzzy cascade (oracle via inline dmeta side-table) -----------------


def _pair_select(a: str, b: str, with_mid: bool) -> str:
    mid = (
        f"coalesce({a}.middle_name,'') sm1, coalesce({b}.middle_name,'') sm2, "
        if with_mid
        else ""
    )
    return (
        f"SELECT {a}.id t1_id, {b}.id t2_id, {a}.birthdate a_bd, {b}.birthdate b_bd, "
        f"{a}.f f1, {b}.f f2, {a}.dmc dm1, {b}.dmc dm2, "
        f"coalesce({a}.first_name,'') sf1, coalesce({b}.first_name,'') sf2, {mid}"
        f"coalesce({a}.last_name,'') sl1, coalesce({b}.last_name,'') sl2"
    )


_MID_VALID = (
    "length(regexp_replace(regexp_replace(trim({m}), '^\\.+|\\.+$', '', 'g'),"
    " '\\s', '', 'g')) >= 2"
)

_A3_FULL_TIERS = f"""
na AS (SELECT q.*, q.fullname AS f, coalesce(dm.code, '') AS dmc
       FROM ({_A3_KEYS_A}) q LEFT JOIN dm ON dm.s = q.fullname),
nb AS (SELECT q.*, q.fullname AS f, coalesce(dm.code, '') AS dmc
       FROM ({_A3_KEYS_B}) q LEFT JOIN dm ON dm.s = q.fullname),
keys2 AS (SELECT DISTINCT yr, fi, li, sx FROM nb),
tier1 AS ({_pair_select('na', 'nb', True)}
  FROM na JOIN nb ON na.yr = nb.yr AND na.fi = nb.fi AND na.li = nb.li AND na.sx = nb.sx),
m1 AS (SELECT * FROM na WHERE NOT EXISTS (
  SELECT 1 FROM keys2 k WHERE k.yr = na.yr AND k.fi = na.fi AND k.li = na.li AND k.sx = na.sx)),
tier2 AS ({_pair_select('m1', 'nb', True)}
  FROM m1 JOIN nb ON nb.yr = m1.yr AND nb.fi = '?' AND nb.li = m1.li AND nb.sx = m1.sx),
m2 AS (SELECT * FROM m1 WHERE NOT EXISTS (
  SELECT 1 FROM keys2 k WHERE k.yr = m1.yr AND k.fi = '?' AND k.li = m1.li AND k.sx = m1.sx)),
tier3 AS ({_pair_select('m2', 'nb', True)}
  FROM m2 JOIN nb ON nb.yr = m2.yr AND nb.fi = m2.fi AND nb.li = m2.li
                 AND nb.sx = substr(m2.sx, 1, 2) || '00'),
cand AS (SELECT * FROM tier1 UNION ALL SELECT * FROM tier2 UNION ALL SELECT * FROM tier3),
candf AS (SELECT * FROM cand WHERE a_bd = b_bd)
"""


@q(
    "algo3_full",
    None if _DM_CTE is None else f"""{_PERSONS_CTE},
{_DM_CTE},
{_A3_FULL_TIERS},
{_score_cascade_sql('candf', no_middle=False)}
""",
)
def _algo3_full(spark, sf_dir):
    from .operators.algos import match_fuzzy

    t1, t2 = load_persons(spark, sf_dir)
    out = match_fuzzy(t1, t2, allow_swap=False)
    return out.select(
        "t1_id", "t2_id",
        (F.floor(F.col("confidence") * 1e6) / 1e6).alias("confidence"),
        "case_label",
    )


_A4_FULL_NM = "concat(coalesce({p}.first_name, ''), ' ', coalesce({p}.last_name, ''))"


@q(
    "algo4_full",
    None if _DM_CTE is None else f"""{_PERSONS_CTE},
{_DM_CTE},
qa AS (SELECT pa.*, {_A4_FULL_NM.format(p='pa')} AS f FROM pa WHERE pa.birthdate IS NOT NULL),
qb AS (SELECT pb.*, {_A4_FULL_NM.format(p='pb')} AS f FROM pb WHERE pb.birthdate IS NOT NULL),
qa2 AS (SELECT qa.*, coalesce(dm.code, '') AS dmc FROM qa LEFT JOIN dm ON dm.s = qa.f),
qb2 AS (SELECT qb.*, coalesce(dm.code, '') AS dmc FROM qb LEFT JOIN dm ON dm.s = qb.f),
cand AS ({_pair_select('qa2', 'qb2', False)}
  FROM qa2 JOIN qb2 ON {_bd_cond2('qa2', 'qb2', True)}),
{_score_cascade_sql('cand', no_middle=True)}
""",
)
def _algo4_full(spark, sf_dir):
    from .operators.algos import match_fuzzy_no_mid

    t1, t2 = load_persons(spark, sf_dir)
    out = match_fuzzy_no_mid(t1, t2, allow_swap=True)
    return out.select(
        "t1_id", "t2_id",
        (F.floor(F.col("confidence") * 1e6) / 1e6).alias("confidence"),
        "case_label",
    )


@q(
    "algo4_alt",
    None if _DM_CTE is None else f"""{_PERSONS_CTE},
{_DM_CTE},
qa1 AS (SELECT q.*, {_A4_FULL_NM.format(p='q')} AS f FROM ({_A3_KEYS_A}) q),
qb1 AS (SELECT q.*, {_A4_FULL_NM.format(p='q')} AS f FROM ({_A3_KEYS_B}) q),
qa2 AS (SELECT qa1.*, coalesce(dm.code, '') AS dmc FROM qa1 LEFT JOIN dm ON dm.s = qa1.f),
qb2 AS (SELECT qb1.*, coalesce(dm.code, '') AS dmc FROM qb1 LEFT JOIN dm ON dm.s = qb1.f),
cand AS ({_pair_select('qa2', 'qb2', False)}
  FROM qa2 JOIN qb2 ON qa2.yr = qb2.yr AND qa2.fi = qb2.fi AND qa2.li = qb2.li
                   AND qa2.sx = qb2.sx AND qa2.birthdate = qb2.birthdate),
{_score_cascade_sql('cand', no_middle=True)}
""",
)
def _algo4_alt(spark, sf_dir):
    """Algo 4 ALTERNATE blocking (match_fuzzy_no_mid_blocked_cpu,
    mod.rs:2603-2745): the Algo-3-style (year, initials, soundex4)
    primary block applied to the no-middle scoring cascade — present
    for parity completeness with the reference's secondary CPU route."""
    from .operators.algos import match_fuzzy_no_mid_blocked

    t1, t2 = load_persons(spark, sf_dir)
    out = match_fuzzy_no_mid_blocked(t1, t2, allow_swap=False)
    return out.select(
        "t1_id", "t2_id",
        (F.floor(F.col("confidence") * 1e6) / 1e6).alias("confidence"),
        "case_label",
    )


_L10_FULL = (
    "concat(coalesce({p}.first_name, ''), ' ', coalesce({p}.middle_name, ''), ' ', "
    "coalesce({p}.last_name, ''))"
)


@q(
    "cascade_l10",
    None if _DM_CTE is None else f"""{_PERSONS_CTE},
{_DM_CTE},
qa AS (SELECT pa.*, {_L10_FULL.format(p='pa')} AS f FROM pa
       WHERE pa.birthdate IS NOT NULL AND {_MID_VALID.format(m='pa.middle_name')}),
qb AS (SELECT pb.*, {_L10_FULL.format(p='pb')} AS f FROM pb
       WHERE pb.birthdate IS NOT NULL AND {_MID_VALID.format(m='pb.middle_name')}),
qa2 AS (SELECT qa.*, coalesce(dm.code, '') AS dmc FROM qa LEFT JOIN dm ON dm.s = qa.f),
qb2 AS (SELECT qb.*, coalesce(dm.code, '') AS dmc FROM qb LEFT JOIN dm ON dm.s = qb.f),
cand AS ({_pair_select('qa2', 'qb2', True)}
  FROM qa2 JOIN qb2 ON {_bd_cond2('qa2', 'qb2', True)}),
{_score_cascade_sql('cand', no_middle=False, threshold=0.8)}
""",
)
def _cascade_l10(spark, sf_dir):
    from .operators.cascade import match_level

    t1, t2 = load_persons(spark, sf_dir)
    out = match_level(t1, t2, 10, threshold=0.8, allow_swap=True)
    return out.select(
        "t1_id", "t2_id",
        (F.floor(F.col("confidence") * 1e6) / 1e6).alias("confidence"),
        "case_label",
    )


@q(
    "cascade_l11",
    None if _DM_CTE is None else f"""{_PERSONS_CTE},
{_DM_CTE},
qa AS (SELECT pa.*, {_A4_FULL_NM.format(p='pa')} AS f FROM pa WHERE pa.birthdate IS NOT NULL),
qb AS (SELECT pb.*, {_A4_FULL_NM.format(p='pb')} AS f FROM pb WHERE pb.birthdate IS NOT NULL),
qa2 AS (SELECT qa.*, coalesce(dm.code, '') AS dmc FROM qa LEFT JOIN dm ON dm.s = qa.f),
qb2 AS (SELECT qb.*, coalesce(dm.code, '') AS dmc FROM qb LEFT JOIN dm ON dm.s = qb.f),
cand AS ({_pair_select('qa2', 'qb2', False)}
  FROM qa2 JOIN qb2 ON qa2.birthdate = qb2.birthdate),
{_score_cascade_sql('cand', no_middle=True, threshold=0.8)}
""",
)
def _cascade_l11(spark, sf_dir):
    """Cascade L11 (advanced_matcher.rs:396-420): the no-middle fuzzy
    level — birthdate-blocked, swap HARD-FORCED OFF regardless of
    config (the oracle therefore joins on plain birthdate equality),
    threshold 0.8."""
    from .operators.cascade import match_level

    t1, t2 = load_persons(spark, sf_dir)
    # allow_swap=True on purpose: L11 must force it off internally
    out = match_level(t1, t2, 11, threshold=0.8, allow_swap=True)
    return out.select(
        "t1_id", "t2_id",
        (F.floor(F.col("confidence") * 1e6) / 1e6).alias("confidence"),
        "case_label",
    )


@q(
    "score_breakdown",
    None
    if _DM_CTE is None
    else f"""{_PERSONS_CTE},
{_DM_CTE},
qa AS (SELECT pa.*, {_A4_FULL_NM.format(p='pa')} AS f FROM pa WHERE pa.birthdate IS NOT NULL),
qb AS (SELECT pb.*, {_A4_FULL_NM.format(p='pb')} AS f FROM pb WHERE pb.birthdate IS NOT NULL),
qa2 AS (SELECT qa.*, coalesce(dm.code, '') AS dmc FROM qa LEFT JOIN dm ON dm.s = qa.f),
qb2 AS (SELECT qb.*, coalesce(dm.code, '') AS dmc FROM qb LEFT JOIN dm ON dm.s = qb.f),
cand AS ({_pair_select('qa2', 'qb2', False)}
  FROM qa2 JOIN qb2 ON qa2.birthdate = qb2.birthdate),
{_score_metrics_ctes('cand', no_middle=True)}
SELECT t1_id, t2_id,
       {_f6('lev')} AS lev_pct, {_f6('jw')} AS jw_pct, mp AS mp_pct,
       case_label,
       CASE WHEN case_label IS NULL THEN NULL
            ELSE floor((score / 100.0) * 1000000) / 1000000 END AS confidence
FROM cls
""",
)
def _score_breakdown(spark, sf_dir):
    """The ScoreBreakdown / explain_pair debug surface (mod.rs:17-29,
    :143-250) distributed: EVERY birthdate-blocked candidate pair with
    its lev/jw/mp metrics, case label (NULL = non-match) and
    confidence — the explain=True projection of score_pairs."""
    from .operators.algos import _require
    from .operators.blocking import birthdate_pairs
    from .operators.scoring import score_pairs

    t1, t2 = load_persons(spark, sf_dir)
    t1 = _require(t1, "birthdate")
    t2 = _require(t2, "birthdate")
    pairs = birthdate_pairs(t1, t2, allow_swap=False)
    out = score_pairs(pairs, no_middle=True, explain=True)
    return out.select(
        "t1_id",
        "t2_id",
        (F.floor(F.col("lev_pct") * 1e6) / 1e6).alias("lev_pct"),
        (F.floor(F.col("jw_pct") * 1e6) / 1e6).alias("jw_pct"),
        "mp_pct",
        "case_label",
        (F.floor(F.col("confidence") * 1e6) / 1e6).alias("confidence"),
    )


# --- rows-only (non-SQL-expressible: iterative CC, arrival-order ties) -------


def _entity_clusters_oracle() -> str | None:
    """Connected components of the FuzzyNoMiddle match graph.  The
    Spark side is iterative large-star/small-star; the oracle computes
    the same min-label components by recursive-CTE transitive closure
    (tractable at oracle scale; the closure is O(sum |comp|^2), which
    is exactly why the ENGINE uses the O(log n)-round algorithm)."""
    if _DM_CTE is None:
        return None
    persons_rec = _PERSONS_CTE.replace("WITH ", "WITH RECURSIVE ", 1)
    return f"""{persons_rec},
{_DM_CTE},
qa AS (SELECT pa.*, {_A4_FULL_NM.format(p='pa')} AS f FROM pa WHERE pa.birthdate IS NOT NULL),
qb AS (SELECT pb.*, {_A4_FULL_NM.format(p='pb')} AS f FROM pb WHERE pb.birthdate IS NOT NULL),
qa2 AS (SELECT qa.*, coalesce(dm.code, '') AS dmc FROM qa LEFT JOIN dm ON dm.s = qa.f),
qb2 AS (SELECT qb.*, coalesce(dm.code, '') AS dmc FROM qb LEFT JOIN dm ON dm.s = qb.f),
cand AS ({_pair_select('qa2', 'qb2', False)}
  FROM qa2 JOIN qb2 ON qa2.birthdate = qb2.birthdate),
{_score_metrics_ctes('cand', no_middle=True)},
mp AS (SELECT t1_id, t2_id FROM cls WHERE case_label IS NOT NULL),
edges AS (SELECT t1_id AS s, t2_id AS d FROM mp UNION SELECT t2_id, t1_id FROM mp),
vertices AS (SELECT DISTINCT s AS node FROM edges),
reach(node, r) AS (
  SELECT node, node FROM vertices
  UNION
  SELECT e.d, reach.r FROM reach JOIN edges e ON e.s = reach.node)
SELECT node, min(r) AS component FROM reach GROUP BY node
"""


@q("entity_clusters", _entity_clusters_oracle())
def _entity_clusters(spark, sf_dir):
    from .operators.algos import match_fuzzy_no_mid
    from .operators.clustering import cluster_matches

    t1, t2 = load_persons(spark, sf_dir)
    pairs = match_fuzzy_no_mid(t1, t2)
    return cluster_matches(pairs).orderBy("node")


@q("entity_clusters_incremental", _entity_clusters_oracle())
def _entity_clusters_incremental(spark, sf_dir):
    """The continuous-crawl path: half the match edges are clustered
    as the 'existing corpus', the other half arrive as an increment
    folded in by merge_components (condensed-graph CC + broadcast
    remap — O(changes), never a re-cluster of the world).  The merged
    assignment is exactly the batch answer, so the SAME recursive-CTE
    oracle hash-verifies the incremental operator end-to-end."""
    from .operators.algos import match_fuzzy_no_mid
    from .operators.clustering import connected_components, merge_components

    t1, t2 = load_persons(spark, sf_dir)
    edges = (
        match_fuzzy_no_mid(t1, t2)
        .select(F.col("t1_id").alias("src"), F.col("t2_id").alias("dst"))
        # materialized once: both halves and the base CC reuse it
        .localCheckpoint(eager=True)
    )
    split = F.pmod(F.xxhash64("src", "dst"), F.lit(2))
    base = connected_components(edges.filter(split == 0))
    return merge_components(base, edges.filter(split == 1)).orderBy("node")


# md5 hex nibble -> integer, as SQL (DuckDB has no conv(hex); fold the
# first 8 hex chars positionally — values < 2^32 are exact in doubles)
_HEX32 = (
    "CAST(list_sum(list_transform(range(8), i -> "
    "(strpos('0123456789abcdef', substr(md5({tok}), i + 1, 1)) - 1)"
    " * power(16, 7 - i))) AS BIGINT)"
)

# minhash oracle needs _HEX32, which is defined after the query above
ORACLE_SQL["dedup_minhash_lsh"] = _minhash_oracle()


@q("dedup_minhash_guarded")
def _dedup_minhash_guarded(spark, sf_dir):
    """The web-scale guarded LSH path (max_bucket dup-crowd cap) —
    same banding, oversized buckets dropped; oracle mirrors the cap."""
    from .operators.dedup import minhash_lsh_candidates

    register_views(spark, sf_dir)
    return minhash_lsh_candidates(
        spark.table("documents"), k=8, bands=4, max_bucket=20
    )


ORACLE_SQL["dedup_minhash_guarded"] = _minhash_oracle(max_bucket=20)


@q(
    "simhash",
    f"""
WITH t AS (
  SELECT doc_id,
         unnest(list_distinct(list_filter(
           string_split_regex(lower(text), '\\s+'), x -> x <> ''))) AS tok
  FROM documents),
h AS (SELECT doc_id, {_HEX32.format(tok='tok')} AS h_int FROM t),
b AS (
  SELECT doc_id, bit,
         CASE WHEN ((h_int >> bit) & 1) = 1 THEN 1 ELSE -1 END AS w
  FROM h, (SELECT unnest(range(32)) AS bit) bits),
s AS (SELECT doc_id, bit, sum(w) AS sw FROM b GROUP BY doc_id, bit)
SELECT doc_id,
       CAST(sum(CASE WHEN sw > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS simhash
FROM s GROUP BY doc_id
""",
)
def _simhash(spark, sf_dir):
    from .operators.dedup import simhash_fingerprints

    register_views(spark, sf_dir)
    return simhash_fingerprints(spark.table("documents"))


def _plane_sql(p: int, dim: int = 64) -> str:
    """The deterministic md5-parity hyperplane as a SQL list literal —
    the same constants annsearch._hyperplane feeds the Spark plan."""
    from .operators.annsearch import _hyperplane

    return "[" + ",".join(
        "1.0" if s > 0 else "-1.0" for s in _hyperplane(dim, p)
    ) + "]"


def _bucket_sql(planes: list[int], vec: str = "v") -> str:
    bits = ",".join(
        f"CASE WHEN list_dot_product({vec}, {_plane_sql(p)}) >= 0 THEN '1' ELSE '0' END"
        for p in planes
    )
    return f"concat({bits})"


_COS = (
    "list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)


@q(
    "ann_lsh",
    f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
b AS (SELECT vec_id, {_bucket_sql([0, 1, 2, 3])} AS bucket FROM e),
j AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {_COS.format(a='c.v', b='q.v')} AS cosine
  FROM e q JOIN b bq ON bq.vec_id = q.vec_id
  JOIN b bc ON bc.bucket = bq.bucket
  JOIN e c ON c.vec_id = bc.vec_id AND c.vec_id <> q.vec_id),
r AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM j)
SELECT query_id, neighbor_id, {_f6('cosine')} AS cosine, CAST(rank AS INT) AS rank
FROM r WHERE rank <= 5
""",
)
def _ann_lsh(spark, sf_dir):
    from .operators.annsearch import lsh_bucket_topk

    register_views(spark, sf_dir)
    out = lsh_bucket_topk(spark.table("embeddings"), k=5, n_planes=4)
    return out.select(
        "query_id",
        "neighbor_id",
        (F.floor(F.col("cosine") * 1e6) / 1e6).alias("cosine"),
        F.col("rank").cast("int").alias("rank"),
    )


@q(
    "ann_ivf",
    f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cent AS (
  SELECT vec_id AS centroid_id, v AS cv FROM e
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
ac AS (
  SELECT e.vec_id, cent.centroid_id,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY {_COS.format(a='e.v', b='cent.cv')} DESC,
                                     cent.centroid_id ASC) AS rnk
  FROM e, cent),
lists AS (SELECT vec_id, centroid_id FROM ac WHERE rnk = 1),
probes AS (SELECT vec_id, centroid_id FROM ac WHERE rnk <= 2 AND vec_id < 5),
j AS (
  SELECT p.vec_id AS query_id, l.vec_id AS neighbor_id,
         {_COS.format(a='c.v', b='q.v')} AS cosine
  FROM probes p JOIN lists l USING (centroid_id)
  JOIN e q ON q.vec_id = p.vec_id
  JOIN e c ON c.vec_id = l.vec_id
  WHERE l.vec_id <> p.vec_id),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM j)
SELECT query_id, neighbor_id, {_f6('cosine')} AS cosine, CAST(rank AS INT) AS rank
FROM r WHERE rank <= 5
""",
)
def _ann_ivf(spark, sf_dir):
    """IVF-flat ANN (the scale path alongside LSH): md5-sampled coarse
    centroids -> single-list corpus assignment -> n_probe-list query
    scan.  Deterministic centroids make the approximate output
    exact-comparable in DuckDB."""
    from .operators.annsearch import ivf_topk

    register_views(spark, sf_dir)
    emb = spark.table("embeddings")
    out = ivf_topk(
        emb, emb.filter(F.col("vec_id") < 5), k=5, n_centroids=16, n_probe=2
    )
    return out.select(
        "query_id",
        "neighbor_id",
        (F.floor(F.col("cosine") * 1e6) / 1e6).alias("cosine"),
        F.col("rank").cast("int").alias("rank"),
    )


@q(
    "households_opt6",
    None
    if _DM_CTE is None
    else f"""{_PERSONS_CTE},
{_DM_CTE},
qa AS (SELECT pa.*, {_A4_FULL_NM.format(p='pa')} AS f FROM pa WHERE pa.birthdate IS NOT NULL),
qb AS (SELECT pb.*, {_A4_FULL_NM.format(p='pb')} AS f FROM pb WHERE pb.birthdate IS NOT NULL),
qa2 AS (SELECT qa.*, coalesce(dm.code, '') AS dmc FROM qa LEFT JOIN dm ON dm.s = qa.f),
qb2 AS (SELECT qb.*, coalesce(dm.code, '') AS dmc FROM qb LEFT JOIN dm ON dm.s = qb.f),
cand AS (
  SELECT qa2.id t1_id, qb2.id t2_id, qa2.uuid t1_uuid,
         coalesce(qb2.hh_id, cast(qb2.id AS VARCHAR)) hh_key,
         qa2.f f1, qb2.f f2, qa2.dmc dm1, qb2.dmc dm2,
         coalesce(qa2.first_name, '') sf1, coalesce(qb2.first_name, '') sf2,
         coalesce(qa2.last_name, '') sl1, coalesce(qb2.last_name, '') sl2
  FROM qa2 JOIN qb2 ON qa2.birthdate = qb2.birthdate),
{_score_metrics_ctes('cand', no_middle=True, carry=', t1_uuid, hh_key')},
pairs AS (
  SELECT t1_id, t2_id, t1_uuid, hh_key, score / 100.0 AS conf
  FROM cls WHERE case_label IS NOT NULL AND t1_uuid IS NOT NULL
        AND score / 100.0 >= 0.8),
win AS (SELECT *, max(conf) OVER (PARTITION BY t2_id) AS top FROM pairs),
w2 AS (SELECT * FROM win WHERE conf = top),
w3 AS (SELECT *, min(t1_uuid) OVER (PARTITION BY t2_id) AS grp_min FROM w2),
fm AS (SELECT t2_id, min(t1_id) AS first_min FROM w3 WHERE t1_uuid = grp_min GROUP BY t2_id),
tie AS (
  SELECT w3.t2_id,
         max(CASE WHEN w3.t1_uuid <> w3.grp_min AND w3.t1_id > f.first_min
                  THEN 1 ELSE 0 END) AS t
  FROM w3 JOIN fm f ON w3.t2_id = f.t2_id GROUP BY w3.t2_id),
assigned AS (
  SELECT DISTINCT w3.t2_id, w3.grp_min AS uuid, w3.hh_key
  FROM w3 JOIN tie ON w3.t2_id = tie.t2_id WHERE tie.t = 0),
matched AS (SELECT uuid, hh_key, count(*) AS members FROM assigned GROUP BY uuid, hh_key),
totals AS (
  SELECT coalesce(pb.hh_id, cast(pb.id AS VARCHAR)) AS hh_key, count(*) AS total
  FROM pb GROUP BY coalesce(pb.hh_id, cast(pb.id AS VARCHAR))),
agg AS (
  SELECT m.uuid, m.hh_key, m.members * 100.0 / t.total AS pct
  FROM matched m JOIN totals t ON m.hh_key = t.hh_key
  WHERE m.members * 100.0 / t.total > 50.0)
SELECT cast(row_number() OVER (ORDER BY hh_key, uuid) AS BIGINT) AS row_id, uuid,
       coalesce(try_cast(hh_key AS BIGINT), 0) AS hh_id,
       {_f6('pct')} AS match_percentage
FROM agg
""",
)
def _households_opt6(spark, sf_dir):
    """Opt6 role-swapped household aggregation over FuzzyNoMiddle
    pairs.  The REFERENCE's tie arrival order is HashMap-
    nondeterministic; OUR engine pins arrival order to t1_id ascending
    (households.py window semantics), which is deterministic and
    SQL-expressible — the oracle replays exactly that.  Reference-
    faithfulness of the tie rules is pytest-verified separately."""
    from .operators.algos import match_fuzzy_no_mid
    from .operators.households import household_aggregate

    t1, t2 = load_persons(spark, sf_dir)
    pairs = match_fuzzy_no_mid(t1, t2, allow_swap=False)
    out = household_aggregate(pairs, t1, t2, min_conf=0.8, option=6)
    return out.select(
        F.col("row_id").cast("long").alias("row_id"),
        "uuid",
        "hh_id",
        (F.floor(F.col("match_percentage") * 1e6) / 1e6).alias("match_percentage"),
    )


_MID_VALID_NORM = "length(replace(trim({m}, '.'), ' ', '')) >= 2"


def _cascade_exclusive_oracle() -> str | None:
    """L1/L2/L3/L10/L11 exclusive cascade as one SQL chain: each level
    consumes the sides with previously-matched ids anti-joined away
    (cascade.rs:797-809), L10/L11 run the full scoring cascade via the
    dmeta side-table.  Exclusion is order-dependent but fully
    deterministic, hence SQL-expressible."""
    if _DM_CTE is None:
        return None
    mid_a = _MID_VALID_NORM.format(m="a.middle_name")
    mid_b = _MID_VALID_NORM.format(m="b.middle_name")
    pair_cols = (
        "SELECT a.id t1_id, b.id t2_id, a.f_mid f1, b.f_mid f2, "
        "a.dmc_mid dm1, b.dmc_mid dm2, "
        "coalesce(a.first_name,'') sf1, coalesce(b.first_name,'') sf2, "
        "coalesce(a.middle_name,'') sm1, coalesce(b.middle_name,'') sm2, "
        "coalesce(a.last_name,'') sl1, coalesce(b.last_name,'') sl2"
    )
    pair_cols_nm = (
        "SELECT a.id t1_id, b.id t2_id, a.f_nm f1, b.f_nm f2, "
        "a.dmc_nm dm1, b.dmc_nm dm2, "
        "coalesce(a.first_name,'') sf1, coalesce(b.first_name,'') sf2, "
        "coalesce(a.last_name,'') sl1, coalesce(b.last_name,'') sl2"
    )
    return f"""{_PERSONS_CTE},
{_DM_CTE},
ea0 AS (SELECT pa.*, {_L10_FULL.format(p='pa')} AS f_mid, {_A4_FULL_NM.format(p='pa')} AS f_nm FROM pa),
eb0 AS (SELECT pb.*, {_L10_FULL.format(p='pb')} AS f_mid, {_A4_FULL_NM.format(p='pb')} AS f_nm FROM pb),
ea AS (SELECT ea0.*, coalesce(dmm.code, '') AS dmc_mid, coalesce(dmn.code, '') AS dmc_nm
       FROM ea0 LEFT JOIN dm dmm ON dmm.s = ea0.f_mid LEFT JOIN dm dmn ON dmn.s = ea0.f_nm),
eb AS (SELECT eb0.*, coalesce(dmm.code, '') AS dmc_mid, coalesce(dmn.code, '') AS dmc_nm
       FROM eb0 LEFT JOIN dm dmm ON dmm.s = eb0.f_mid LEFT JOIN dm dmn ON dmn.s = eb0.f_nm),
l1 AS (
  SELECT a.id t1_id, b.id t2_id FROM ea a JOIN eb b
    ON a.first_name = b.first_name AND a.last_name = b.last_name
   AND a.middle_name = b.middle_name AND a.birthdate = b.birthdate
  WHERE {mid_a} AND {mid_b}),
a2 AS (SELECT * FROM ea WHERE NOT EXISTS (SELECT 1 FROM l1 WHERE l1.t1_id = ea.id)),
b2 AS (SELECT * FROM eb WHERE NOT EXISTS (SELECT 1 FROM l1 WHERE l1.t2_id = eb.id)),
l2 AS (
  SELECT a.id t1_id, b.id t2_id FROM a2 a JOIN b2 b
    ON a.first_name = b.first_name AND a.last_name = b.last_name
   AND substr(a.middle_name, 1, 1) = substr(b.middle_name, 1, 1)
   AND a.birthdate = b.birthdate
  WHERE a.middle_name IS NOT NULL AND b.middle_name IS NOT NULL),
a3 AS (SELECT * FROM a2 WHERE NOT EXISTS (SELECT 1 FROM l2 WHERE l2.t1_id = a2.id)),
b3 AS (SELECT * FROM b2 WHERE NOT EXISTS (SELECT 1 FROM l2 WHERE l2.t2_id = b2.id)),
l3 AS (
  SELECT a.id t1_id, b.id t2_id FROM a3 a JOIN b3 b
    ON a.first_name = b.first_name AND a.last_name = b.last_name
   AND a.birthdate = b.birthdate),
a4 AS (SELECT * FROM a3 WHERE NOT EXISTS (SELECT 1 FROM l3 WHERE l3.t1_id = a3.id)),
b4 AS (SELECT * FROM b3 WHERE NOT EXISTS (SELECT 1 FROM l3 WHERE l3.t2_id = b3.id)),
c10 AS (
  {pair_cols}
  FROM a4 a JOIN b4 b ON a.birthdate = b.birthdate
  WHERE {_MID_VALID.format(m='a.middle_name')} AND {_MID_VALID.format(m='b.middle_name')}),
{_score_metrics_ctes('c10', no_middle=False, prefix='x10_')},
l10 AS (SELECT t1_id, t2_id FROM x10_cls
        WHERE case_label IS NOT NULL AND score / 100.0 >= 0.8),
a5 AS (SELECT * FROM a4 WHERE NOT EXISTS (SELECT 1 FROM l10 WHERE l10.t1_id = a4.id)),
b5 AS (SELECT * FROM b4 WHERE NOT EXISTS (SELECT 1 FROM l10 WHERE l10.t2_id = b4.id)),
c11 AS (
  {pair_cols_nm}
  FROM a5 a JOIN b5 b ON a.birthdate = b.birthdate),
{_score_metrics_ctes('c11', no_middle=True, prefix='x11_')},
l11 AS (SELECT t1_id, t2_id FROM x11_cls
        WHERE case_label IS NOT NULL AND score / 100.0 >= 0.8)
SELECT t1_id, t2_id, 1 AS level FROM l1
UNION ALL SELECT t1_id, t2_id, 2 FROM l2
UNION ALL SELECT t1_id, t2_id, 3 FROM l3
UNION ALL SELECT t1_id, t2_id, 10 FROM l10
UNION ALL SELECT t1_id, t2_id, 11 FROM l11
"""


def _exclusive_cascade_pairs(spark, sf_dir):
    """The canonical exclusive L1/L2/L3/L10/L11 run as (t1_id, t2_id,
    level) pairs — shared by cascade_run_exclusive and
    cascade_summary so the summary can never desynchronize from the
    pair query it summarizes (levels/threshold live HERE only)."""
    from .operators.cascade import CascadeConfig, run_cascade

    t1, t2 = load_persons(spark, sf_dir)
    results = run_cascade(
        t1, t2, CascadeConfig(levels=[1, 2, 3, 10, 11], threshold=0.8)
    )
    out = None
    for lr in results:
        lvl = lr.matches.select(
            "t1_id", "t2_id", F.lit(lr.level).alias("level")
        )
        out = lvl if out is None else out.unionByName(lvl)
    return out


@q("cascade_run_exclusive", _cascade_exclusive_oracle())
def _cascade_run_exclusive(spark, sf_dir):
    """Full exclusive cascade L1/L2/L3/L10/L11 with per-level tags —
    the driver-loop orchestration (cascade.rs:622-903), oracle-replayed
    as a static anti-join chain."""
    return _exclusive_cascade_pairs(spark, sf_dir)


@q(
    "embedding_near_dups",
    f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings)
SELECT a.vec_id d1, b.vec_id d2,
       {_f6('list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))')} AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.5
""",
)
def _embedding_near_dups(spark, sf_dir):
    from .operators.annsearch import embedding_near_dups

    register_views(spark, sf_dir)
    out = embedding_near_dups(
        spark.table("embeddings"), threshold=0.5, approximate=False
    )
    return out.select(
        "d1", "d2", (F.floor(F.col("cosine") * 1e6) / 1e6).alias("cosine")
    )


def _band_cte_sql(bands: int = 4, r: int = 2) -> str:
    parts = [
        f"SELECT vec_id, {b} AS band_id, "
        f"{_bucket_sql(list(range(b * r, (b + 1) * r)))} AS bucket FROM e"
        for b in range(bands)
    ]
    return " UNION ALL ".join(parts)


@q(
    "embedding_near_dups_lsh",
    f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
b AS ({_band_cte_sql(bands=4, r=2)}),
cand AS (
  SELECT DISTINCT x.vec_id AS d1, y.vec_id AS d2
  FROM b x JOIN b y ON x.band_id = y.band_id AND x.bucket = y.bucket
                   AND x.vec_id < y.vec_id),
scored AS (
  SELECT cand.d1, cand.d2, {_COS.format(a='e1.v', b='e2.v')} AS cosine
  FROM cand JOIN e e1 ON e1.vec_id = cand.d1 JOIN e e2 ON e2.vec_id = cand.d2)
SELECT d1, d2, {_f6('cosine')} AS cosine
FROM scored WHERE cosine >= 0.5
""",
)
def _embedding_near_dups_lsh(spark, sf_dir):
    """Banded LSH approximate variant: recall <1 by design, but the
    bucketing is md5-deterministic, so the oracle replays the SAME
    bands and the output is exact-comparable."""
    from .operators.annsearch import embedding_near_dups

    register_views(spark, sf_dir)
    out = embedding_near_dups(
        spark.table("embeddings"), threshold=0.5, n_planes=8, bands=4
    )
    return out.select(
        "d1", "d2", (F.floor(F.col("cosine") * 1e6) / 1e6).alias("cosine")
    )


def _web_cluster_oracle() -> str | None:
    """End-to-end oracle for the north-rule pipeline, starting one
    stage downstream of extraction: fixtures/web_mentions.parquet holds
    the extracted mention rows for the canonical 2000-page seed-42
    crawl (scripts/gen_web_mentions.py), and this SQL replays blocking
    (soundex4(last) x lang x domain + birthdate equality + id order),
    the full scoring cascade (dmeta via the string-keyed side map,
    fixtures/web_dmeta_map.parquet) and min-label connected components
    by recursive closure.  The SPARK query runs the REAL extraction
    from generated pages — its rows hash-equal these only if
    extraction still lands on exactly the fixture mentions, so the
    extraction stage is regression-gated too (plus byte-exact pytest
    fixtures).  Mention names are lowercase ASCII, so normalize_simple
    is identity and the simple full name is first || ' ' || last."""
    fx = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "fixtures")
    mpath = os.path.abspath(os.path.join(fx, "web_mentions.parquet"))
    dpath = os.path.abspath(os.path.join(fx, "web_dmeta_map.parquet"))
    if not (os.path.exists(mpath) and os.path.exists(dpath)):
        return None  # running without fixtures: degrade to rows-only
    return f"""
WITH RECURSIVE m AS (
  SELECT id, url, mention_idx, first_name, last_name, birthdate, lang, domain,
         first_name || ' ' || last_name AS f,
         {_sx_sql('last_name')} AS sx
  FROM read_parquet('{mpath}')),
wdm AS (SELECT s, code FROM read_parquet('{dpath}')),
m2 AS (SELECT m.*, coalesce(wdm.code, '') AS dmc FROM m LEFT JOIN wdm ON wdm.s = m.f),
cand AS (
  SELECT a.id AS t1_id, b.id AS t2_id,
         a.f AS f1, b.f AS f2,
         a.dmc AS dm1, b.dmc AS dm2,
         a.first_name AS sf1, b.first_name AS sf2,
         a.last_name AS sl1, b.last_name AS sl2
  FROM m2 a JOIN m2 b
    ON a.sx = b.sx AND a.lang = b.lang AND a.domain = b.domain
   AND a.birthdate = b.birthdate AND a.id < b.id),
{_score_metrics_ctes('cand', no_middle=True)},
mpairs AS (SELECT t1_id, t2_id FROM cls WHERE case_label IS NOT NULL),
edges AS (SELECT t1_id AS s, t2_id AS d FROM mpairs UNION SELECT t2_id, t1_id FROM mpairs),
reach(node, r) AS (
  SELECT id, id FROM m
  UNION
  SELECT e.d, reach.r FROM reach JOIN edges e ON e.s = reach.node),
comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node)
SELECT m.id, m.url, m.mention_idx, comp.component AS cluster_id
FROM m JOIN comp ON comp.node = m.id
"""


@q("web_cluster_pages", _web_cluster_oracle())
def _web_cluster_pages(spark, sf_dir):
    """North-rule pipeline end-to-end on a deterministic synthetic
    crawl (pages -> extract -> block -> score -> cluster).  The DuckDB
    oracle replays everything downstream of extraction from the
    committed mention fixture (see _web_cluster_oracle); extraction is
    regression-gated by the id hash equality + byte-exact pytest
    fixtures."""
    from .plans.web_pipeline import cluster_pages
    from .sources.web import generate_webpages

    pages = generate_webpages(spark, 2000, seed=42, partitions=8)
    return cluster_pages(pages).orderBy("id")


# --- round 5: run-summary + guard observability as oracle queries -----------


def _cascade_summary_oracle() -> str | None:
    """Per-level run summary over the SAME exclusive chain as
    cascade_run_exclusive (cascade.rs:888-903 prints these counts per
    level) — DuckDB allows a WITH chain inside a FROM subquery, so the
    full exclusive oracle nests unchanged under a GROUP BY."""
    base = _cascade_exclusive_oracle()
    if base is None:
        return None
    return f"""
SELECT level, count(*) AS n_matches,
       count(DISTINCT t1_id) AS n_t1, count(DISTINCT t2_id) AS n_t2
FROM ({base}) t GROUP BY level
"""


@q("cascade_summary", _cascade_summary_oracle())
def _cascade_summary(spark, sf_dir):
    """Per-level match counts + distinct matched ids of the exclusive
    L1/L2/L3/L10/L11 run — the reference's per-level progress summary
    (cascade.rs:888-903, xlsx Summary sheet per-level rows).  The
    aggregation reuses the run's per-level frames (cached and counted
    by run_cascade), so the summary costs one extra partial-agg pass,
    no re-execution of any level."""
    out = _exclusive_cascade_pairs(spark, sf_dir)
    return out.groupBy("level").agg(
        F.count("*").alias("n_matches"),
        F.countDistinct("t1_id").alias("n_t1"),
        F.countDistinct("t2_id").alias("n_t2"),
    )


@q(
    "block_guard_stats",
    f"""{_PERSONS_CTE},
na AS ({_A3_KEYS_A}),
hist AS (SELECT yr, fi, li, sx, count(*) AS n FROM na GROUP BY yr, fi, li, sx)
SELECT concat_ws(chr(31), yr::VARCHAR, fi, li, sx) AS block_key,
       n AS n_rows
FROM hist WHERE n <= 3
""",
)
def _block_guard_stats(spark, sf_dir):
    """Surviving-block histogram after the
    NAME_MATCHER_MAX_FUZZY_BIRTHDATE_BLOCK size guard
    (advanced_matcher.rs:193-216): rows in algo-3 blocks larger than
    the cap are dropped by a broadcast anti-semi-join, then the
    histogram is the per-block candidate estimator the reference logs
    (mod.rs:1863-1902).  Exercises block_size_guard + block_histogram
    on the real prepared-person columns; limit=3 is small enough to
    bite at sf0.01 (blocks reach size 6)."""
    from .operators.blocking import (
        algo3_block_key,
        block_histogram,
        block_size_guard,
    )

    t1, _ = load_persons(spark, sf_dir)
    t1 = t1.filter(
        F.col("first_name").isNotNull()
        & F.col("last_name").isNotNull()
        & F.col("birthdate").isNotNull()
    )
    # guard + histogram both only read the KEY; materialize it once
    # (the full person-prep lineage otherwise executes twice — once
    # for the oversized-block aggregate, once for the probe side)
    t1k = t1.select(algo3_block_key().alias("_bk")).localCheckpoint(
        eager=False
    )
    guarded = block_size_guard(t1k, F.col("_bk"), limit=3)
    return block_histogram(guarded, F.col("_bk")).select(
        F.col("block_key"), F.col("count").alias("n_rows")
    )


@q(
    "events_sessionize",
    """
WITH s AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
sid AS (
  SELECT user_id, ts, value,
         sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM s)
SELECT user_id, session_seq,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_end,
       count(*) AS n_events,
       floor(sum(value) * 1000000) / 1000000 AS sum_value
FROM sid GROUP BY user_id, session_seq
""",
)
def _events_sessionize(spark, sf_dir):
    """Gap-based sessionization of the event log (30-min inactivity
    boundary) -> per-session rollups.  One exchange end-to-end: the
    window partitions on user_id and the rollup groups on
    (user_id, session_seq) ⊇ the exchange key (operators/events.py).
    Gap math is exact integer microseconds on both engines."""
    from .operators.events import session_stats

    register_views(spark, sf_dir)
    s = session_stats(spark.table("events"))
    # string-format the bounds HERE (hash-gate concern, not the
    # operator's): the operator returns real timestamps
    return s.withColumns(
        {
            "session_start": F.date_format(
                "session_start", "yyyy-MM-dd HH:mm:ss.SSSSSS"
            ),
            "session_end": F.date_format(
                "session_end", "yyyy-MM-dd HH:mm:ss.SSSSSS"
            ),
        }
    )


def _web_domain_oracle() -> str | None:
    """Per-domain crawl rollup replayed from the committed mention
    fixture — the web_cluster_pages contract: the SPARK side runs the
    REAL extraction, so a hash match certifies extraction + the
    rollup, not just the rollup."""
    fx = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "fixtures")
    mpath = os.path.abspath(os.path.join(fx, "web_mentions.parquet"))
    if not os.path.exists(mpath):
        return None
    return f"""
SELECT domain, lang,
       count(*) AS n_mentions,
       count(DISTINCT url) AS n_pages,
       count(DISTINCT first_name || ' ' || last_name) AS n_names
FROM read_parquet('{mpath}')
GROUP BY domain, lang
"""


@q("web_domain_stats", _web_domain_oracle())
def _web_domain_stats(spark, sf_dir):
    """Per-(domain, lang) mention/page/name counts over the canonical
    2000-page seed-42 crawl — the corpus-profiling pass a crawl
    pipeline runs before blocking (domain x lang are two of the three
    composite block-key fields, so these counts are the block-size
    estimator at the partition-planning stage).  Runs the real
    extraction; the oracle replays from fixtures/web_mentions.parquet."""
    from .plans.web_pipeline import prepare_mentions
    from .sources.web import generate_webpages

    pages = generate_webpages(spark, 2000, seed=42, partitions=8)
    m = prepare_mentions(pages)
    return m.groupBy("domain", "lang").agg(
        F.count("*").alias("n_mentions"),
        F.countDistinct("url").alias("n_pages"),
        F.countDistinct(
            F.concat_ws(" ", "first_name", "last_name")
        ).alias("n_names"),
    )


def _media_meta_oracle() -> str | None:
    """Kind + pixel dims re-derived from raw header bytes in DuckDB.
    DuckDB cannot slice BLOBs directly, but hex(blob) is sliceable —
    byte i is two hex chars decoded by nibble arithmetic (strpos into
    '0123456789ABCDEF'), the same VALUES-free literal-SQL trick as the
    LSH constants.  The JPEG SOF offset 89 is our encoder's fixed
    layout constant (multimodal.JPEG_SOF_OFF), asserted at fixture
    build and in pytest."""
    fx = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "fixtures")
    mpath = os.path.abspath(os.path.join(fx, "media_meta.parquet"))
    if not os.path.exists(mpath):
        return None

    def byte(i: int) -> str:
        return (
            f"((strpos('0123456789ABCDEF', substr(h, {2 * i + 1}, 1)) - 1) * 16"
            f" + strpos('0123456789ABCDEF', substr(h, {2 * i + 2}, 1)) - 1)"
        )

    def be16(i: int) -> str:
        return f"({byte(i)} * 256 + {byte(i + 1)})"

    def be32(i: int) -> str:
        return f"({be16(i)} * 65536 + {be16(i + 2)})"

    def le16(i: int) -> str:
        return f"({byte(i)} + {byte(i + 1)} * 256)"

    def le32s(i: int) -> str:
        raw = (
            f"({byte(i)} + {byte(i + 1)} * 256 + {byte(i + 2)} * 65536"
            f" + {byte(i + 3)} * 16777216)"
        )
        return f"(CASE WHEN {raw} >= 2147483648 THEN {raw} - 4294967296 ELSE {raw} END)"

    sof = 89
    return f"""
WITH m AS (SELECT media_id, hex(payload) AS h, octet_length(payload) AS nb
           FROM read_parquet('{mpath}'))
SELECT media_id,
       CASE WHEN h LIKE '89504E47%' THEN 'image/png'
            WHEN h LIKE 'FFD8FF%'   THEN 'image/jpeg'
            WHEN h LIKE '47494638%' THEN 'image/gif'
            WHEN h LIKE '424D%'     THEN 'image/bmp'
            WHEN h LIKE '52494646%' THEN
              CASE WHEN substr(h, 17, 8) = '41564920' THEN 'video/avi'
                   ELSE 'audio/wav' END
            ELSE 'application/octet-stream' END AS media_kind,
       nb AS media_bytes,
       CASE WHEN h LIKE '424D%'     THEN {le32s(18)}
            WHEN h LIKE '89504E47%' THEN {be32(16)}
            WHEN h LIKE '47494638%' THEN {le16(6)}
            WHEN h LIKE 'FFD8FF%' AND substr(h, {2 * sof + 1}, 2) = 'FF' AND substr(h, {2 * sof + 3}, 2) IN ('C0', 'C2') THEN {be16(sof + 7)} END AS width,
       CASE WHEN h LIKE '424D%'     THEN abs({le32s(22)})
            WHEN h LIKE '89504E47%' THEN {be32(20)}
            WHEN h LIKE '47494638%' THEN {le16(8)}
            WHEN h LIKE 'FFD8FF%' AND substr(h, {2 * sof + 1}, 2) = 'FF' AND substr(h, {2 * sof + 3}, 2) IN ('C0', 'C2') THEN {be16(sof + 5)} END AS height
FROM m
"""


@q("media_meta", _media_meta_oracle())
def _media_meta(spark, sf_dir):
    """Binary-column metadata pass over the committed real-codec blob
    corpus (fixtures/media_meta.parquet): magic-byte kind sniff +
    header-byte pixel dims, ALL pure Column expressions in one
    projection — the JVM-side scan a 100 TB media table needs before
    any decode is scheduled.  Dims agree with full codec decode
    (pinned in tests/test_media_meta.py); the oracle re-derives them
    byte-by-byte in DuckDB."""
    from .operators.multimodal import attach_image_dims, attach_media_metadata

    fx = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "fixtures")
    df = spark.read.parquet(
        os.path.abspath(os.path.join(fx, "media_meta.parquet"))
    )
    return attach_image_dims(attach_media_metadata(df)).select(
        "media_id", "media_kind", "media_bytes", "width", "height"
    )


@q(
    "match_summary_stats",
    None if _DM_CTE is None else f"""
WITH matches AS (
  SELECT * FROM ({_PERSONS_CTE},
{_DM_CTE},
{_A3_FULL_TIERS},
{_score_cascade_sql('candf', no_middle=False)}) t),
qs AS (SELECT count(*) AS n_matches,
              quantile_cont(confidence, [0.5, 0.9, 0.99]) AS q
       FROM matches)
SELECT n_matches,
       floor(q[1] * 1000000) / 1000000 AS conf_p50,
       floor(q[2] * 1000000) / 1000000 AS conf_p90,
       floor(q[3] * 1000000) / 1000000 AS conf_p99
FROM qs
""",
)
def _match_summary_stats(spark, sf_dir):
    """The run-summary confidence percentiles (xlsx_export.rs:14-60,
    benchmarking/mod.rs:175-199) as EXACT percentiles over the Algo-3
    match set — `percentile` (sort + linear interpolation) rather than
    the sketch-based percentile_approx the streaming sink uses, so the
    DuckDB quantile_cont twin is float-comparable.  Inputs are the
    1e-6-floored confidences (hash-identical across engines per the
    algo3_full gate), making the interpolation arithmetic bit-stable.
    Exact `percentile` buffers the value set in its final reducer —
    right-sized here because the input is a match RESULT (report
    scale), never the corpus; corpus-scale summaries stay on the
    sketch-based percentile_approx path (sinks.run_summary)."""
    from .operators.algos import match_fuzzy

    t1, t2 = load_persons(spark, sf_dir)
    m = match_fuzzy(t1, t2, allow_swap=False).select(
        (F.floor(F.col("confidence") * 1e6) / 1e6).alias("confidence")
    )
    agg = m.agg(
        F.count("*").alias("n_matches"),
        F.expr("percentile(confidence, array(0.5d, 0.9d, 0.99d))").alias("q"),
    )
    return agg.select(
        "n_matches",
        (F.floor(F.col("q")[0] * 1e6) / 1e6).alias("conf_p50"),
        (F.floor(F.col("q")[1] * 1e6) / 1e6).alias("conf_p90"),
        (F.floor(F.col("q")[2] * 1e6) / 1e6).alias("conf_p99"),
    )


@q(
    "events_asof_join",
    """
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
errors AS (
  SELECT user_id, ts AS err_ts, max(value) AS err_value
  FROM events WHERE event_type = 'error' GROUP BY user_id, ts)
SELECT c.event_id, c.user_id,
       strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
       strftime(e.err_ts, '%Y-%m-%d %H:%M:%S.%f') AS err_ts,
       e.err_value
FROM clicks c ASOF LEFT JOIN errors e
  ON c.user_id = e.user_id AND c.ts >= e.err_ts
""",
)
def _events_asof_join(spark, sf_dir):
    """Point-in-time join: every click event gets the user's most
    recent error event at-or-before it (operators/events.py asof_join
    — union-tag + running last(ignorenulls) window, ONE exchange, any
    right size).  The oracle is DuckDB's NATIVE `ASOF LEFT JOIN`, so
    the operator's semantics (inclusive bound, left rows without a
    match kept with NULLs, per-(key,ts)-unique right) are certified
    against an independent first-class implementation."""
    from .operators.events import asof_join

    register_views(spark, sf_dir)
    ev = spark.table("events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    errors = (
        ev.filter(F.col("event_type") == "error")
        .groupBy("user_id", F.col("ts").alias("err_ts"))
        .agg(F.max("value").alias("err_value"))
    )
    j = asof_join(
        clicks, errors, on="user_id", left_ts="ts", right_ts="err_ts"
    )
    return j.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
        F.date_format("err_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("err_ts"),
        "err_value",
    )


@q(
    "events_range_join",
    """
WITH clicks AS (
  SELECT event_id AS click_id, user_id, epoch_us(ts) AS t
  FROM events WHERE event_type = 'click'),
errs AS (
  SELECT event_id AS err_id, user_id, epoch_us(ts) AS t0
  FROM events WHERE event_type = 'error')
SELECT c.click_id, e.err_id, c.user_id, c.t - e.t0 AS gap_us
FROM clicks c JOIN errs e
  ON c.user_id = e.user_id AND c.t >= e.t0 AND c.t <= e.t0 + 21600000000
""",
)
def _events_range_join(spark, sf_dir):
    """Interval (range) join: every click inside the 6-hour window
    after an error of the same user — ALL qualifying pairs, unlike the
    as-of join's latest-only.  operators/events.py range_join buckets
    the time axis at the window width, so each click joins its bucket
    equi-wise (exactly one bucket per point -> no dedup) against
    windows exploded to <=2 buckets, then the exact BETWEEN filter
    runs post-join; the naive plan Spark would pick for the bare
    inequality join is BroadcastNestedLoopJoin.  The oracle IS that
    naive inequality join in DuckDB."""
    from .operators.events import range_join

    register_views(spark, sf_dir)
    ev = spark.table("events")

    def us(c):
        return F.timestamp_diff(
            "MICROSECOND",
            F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"),
            F.col(c),
        )

    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", us("ts").alias("t")
    )
    errs = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"),
        "user_id",
        us("ts").alias("t0"),
        (us("ts") + 21_600_000_000).alias("t1"),
    )
    j = range_join(
        clicks, errs, "t", "t0", "t1", on="user_id", bucket_width=21_600_000_000
    )
    return j.select(
        "click_id", "err_id", "user_id", (F.col("t") - F.col("t0")).alias("gap_us")
    )


# --- graph analytics (PageRank / triangles) ---------------------------------


def _pagerank_oracle(iterations: int = 5) -> str:
    """Unrolled fixed-point PageRank in DuckDB: the same integer
    recurrence as operators/graph.py, one CTE per iteration.  Integer
    sums are order-independent, so the two engines are bit-comparable
    with no float tolerance at all — rank is a BIGINT."""
    scale, num, den = 10**12, 85, 100
    teleport = ((den - num) * scale) // den
    parts = [
        """
WITH edges AS (
  SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
outdeg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
nn AS (SELECT count(*) AS n_nodes FROM nodes),
r0 AS (SELECT id, CAST(%d AS BIGINT) AS rank FROM nodes)"""
        % scale
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f""",
inf{i} AS (
  SELECT e.dst AS id, CAST(SUM(r.rank // o.outdeg) AS BIGINT) AS s
  FROM r{i - 1} r JOIN outdeg o ON r.id = o.src
  JOIN edges e ON e.src = r.id
  GROUP BY e.dst),
dang{i} AS (
  SELECT COALESCE(CAST(SUM(r.rank) AS BIGINT), 0) AS dang
  FROM r{i - 1} r LEFT JOIN outdeg o ON r.id = o.src
  WHERE o.src IS NULL),
r{i} AS (
  SELECT n.id,
         CAST({teleport} + ({num} * (COALESCE(inf.s, 0)
              + (d.dang // nn.n_nodes))) // {den} AS BIGINT) AS rank
  FROM nodes n
  LEFT JOIN inf{i} inf ON n.id = inf.id
  CROSS JOIN dang{i} d CROSS JOIN nn)"""
        )
    parts.append(
        f"""
SELECT id AS node_id, rank FROM r{iterations}
"""
    )
    return "".join(parts)


@q("graph_pagerank", _pagerank_oracle())
def _graph_pagerank(spark, sf_dir):
    """PageRank over the customer->supplier purchase graph (distinct
    (c_custkey, l_suppkey) pairs through orders) — the link-authority
    pass a crawl scheduler runs over the host graph.  5 synchronous
    iterations, 64-bit fixed-point integer arithmetic (rank mass
    scaled by 1e12): bit-identical under any partitioning, so the
    DuckDB oracle (same recurrence, unrolled CTEs) hash-matches with
    zero float tolerance.  Suppliers are dangling nodes; their mass
    redistributes uniformly.  Plan: one shuffle per iteration
    (groupBy dst) + two broadcast scalars; lineage localCheckpoint'd
    per iteration (clustering.py's pattern)."""
    from .operators.graph import pagerank

    register_views(spark, sf_dir)
    edges = (
        spark.table("orders")
        .join(
            spark.table("lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
    )
    return pagerank(edges).select(F.col("id").alias("node_id"), "rank")


@q(
    "graph_triangles",
    """
WITH pairs AS (
  SELECT DISTINCT least('s' || a.l_suppkey, 's' || b.l_suppkey) AS a,
                  greatest('s' || a.l_suppkey, 's' || b.l_suppkey) AS b
  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_suppkey <> b.l_suppkey)
SELECT CAST(count(*) AS BIGINT) AS n_triangles
FROM pairs e1 JOIN pairs e2 ON e2.a = e1.b
JOIN pairs e3 ON e3.a = e1.a AND e3.b = e2.b
""",
)
def _graph_triangles(spark, sf_dir):
    """Exact triangle count over the co-supplier graph (suppliers
    sharing an order).  The Spark operator is the degree-ordered
    node-iterator (out-degree bounded by O(sqrt(m)) after
    orientation — the bound that keeps hub nodes from exploding the
    wedge join at web scale); the oracle is the INDEPENDENT textbook
    a<b<c ordered-triple join, so a hash match certifies the
    orientation trick computes the same count."""
    from .operators.graph import triangle_count

    register_views(spark, sf_dir)
    li = spark.table("lineitem")
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("sa"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("sb"))
    edges = (
        a.join(b, "ok")
        .where(F.col("sa") != F.col("sb"))
        .select(
            F.concat(F.lit("s"), F.col("sa").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("sb").cast("string")).alias("dst"),
        )
    )
    return triangle_count(edges)


# --- TF-IDF ----------------------------------------------------------------


@q(
    "tfidf_top_terms",
    """
WITH tok AS (
  SELECT doc_id,
         lower(unnest(regexp_split_to_array(text, '[^a-zA-Z0-9]+'))) AS term
  FROM documents),
tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM tok WHERE term <> '' GROUP BY doc_id, term),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, term, tf, df,
         tf * ln(CAST(n_docs AS DOUBLE) / df) AS score
  FROM tf JOIN dfreq USING (term) CROSS JOIN n),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rank
  FROM scored)
SELECT doc_id, rank, term, tf, df, floor(score * 1e6) / 1e6 AS score
FROM ranked WHERE rank <= 5
""",
)
def _tfidf_top_terms(spark, sf_dir):
    """Top-5 TF-IDF terms per document — corpus term weighting for
    topical filtering of training data.  ASCII-alnum tokenization (no
    unicode lowercasing ambiguity), ln computed on the distinct-df
    dim via an Arrow batch calling libm math.log (bit-identical to
    DuckDB's ln — Java's Math.log differs by 1 ulp on ~7% of inputs,
    measured, so the JVM F.log fast path stays opt-in).  Raw doubles
    drive the ranking in BOTH engines; the 1e-6 floor is only output
    formatting."""
    from .operators.textstats import tfidf_top_terms

    register_views(spark, sf_dir)
    out = tfidf_top_terms(spark.table("documents"), k=5)
    return out.withColumn(
        "score", F.floor(F.col("score") * 1e6) / F.lit(1e6)
    )


# --- deterministic corpus sampling ------------------------------------------

_SAMPLE_SEED = "cs42"
_STRATA_RATES = {"en": 0.5, "de": 1.0, "zh": 0.25}
_STRATA_DEFAULT = 0.1
_SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}


def _md5_bucket_sql(key_sql: str, seed: str) -> str:
    """sampling.hash_bucket32 as DuckDB SQL: the _HEX32 nibble fold
    over md5(key ':' seed).  (Named to avoid the pre-existing LSH
    hyperplane helper ``_bucket_sql`` defined earlier in this
    module.)"""
    return _HEX32.format(tok=f"({key_sql} || ':{seed}')")


def _stratified_oracle() -> str:
    from .operators.sampling import _threshold

    case = " ".join(
        f"WHEN lang = '{s}' THEN {_threshold(r)}"
        for s, r in sorted(_STRATA_RATES.items())
    )
    b = _md5_bucket_sql("CAST(doc_id AS VARCHAR)", _SAMPLE_SEED)
    return f"""
SELECT doc_id, lang, source
FROM documents
WHERE {b} < (CASE {case} ELSE {_threshold(_STRATA_DEFAULT)} END)
"""


@q("corpus_stratified_sample", _stratified_oracle())
def _corpus_stratified_sample(spark, sf_dir):
    """Language-rebalanced corpus downsample: per-stratum keep-rates
    (en 0.5 / de 1.0 / zh 0.25 / default 0.1) decided by an md5
    content-key bucket against exact integer thresholds — zero
    floats in the decision, so the sample is bit-reproducible across
    engines, reruns, and partitionings (the property that makes
    incremental re-ingests keep their previous decisions).  Pure
    Column predicate over one scan: no shuffle, no Python."""
    from .operators.sampling import stratified_sample

    register_views(spark, sf_dir)
    return stratified_sample(
        spark.table("documents").select("doc_id", "lang", "source"),
        "lang",
        _STRATA_RATES,
        "doc_id",
        seed=_SAMPLE_SEED,
        default_rate=_STRATA_DEFAULT,
    )


def _split_case_sql(bucket_sql: str) -> str:
    """CASE over split_assign's canonical range layout — derived from
    the SAME split_bounds() the engine compiles, so the replayed split
    cannot drift from the operator's."""
    from .operators.sampling import split_bounds

    bounds = split_bounds(_SPLIT_WEIGHTS)
    whens = " ".join(
        f"WHEN {bucket_sql} < {ub} THEN '{name}'" for name, ub in bounds[:-1]
    )
    return f"CASE {whens} ELSE '{bounds[-1][0]}' END"


def _split_oracle() -> str:
    b = _md5_bucket_sql("CAST(doc_id AS VARCHAR)", _SAMPLE_SEED)
    return f"""
WITH bk AS (SELECT doc_id, lang, {b} AS b FROM documents)
SELECT doc_id, lang, {_split_case_sql("b")} AS split
FROM bk
"""


@q("corpus_split_assign", _split_oracle())
def _corpus_split_assign(spark, sf_dir):
    """Deterministic train/val/test assignment (0.8/0.1/0.1) by
    cumulative md5-bucket ranges exactly tiling [0, 2^32) — every row
    lands in exactly one split, forever, no matter where or when the
    job runs.  Same scan-bound zero-shuffle shape as the sampler."""
    from .operators.sampling import split_assign

    register_views(spark, sf_dir)
    return split_assign(
        spark.table("documents").select("doc_id", "lang"),
        _SPLIT_WEIGHTS,
        "doc_id",
        seed=_SAMPLE_SEED,
    )


# --- collocations ------------------------------------------------------------


@q(
    "bigram_collocations",
    """
WITH clean AS (
  SELECT doc_id, list_transform(list_filter(
      regexp_split_to_array(text, '[^a-zA-Z0-9]+'), x -> x <> ''),
      x -> lower(x)) AS ts
  FROM documents),
pr AS (SELECT unnest(list_zip(ts, ts[2:])) AS p FROM clean),
ab0 AS (SELECT p[1] AS term_a, p[2] AS term_b FROM pr WHERE p[2] IS NOT NULL),
n_ab AS (
  SELECT term_a, term_b, count(*) AS n_ab
  FROM ab0 GROUP BY term_a, term_b HAVING count(*) >= 5),
n_a AS (SELECT term_a, count(*) AS n_a FROM ab0 GROUP BY term_a),
n_b AS (SELECT term_b, count(*) AS n_b FROM ab0 GROUP BY term_b),
tt AS (SELECT count(*) AS t_total FROM ab0)
SELECT term_a, term_b, n_ab, n_a, n_b,
       CAST(n_ab * t_total AS DOUBLE) / CAST(n_a * n_b AS DOUBLE) AS lift
FROM n_ab JOIN n_a USING (term_a) JOIN n_b USING (term_b) CROSS JOIN tt
ORDER BY lift DESC, term_a ASC, term_b ASC
LIMIT 20
""",
)
def _bigram_collocations(spark, sf_dir):
    """Top-20 adjacent-pair collocations by LIFT = n_ab*T/(n_a*n_b)
    (exp(PMI) — ranks identically to PMI with NO transcendental: the
    one double division is correctly rounded, so the score is
    bit-identical cross-engine with no flooring at all).  Spark side
    pairs tokens via a lead() window per doc_id (the Catalyst plan for
    within-document adjacency); the oracle pairs them via DuckDB's
    native list_zip — two independent formulations of adjacency."""
    from .operators.textstats import bigram_collocations

    register_views(spark, sf_dir)
    return bigram_collocations(spark.table("documents"), top_n=20, min_count=5)


# --- decontamination ---------------------------------------------------------


def _decontam_oracle() -> str:
    """Split assignment replayed via the md5-bucket ranges, then the
    dedup family's n-gram construction, then the distinct-train-set
    join — the whole curation chain as one SQL twin."""
    b = _md5_bucket_sql("CAST(doc_id AS VARCHAR)", _SAMPLE_SEED)
    return f"""
WITH sp AS (
  SELECT doc_id, text, {_split_case_sql(b)} AS split
  FROM documents),
toks AS (
  SELECT doc_id, split,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') tl
  FROM sp WHERE split IN ('train', 'test')),
tok AS (
  SELECT doc_id, split,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(tl) - 2, 0) + 1),
           i -> array_to_string(list_slice(tl, i, i + 2), ' ')))) AS tok
  FROM toks),
train_set AS (SELECT DISTINCT tok FROM tok WHERE split = 'train'),
test_tok AS (SELECT doc_id, tok FROM tok WHERE split = 'test'),
sizes AS (SELECT doc_id, count(*) AS n_ngrams FROM test_tok GROUP BY doc_id),
hits AS (
  SELECT t.doc_id, count(*) AS n_shared
  FROM test_tok t JOIN train_set s ON t.tok = s.tok
  GROUP BY t.doc_id)
SELECT s.doc_id, s.n_ngrams,
       COALESCE(h.n_shared, 0) AS n_shared,
       floor((CAST(COALESCE(h.n_shared, 0) AS DOUBLE)
              / CAST(s.n_ngrams AS DOUBLE)) * 1e6) / 1e6 AS contamination
FROM sizes s LEFT JOIN hits h ON s.doc_id = h.doc_id
"""


@q("split_decontam", _decontam_oracle())
def _split_decontam(spark, sf_dir):
    """Benchmark decontamination over the deterministic 0.8/0.1/0.1
    split: for every TEST document, the fraction of its distinct
    word-3-gram shingles that appear ANYWHERE in the train split (the
    GPT-3-style n-gram contamination check).  Composes split_assign's
    md5-range assignment with the dedup family's Arrow shingler; the
    train side collapses to a distinct shingle set first, so the
    cross-split join is strictly linear.  The oracle replays the
    entire chain - bucket CASE, n-gram list transform, distinct-set
    join - in DuckDB."""
    from .operators.decontam import cross_split_contamination
    from .operators.sampling import split_assign

    register_views(spark, sf_dir)
    sp = split_assign(
        spark.table("documents").select("doc_id", "text"),
        _SPLIT_WEIGHTS,
        "doc_id",
        seed=_SAMPLE_SEED,
    )
    out = cross_split_contamination(sp, n=3)
    return out.withColumn(
        "contamination", F.floor(F.col("contamination") * 1e6) / F.lit(1e6)
    )


# --- embedding aggregation ---------------------------------------------------


@q(
    "embedding_label_centroids",
    """
WITH comp AS (
  SELECT label, t.i AS dim,
         CAST(floor(CAST(embedding[t.i] AS DOUBLE) * 16777216) AS BIGINT) AS v_fx
  FROM embeddings, generate_series(1, 64) t(i))
SELECT label, dim,
       CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(sum(v_fx) AS BIGINT) AS c_fx,
       CAST(sum(v_fx) AS DOUBLE) / CAST(count(*) * 16777216 AS DOUBLE) AS centroid
FROM comp
WHERE v_fx IS NOT NULL
GROUP BY label, dim
""",
)
def _embedding_label_centroids(spark, sf_dir):
    """Per-(label, dim) class centroids of the embedding corpus in
    EXACT fixed-point arithmetic (components quantized to
    floor(v * 2^24) BIGINTs, summed associatively) — the trick that
    makes a distributed mean bit-reproducible under any partitioning,
    retry, or engine: float sums are order-dependent, integer sums are
    not.  c_fx hash-matches DuckDB with zero tolerance; the centroid
    double is one correctly-rounded division of exact integers.  One
    posexplode + one hash aggregate; the 64x fan-out is absorbed by
    map-side partial aggregation."""
    from .operators.embeddings import label_centroids

    register_views(spark, sf_dir)
    return label_centroids(spark.table("embeddings"))


# --- repetition quality (Gopher-style) ---------------------------------------

_REP_STATS_ORACLE = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS tl
  FROM documents),
per_tok AS (
  SELECT doc_id, tok, count(*) AS c, length(tok) AS l
  FROM (SELECT doc_id, unnest(tl) AS tok FROM toks)
  GROUP BY doc_id, tok),
uni AS (
  SELECT doc_id,
         CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_distinct_tokens,
         CAST(sum(c * l) AS BIGINT) AS n_token_chars,
         CAST(max(c * l) AS BIGINT) AS top_token_chars
  FROM per_tok GROUP BY doc_id),
big AS (
  SELECT doc_id, g, count(*) AS c, length(g) AS l FROM (
    SELECT doc_id, unnest(list_transform(range(1, greatest(len(tl) - 1, 0) + 1),
           i -> tl[i] || ' ' || tl[i + 1])) AS g
    FROM toks)
  GROUP BY doc_id, g),
bigtop AS (
  SELECT doc_id, CAST(max(c * l) AS BIGINT) AS top_bigram_chars
  FROM big GROUP BY doc_id),
stats AS (
  SELECT d.doc_id,
    COALESCE(n_tokens, 0) AS n_tokens,
    COALESCE(n_distinct_tokens, 0) AS n_distinct_tokens,
    COALESCE(n_token_chars, 0) AS n_token_chars,
    CASE WHEN COALESCE(n_tokens, 0) > 0
         THEN CAST(n_tokens - n_distinct_tokens AS DOUBLE)
              / CAST(n_tokens AS DOUBLE)
         ELSE 0.0 END AS dup_token_frac,
    COALESCE(top_token_chars, 0) AS top_token_chars,
    CASE WHEN COALESCE(n_token_chars, 0) > 0
         THEN CAST(top_token_chars AS DOUBLE) / CAST(n_token_chars AS DOUBLE)
         ELSE 0.0 END AS top_token_frac,
    COALESCE(top_bigram_chars, 0) AS top_bigram_chars,
    CASE WHEN COALESCE(n_token_chars, 0) > 0
         THEN CAST(COALESCE(top_bigram_chars, 0) AS DOUBLE)
              / CAST(n_token_chars AS DOUBLE)
         ELSE 0.0 END AS top_bigram_frac
  FROM documents d
  LEFT JOIN uni USING (doc_id)
  LEFT JOIN bigtop USING (doc_id))
"""


@q("token_repetition", _REP_STATS_ORACLE + "SELECT * FROM stats")
def _token_repetition(spark, sf_dir):
    """Gopher-style per-doc repetition features: duplicate-token
    fraction plus the character mass of the most repeated unigram and
    adjacent bigram (keyword-stuffing / templated-spam signal).  One
    Arrow-batched scan, zero shuffles; counts are exact integers and
    each ratio is one correctly-rounded double division, so the hash
    matches DuckDB with no flooring."""
    from .operators.repetition import token_repetition_stats

    register_views(spark, sf_dir)
    return token_repetition_stats(spark.table("documents"))


@q(
    "boilerplate_ngrams",
    r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS tl
  FROM documents),
doc_ng AS (
  SELECT doc_id, g, count(*) AS cnt FROM (
    SELECT doc_id, unnest(list_transform(range(1, greatest(len(tl) - 2, 0) + 1),
           i -> array_to_string(list_slice(tl, i, i + 2), ' '))) AS g
    FROM toks)
  GROUP BY doc_id, g)
SELECT g AS ngram,
       CAST(count(*) AS BIGINT) AS doc_freq,
       CAST(sum(cnt) AS BIGINT) AS occurrences
FROM doc_ng
GROUP BY g
HAVING count(*) >= 4
ORDER BY doc_freq DESC, occurrences DESC, ngram ASC
LIMIT 50
""",
)
def _boilerplate_ngrams(spark, sf_dir):
    """Corpus-wide boilerplate: word trigrams shared by >= 4 distinct
    documents, top-50 by document frequency (total order — ties break
    by occurrences then ngram).  The per-doc n-gram Counter runs
    inside the Arrow batch (map-side combine in Python), then ONE
    hash aggregate on df-spread n-gram keys."""
    from .operators.repetition import boilerplate_ngrams

    register_views(spark, sf_dir)
    return (
        boilerplate_ngrams(spark.table("documents"), n=3, min_docs=4)
        .orderBy(
            F.col("doc_freq").desc(),
            F.col("occurrences").desc(),
            F.col("ngram").asc(),
        )
        .limit(50)
    )


@q(
    "repetition_gate",
    _REP_STATS_ORACLE
    + """
SELECT * FROM stats
WHERE n_tokens >= 20 AND dup_token_frac <= 0.55 AND top_bigram_frac <= 0.12
""",
)
def _repetition_gate(spark, sf_dir):
    """The composite repetition keep/drop gate (min length, max
    duplicate-token fraction, max top-bigram character fraction) —
    a pure predicate over the single-scan stats: the filter adds
    nothing to the physical plan.  Thresholds chosen non-degenerate
    on the driver corpus (500 -> 457 -> 217 -> 130 docs)."""
    from .operators.repetition import repetition_quality_gate

    register_views(spark, sf_dir)
    return repetition_quality_gate(
        spark.table("documents"),
        min_tokens=20,
        max_dup_token_frac=0.55,
        max_top_bigram_frac=0.12,
    )


# --- hashed-feature linear scoring (quality-classifier inference) ------------

_QLF_BUCKETS = 4096
_QLF_SEED = "qlf"
_QLF_WSEED = "qlfw"


def _qlf_oracle() -> str:
    """The whole inference chain re-derived in SQL: md5 token->bucket,
    md5 bucket->integer weight, exact integer accumulation."""
    tok_bucket = (
        _HEX32.format(tok=f"(tok || ':{_QLF_SEED}')") + f" % {_QLF_BUCKETS}"
    )
    w = (
        "(-1000 + "
        + _HEX32.format(tok=f"(CAST(b AS VARCHAR) || ':{_QLF_WSEED}')")
        + " % 2001)"
    )
    return f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS tl
  FROM documents),
tb AS (
  SELECT doc_id, tok, count(*) AS c
  FROM (SELECT doc_id, unnest(tl) AS tok FROM toks)
  GROUP BY doc_id, tok),
wb AS (SELECT doc_id, c, {tok_bucket} AS b FROM tb),
ww AS (SELECT doc_id, c, {w} AS w FROM wb),
agg AS (
  SELECT doc_id,
         CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(sum(c * w) AS BIGINT) AS score_i
  FROM ww GROUP BY doc_id)
SELECT d.doc_id,
  COALESCE(n_tokens, 0) AS n_tokens,
  CAST(COALESCE(score_i, 0) AS DOUBLE) AS score,
  CASE WHEN COALESCE(n_tokens, 0) > 0
       THEN CAST(score_i AS DOUBLE) / CAST(n_tokens AS DOUBLE)
       ELSE 0.0 END AS norm_score
FROM documents d LEFT JOIN agg USING (doc_id)
"""


@q("quality_linear_score", _qlf_oracle())
def _quality_linear_score(spark, sf_dir):
    """Hashed-feature linear scorer (the fastText-style quality-
    classifier inference path): md5 feature hashing, broadcast weight
    vector, one Arrow scan, zero shuffles.  Weights here are the
    md5-derived INTEGER-VALUED stand-in, so every product and partial
    sum is an exact integer under 2^53 and the float64 score
    hash-matches DuckDB's BIGINT accumulation with zero tolerance."""
    from .operators.inference import hashed_linear_score, md5_fixed_weights

    register_views(spark, sf_dir)
    return hashed_linear_score(
        spark.table("documents"),
        md5_fixed_weights(_QLF_BUCKETS, _QLF_WSEED),
        seed=_QLF_SEED,
    )


# --- semantic dedup (SemDeDup-style) ------------------------------------------


@q(
    "semantic_dedup",
    f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cent AS (
  SELECT vec_id AS centroid_id, v AS cv FROM e
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
ac AS (
  SELECT e.vec_id, cent.centroid_id,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY {_COS.format(a='e.v', b='cent.cv')} DESC,
                                     cent.centroid_id ASC) AS rnk
  FROM e, cent),
lists AS (SELECT vec_id, centroid_id FROM ac WHERE rnk = 1),
pairs AS (
  SELECT a.vec_id AS d1, b.vec_id AS d2,
         {_COS.format(a='ea.v', b='eb.v')} AS cos
  FROM lists a JOIN lists b USING (centroid_id)
  JOIN e ea ON ea.vec_id = a.vec_id
  JOIN e eb ON eb.vec_id = b.vec_id
  WHERE a.vec_id < b.vec_id),
drops AS (SELECT DISTINCT d2 AS vec_id FROM pairs WHERE cos >= 0.42)
SELECT l.vec_id, l.centroid_id
FROM lists l LEFT JOIN drops d ON l.vec_id = d.vec_id
WHERE d.vec_id IS NULL
""",
)
def _semantic_dedup(spark, sf_dir):
    """SemDeDup-style semantic dedup: md5-sampled IVF coarse cells,
    all-pairs cosine WITHIN a cell only (the SemDeDup cost bound:
    sum(|list|^2), never O(N^2)), min-id survives.  487 of 500
    vectors survive at 0.42 on the driver corpus.  The oracle replays
    the identical cells, pair set, and left-to-right cosine."""
    from .operators.annsearch import semantic_dedup

    register_views(spark, sf_dir)
    return semantic_dedup(
        spark.table("embeddings"), threshold=0.42, n_centroids=16
    )


# --- bigram LM scoring (perplexity-style quality signal) ----------------------


@q(
    "lm_bigram_nll",
    r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS tl
  FROM documents),
bg AS (
  SELECT doc_id, w1, w2, count(*) AS cnt FROM (
    SELECT doc_id, tl[i] AS w1, tl[i + 1] AS w2
    FROM (SELECT doc_id, tl,
                 unnest(generate_series(1, greatest(len(tl) - 1, 0))) AS i
          FROM toks))
  GROUP BY doc_id, w1, w2),
cab AS (SELECT w1, w2, CAST(sum(cnt) AS BIGINT) AS c_ab FROM bg GROUP BY w1, w2),
ca AS (SELECT w1, CAST(sum(cnt) AS BIGINT) AS c_a FROM bg GROUP BY w1),
j AS (
  SELECT doc_id, cnt,
         CAST(floor(ln(c_a) * 4294967296.0) AS BIGINT) AS lq_a,
         CAST(floor(ln(c_ab) * 4294967296.0) AS BIGINT) AS lq_ab
  FROM bg JOIN cab USING (w1, w2) JOIN ca USING (w1)),
agg AS (
  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
         CAST(sum(cnt * (lq_a - lq_ab)) AS BIGINT) AS nll_fx
  FROM j GROUP BY doc_id)
SELECT d.doc_id,
  COALESCE(n_bigrams, 0) AS n_bigrams,
  CAST(0 AS BIGINT) AS n_oov,
  COALESCE(nll_fx, 0) AS nll_fx,
  CASE WHEN COALESCE(n_bigrams, 0) > 0
       THEN CAST(nll_fx AS DOUBLE) / CAST(n_bigrams * 4294967296 AS DOUBLE)
       ELSE 0.0 END AS nll
FROM documents d LEFT JOIN agg USING (doc_id)
""",
)
def _lm_bigram_nll(spark, sf_dir):
    """CCNet-style LM quality signal: average bigram negative
    log-likelihood under the corpus-trained MLE model, made
    bit-reproducible by quantizing each ln(count) to a 2^-32
    fixed-point BIGINT on a tiny distinct-count dim (libm ln,
    bit-identical to DuckDB) and summing INTEGERS — no float is ever
    summed, so partitioning cannot change the hash."""
    from .operators.textstats import lm_bigram_nll

    register_views(spark, sf_dir)
    return lm_bigram_nll(spark.table("documents"))


# --- BPE merge-table learning --------------------------------------------------

_BPE_MERGES = 8


def _bpe_chain(k: int) -> str:
    """The WITH-chain of the unrolled k-step BPE oracle: each step
    extracts tokens from the wrapped corpus state, counts adjacent
    pairs, picks the argmax as a 1-row MATERIALIZED CTE, and applies
    the merge with a literal replace whose pattern is built from
    scalar subqueries — the data-dependent iteration the Spark driver
    loop performs, replayed statically.  Ends with the s{k} corpus
    state, reusable by downstream queries (bpe_tokenize)."""
    parts = [
        r"""WITH s0 AS MATERIALIZED (
  SELECT array_to_string(list_transform(
    list_filter(string_split_regex(lower(text), '\s+'), x -> x <> ''),
    x -> chr(2) || x || chr(3)), '') AS s
  FROM documents)"""
    ]
    for i in range(1, k + 1):
        prev = f"s{i - 1}"
        parts.append(
            f""",
t{i} AS MATERIALIZED (
  SELECT list_transform(list_filter(string_split(s, chr(3)), x -> x <> ''),
                        x -> substr(x, 2)) AS tl
  FROM {prev}),
p{i} AS MATERIALIZED (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS pair_count FROM (
    SELECT tl[i] AS w1, tl[i + 1] AS w2
    FROM (SELECT tl, unnest(generate_series(1, greatest(len(tl) - 1, 0))) AS i
          FROM t{i}))
  GROUP BY w1, w2
  ORDER BY pair_count DESC, w1 ASC, w2 ASC
  LIMIT 1),
s{i} AS MATERIALIZED (
  SELECT replace(s,
    chr(2) || (SELECT w1 FROM p{i}) || chr(3) ||
    chr(2) || (SELECT w2 FROM p{i}) || chr(3),
    chr(2) || (SELECT w1 FROM p{i}) || chr(1) ||
    (SELECT w2 FROM p{i}) || chr(3)) AS s
  FROM {prev})"""
        )
    return "".join(parts)


def _bpe_oracle(k: int) -> str:
    """_bpe_chain plus the merge-table final SELECT."""
    finals = " UNION ALL ".join(
        f"SELECT CAST({i} AS INT) AS step, w1, w2, pair_count FROM p{i}"
        for i in range(1, k + 1)
    )
    return _bpe_chain(k) + "\n" + finals


@q("bpe_merges", _bpe_oracle(_BPE_MERGES))
def _bpe_merges(spark, sf_dir):
    """Tokenizer training: the first 8 BPE merges learned over the
    corpus (canonical greedy left-to-right merge application, made
    exact-by-construction via the wrapped-token replace — see
    operators/bpe.py).  The oracle replays all 8 data-dependent
    iterations as unrolled CTEs with scalar-subquery replace
    patterns."""
    from .operators.bpe import bpe_train

    register_views(spark, sf_dir)
    return bpe_train(spark.table("documents"), n_merges=_BPE_MERGES)


@q(
    "bpe_tokenize",
    _bpe_chain(_BPE_MERGES)
    + f"""
SELECT tok AS token, CAST(count(*) AS BIGINT) AS n
FROM (SELECT unnest(list_transform(
        list_filter(string_split(s, chr(3)), x -> x <> ''),
        x -> substr(x, 2))) AS tok
      FROM s{_BPE_MERGES})
GROUP BY tok
ORDER BY n DESC, token ASC
LIMIT 20
""",
)
def _bpe_tokenize(spark, sf_dir):
    """Tokenizer round-trip: learn 8 merges, APPLY them to the corpus
    (n chained codegen'd replaces — one projection, zero shuffles,
    zero Python), return the top-20 token histogram.  The oracle
    extracts tokens from the same unrolled s8 corpus state the
    training oracle built."""
    from .operators.bpe import bpe_apply, bpe_train

    register_views(spark, sf_dir)
    docs = spark.table("documents")
    merges = bpe_train(docs, n_merges=_BPE_MERGES)
    toked = bpe_apply(docs, merges)
    return (
        toked.select(F.explode("tokens").alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(20)
    )


# --- temperature (language-rebalancing) sampling -------------------------------

_TEMP_SEED = "temp5"


def _temperature_oracle() -> str:
    """The whole data-derived decision replayed in SQL: stratum
    counts, sqrt-quantized integer shares, integer normalizer, the
    two-step double division, and the md5-bucket predicate."""
    b = _md5_bucket_sql("CAST(doc_id AS VARCHAR)", _TEMP_SEED)
    return f"""
WITH lc AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n
  FROM documents WHERE lang IS NOT NULL GROUP BY lang),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM lc),
ql AS (
  SELECT lang, n,
         GREATEST(1, CAST(floor(sqrt(CAST(n AS DOUBLE) / CAST(total AS DOUBLE))
                    * 1048576) AS BIGINT)) AS q_fx
  FROM lc CROSS JOIN tot),
dd AS (SELECT CAST(sum(q_fx) AS BIGINT) AS d_fx FROM ql),
thr AS (
  SELECT lang,
    CAST(floor(LEAST(1.0,
        CAST(CAST(floor(0.5 * total) AS BIGINT) * q_fx AS DOUBLE)
        / CAST(n * d_fx AS DOUBLE)) * 4294967296.0) AS BIGINT) AS t
  FROM ql CROSS JOIN dd CROSS JOIN tot)
SELECT d.doc_id, d.lang
FROM documents d JOIN thr USING (lang)
WHERE {b} < thr.t
"""


@q("corpus_temperature_sample", _temperature_oracle())
def _corpus_temperature_sample(spark, sf_dir):
    """Temperature-rebalanced downsample (alpha=0.5, budget 50%): the
    multilingual LM sampling rule p_l^alpha that upweights
    low-resource languages.  The per-language rates are DATA-derived,
    yet the whole decision is bit-replayable: sqrt is IEEE
    correctly-rounded everywhere, shares are quantized to 2^-20
    integers, the normalizer is an integer sum, and the rate is a
    two-step double division both engines perform identically."""
    from .operators.sampling import temperature_sample

    register_views(spark, sf_dir)
    return temperature_sample(
        spark.table("documents").select("doc_id", "lang"),
        budget_frac=0.5,
        alpha=0.5,
        seed=_TEMP_SEED,
    )


# --- end-to-end curation pipeline (capstone composition) ----------------------


def _curation_pipeline_oracle() -> str:
    """The full chain as ONE SQL program: repetition gate ->
    temperature rebalance whose rates derive from the GATED subset
    (the subtle recomputation a composed pipeline implies) -> split
    assignment.  Every stage reuses the already-verified CTE pieces."""
    b = _md5_bucket_sql("CAST(doc_id AS VARCHAR)", _TEMP_SEED)
    sb = _md5_bucket_sql("CAST(doc_id AS VARCHAR)", _SAMPLE_SEED)
    return (
        _REP_STATS_ORACLE
        + f""",
gated AS (
  SELECT doc_id FROM stats
  WHERE n_tokens >= 20 AND dup_token_frac <= 0.55
    AND top_bigram_frac <= 0.12),
gd AS (SELECT d.doc_id, d.lang FROM documents d JOIN gated USING (doc_id)
       WHERE d.lang IS NOT NULL),
lc AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM gd GROUP BY lang),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM lc),
ql AS (
  SELECT lang, n,
         GREATEST(1, CAST(floor(sqrt(CAST(n AS DOUBLE) / CAST(total AS DOUBLE))
                    * 1048576) AS BIGINT)) AS q_fx
  FROM lc CROSS JOIN tot),
dd AS (SELECT CAST(sum(q_fx) AS BIGINT) AS d_fx FROM ql),
thr AS (
  SELECT lang,
    CAST(floor(LEAST(1.0,
        CAST(CAST(floor(0.5 * total) AS BIGINT) * q_fx AS DOUBLE)
        / CAST(n * d_fx AS DOUBLE)) * 4294967296.0) AS BIGINT) AS t
  FROM ql CROSS JOIN dd CROSS JOIN tot),
sampled AS (
  SELECT gd.doc_id, gd.lang FROM gd JOIN thr USING (lang)
  WHERE {b} < thr.t)
SELECT doc_id, lang, {_split_case_sql(sb)} AS split
FROM sampled
"""
    )


@q("curation_pipeline", _curation_pipeline_oracle())
def _curation_pipeline(spark, sf_dir):
    """Capstone composition: repetition gate -> temperature rebalance
    (alpha=0.5, budget 50% — rates derived from the GATED corpus, not
    the raw one) -> train/val/test split.  Each stage is individually
    oracle-verified; this query proves the CHAIN composes hash-exactly
    — the determinism contract a resumable multi-stage curation job
    needs (rerunning any suffix of the chain reproduces the same
    corpus)."""
    from .operators.repetition import repetition_quality_gate
    from .operators.sampling import split_assign, temperature_sample

    register_views(spark, sf_dir)
    docs = spark.table("documents")
    gated = repetition_quality_gate(
        docs, min_tokens=20, max_dup_token_frac=0.55,
        max_top_bigram_frac=0.12,
    ).select("doc_id")
    kept = docs.join(gated, "doc_id", "left_semi").where(
        F.col("lang").isNotNull()
    )
    sampled = temperature_sample(
        kept.select("doc_id", "lang"), budget_frac=0.5, seed=_TEMP_SEED
    )
    return split_assign(sampled, _SPLIT_WEIGHTS, "doc_id", seed=_SAMPLE_SEED)
