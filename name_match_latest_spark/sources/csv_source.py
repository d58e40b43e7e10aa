"""Person-table sources: the one projection from a table of header-named
string cells to the person schema, and the CSV loader built on it.

Mirrors ``src/loaders/csv_loader.rs`` (the Excel loader,
``excel_source``, feeds the same projection):

* header-hint column-mapping inference (:593-628): exact normalized
  match first, then substring match, hint priority order
* stable content-hash row ids when no id column exists (:642-702):
  FNV-1a 64 over ``header=value\\x1f`` pairs, masked to 63 bits —
  NOT ``monotonically_increasing_id`` (not stable across runs/layout)
* strict %Y-%m-%d birthdate parsing (loader feeds parse_date_strict)
* formula-injection risk flag for cells starting = + - @ (:719-731)

The read itself is ``spark.read.csv`` (distributed, pushdown-capable);
everything here is mapping + projection on top, as Column expressions
except the hash id.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "infer_mapping",
    "person_table",
    "load_persons_csv",
    "formula_injection_col",
]

_HINTS: dict[str, tuple[list[str], bool]] = {
    # column -> (hints in priority order, required)
    "id": (["id", "person_id", "beneficiary_id"], True),
    "uuid": (["uuid"], False),
    "first_name": (["first_name", "firstname", "fname", "given_name"], True),
    "middle_name": (["middle_name", "middlename", "mname"], False),
    "last_name": (["last_name", "lastname", "lname", "surname"], True),
    "birthdate": (["birthdate", "birth_date", "birthday", "dob"], True),
    "hh_id": (["hh_id", "household_id"], False),
    "barangay_code": (["barangay_code"], False),
    "city_code": (["city_code"], False),
}


def _norm_header(value: str) -> str:
    """ASCII-alphanumeric filter + lowercase (csv_loader.rs:631-637)."""
    return "".join(
        c.lower() for c in value if c.isascii() and c.isalnum()
    )


def infer_mapping(headers: list[str]) -> dict[str, str | None]:
    """Header-hint inference (csv_loader.rs:593-628): for each target
    column, first an exact normalized-name match over the hint list,
    then a substring match; None when nothing matches (required
    columns may legitimately be absent — id falls back to row hash).

    The substring pass skips headers that are exactly some target's
    hint: ``household_id`` or ``uuid`` contain ``id`` but are the
    hh_id and uuid columns, never the person id."""
    all_hints = {_norm_header(h) for hints, _ in _HINTS.values() for h in hints}
    normalized = {_norm_header(h): h for h in headers}
    loose = [h for h in headers if _norm_header(h) not in all_hints]
    out: dict[str, str | None] = {}
    for target, (hints, _required) in _HINTS.items():
        found = next(
            (normalized[_norm_header(x)] for x in hints if _norm_header(x) in normalized),
            None,
        )
        if found is None:
            found = next(
                (h for x in hints for h in loose if _norm_header(x) in _norm_header(h)),
                None,
            )
        out[target] = found
    return out


def _stable_id_udf(headers: list[str]):
    """FNV-1a 64 over ``header=value\\x1f`` pairs in file column order,
    masked to 63 bits (csv_loader.rs:650-667), as an Arrow-batched UDF
    (a byte-level fold over arbitrary UTF-8 is not expressible as a
    Column expression)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    @pandas_udf(LongType())
    def fnv_id(*cols):
        out = []
        n = len(cols[0])
        for i in range(n):
            h = 0xCBF29CE484222325
            for hdr, col in zip(headers, cols):
                for b in hdr.encode("utf-8"):
                    h = ((h ^ b) * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
                h = ((h ^ 0x3D) * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF  # '='
                v = col.iloc[i]
                if v is not None and not (isinstance(v, float) and pd.isna(v)):
                    for b in str(v).encode("utf-8"):
                        h = ((h ^ b) * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
                h = ((h ^ 0x1F) * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF  # '\x1f'
            out.append(h & 0x7FFFFFFFFFFFFFFF)
        return pd.Series(out, dtype="int64")

    return fnv_id


def formula_injection_col(c: Column) -> Column:
    """Cell flagged when its first non-leading-whitespace char is one
    of = + - @ (csv_loader.rs:719-731)."""
    first = F.substring(F.ltrim(c), 1, 1)
    return first.isin("=", "+", "-", "@")


def _col(header: str) -> Column:
    """The column named ``header`` verbatim: backquoted, so a dot in a
    file's header is not read as a struct-field access."""
    return F.col("`" + header.replace("`", "``") + "`")


def person_table(raw: DataFrame) -> DataFrame:
    """Project a table of string cells, named by the file's headers,
    onto the person schema: the one mapping shared by the CSV and the
    Excel loader.

    Returns columns: id, uuid, first_name, middle_name, last_name,
    birthdate, hh_id, barangay_code, city_code, then
    ``formula_injection_risk`` (boolean), then every unmapped source
    column passed through (the reference's extra_fields).

    * ``id``: a non-empty cell that parses as an integer (``7``,
      ``7.0``, ``1E3``), else the content-hash id of the whole row;
    * ``birthdate``: strict trimmed ``yyyy-MM-dd``, else NULL.

    A malformed cell becomes NULL (or a hash id); it never fails the
    load, whatever ``spark.sql.ansi.enabled`` says.
    """
    headers = raw.columns
    m = infer_mapping(headers)

    def mapped(target: str) -> Column:
        h = m[target]
        return _col(h) if h else F.lit(None).cast("string")

    row_hash = _stable_id_udf(headers)(*[_col(h) for h in headers])
    # decimal(38,18) holds every bigint, so integral decimals keep
    # their exact value; try_cast is NULL for fractions and overflow
    id_num = mapped("id").try_cast("decimal(38,18)")
    id_int = F.when(id_num == F.floor(id_num), id_num.try_cast("long"))
    bd = F.trim(mapped("birthdate"))
    birthdate = F.when(F.length(bd) == 10, F.try_to_date(bd, "yyyy-MM-dd"))

    injection = F.lit(False)
    for h in headers:
        injection = injection | formula_injection_col(_col(h))
    taken = {h for h in m.values() if h}
    return raw.select(
        F.coalesce(id_int, row_hash).alias("id"),
        *[
            birthdate.alias(t) if t == "birthdate" else mapped(t).alias(t)
            for t in _HINTS if t != "id"
        ],
        F.coalesce(injection, F.lit(False)).alias("formula_injection_risk"),
        *[_col(h) for h in headers if h not in taken],
    )


def load_persons_csv(
    spark: SparkSession,
    path: str,
    encoding: str = "UTF-8",
    sep: str = ",",
) -> DataFrame:
    """Read a person CSV (header row required) into the person schema
    via :func:`person_table`."""
    if encoding.lower() not in (
        "utf-8", "us-ascii", "iso-8859-1", "utf-16", "utf-16be", "utf-16le", "utf-32"
    ):
        # Spark 4 restricts CSV charsets by default; the reference reads
        # Windows-1252 and friends (csv_loader.rs chardetng detection)
        spark.conf.set("spark.sql.legacy.javaCharsets", "true")
    return person_table(spark.read.csv(path, header=True, encoding=encoding, sep=sep))
