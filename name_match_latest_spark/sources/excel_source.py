"""Excel (.xlsx) person-table source — stdlib-only reader.

Reference: ``src/loaders/excel_loader.rs`` (calamine sheet read, Excel
serial-date conversion, header inference).  No xlsx library exists in
this container, so this is a minimal OOXML reader built on zipfile +
ElementTree: first worksheet, shared strings, inline strings, 1900
date system serials.  Excel files are driver-sized inputs in the
reference's workflow (operator config, small reference lists) — the
parse happens once on the driver and becomes a distributed DataFrame
via ``createDataFrame``; big tables belong in Parquet/CSV/JDBC.

Only the Excel date serials are handled here: everything else (column
mapping, ids, strict dates) is the CSV loader's ``person_table``.
"""

from __future__ import annotations

import math
import re
import zipfile
from collections import Counter
from datetime import date, timedelta
from xml.etree import ElementTree as ET

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

from .csv_source import infer_mapping, person_table

__all__ = ["read_xlsx_rows", "load_persons_xlsx", "excel_serial_to_date"]

_NS = {"m": "http://schemas.openxmlformats.org/spreadsheetml/2006/main"}
_REL_NS = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"


def excel_serial_to_date(serial: float) -> date | None:
    """1900 date system with the classic Lotus leap-year bug: serial 1
    = 1900-01-01, serials >= 60 are offset by the phantom 1900-02-29
    (calamine/excel_loader.rs:299-306 semantics)."""
    if not (math.isfinite(serial) and serial >= 1):
        return None
    days = int(serial)
    if days >= 60:
        days -= 1
    try:
        return date(1899, 12, 31) + timedelta(days=days)
    except OverflowError:
        return None


def _col_index(cell_ref: str) -> int:
    """'C7' -> 2 (zero-based column)."""
    letters = re.match(r"[A-Z]+", cell_ref).group(0)
    idx = 0
    for ch in letters:
        idx = idx * 26 + (ord(ch) - 64)
    return idx - 1


def read_xlsx_rows(path: str) -> tuple[list[str], list[list[str | None]]]:
    """(headers, rows) from the first worksheet.  All values as
    strings (shared/inline strings resolved, numerics verbatim)."""
    with zipfile.ZipFile(path) as z:
        shared: list[str] = []
        if "xl/sharedStrings.xml" in z.namelist():
            root = ET.fromstring(z.read("xl/sharedStrings.xml"))
            for si in root.findall("m:si", _NS):
                shared.append("".join(t.text or "" for t in si.iter(f"{{{_NS['m']}}}t")))
        # first sheet: workbook order
        wb = ET.fromstring(z.read("xl/workbook.xml"))
        first = wb.find("m:sheets/m:sheet", _NS)
        rid = first.get(f"{_REL_NS}id")
        rels = ET.fromstring(z.read("xl/_rels/workbook.xml.rels"))
        target = next(
            r.get("Target")
            for r in rels
            if r.get("Id") == rid
        )
        # targets are relative to xl/ or, as some writers emit them,
        # absolute from the package root ("/xl/worksheets/sheet1.xml")
        if target.startswith(("/", "xl/")):
            sheet_path = target.lstrip("/")
        else:
            sheet_path = "xl/" + target
        sheet = ET.fromstring(z.read(sheet_path))

    raw_rows: list[dict[int, str]] = []
    for row in sheet.find("m:sheetData", _NS):
        cells: dict[int, str] = {}
        for c in row.findall("m:c", _NS):
            ref = c.get("r")
            t = c.get("t")
            v = c.find("m:v", _NS)
            if t == "s" and v is not None:
                val = shared[int(v.text)]
            elif t == "inlineStr":
                is_el = c.find("m:is", _NS)
                val = "".join(x.text or "" for x in is_el.iter(f"{{{_NS['m']}}}t")) if is_el is not None else ""
            elif v is not None:
                val = v.text
            else:
                val = None
            if val is not None and ref is not None:
                cells[_col_index(ref)] = val
        raw_rows.append(cells)

    if not raw_rows:
        return [], []
    width = max((max(r) + 1 for r in raw_rows if r), default=0)
    # a blank header is named as spark.read.csv names it
    headers = [raw_rows[0].get(i) or f"_c{i}" for i in range(width)]
    # a <row> with no valued cell (formatted but empty) is not a record
    rows = [[r.get(i) for i in range(width)] for r in raw_rows[1:] if r]
    return headers, rows


def _iso_birthdate(cell: str | None) -> str | None:
    """A numeric cell is an Excel date serial: its ISO date, or None
    when it names no date.  Any other cell is left for the strict
    ``yyyy-MM-dd`` parse."""
    try:
        serial = float(cell)
    except (TypeError, ValueError):
        return cell
    d = excel_serial_to_date(serial)
    return d.isoformat() if d else None


def load_persons_xlsx(spark: SparkSession, path: str) -> DataFrame:
    """xlsx -> person DataFrame through the CSV loader's
    :func:`~.csv_source.person_table`; birthdate cells may also be
    Excel date serials.  Empty cells are NULL, as in a CSV read."""
    headers, rows = read_xlsx_rows(path)
    # repeated headers get their column index appended, as
    # spark.read.csv names them
    seen = Counter(h.lower() for h in headers)
    headers = [f"{h}{i}" if seen[h.lower()] > 1 else h for i, h in enumerate(headers)]
    cells = [[v if v != "" else None for v in row] for row in rows]
    bd = infer_mapping(headers)["birthdate"]
    if bd is not None:
        i = headers.index(bd)
        for row in cells:
            row[i] = _iso_birthdate(row[i])
    schema = StructType([StructField(h, StringType()) for h in headers])
    return person_table(spark.createDataFrame(cells, schema))
