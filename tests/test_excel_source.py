"""Excel source: minimal OOXML written in-test, serial-date semantics."""

from __future__ import annotations

import zipfile
from datetime import date

import pytest

from name_match_latest_spark.sources.excel_source import (
    excel_serial_to_date,
    load_persons_xlsx,
    read_xlsx_rows,
)

_CT = """<?xml version="1.0"?>
<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
<Default Extension="xml" ContentType="application/xml"/>
<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>
<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>
</Types>"""

_ROOT_RELS = """<?xml version="1.0"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
</Relationships>"""

_WB = """<?xml version="1.0"?>
<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"
 xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
<sheets><sheet name="People" sheetId="1" r:id="rId1"/></sheets></workbook>"""

_WB_RELS = """<?xml version="1.0"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>
</Relationships>"""

_SST = """<?xml version="1.0"?>
<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="6" uniqueCount="6">
<si><t>person_id</t></si><si><t>given_name</t></si><si><t>surname</t></si>
<si><t>dob</t></si><si><t>Ana</t></si><si><t>Cruz</t></si>
</sst>"""

# row 2: Ana Cruz with dob as STRING (inline); row 3: serial date 33000
_SHEET = """<?xml version="1.0"?>
<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
<sheetData>
<row r="1">
<c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c>
<c r="C1" t="s"><v>2</v></c><c r="D1" t="s"><v>3</v></c>
</row>
<row r="2">
<c r="A2"><v>7</v></c><c r="B2" t="s"><v>4</v></c>
<c r="C2" t="s"><v>5</v></c>
<c r="D2" t="inlineStr"><is><t>1990-03-15</t></is></c>
</row>
<row r="3">
<c r="A3"><v>8</v></c>
<c r="B3" t="inlineStr"><is><t>Jose</t></is></c>
<c r="C3" t="inlineStr"><is><t>Santos</t></is></c>
<c r="D3"><v>33000</v></c>
</row>
</sheetData></worksheet>"""


def _write_xlsx(path):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("[Content_Types].xml", _CT)
        z.writestr("_rels/.rels", _ROOT_RELS)
        z.writestr("xl/workbook.xml", _WB)
        z.writestr("xl/_rels/workbook.xml.rels", _WB_RELS)
        z.writestr("xl/sharedStrings.xml", _SST)
        z.writestr("xl/worksheets/sheet1.xml", _SHEET)


def test_serial_dates():
    # 1900 system incl. the Lotus bug: 1 -> 1900-01-01, 60 -> 1900-02-29
    # (phantom) mapped like calamine to 1900-02-28; 61 -> 1900-03-01
    assert excel_serial_to_date(1) == date(1900, 1, 1)
    assert excel_serial_to_date(59) == date(1900, 2, 28)
    assert excel_serial_to_date(61) == date(1900, 3, 1)
    assert excel_serial_to_date(60) == date(1900, 2, 28)  # phantom day
    assert excel_serial_to_date(33000) == date(1990, 5, 7)
    assert excel_serial_to_date(0) is None


def test_read_rows(tmp_path):
    p = tmp_path / "t.xlsx"
    _write_xlsx(str(p))
    headers, rows = read_xlsx_rows(str(p))
    assert headers == ["person_id", "given_name", "surname", "dob"]
    assert rows[0] == ["7", "Ana", "Cruz", "1990-03-15"]
    assert rows[1] == ["8", "Jose", "Santos", "33000"]


def test_load_persons_xlsx(spark, tmp_path):
    p = tmp_path / "t.xlsx"
    _write_xlsx(str(p))
    df = load_persons_xlsx(spark, str(p))
    got = {r.id: (r.first_name, r.last_name, r.birthdate) for r in df.collect()}
    assert got[7] == ("Ana", "Cruz", date(1990, 3, 15))
    assert got[8] == ("Jose", "Santos", date(1990, 5, 7))  # serial 33000


def test_load_persons_xlsx_keeps_geo_codes(spark, tmp_path):
    """barangay_code/city_code columns reach the person table (the
    L4-L9 cascade keys); a workbook without them gives NULLs."""
    from name_match_latest_spark.sources.xlsx import write_xlsx

    p = str(tmp_path / "geo.xlsx")
    header = ["id", "first_name", "last_name", "birthdate", "barangay_code", "city_code"]
    write_xlsx(p, {"p": (header, [(1, "ana", "cruz", "1990-01-02", "B1", "C1")])})
    r = load_persons_xlsx(spark, p).collect()[0]
    assert (r.barangay_code, r.city_code) == ("B1", "C1")

    q = str(tmp_path / "nogeo.xlsx")
    write_xlsx(q, {"p": (header[:4], [(1, "ana", "cruz", "1990-01-02")])})
    r = load_persons_xlsx(spark, q).collect()[0]
    assert (r.barangay_code, r.city_code) == (None, None)


def _rewrite_part(src, dst, part, edit):
    """Copy workbook ``src`` to ``dst`` with ``edit(bytes) -> bytes``
    applied to one part."""
    with zipfile.ZipFile(src) as zi, zipfile.ZipFile(dst, "w") as zo:
        for name in zi.namelist():
            data = zi.read(name)
            zo.writestr(name, edit(data) if name == part else data)


@pytest.mark.parametrize(
    "serial, want",
    [(33000.75, date(1990, 5, 7)),  # the time of day is dropped
     (0.5, None),  # a time with no date
     (-3, None),
     (1e9, None)],  # past date.max
)
def test_serial_date_edges(serial, want):
    assert excel_serial_to_date(serial) == want


def test_col_index_inverts_col_letter():
    from name_match_latest_spark.sources.excel_source import _col_index
    from name_match_latest_spark.sources.xlsx import _col_letter

    for i in (0, 1, 25, 26, 51, 52, 701, 702, 16383):  # XFD = last column
        assert _col_index(f"{_col_letter(i)}{i + 1}") == i


def test_read_rows_gaps_become_none(tmp_path):
    """A missing cell reads as None at its column; an unnamed header
    column is named ``_c<i>``, as ``spark.read.csv`` names it."""
    from name_match_latest_spark.sources.xlsx import write_xlsx

    p = str(tmp_path / "gaps.xlsx")
    write_xlsx(p, {"s": (["id", None, "last"], [(1, "x", None), (None, None, "cruz")])})
    headers, rows = read_xlsx_rows(p)
    assert headers == ["id", "_c1", "last"]
    assert rows == [["1", "x", None], [None, None, "cruz"]]


def test_read_rows_first_sheet_in_workbook_order(tmp_path):
    """The first <sheet> of workbook.xml is read, whatever its part is
    named."""
    from name_match_latest_spark.sources.xlsx import write_xlsx

    p = str(tmp_path / "two.xlsx")
    write_xlsx(p, {"a": (["h"], [("from a",)]), "b": (["h"], [("from b",)])})
    assert read_xlsx_rows(p) == (["h"], [["from a"]])

    q = str(tmp_path / "swapped.xlsx")
    _rewrite_part(
        p, q, "xl/workbook.xml",
        lambda d: d.replace(b'r:id="rId1"', b'r:id="rIdX"')
        .replace(b'r:id="rId2"', b'r:id="rId1"')
        .replace(b'r:id="rIdX"', b'r:id="rId2"'),
    )
    assert read_xlsx_rows(q) == (["h"], [["from b"]])


def test_read_rows_absolute_relationship_target(tmp_path):
    """A sheet target written absolute from the package root
    (``/xl/worksheets/sheet1.xml``) resolves like a relative one."""
    from name_match_latest_spark.sources.xlsx import write_xlsx

    p = str(tmp_path / "rel.xlsx")
    write_xlsx(p, {"s": (["id", "last"], [(1, "cruz")])})
    q = str(tmp_path / "abs.xlsx")
    _rewrite_part(
        p, q, "xl/_rels/workbook.xml.rels",
        lambda d: d.replace(b'Target="worksheets/', b'Target="/xl/worksheets/'),
    )
    assert read_xlsx_rows(q) == read_xlsx_rows(p) == (["id", "last"], [["1", "cruz"]])


def test_read_rows_skips_rows_without_values(tmp_path):
    """A formatted but empty row (no valued cell) is not a record."""
    p = tmp_path / "blank.xlsx"
    _write_xlsx(str(p))
    q = str(tmp_path / "blank2.xlsx")
    _rewrite_part(
        str(p), q, "xl/worksheets/sheet1.xml",
        lambda d: d.replace(b'<row r="3">', b'<row r="3"><c r="A3" s="1"/></row><row r="4">'),
    )
    headers, rows = read_xlsx_rows(q)
    assert [r[0] for r in rows] == ["7", "8"]


def test_read_rows_rich_text_and_empty_sheet(tmp_path):
    """Rich-text shared strings join their runs; a sheet with no rows
    reads as no headers and no rows."""
    p = tmp_path / "rich.xlsx"
    _write_xlsx(str(p))
    q = str(tmp_path / "rich2.xlsx")
    _rewrite_part(
        str(p), q, "xl/sharedStrings.xml",
        lambda d: d.replace(b"<si><t>Ana</t></si>", b"<si><r><t>A</t></r><r><rPr/><t>na</t></r></si>"),
    )
    assert read_xlsx_rows(q)[1][0][1] == "Ana"

    e = str(tmp_path / "empty.xlsx")
    _rewrite_part(
        str(p), e, "xl/worksheets/sheet1.xml",
        lambda d: d[: d.index(b"<sheetData>")] + b"<sheetData/></worksheet>",
    )
    assert read_xlsx_rows(e) == ([], [])


def test_writer_reader_roundtrip(tmp_path):
    """``sources.xlsx.write_xlsx`` output reads back cell for cell:
    escaped text, numbers and booleans verbatim, dates as ISO."""
    from name_match_latest_spark.sources.xlsx import write_xlsx

    p = str(tmp_path / "rt.xlsx")
    write_xlsx(p, {"s": (["a", "b", "c", "d"], [("ana & <co>", 3, 0.25, True), (date(1990, 1, 2), -1, None, "ñ")])})
    assert read_xlsx_rows(p) == (
        ["a", "b", "c", "d"],
        [["ana & <co>", "3", "0.25", "1"], ["1990-01-02", "-1", None, "ñ"]],
    )


def test_load_persons_xlsx_strict_dates(spark, tmp_path):
    """Birthdates are yyyy-MM-dd strings (trimmed) or positive Excel
    serials; anything else, impossible days included, is NULL."""
    from name_match_latest_spark.sources.xlsx import write_xlsx

    cells = {
        1: (" 1990-03-15 ", date(1990, 3, 15)),
        2: ("1990-02-30", None),
        3: ("15/03/1990", None),
        4: ("1990-3-15", None),
        5: (33000, date(1990, 5, 7)),
        6: ("0", None),
        7: (None, None),
    }
    p = str(tmp_path / "dates.xlsx")
    write_xlsx(p, {"p": (["id", "last_name", "birthdate"],
                         [(i, "cruz", raw) for i, (raw, _) in cells.items()])})
    got = {r.id: r.birthdate for r in load_persons_xlsx(spark, p).collect()}
    assert got == {i: want for i, (_, want) in cells.items()}


def test_load_persons_xlsx_ids_and_aliases(spark, tmp_path):
    """Header aliases (person_id, given_name, surname, household_id,
    uuid) map to the person columns; numeric ids written as floats
    become integers; empty cells are NULL; without an id header, ids
    are the content-hash ids the CSV loader gives the same cells."""
    from name_match_latest_spark.sources.xlsx import write_xlsx

    p = str(tmp_path / "aliases.xlsx")
    write_xlsx(p, {"p": (["person_id", "given_name", "surname", "household_id", "uuid"],
                         [(7.0, "ana", "cruz", "H1", "u-1"), (12, "jose", "", None, None)])})
    got = sorted(tuple(r) for r in load_persons_xlsx(spark, p)
                 .select("id", "first_name", "last_name", "hh_id", "uuid").collect())
    assert got == [(7, "ana", "cruz", "H1", "u-1"), (12, "jose", None, None, None)]

    q = str(tmp_path / "noid.xlsx")
    write_xlsx(q, {"p": (["given_name", "surname"], [("ana", "cruz"), ("jose", "santos")])})
    c = tmp_path / "noid.csv"
    c.write_text("given_name,surname\nana,cruz\njose,santos\n")
    from name_match_latest_spark.sources.csv_source import load_persons_csv

    got = sorted((r.id, r.first_name) for r in load_persons_xlsx(spark, q).collect())
    want = sorted((r.id, r.first_name) for r in load_persons_csv(spark, str(c)).collect())
    assert got == want and {i for i, _ in got}.isdisjoint({1, 2})
