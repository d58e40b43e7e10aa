"""CSV and XLSX person tables go through one projection: the same cells
give the same person rows in either format, and a malformed cell
becomes a NULL or a content-hash id instead of failing the load."""

from __future__ import annotations

import csv
from datetime import date

import pytest

from name_match_latest_spark.sources.csv_source import load_persons_csv
from name_match_latest_spark.sources.excel_source import load_persons_xlsx
from name_match_latest_spark.sources.xlsx import write_xlsx

COLS = ["id", "first_name", "birthdate", "hh_id", "uuid", "barangay_code", "city_code"]

CASES = {
    # no id column: ``id`` must not take household_id or uuid
    "household_no_id": (
        ["given_name", "surname", "household_id", "uuid", "dob"],
        [("ana", "cruz", "H1", "u-1", "1990-03-15"),
         ("ben", "cruz", "H1", "u-2", "1992-07-01")],
    ),
    "uuid_no_id": (
        ["uuid", "first_name", "last_name", "birthdate"],
        [("u-1", "ana", "cruz", "1990-03-15"),
         ("u-2", "ben", "reyes", "1985-01-02")],
    ),
    # a non-integer id cell, an integral decimal, an impossible date
    "malformed_cells": (
        ["id", "first_name", "last_name", "birthdate"],
        [("A7", "ana", "cruz", "1990-03-15"),
         ("7.0", "ben", "reyes", "1985-01-02"),
         ("12", "cara", "santos", "1990-13-45")],
    ),
    # a repeated header and a dotted one, in rows with hash ids
    "awkward_headers": (
        ["first_name", "last_name", "birthdate", "note", "Note", "ref.no"],
        [("ana", "cruz", "1990-03-15", "a", "b", "r1"),
         ("ben", "reyes", "1985-01-02", None, "c", "r2")],
    ),
    # a blank header, in rows with hash ids
    "blank_header": (
        ["first_name", "", "last_name", "birthdate"],
        [("ana", "x", "cruz", "1990-03-15"),
         ("ben", "y", "reyes", "1985-01-02")],
    ),
    "geo_headers": (
        ["person_id", "first_name", "last_name", "birthdate", "barangay_code", "city_code"],
        [("1", "ana", "cruz", "1990-03-15", "B1", "C1"),
         ("2", "ben", "reyes", "1985-01-02", None, "C2")],
    ),
}


def _write_both(tmp_path, name, header, rows):
    c = tmp_path / f"{name}.csv"
    with open(c, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(header)
        w.writerows([["" if v is None else v for v in r] for r in rows])
    x = str(tmp_path / f"{name}.xlsx")
    write_xlsx(x, {"p": (header, rows)})
    return str(c), x


def _rows(df):
    return sorted(tuple(r) for r in df.select(*COLS).collect())


@pytest.mark.parametrize("name", sorted(CASES))
def test_csv_and_xlsx_give_the_same_person_rows(spark, tmp_path, name):
    header, rows = CASES[name]
    c, x = _write_both(tmp_path, name, header, rows)
    got = _rows(load_persons_csv(spark, c))
    assert got == _rows(load_persons_xlsx(spark, x))
    assert len(got) == len(rows)
    assert all(r[0] is not None for r in got)
    assert len({r[0] for r in got}) == len(rows)  # no shared ids


def test_malformed_cells_are_null_or_hash_ids(spark, tmp_path):
    header, rows = CASES["malformed_cells"]
    c, _ = _write_both(tmp_path, "m", header, rows)
    got = {r.first_name: (r.id, r.birthdate) for r in load_persons_csv(spark, c).collect()}
    assert got["ben"] == (7, date(1985, 1, 2))
    assert got["cara"] == (12, None)
    assert got["ana"][0] not in (None, 7, 12)  # content-hash id


def test_no_id_column_keeps_household_and_uuid(spark, tmp_path):
    header, rows = CASES["household_no_id"]
    _, x = _write_both(tmp_path, "h", header, rows)
    got = sorted((r.first_name, r.hh_id, r.uuid) for r in load_persons_xlsx(spark, x).collect())
    assert got == [("ana", "H1", "u-1"), ("ben", "H1", "u-2")]


def test_excel_serial_birthdate_equals_iso_cell(spark, tmp_path):
    """A birthdate stored as an Excel date serial loads, and hashes,
    like the same date written as text."""
    header = ["first_name", "last_name", "birthdate"]
    c, _ = _write_both(tmp_path, "iso", header, [("jose", "santos", "1990-05-07")])
    x = str(tmp_path / "serial.xlsx")
    write_xlsx(x, {"p": (header, [("jose", "santos", 33000)])})
    assert _rows(load_persons_xlsx(spark, x)) == _rows(load_persons_csv(spark, c))


def test_non_date_numeric_birthdates_are_null(spark, tmp_path):
    """Workbook birthdate cells that parse as floats but name no date
    (NaN, infinities, serials past year 9999) load as NULL."""
    x = str(tmp_path / "nan.xlsx")
    cells = ["NaN", "inf", "-Infinity", "1e300", "0"]
    write_xlsx(x, {"p": (["id", "last_name", "birthdate"],
                         [(i, "cruz", c) for i, c in enumerate(cells)])})
    got = {r.id: r.birthdate for r in load_persons_xlsx(spark, x).collect()}
    assert got == dict.fromkeys(range(len(cells)))
