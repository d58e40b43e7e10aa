"""CLI entry point (`python -m name_match_latest_spark`): the
reference's `name_matcher <t1> <t2> <algo> <out>` surface over
parquet/CSV/XLSX tables, with GPU flags accepted-and-ignored."""

from __future__ import annotations

import csv
import glob
import os
import subprocess
import sys

import pytest

from name_match_latest_spark.oracle import generate_persons


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("cli")
    p1, p2 = generate_persons(40, seed=13)

    def dump(ps, name):
        from name_match_latest_spark.operators.persons import PERSON_SCHEMA

        rows = [
            (p.id, p.uuid, p.first_name, p.middle_name, p.last_name,
             p.birthdate, p.hh_id, p.barangay_code, p.city_code)
            for p in ps
        ]
        path = str(root / name)
        spark.createDataFrame(rows, PERSON_SCHEMA).write.parquet(path)
        return path

    return dump(p1, "t1"), dump(p2, "t2"), str(root)


REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run_cli(args):
    # a small driver heap: the default preallocates 8g beside the test
    # session's own JVM, and the tables are 40 rows
    env = dict(os.environ, SPARK_GRAFT_MASTER="local[4]", SPARK_GRAFT_DRIVER_MEM="1g")
    res = subprocess.run(
        [sys.executable, "-m", "name_match_latest_spark", *args],
        capture_output=True, text=True, cwd=REPO_ROOT, env=env, timeout=300,
    )
    return res


def _read_csv_rows(out_dir):
    rows = []
    for part in sorted(glob.glob(os.path.join(out_dir, "part-*.csv"))):
        with open(part) as f:
            rows.extend(csv.DictReader(f))
    return rows


def test_cli_algo1_end_to_end(tables):
    t1, t2, root = tables
    out = os.path.join(root, "out_a1")
    res = _run_cli([t1, t2, "1", out, "--threshold", "0.0"])
    assert res.returncode == 0, res.stderr[-2000:]
    assert "algo=1 matches=" in res.stdout
    rows = _read_csv_rows(out)
    assert len(rows) > 0
    assert {"t1_id", "t2_id", "confidence", "case_label"} <= set(rows[0])


def test_cli_fuzzy_with_gpu_flags_ignored(tables):
    t1, t2, root = tables
    out = os.path.join(root, "out_a3")
    res = _run_cli(
        [t1, t2, "3", out, "--threshold", "0.8",
         "--gpu-fuzzy-metrics", "--gpu-hash-join", "--allow-birthdate-swap"]
    )
    assert res.returncode == 0, res.stderr[-2000:]
    assert "no effect" in res.stdout  # the ignored-flags note
    assert "algo=3 matches=" in res.stdout
    assert len(_read_csv_rows(out)) > 0


def test_cli_households_option5(tables):
    t1, t2, root = tables
    out = os.path.join(root, "out_h5")
    res = _run_cli([t1, t2, "5", out, "--threshold", "0.8"])
    assert res.returncode == 0, res.stderr[-2000:]
    rows = _read_csv_rows(out)
    assert rows and {"uuid", "hh_id", "match_percentage"} <= set(rows[0])


def test_cli_unknown_algo_errors(tables):
    t1, t2, root = tables
    res = _run_cli([t1, t2, "9", os.path.join(root, "out_bad")])
    assert res.returncode != 0


def test_cli_printed_count_equals_written_rows(tables):
    """The printed match count is the WRITTEN row count (round-3 fix:
    df.count() on the unpersisted result used to re-execute the whole
    match lineage a second time AND ignored the threshold filter)."""
    t1, t2, root = tables
    out = os.path.join(root, "out_cnt")
    res = _run_cli([t1, t2, "1", out, "--threshold", "0.0"])
    assert res.returncode == 0, res.stderr[-2000:]
    printed = int(res.stdout.split("matches=")[1].split()[0])
    assert printed == len(_read_csv_rows(out))


def test_cli_cascade_default_levels(spark, tables):
    """The cascade at its default levels (1,2,3,10,11) unions exact
    and fuzzy levels whose column sets differ; every printed level's
    matches land in the written output, sorted by (t1_id, t2_id) at
    the sink (run_cascade returns its levels unsorted)."""
    import pyarrow.parquet as pq

    t1, t2, root = tables
    out = os.path.join(root, "out_cascade")
    res = _run_cli([t1, t2, "cascade", out, "--format", "parquet"])
    assert res.returncode == 0, res.stderr[-2000:]
    per_level = [
        int(line.split(": ")[1].split()[0])
        for line in res.stdout.splitlines()
        if line.startswith("level ")
    ]
    assert len(per_level) == 5
    written = spark.read.parquet(out).count()
    assert written == sum(per_level) > 0
    assert int(res.stdout.split("matches=")[1].split()[0]) == written
    keys = []
    for part in sorted(glob.glob(os.path.join(out, "part-*.parquet"))):
        cols = pq.read_table(part, columns=["t1_id", "t2_id"]).to_pydict()
        keys.extend(zip(cols["t1_id"], cols["t2_id"]))
    assert len(keys) == written
    assert all(a <= b for a, b in zip(keys, keys[1:]))


def _pair_set(out_dir):
    return {(r["t1_id"], r["t2_id"]) for r in _read_csv_rows(out_dir)}


def test_cli_xlsx_input(spark, tables):
    """.xlsx table args go through the Excel loader, not the parquet
    reader, and match exactly like the same tables given as parquet."""
    from name_match_latest_spark.sources.xlsx import write_xlsx

    t1, t2, root = tables
    books = []
    for src, name in ((t1, "t1.xlsx"), (t2, "t2.XLSX")):
        df = spark.read.parquet(src).orderBy("id")
        path = os.path.join(root, name)
        # write_xlsx stores dates as ISO strings, which the loader parses
        write_xlsx(path, {"persons": (df.columns, [tuple(r) for r in df.collect()])})
        books.append(path)

    out_pq, out_x = os.path.join(root, "out_pq"), os.path.join(root, "out_xlsx_in")
    res = _run_cli([t1, t2, "1", out_pq, "--threshold", "0.0"])
    assert res.returncode == 0, res.stderr[-2000:]
    res = _run_cli([*books, "1", out_x, "--threshold", "0.0"])
    assert res.returncode == 0, res.stderr[-2000:]
    want = _pair_set(out_pq)
    assert want and _pair_set(out_x) == want


@pytest.mark.parametrize(
    "path, loader",
    [("in/DATA.CSV", "csv_source.load_persons_csv"),
     ("in/People.Xlsx", "excel_source.load_persons_xlsx")],
)
def test_cli_input_extension_is_case_insensitive(monkeypatch, path, loader):
    """Upper-case extensions reach their loader, not the parquet
    reader (the loader is replaced by a stub that raises, so nothing
    is read)."""
    import name_match_latest_spark.cli as cli

    class Routed(Exception):
        pass

    def fake(spark, p):
        raise Routed(p)

    monkeypatch.setattr(f"name_match_latest_spark.sources.{loader}", fake)
    with pytest.raises(Routed):
        cli._load_table(None, path)


@pytest.mark.parametrize(
    "path, route",
    [("in/people.csv", "csv"),
     ("in/people.xlsx", "xlsx"),
     ("in/people", "parquet"),
     ("in/people.xls", "parquet"),  # legacy binary workbooks are not read
     ("in/people.csv.d", "parquet"),
     ("jdbc:postgresql://h/db?table=people.csv", "jdbc")],  # prefix first
)
def test_cli_load_table_dispatch(monkeypatch, path, route):
    """Each table arg reaches exactly one reader: jdbc: by prefix, then
    .csv/.xlsx by extension, else the parquet reader."""
    import types

    import name_match_latest_spark.cli as cli

    class Routed(Exception):
        pass

    def stub(name):
        def fake(*args):
            raise Routed(name, args[-1])
        return fake

    monkeypatch.setattr("name_match_latest_spark.sources.csv_source.load_persons_csv", stub("csv"))
    monkeypatch.setattr("name_match_latest_spark.sources.excel_source.load_persons_xlsx", stub("xlsx"))
    monkeypatch.setattr(cli, "_load_jdbc", stub("jdbc"))
    spark = types.SimpleNamespace(read=types.SimpleNamespace(parquet=stub("parquet")))
    with pytest.raises(Routed) as got:
        cli._load_table(spark, path)
    assert got.value.args == (route, path)


def test_cli_jdbc_arg_requires_table_param(tables):
    """A jdbc: table arg is routed (not fed to spark.read.parquet);
    missing ?table= is a clean argparse-style error."""
    t1, _, root = tables
    res = _run_cli(
        ["jdbc:mysql://example.invalid:3306/db", t1, "1", os.path.join(root, "out_j")]
    )
    assert res.returncode != 0
    assert "table=" in (res.stderr + res.stdout)


def test_cli_xlsx_format(tables):
    """--format xlsx writes a readable OOXML workbook (reference's
    default report format, xlsx_export.rs)."""
    import zipfile

    t1, t2, root = tables
    out = os.path.join(root, "out.xlsx")
    res = _run_cli([t1, t2, "1", out, "--format", "xlsx", "--threshold", "0.0"])
    assert res.returncode == 0, res.stderr[-2000:]
    printed = int(res.stdout.split("matches=")[1].split()[0])
    with zipfile.ZipFile(out) as z:
        assert "xl/worksheets/sheet1.xml" in z.namelist()
        body = z.read("xl/worksheets/sheet1.xml").decode()
    assert body.count("<row ") == printed + 1  # header + data rows


def test_cli_jdbc_url_parsing(monkeypatch):
    """URL splitter: table/user/password extracted, other params pass
    through to the JDBC driver untouched (no live MySQL in sandbox —
    the source call is captured, not executed)."""
    import name_match_latest_spark.cli as cli

    captured = {}

    def fake_read(spark, url, table, user, password, **kw):
        captured.update(url=url, table=table, user=user, password=password)
        return "DF"

    monkeypatch.setattr(
        "name_match_latest_spark.sources.jdbc.read_person_table_jdbc", fake_read
    )
    out = cli._load_jdbc(
        None, "jdbc:mysql://h:3306/db?table=persons&user=u&password=p&useSSL=false"
    )
    assert out == "DF"
    assert captured == {
        "url": "jdbc:mysql://h:3306/db?useSSL=false",
        "table": "persons",
        "user": "u",
        "password": "p",
    }


def test_cli_jdbc_passthrough_params_stay_verbatim(monkeypatch):
    """Percent-encoded values and repeated keys in non-extracted
    params must reach the driver UNTOUCHED (parse_qs would decode
    %3D into '=' and drop duplicates)."""
    import name_match_latest_spark.cli as cli

    captured = {}

    def fake_read(spark, url, table, user, password, **kw):
        captured.update(url=url)
        return "DF"

    monkeypatch.setattr(
        "name_match_latest_spark.sources.jdbc.read_person_table_jdbc", fake_read
    )
    cli._load_jdbc(
        None,
        "jdbc:mysql://h/db?sessionVariables=sql_mode%3DANSI&table=t"
        "&flag=a&flag=b",
    )
    assert captured["url"] == (
        "jdbc:mysql://h/db?sessionVariables=sql_mode%3DANSI&flag=a&flag=b"
    )


def test_cli_threshold_same_in_every_format(tables):
    """--threshold drops the same pairs whatever --format writes: the
    fixture's algo 3 run has pairs below 0.95, which parquet output
    used to keep."""
    import pyarrow.parquet as pq

    from name_match_latest_spark.sources.excel_source import read_xlsx_rows

    t1, t2, root = tables
    got = {}
    for fmt, name in (("csv", "thr_csv"), ("parquet", "thr_pq"), ("xlsx", "thr.xlsx")):
        out = os.path.join(root, name)
        res = _run_cli([t1, t2, "3", out, "--format", fmt, "--threshold", "0.95"])
        assert res.returncode == 0, res.stderr[-2000:]
        if fmt == "csv":
            pairs = _pair_set(out)
        elif fmt == "parquet":
            cols = pq.read_table(out, columns=["t1_id", "t2_id"]).to_pydict()
            pairs = set(zip(cols["t1_id"], cols["t2_id"]))
        else:
            header, rows = read_xlsx_rows(out)
            i, j = header.index("t1_id"), header.index("t2_id")
            pairs = {(r[i], r[j]) for r in rows}
        got[fmt] = {(int(a), int(b)) for a, b in pairs}
        assert int(res.stdout.split("matches=")[1].split()[0]) == len(got[fmt])
    assert got["csv"] and got["csv"] == got["parquet"] == got["xlsx"]
