"""Person tables that are not read through the CSV/XLSX projection
(parquet, JDBC) may lack the optional person columns; the CLI loader
fills those with NULLs and passes every other column through."""

from __future__ import annotations


def test_load_table_fills_missing_optional_columns(spark, tmp_path):
    from name_match_latest_spark.cli import _load_table
    from name_match_latest_spark.operators.persons import PERSON_SCHEMA

    path = str(tmp_path / "people")
    spark.sql(
        "SELECT 1L AS id, 'Ana' AS first_name, CAST(NULL AS string) AS middle_name, "
        "'Cruz' AS last_name, DATE'1990-03-15' AS birthdate, 'x' AS extra"
    ).write.parquet(path)
    df = _load_table(spark, path)
    for f in PERSON_SCHEMA.fields:
        assert df.schema[f.name].dataType == f.dataType
    row = df.collect()[0]
    assert (row.uuid, row.hh_id, row.barangay_code, row.city_code) == (None,) * 4
    assert row.extra == "x"  # passthrough
    assert row.first_n == "ana"
    assert row.sx_last_n == "C620"
