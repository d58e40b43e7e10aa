"""End-to-end: CSV files with alias headers -> mapping inference ->
prepare -> fuzzy match -> threshold sink (the reference's CLI flow,
main.rs:189+ / tests/csv_e2e.rs shape)."""

from __future__ import annotations


def test_csv_to_match_csv(spark, tmp_path):
    from name_match_latest_spark.operators.algos import match_fuzzy_no_mid
    from name_match_latest_spark.operators.persons import prepare_persons
    from name_match_latest_spark.sources.csv_source import load_persons_csv
    from name_match_latest_spark.sources.sinks import write_matches_csv

    a = tmp_path / "a.csv"
    a.write_text(
        "person_id,given_name,surname,dob\n"
        "1,Jon,Smith,1990-01-01\n"
        "2,Maria,Santos,1985-05-05\n"
        "3,Pedro,Reyes,1970-07-07\n"
    )
    b = tmp_path / "b.csv"
    b.write_text(
        "id,first_name,last_name,birthdate,region\n"
        "11,John,Smith,1990-01-01,R1\n"
        "12,Mariah,Santos,1985-05-05,R2\n"
        "13,Alice,Wong,1960-01-01,R3\n"
    )
    d1 = prepare_persons(load_persons_csv(spark, str(a)))
    d2 = prepare_persons(load_persons_csv(spark, str(b)))
    matches = match_fuzzy_no_mid(d1, d2)
    out = str(tmp_path / "out")
    write_matches_csv(matches.filter("confidence >= 0.85"), out)
    back = spark.read.option("header", True).csv(out)
    got = {(int(r.t1_id), int(r.t2_id)) for r in back.collect()}
    assert got == {(1, 11), (2, 12)}
    row = back.filter("t1_id = 1").collect()[0]
    assert float(row.confidence) > 0.9
    assert row.case_label in ("CASE 1", "CASE 2", "CASE 3")
