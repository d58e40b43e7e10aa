"""Env-gated LIVE-database integration tests for the JDBC paths.

The sandbox has no MySQL server or JDBC driver jar, so these skip by
default — the same pattern as the reference's own
``MYSQL_IMPORT_TEST_URL``-gated tests (src/import/staging.rs tests,
docs/mysql-benchmark-fixture.md).  The day an environment has a
database, coverage is one env var away:

    export NM_SPARK_JDBC_TEST_URL='jdbc:mysql://host:3306/db'
    export NM_SPARK_JDBC_TEST_USER=... NM_SPARK_JDBC_TEST_PASSWORD=...
    # the driver jar must be on spark.jars (e.g. via SPARK_SUBMIT_OPTS)

What runs then: round-trip a small person table through the Spark JDBC
sink, read it back partitioned via read_person_table_jdbc (keyset-range
parallel scan + upper-bound snapshot pin).
"""

from __future__ import annotations

import datetime
import os

import pytest

URL = os.environ.get("NM_SPARK_JDBC_TEST_URL")
USER = os.environ.get("NM_SPARK_JDBC_TEST_USER", "")
PASSWORD = os.environ.get("NM_SPARK_JDBC_TEST_PASSWORD", "")

live = pytest.mark.skipif(
    URL is None,
    reason="no live database: set NM_SPARK_JDBC_TEST_URL (+_USER/_PASSWORD) "
    "and put the JDBC driver jar on spark.jars to run",
)

ROWS = [
    (1, "u1", "ana", None, "santos", datetime.date(1990, 1, 2), "h1"),
    (2, "u2", "jose", "p", "reyes", datetime.date(1985, 3, 4), "h1"),
    (3, "u3", "maria", None, "cruz", datetime.date(1978, 5, 6), "h2"),
    (4, "u4", "rosa", "q", "garcia", datetime.date(1991, 7, 8), None),
]
SCHEMA = (
    "id long, uuid string, first_name string, middle_name string, "
    "last_name string, birthdate date, hh_id string"
)


def _props():
    return {"user": USER, "password": PASSWORD}


@live
def test_jdbc_roundtrip_partitioned_scan(spark):
    from name_match_latest_spark.sources.jdbc import read_person_table_jdbc

    df = spark.createDataFrame(ROWS, SCHEMA)
    writer = (
        df.write.format("jdbc")
        .option("url", URL)
        .option("dbtable", "nm_spark_it_persons")
    )
    for k, v in _props().items():
        writer = writer.option(k, v)
    writer.mode("overwrite").save()

    back = read_person_table_jdbc(
        spark,
        URL,
        "nm_spark_it_persons",
        USER,
        PASSWORD,
        upper_bound=4,
        num_partitions=2,
    )
    assert back.rdd.getNumPartitions() == 2  # range-split scan
    got = sorted(
        (r.id, r.uuid, r.first_name, r.last_name, r.birthdate)
        for r in back.collect()
    )
    want = sorted((r[0], r[1], r[2], r[4], r[5]) for r in ROWS)
    assert got == want

    # snapshot pin: rows above the captured max(id) are excluded
    pinned = read_person_table_jdbc(
        spark, URL, "nm_spark_it_persons", USER, PASSWORD, upper_bound=2
    )
    assert pinned.count() == 2


def test_cli_jdbc_url_routing_parses():
    """URL-routing parse is testable WITHOUT a database: jdbc: table1
    args must split into (url, table, user, password)."""
    from name_match_latest_spark.cli import _parse_jdbc_arg

    url, table, user, pw = _parse_jdbc_arg(
        "jdbc:mysql://h:3306/db?table=persons&user=u&password=p"
    )
    assert url == "jdbc:mysql://h:3306/db"
    assert (table, user, pw) == ("persons", "u", "p")
