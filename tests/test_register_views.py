"""register_views memoizes per (session, sf_dir) but never serves a
view that was dropped after registration."""

from __future__ import annotations


def test_register_views_restores_dropped_view(spark, tmp_path):
    from name_match_latest_spark.driver_queries import TABLES, register_views

    sf_dir = str(tmp_path / "sf")
    for t in TABLES:
        spark.range(3).write.parquet(f"{sf_dir}/{t}.parquet")
    try:
        register_views(spark, sf_dir)
        spark.catalog.dropTempView("part")
        assert not spark.catalog.tableExists("part")

        register_views(spark, sf_dir)
        assert spark.catalog.tableExists("part")
        assert spark.table("part").count() == 3
    finally:
        # leave the session as a fresh one: no views onto tmp_path
        for t in TABLES:
            spark.catalog.dropTempView(t)
        del spark._nm_views_dir
