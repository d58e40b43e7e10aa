"""Snapshot-manifest tables: atomic commit, snapshot pinning."""

from __future__ import annotations


def test_commit_and_pin(spark, tmp_path):
    from name_match_latest_spark.sources.tables import SnapshotTable

    t = SnapshotTable(str(tmp_path / "t"))
    assert t.current_snapshot() is None

    s1 = t.commit(spark.range(5))
    assert t.current_snapshot() == s1
    assert t.read(spark).count() == 5

    s2 = t.commit(spark.range(8))
    assert t.current_snapshot() == s2
    # HEAD sees the new version; the pinned reader still sees snapshot 1
    assert t.read(spark).count() == 8
    assert t.read(spark, snapshot_id=s1).count() == 5

    snaps = t.snapshots()
    assert [s["snapshot_id"] for s in snaps] == sorted([s1, s2])
    assert next(s for s in snaps if s["snapshot_id"] == s2)["parent"] == s1


def test_expire_snapshots_gc(spark, tmp_path):
    """Expiry keeps the newest chain, deletes old manifests, GCs data
    files referenced only by expired snapshots — and append-shared
    parent files survive while any kept manifest references them."""
    import os

    from name_match_latest_spark.sources.tables import SnapshotTable

    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(spark.range(5).selectExpr("id AS v"))
    for b in range(3):
        t.append(spark.range(b * 10, b * 10 + 3).selectExpr("id AS v"),
                 batch_id=b, query_id="q1")
    assert len(t.snapshots()) == 4
    before = {r.v for r in t.read(spark).collect()}

    stats = t.expire_snapshots(keep_last=2)
    assert stats["expired"] == 2
    # HEAD still reads the FULL table: append manifests carry parent
    # file lists, so expiring old snapshots must not lose rows
    assert {r.v for r in t.read(spark).collect()} == before
    assert len(t.snapshots()) == 2
    # batch-id replay protection survives chain truncation
    assert t.last_batch_id("q1") == 2
    assert t.append(spark.range(1).selectExpr("id AS v"),
                    batch_id=2, query_id="q1") is None


def test_expire_after_compaction_deletes_dead_files(spark, tmp_path):
    """After a full commit() (compaction), the pre-compaction data
    files are dead once their snapshots expire — GC removes them."""
    import os

    from name_match_latest_spark.sources.tables import SnapshotTable

    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(spark.range(10).selectExpr("id AS v"))
    t.append(spark.range(10, 20).selectExpr("id AS v"))
    t.commit(t.read(spark))  # compaction: rewrites everything

    def n_files():
        root = os.path.join(t.path, "data")
        return sum(
            1 for d in os.listdir(root) for f in os.listdir(os.path.join(root, d))
            if f.endswith(".parquet")
        )

    before_files = n_files()
    stats = t.expire_snapshots(keep_last=1)
    assert stats["files_deleted"] > 0
    assert n_files() < before_files
    assert {r.v for r in t.read(spark).collect()} == set(range(20))


def test_total_rows_manifest_tracking(spark, tmp_path):
    """Manifest row-count stats: appends with row_count accumulate,
    any uncounted append poisons the total to None (honest unknown),
    and a counted commit (compaction) restores tracking — all O(1)
    manifest reads, no table scan."""
    from name_match_latest_spark.sources.tables import SnapshotTable

    t = SnapshotTable(str(tmp_path / "t"))
    assert t.total_rows() == 0  # empty table

    df = spark.range(10).toDF("x")
    t.append(df, batch_id=0, query_id="q", row_count=10)
    assert t.total_rows() == 10
    t.append(df, batch_id=1, query_id="q", row_count=10)
    assert t.total_rows() == 20

    t.append(df, batch_id=2, query_id="q")  # uncounted -> unknown
    assert t.total_rows() is None
    t.append(df, batch_id=3, query_id="q", row_count=10)
    assert t.total_rows() is None  # stays unknown past the gap

    t.commit(spark.range(40).toDF("x"), row_count=40)  # re-seeds
    assert t.total_rows() == 40
    t.append(df, batch_id=4, query_id="q", row_count=10)
    assert t.total_rows() == 50
    # stat matches reality
    assert t.read(spark).count() == 50
