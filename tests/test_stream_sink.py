"""Exactly-once streaming sink into SnapshotTable: atomic per-batch
append commits + batch-id idempotence under replay (the
``SnapshotTable.append(batch_id, query_id)`` contract that
``IncrementalClusterer.attach`` relies on)."""

from __future__ import annotations

from pyspark.sql.types import LongType, StringType, StructField, StructType

SCHEMA = StructType(
    [
        StructField("id", LongType(), False),
        StructField("v", StringType(), False),
    ]
)


def test_append_is_idempotent_on_replay(spark, tmp_path):
    from name_match_latest_spark.sources.tables import SnapshotTable

    t = SnapshotTable(str(tmp_path / "tbl"))
    df = spark.createDataFrame([(1, "x"), (2, "y")], SCHEMA)
    s1 = t.append(df, batch_id=0)
    assert s1 is not None
    # replay of the SAME batch id (post-failure re-run) must be a no-op
    assert t.append(df, batch_id=0) is None
    assert t.read(spark).count() == 2
    # next batch appends WITHOUT rewriting batch 0's files
    s2 = t.append(spark.createDataFrame([(3, "z")], SCHEMA), batch_id=1)
    assert s2 is not None
    assert t.read(spark).count() == 3
    # pinned read of the first snapshot still sees only batch 0
    assert t.read(spark, snapshot_id=s1).count() == 2


def test_append_interops_with_full_commit(spark, tmp_path):
    from name_match_latest_spark.sources.tables import SnapshotTable

    t = SnapshotTable(str(tmp_path / "tbl"))
    t.commit(spark.createDataFrame([(1, "x")], SCHEMA))
    t.append(spark.createDataFrame([(2, "y")], SCHEMA))
    assert {r.id for r in t.read(spark).collect()} == {1, 2}


def test_fresh_checkpoint_restarts_batch_ids_without_data_loss(spark, tmp_path):
    """Batch ids are per checkpoint lineage: a NEW query/checkpoint
    restarting at batch 0 must COMMIT, not be silently dropped by the
    old lineage's watermark (round-3 fix: the check used to compare
    against the head snapshot's batch_id regardless of lineage)."""
    from name_match_latest_spark.sources.tables import SnapshotTable

    t = SnapshotTable(str(tmp_path / "tbl"))
    assert t.append(spark.createDataFrame([(1, "x")], SCHEMA), batch_id=0, query_id="q1")
    assert t.append(spark.createDataFrame([(2, "y")], SCHEMA), batch_id=1, query_id="q1")
    # fresh checkpoint == new lineage: its batch 0 is NEW data
    assert t.append(spark.createDataFrame([(3, "z")], SCHEMA), batch_id=0, query_id="q2")
    assert t.read(spark).count() == 3
    # but a replay WITHIN q2 is still deduped
    assert t.append(spark.createDataFrame([(3, "z")], SCHEMA), batch_id=0, query_id="q2") is None
    assert t.read(spark).count() == 3


def test_interleaved_commit_does_not_reset_dedup_state(spark, tmp_path):
    """A full commit() (e.g. staged import) between micro-batches must
    not erase the replay protection: a replayed batch after the commit
    is still a no-op (round-3 fix: the old head-manifest check saw
    batch_id=None on the commit snapshot and re-appended)."""
    from name_match_latest_spark.sources.tables import SnapshotTable

    t = SnapshotTable(str(tmp_path / "tbl"))
    t.append(spark.createDataFrame([(1, "x")], SCHEMA), batch_id=0, query_id="s")
    t.commit(t.read(spark).unionByName(spark.createDataFrame([(9, "i")], SCHEMA)))
    assert t.append(spark.createDataFrame([(1, "x")], SCHEMA), batch_id=0, query_id="s") is None
    assert t.read(spark).count() == 2


def test_replay_detected_even_if_watermark_file_lost(spark, tmp_path):
    """Crash window between HEAD flip and watermark write: the manifest
    chain (durable before HEAD) must still catch the replay."""
    import os
    import shutil

    from name_match_latest_spark.sources.tables import SnapshotTable

    t = SnapshotTable(str(tmp_path / "tbl"))
    t.append(spark.createDataFrame([(1, "x")], SCHEMA), batch_id=0, query_id="s")
    t.append(spark.createDataFrame([(2, "y")], SCHEMA), batch_id=1, query_id="s")
    shutil.rmtree(os.path.join(t.path, "commits"))  # simulate lost sidecar
    assert t.last_batch_id("s") == 1  # recovered from the manifest chain
    assert t.append(spark.createDataFrame([(2, "y")], SCHEMA), batch_id=1, query_id="s") is None
    assert t.read(spark).count() == 2
