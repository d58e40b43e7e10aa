"""Snapshot-manifest tables: Iceberg-style commit/pin semantics on
plain parquet (SURVEY §7.3 item 7 — Iceberg jars are not in this
sandbox; this keeps the same API surface so swapping to
``df.writeTo(table)`` / ``option("snapshot-id", ...)`` is mechanical).

Layout:

    table_dir/
      data/<snapshot_id>/part-*.parquet     (immutable per snapshot)
      snapshots/<snapshot_id>.json          (manifest: files, counts, parent)
      HEAD                                  (atomic pointer to current id)

Guarantees:
* writers commit atomically (data fully written before the manifest,
  manifest before HEAD flips; HEAD flip is os.replace)
* readers pin a snapshot id and see an immutable file list — the
  reference's ``id <= watermark`` scan-stability trick
  (db/schema.rs:550-558, mod.rs:6410-6413) without any key column
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

from ..plans.checkpoint import atomic_write

__all__ = ["SnapshotTable"]


class SnapshotTable:
    def __init__(self, path: str) -> None:
        self.path = path
        os.makedirs(os.path.join(path, "snapshots"), exist_ok=True)

    # --- write side ---------------------------------------------------------

    def commit(
        self,
        df: DataFrame,
        parent: str | None = None,
        row_count: int | None = None,
    ) -> str:
        """Write a new immutable snapshot (full replacement), returns
        its id.  ``row_count``, when the caller already knows it, is
        recorded in the manifest as the table's ``total_rows`` —
        Iceberg-style snapshot summary stats that make size-based
        maintenance triggers O(1) manifest reads instead of table
        scans."""
        snap_id, paths = self._write_data(df)
        return self._publish(
            snap_id,
            {
                "parent": parent if parent is not None else self.current_snapshot(),
                "file_paths": paths,
                "total_rows": row_count,
            },
        )

    def _watermark_path(self, query_id: str) -> str:
        safe = "".join(c for c in query_id if c.isalnum() or c in "-_")[:80]
        return os.path.join(self.path, "commits", f"{safe or 'default'}.wm")

    def last_batch_id(self, query_id: str = "default") -> int | None:
        """High-watermark of committed streaming batch ids for one
        query/checkpoint lineage (None if that query never committed).

        Fast path: the sidecar ``commits/<query_id>.wm`` file.  The
        snapshot chain is ALSO consulted for the most recent manifest
        stamped with this query_id — that closes the crash window
        between the HEAD flip and the watermark write (the manifest is
        durable before HEAD flips, so a replayed batch is always
        detected)."""
        wm: int | None = None
        try:
            with open(self._watermark_path(query_id)) as f:
                wm = int(f.read().strip())
        except (FileNotFoundError, ValueError):
            pass
        snap = self.current_snapshot()
        while snap is not None:
            try:
                m = self._manifest(snap)
            except FileNotFoundError:
                break  # chain truncated by expire_snapshots — the
                # sidecar watermark (written before any expiry could
                # run) is authoritative beyond this point
            if m.get("query_id") == query_id and m.get("batch_id") is not None:
                chain = int(m["batch_id"])
                return chain if wm is None else max(wm, chain)
            snap = m.get("parent")
        return wm

    def _write_data(self, df: DataFrame) -> tuple[str, list[str]]:
        """Write ``df`` under a fresh snapshot id; returns the id and
        the written parquet files."""
        snap_id = time.strftime("%Y%m%d%H%M%S") + "-" + uuid.uuid4().hex[:8]
        data_dir = os.path.join(self.path, "data", snap_id)
        df.write.mode("errorifexists").parquet(data_dir)
        files = sorted(
            os.path.join(data_dir, f)
            for f in os.listdir(data_dir)
            if f.endswith(".parquet")
        )
        return snap_id, files

    def _publish(self, snap_id: str, manifest: dict) -> str:
        """Make a written snapshot visible: the manifest becomes
        durable first, then HEAD flips to it — a crash in between
        leaves HEAD on the parent and the new manifest unreferenced."""
        manifest = {"snapshot_id": snap_id, "committed_at": time.time(), **manifest}
        atomic_write(
            os.path.join(self.path, "snapshots", f"{snap_id}.json"),
            json.dumps(manifest),
        )
        atomic_write(os.path.join(self.path, "HEAD"), snap_id)
        return snap_id

    def append(
        self,
        df: DataFrame,
        batch_id: int | None = None,
        query_id: str = "default",
        row_count: int | None = None,
    ) -> str | None:
        """Iceberg-style APPEND commit: writes ONLY the new rows' files
        and lists parent files + new files in the manifest — no rewrite
        of existing data (commit() rewrites; append() is O(batch)).

        ``batch_id`` makes the commit IDEMPOTENT for streaming
        foreachBatch sinks: Structured Streaming replays a failed
        micro-batch with the same id, and a batch at or below the last
        committed id FOR THE SAME ``query_id`` is skipped (returns
        None) — the standard transactional-sink recipe, backed by the
        atomic HEAD flip.

        The watermark is a per-query sidecar file
        (``commits/<query_id>.wm``), NOT the head manifest: batch ids
        are only meaningful within one checkpoint lineage.  A restarted
        stream with a FRESH checkpoint restarts ids at 0 — pass its new
        query/run id so batch 0 commits instead of being silently
        dropped — and interleaved ``commit()`` / batch-less ``append()``
        calls never reset the dedup state (both were real data-loss /
        duplication bugs when the check lived on the head snapshot).

        ``row_count`` (the batch's row count, when the caller already
        has it) accumulates into the manifest's ``total_rows``:
        parent total + batch rows, ``None`` as soon as any link in the
        chain lacks a count (a later ``commit`` with a count restores
        tracking).  See :meth:`total_rows`.
        """
        if batch_id is not None:
            last = self.last_batch_id(query_id)
            if last is not None and batch_id <= last:
                return None  # replayed batch — already committed
        parent = self.current_snapshot()
        snap_id, new_files = self._write_data(df)
        parent_paths = self._file_paths(parent) if parent is not None else []
        parent_total = (
            self._manifest(parent).get("total_rows") if parent is not None else 0
        )
        self._publish(
            snap_id,
            {
                "parent": parent,
                "file_paths": parent_paths + new_files,
                "total_rows": (
                    parent_total + row_count
                    if parent_total is not None and row_count is not None
                    else None
                ),
                "batch_id": batch_id,
                "query_id": query_id if batch_id is not None else None,
            },
        )
        if batch_id is not None:
            wm = self._watermark_path(query_id)
            os.makedirs(os.path.dirname(wm), exist_ok=True)
            atomic_write(wm, str(batch_id))
        return snap_id

    def snapshot_before(self, batch_id: int, query_id: str) -> str | None:
        """The newest snapshot committed BEFORE ``batch_id`` of
        ``query_id`` — the correct corpus pin for a REPLAYED streaming
        batch: pinning HEAD on a replay would include the crashed
        attempt's own partial commits (this table's rows from the very
        batch being retried).  Walks the parent chain past any
        snapshot this query committed at or after ``batch_id``."""
        snap = self.current_snapshot()
        while snap is not None:
            try:
                m = self._manifest(snap)
            except FileNotFoundError:
                return None  # chain truncated by expiry; nothing newer
                # than the kept chain can be this query's >= batch_id
            if (
                m.get("query_id") == query_id
                and m.get("batch_id") is not None
                and int(m["batch_id"]) >= batch_id
            ):
                snap = m.get("parent")
                continue
            return snap
        return None

    # --- maintenance --------------------------------------------------------

    def expire_snapshots(self, keep_last: int = 2) -> dict:
        """Iceberg-style snapshot expiry + orphan-file GC: keep the
        HEAD chain's newest ``keep_last`` snapshots, delete older
        manifests, then delete any data file referenced ONLY by
        expired snapshots.  An ever-appending stream otherwise grows
        manifests and (after compactions) dead data dirs without
        bound.

        Readers pinned to a KEPT snapshot are unaffected (append
        manifests list parent files, and those stay while any kept
        manifest references them).  Readers pinned to an EXPIRED
        snapshot fail fast on the missing manifest — the same contract
        as Iceberg's expire_snapshots.  Returns counts.
        """
        head = self.current_snapshot()
        if head is None:
            return {"expired": 0, "files_deleted": 0}
        keep: list[str] = []
        snap = head
        while snap is not None and len(keep) < keep_last:
            keep.append(snap)
            try:
                snap = self._manifest(snap).get("parent")
            except FileNotFoundError:
                snap = None

        referenced: set[str] = set()
        for s in keep:
            referenced.update(os.path.abspath(p) for p in self._file_paths(s))

        sdir = os.path.join(self.path, "snapshots")
        expired = 0
        for name in os.listdir(sdir):
            if name.endswith(".json") and name[:-5] not in keep:
                os.remove(os.path.join(sdir, name))
                expired += 1

        files_deleted = 0
        data_root = os.path.join(self.path, "data")
        if os.path.isdir(data_root):
            for snap_dir in os.listdir(data_root):
                full = os.path.join(data_root, snap_dir)
                # walk bottom-up: nested subdirs are removed once
                # emptied
                for root, dirs, files in os.walk(full, topdown=False):
                    for f in files:
                        p = os.path.abspath(os.path.join(root, f))
                        # keep the hadoop .crc sidecar of a kept file
                        base = (
                            os.path.abspath(os.path.join(root, f[1:-4]))
                            if f.startswith(".") and f.endswith(".crc")
                            else p
                        )
                        if p not in referenced and base not in referenced:
                            os.remove(p)
                            files_deleted += 1
                    for d in dirs:
                        dp = os.path.join(root, d)
                        if not os.listdir(dp):
                            os.rmdir(dp)
                if os.path.isdir(full) and not os.listdir(full):
                    os.rmdir(full)
        return {"expired": expired, "files_deleted": files_deleted}

    # --- read side ----------------------------------------------------------

    def _manifest(self, snap_id: str) -> dict:
        with open(os.path.join(self.path, "snapshots", f"{snap_id}.json")) as f:
            return json.load(f)

    def _file_paths(self, snap_id: str) -> list[str]:
        m = self._manifest(snap_id)
        if "file_paths" in m:
            return m["file_paths"]
        return [os.path.join(m["data_dir"], p) for p in m["files"]]

    def total_rows(self, snapshot_id: str | None = None) -> int | None:
        """Row count of HEAD (or a pinned snapshot) from manifest
        stats alone — O(1), no table scan.  ``None`` when any append
        in the chain was committed without a ``row_count`` (legacy
        state); the next counted ``commit`` (e.g. a compaction)
        restores tracking."""
        snap_id = snapshot_id or self.current_snapshot()
        if snap_id is None:
            return 0
        try:
            total = self._manifest(snap_id).get("total_rows")
        except FileNotFoundError:
            return None
        return int(total) if total is not None else None

    def current_snapshot(self) -> str | None:
        head = os.path.join(self.path, "HEAD")
        if not os.path.exists(head):
            return None
        with open(head) as f:
            return f.read().strip() or None

    def snapshots(self) -> list[dict]:
        out = []
        sdir = os.path.join(self.path, "snapshots")
        for name in sorted(os.listdir(sdir)):
            if name.endswith(".json"):
                with open(os.path.join(sdir, name)) as f:
                    out.append(json.load(f))
        return out

    def read(self, spark: SparkSession, snapshot_id: str | None = None) -> DataFrame:
        """Read HEAD or a pinned snapshot — the pinned file list is
        immutable, so a long job sees one consistent version even while
        writers commit new snapshots."""
        snap_id = snapshot_id or self.current_snapshot()
        if snap_id is None:
            raise FileNotFoundError(f"no snapshot committed at {self.path}")
        return spark.read.parquet(*self._file_paths(snap_id))
