"""Per-partition-group lineage + checkpoint/resume (north rule).

Spark translation of the reference's atomic file checkpoint
(util/checkpoint.rs:3-126: {partition_idx, last_id, watermark_id,
filter_sig} written tmp+rename, validated on resume): the job is
split into deterministic partition GROUPS by hashing the blocking
key; each group commits an audit record (inputs, matches, duration,
status, config signature) via atomic os.replace; a restarted driver
skips committed groups.  The audit directory doubles as the lineage
table (read it as JSON with Spark for metrics queries).

On a real cluster the audit table would be an Iceberg table and each
group commit an Iceberg snapshot; the manifest-file fallback keeps the
identical API in this sandbox (SURVEY §7.3 item 7).
"""

from __future__ import annotations

import json
import os
import time

__all__ = ["AuditLog", "atomic_write", "group_expr"]


def atomic_write(path: str, text: str) -> None:
    """Durable atomic replace of ``path``: write a ``.tmp`` sibling,
    flush + fsync it, then ``os.replace`` — readers see the old content
    or the new, never a torn file (checkpoint.rs:3-126 semantics)."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(text)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def group_expr(key_col, n_groups: int):
    """Deterministic partition-group id for a blocking-key column."""
    from pyspark.sql import functions as F

    return F.pmod(F.xxhash64(key_col), F.lit(n_groups)).cast("int")


class AuditLog:
    """Atomic per-group commit records + resume filter."""

    def __init__(self, audit_dir: str, filter_sig: str) -> None:
        self.dir = audit_dir
        self.filter_sig = filter_sig
        os.makedirs(audit_dir, exist_ok=True)

    def _path(self, group: int) -> str:
        return os.path.join(self.dir, f"group-{group:05d}.json")

    def committed_groups(self) -> set[int]:
        """Groups already committed WITH a matching config signature
        (a changed filter_sig invalidates old checkpoints — the
        reference's resume validation, mod.rs:6419-6430)."""
        done = set()
        for name in os.listdir(self.dir):
            if not name.startswith("group-") or not name.endswith(".json"):
                continue
            try:
                with open(os.path.join(self.dir, name)) as f:
                    rec = json.load(f)
            except (json.JSONDecodeError, OSError):
                continue  # torn write never happens via os.replace; be safe
            if rec.get("status") == "committed" and rec.get("filter_sig") == self.filter_sig:
                done.add(int(rec["group"]))
        return done

    def commit(self, group: int, **metrics) -> None:
        """Atomic tmp+rename commit (checkpoint.rs:3-126 semantics)."""
        rec = {
            "group": group,
            "status": "committed",
            "filter_sig": self.filter_sig,
            "committed_at": time.time(),
            **metrics,
        }
        atomic_write(self._path(group), json.dumps(rec))

    def records(self) -> list[dict]:
        out = []
        for g in sorted(self.committed_groups()):
            with open(self._path(g)) as f:
                out.append(json.load(f))
        return out
