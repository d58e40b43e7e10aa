"""Continuously-updated entity clusters over an unbounded page stream.

The batch pipeline (plans/web_pipeline.py) re-clusters the world; a
crawl is never done, so the production shape is INCREMENTAL: each
micro-batch of pages folds its mentions and match edges into durable
state, and cluster assignments are maintained merge-on-read — per
batch we write O(new + changed) rows, never O(corpus).

State lives in three SnapshotTables (Iceberg-style atomic appends,
batch-id idempotent -> exactly-once under Structured Streaming
replays):

    mentions/  prepared mention rows (the accumulated corpus)
    edges/     undirected match edges (src < dst)
    labels/    (node, component, version) DELTA LOG — the assignment
               of a node is the row with the highest version
               (``resolve_labels``); ``compact_labels`` folds the log
               into a new base when the delta fraction grows

Per micro-batch (foreachBatch):

    1. prepare mentions from the batch's pages (html pruned first)
    2. match within the batch AND batch-vs-corpus (corpus side pinned
       to the snapshot BEFORE this batch's append, so replays after a
       partial failure see the same candidate space modulo idempotent
       skips)
    3. append mentions + edges (atomic, replay-safe)
    4. label delta via the LOG-AWARE merge (``_merge_log_delta``):
       resolve labels for the EDGE ENDPOINTS only (broadcast semi-join
       prunes the log before any aggregation), condensed-graph CC over
       touched components, then rewrite exactly the members of merged
       components (log rows found by a broadcast hash filter on the
       remap — a scan, not a shuffle) -> append at version=batch_id

The scale contract: batch-vs-corpus matching is an equi-join on the
same composite blocking key as the batch pipeline (soundex4(last),
lang, domain) — the stream side is small, the corpus side is huge but
never reshuffled beyond the blocking join; NO per-batch operation
shuffles the corpus: every aggregation and join in the label
maintenance path is over O(batch + touched-component) rows, and the
only corpus-wide work is the label-log parquet SCAN under a broadcast
filter.  The full resolve (groupBy over the whole log)
happens only on READ (``current_labels``/``cluster_members``) and in
``compact_labels``.
"""

from __future__ import annotations

import hashlib
import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.clustering import connected_components
from ..plans.checkpoint import AuditLog, atomic_write
from ..plans.web_pipeline import match_mentions, prepare_mentions
from ..sources.tables import SnapshotTable

__all__ = ["IncrementalClusterer", "checkpoint_lineage", "resolve_labels"]


def resolve_labels(raw: DataFrame) -> DataFrame:
    """(node, component): last-writer-wins over the delta log."""
    return raw.groupBy("node").agg(
        F.max_by("component", "version").alias("component")
    )


def checkpoint_lineage(checkpoint_dir: str, legacy_probe=None) -> str:
    """Stable exactly-once lineage id for a checkpoint directory.

    Canonicalized (realpath) before hashing: the SAME physical
    checkpoint addressed via a different spelling (relative vs
    absolute path, symlink, different cwd) must stay ONE lineage —
    otherwise a crashed micro-batch replayed from it lands in a
    "new" lineage, escapes batch-id dedup, and double-appends.

    ``legacy_probe(lineage_id) -> bool`` (optional): pre-r4 versions
    hashed the RAW spelling; a deployment that already committed
    batches under that legacy id must keep it, or the watermark
    resets and the next replay double-appends once.  The probe is
    asked whether the legacy id has committed state; if yes (and the
    canonical id has not), the legacy id stays sticky."""
    canonical = hashlib.md5(
        os.path.realpath(os.path.abspath(checkpoint_dir)).encode("utf-8")
    ).hexdigest()[:16]
    if legacy_probe is not None:
        legacy = hashlib.md5(
            checkpoint_dir.rstrip("/").encode("utf-8")
        ).hexdigest()[:16]
        if legacy != canonical and not legacy_probe(canonical) and legacy_probe(legacy):
            return legacy
    return canonical


#: above this many batch mentions the batch side is no longer safely
#: broadcastable (a backfill, not a crawl tick) — the corpus match
#: falls back to the shuffle join the batch pipeline uses
BROADCAST_BATCH_MAX = 500_000

#: within-batch LSH buckets above this size switch from the full
#: self-join to a star against the bucket's min doc_id (see
#: ``IncrementalClusterer._within_batch_candidates``) — same constant
#: as the batch operator's ``dedup.AUTO_BUCKET_CAP``
WITHIN_BATCH_BUCKET_CAP = 100


class IncrementalClusterer:
    """``dedup_threshold`` enables the ingest near-dup gate: each
    batch drops pages whose text token-Jaccard against an
    already-ingested page is >= the threshold (plus byte-exact dups),
    BEFORE extraction — the training-data "is this page already in
    the corpus?" filter.  Candidate generation is MinHash-banded LSH
    against the accumulated band table (equi-join, never all-pairs);
    candidates are verified with the exact token-Jaccard on the two
    texts, so an LSH false positive cannot drop a legitimate page.
    Costs one more state table (``docs``: url/text/lang + bands)."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        dedup_threshold: float | None = None,
        compact_factor: float | None = 4.0,
        compact_max_files: int = 256,
    ) -> None:
        """``compact_factor`` wires label-log compaction into the batch
        loop itself (a long-running crawl must not depend on an
        operator remembering to call :meth:`maintain`):
        after a batch commits, the log is folded into a fresh base when
        EITHER its row count exceeds ``compact_factor`` × the node
        universe (merge churn — ``resolve_labels`` read cost grows with
        every superseded row) OR its data-file count exceeds
        ``compact_max_files`` (append-mostly logs whose row count stays
        near the floor but whose per-read open cost grows one file per
        batch).  Both signals come from O(1) manifest stats
        (``SnapshotTable.total_rows`` / manifest file list), so the
        check costs no table scan per batch.  ``compact_max_files``
        also bounds the gate's corpus tables (docs / docs_bands) via
        :meth:`compact_corpus`.  ``compact_factor=None`` disables
        auto-compaction (manual :meth:`maintain` only)."""
        self.spark = spark
        self.mentions = SnapshotTable(os.path.join(state_dir, "mentions"))
        self.edges = SnapshotTable(os.path.join(state_dir, "edges"))
        self.labels = SnapshotTable(os.path.join(state_dir, "labels"))
        self.audit = AuditLog(os.path.join(state_dir, "audit"), "incremental-v1")
        self.dedup_threshold = dedup_threshold
        self.compact_factor = compact_factor
        self.compact_max_files = compact_max_files
        self._epochs: dict[str, int] = {}
        if dedup_threshold is not None:
            self.docs = SnapshotTable(os.path.join(state_dir, "docs"))
            self.docs_bands = SnapshotTable(os.path.join(state_dir, "docs_bands"))
        else:
            self.docs = self.docs_bands = None

    # --- read side -----------------------------------------------------------

    def current_labels(self) -> DataFrame:
        """Resolved (node, component) assignment at the current snapshot."""
        try:
            return resolve_labels(self.labels.read(self.spark))
        except FileNotFoundError:
            return self.spark.createDataFrame(
                [], "node long, component long"
            )

    def cluster_members(self) -> DataFrame:
        """(node, url, mention_idx, cluster_id) — assignments joined
        back to mention identity, same shape as cluster_pages.  A
        stream that drained ZERO micro-batches (empty watched dir)
        has no mentions snapshot yet — that is an empty result, not a
        crash."""
        try:
            m = self.mentions.read(self.spark).select(
                "id", "url", "mention_idx"
            )
        except FileNotFoundError:
            return self.spark.createDataFrame(
                [], "id long, url string, mention_idx int, cluster_id long"
            )
        lab = self.current_labels()
        return m.join(lab, m.id == lab.node, "left").select(
            F.col("id"),
            "url",
            "mention_idx",
            F.coalesce("component", F.col("id")).alias("cluster_id"),
        )

    # --- write side ----------------------------------------------------------

    def _lineage_epoch(self, lineage: str) -> int:
        """Monotone epoch per checkpoint lineage, persisted under
        ``labels/epochs/``.  Label-delta versions are
        ``(epoch << 32) | batch_id``: batch ids restart at 0 under a
        fresh checkpoint, and raw batch ids as versions would let the
        OLD lineage's higher-version rows win ``resolve_labels``'
        max_by forever — re-attached streams would silently keep stale
        cluster assignments.  A new lineage's epoch strictly exceeds
        every registered epoch AND the high 32 bits of any version
        already in the log (covers state written before epochs
        existed), so later lineages always supersede.  The file is
        written atomically before first use; replays of the same
        lineage reuse it.  (Registration assumes the state dir's
        usual single-writer discipline — two streams attaching NEW
        checkpoints at the same instant could race the registry;
        concurrent WRITERS to one state dir are already unsupported
        at the snapshot-commit level.)"""
        d = os.path.join(self.labels.path, "epochs")
        p = os.path.join(d, f"{lineage}.json")
        epoch = self._epochs.get(lineage)
        if epoch is None:
            try:
                with open(p) as f:
                    epoch = int(json.load(f)["epoch"])
            except (FileNotFoundError, ValueError, KeyError):
                epoch = None
        newest = self._newest_epoch(d)
        if epoch is not None and epoch >= newest:
            self._epochs[lineage] = epoch
            return epoch
        # unregistered lineage — or a lineage SUPERSEDED by a newer
        # one since it last wrote (an older checkpoint re-attached
        # after a fresh one ran): re-register ABOVE everything so this
        # lineage's new deltas win resolve_labels again instead of
        # being permanently shadowed (the reverse of the fresh-lineage
        # staleness bug).  Replay dedup is unaffected: it keys on the
        # per-lineage batch-id watermark, not the epoch.
        prior = newest
        # legacy state: versions committed before epochs existed carry
        # epoch 0 implicitly in their high bits
        try:
            row = (
                self.labels.read(self.spark).agg(F.max("version")).first()
            )
            if row is not None and row[0] is not None:
                prior = max(prior, int(row[0]) >> 32)
        except FileNotFoundError:
            pass
        epoch = prior + 1
        os.makedirs(d, exist_ok=True)
        atomic_write(p, json.dumps({"epoch": epoch, "lineage": lineage}))
        self._epochs[lineage] = epoch
        return epoch

    @staticmethod
    def _newest_epoch(d: str) -> int:
        newest = -1
        try:
            names = os.listdir(d)
        except FileNotFoundError:
            return newest
        for name in names:
            if not name.endswith(".json"):
                continue
            try:
                with open(os.path.join(d, name)) as f:
                    newest = max(newest, int(json.load(f)["epoch"]))
            except (ValueError, KeyError, OSError):
                continue
        return newest

    def _dedup_gate(
        self, pages: DataFrame, batch_id: int, lineage: str
    ) -> DataFrame:
        """Drop batch pages that duplicate the corpus (or each other):
        byte-exact by md5, near-dup by LSH candidates VERIFIED with the
        exact token-Jaccard on the texts.  Appends survivors' doc rows
        and band assignments.  Every join broadcasts the (small) batch
        side; the corpus band table is only touched by the band
        equi-join and the corpus texts by a broadcast-filtered fetch of
        candidate ids."""
        from ..operators.dedup import minhash_bands

        spark = self.spark
        batch = (
            pages.select(
                F.col("url").alias("doc_id"),
                "text",
                "lang",
                F.md5("text").alias("text_hash"),
            )
            .localCheckpoint(eager=True)
        )
        # 1. byte-exact within the batch (keep min url)
        w = Window.partitionBy("text_hash").orderBy("doc_id")
        batch = (
            batch.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        # computed ONCE per batch (eager checkpoint): the self-join
        # below reads it twice, and the corpus band join + the final
        # docs_bands append reuse it via cheap semi-join filters
        # instead of re-running the minhash UDF over the batch texts
        bands = minhash_bands(batch).localCheckpoint(eager=True)

        def bands_of(surviving: DataFrame) -> DataFrame:
            return bands.join(
                F.broadcast(surviving.select("doc_id")), "doc_id", "left_semi"
            )

        # 2. near-dup within the batch: verified pairs drop the larger id
        cand_w = (
            self._within_batch_candidates(bands)
            # materialized: _verified_dups reads cand twice (pairs
            # base + d2 broadcast filter)
            .localCheckpoint(eager=True)
        )
        drop_within = (
            self._verified_dups(cand_w, batch, batch)
            .select(F.col("d2").alias("doc_id"))
            .distinct()
        )
        batch = batch.join(F.broadcast(drop_within), "doc_id", "left_anti")

        # corpus pinned BEFORE this batch's own (possibly crashed and
        # replayed) commits: pinning HEAD on a replay would see the
        # batch's own docs and drop the whole batch as self-duplicates
        docs_snap = self.docs.snapshot_before(batch_id, f"{lineage}:docs")
        if docs_snap is not None:
            corpus = self.docs.read(spark, docs_snap)
            # 3a. byte-exact vs corpus: corpus hashes pruned by the
            # broadcast batch-hash filter, result broadcast back
            dup_hashes = corpus.select("text_hash").join(
                F.broadcast(batch.select("text_hash").distinct()),
                "text_hash",
                "left_semi",
            )
            batch = batch.join(
                F.broadcast(dup_hashes.distinct()), "text_hash", "left_anti"
            )
            # 3b. near-dup vs corpus: band equi-join (batch broadcast)
            bands_snap = self.docs_bands.snapshot_before(
                batch_id, f"{lineage}:docs_bands"
            )
            cand = (
                self.docs_bands.read(spark, bands_snap)
                .join(
                    F.broadcast(bands_of(batch).withColumnRenamed("doc_id", "d1")),
                    on=["band_id", "band_hash"],
                )
                .select("d1", F.col("doc_id").alias("d2"))
                .distinct()
                # materialized: used twice in _verified_dups, and its
                # lineage scans the full corpus band table
                .localCheckpoint(eager=True)
            )
            dup_batch_ids = (
                self._verified_dups(cand, batch, corpus)
                .select(F.col("d1").alias("doc_id"))
                .distinct()
            )
            batch = batch.join(F.broadcast(dup_batch_ids), "doc_id", "left_anti")

        batch = batch.localCheckpoint(eager=True)
        n_batch = batch.count()
        # appends are coalesced (a crawl tick is one file)
        nparts = max(1, min(32, n_batch // 2_000_000 + 1))
        self.docs.append(
            batch.coalesce(nparts),
            batch_id=batch_id,
            query_id=f"{lineage}:docs",
            row_count=n_batch,
        )
        self.docs_bands.append(
            bands_of(batch).coalesce(nparts),
            batch_id=batch_id,
            query_id=f"{lineage}:docs_bands",
        )
        survivors = batch.select(F.col("doc_id").alias("url"))
        return pages.join(F.broadcast(survivors), "url", "left_semi")

    def _within_batch_candidates(self, bands: DataFrame) -> DataFrame:
        """(d1, d2) near-dup candidate pairs within ONE batch, with
        the oversized-bucket guard the corpus-side paths already have
        (round-4 carry-over): a backfill batch of near-identical pages
        (crash-replayed crawl dump, mirror site) lands them all in the
        SAME bucket in EVERY band, and the plain band self-join goes
        quadratic in batch size before verification can prune.

        Buckets at or under ``WITHIN_BATCH_BUCKET_CAP`` get the full
        self-join (small quadratic, same as
        ``dedup.minhash_lsh_candidates``).  Buckets ABOVE the cap
        switch to a STAR: every member pairs with the bucket's min
        doc_id only — O(bucket) candidates, and the flood regime this
        guards against (near-identical replicas) still dedups, because
        each replica verifies against the representative directly.
        That is strictly stronger than the batch operator's drop-the-
        bucket cap, which is the right call there (a metric operator
        must not emit approximate pairs silently) but would let a
        near-dup flood INTO the corpus here.  A mixed oversized bucket
        (hash collision of unrelated pages) degrades to possible false
        negatives — the same trade the capped batch operator makes."""
        counts = (
            bands.groupBy("band_id", "band_hash")
            .agg(F.count("*").alias("_n"), F.min("doc_id").alias("_rep"))
            # tiny (one row per occupied bucket) and read twice below
            .localCheckpoint(eager=True)
        )
        tagged = bands.join(counts, ["band_id", "band_hash"])
        small = tagged.filter(F.col("_n") <= WITHIN_BATCH_BUCKET_CAP).select(
            "doc_id", "band_id", "band_hash"
        )
        full = (
            small.alias("a")
            .join(small.alias("b"), on=["band_id", "band_hash"])
            .select(
                F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2")
            )
            .filter(F.col("d1") < F.col("d2"))
        )
        star = (
            tagged.filter(F.col("_n") > WITHIN_BATCH_BUCKET_CAP)
            .filter(F.col("doc_id") != F.col("_rep"))
            # _rep = min(doc_id) per bucket, so _rep < doc_id holds
            .select(F.col("_rep").alias("d1"), F.col("doc_id").alias("d2"))
        )
        return full.unionByName(star).distinct()

    def _verified_dups(
        self, cand: DataFrame, left_docs: DataFrame, right_docs: DataFrame
    ) -> DataFrame:
        """Exact token-Jaccard verification of candidate pairs: fetch
        both texts (corpus side via broadcast-filtered scan), compute
        the unigram token-set Jaccard in an Arrow batch, keep pairs at
        or above the threshold."""
        import pandas as pd

        from ..operators.dedup import _token_jaccard_scalar

        thr = self.dedup_threshold
        pairs = (
            cand.join(
                F.broadcast(
                    left_docs.select(
                        F.col("doc_id").alias("d1"), F.col("text").alias("_t1")
                    )
                ),
                "d1",
            )
            .join(
                right_docs.select(
                    F.col("doc_id").alias("d2"), F.col("text").alias("_t2")
                ).join(
                    F.broadcast(cand.select("d2").distinct()), "d2", "left_semi"
                ),
                "d2",
            )
        )

        def verify(batches):
            for pdf in batches:
                keep = [
                    _token_jaccard_scalar(t1, t2) >= thr
                    for t1, t2 in zip(pdf["_t1"], pdf["_t2"])
                ]
                yield pdf.loc[keep, ["d1", "d2"]]

        return pairs.mapInPandas(verify, schema="d1 string, d2 string")

    def process_batch(
        self, pages: DataFrame, batch_id: int, lineage: str = "default"
    ) -> None:
        """foreachBatch body — idempotent per (lineage, batch_id).
        ``lineage`` identifies the checkpoint lineage (attach() passes
        md5(checkpoint_dir)): batch ids restart at 0 under a fresh
        checkpoint, so replay watermarks must be scoped per lineage or
        a re-attached stream's batches would be silently dropped.
        Each batch commits an audit record (mention/edge/label-change
        counts + wall time) so operators can watch drift — the same
        per-partition-lineage discipline as run_resumable."""
        import time as _time

        t0 = _time.time()
        spark = self.spark
        # pinned BEFORE this batch's own commits (replay-safe; for the
        # mention corpus a HEAD pin would only add batch-vs-self pairs
        # that normalize away, but the pre-batch pin is also cheaper)
        corpus_snap = self.mentions.snapshot_before(
            batch_id, f"{lineage}:mentions"
        )

        if self.dedup_threshold is not None:
            pages = self._dedup_gate(pages, batch_id, lineage)
        prepared = prepare_mentions(pages).localCheckpoint(eager=True)
        n_mentions = prepared.count()  # cheap: counts the checkpoint

        # within-batch self-match
        within = match_mentions(prepared).select("t1_id", "t2_id")
        # batch vs accumulated corpus (pinned snapshot: replays after a
        # partial failure must not match the batch against itself).
        # The CORPUS is t1 and the batch is the BROADCAST t2 side: the
        # corpus streams map-side through the join and is never
        # shuffled — the per-batch cost a growing crawl can afford.  A
        # BACKFILL batch too large to broadcast falls back to the
        # shuffle join the batch pipeline uses.
        if corpus_snap is not None:
            corpus = self.mentions.read(spark, corpus_snap)
            cross = match_mentions(
                corpus,
                prepared,
                broadcast_right=n_mentions <= BROADCAST_BATCH_MAX,
            ).select("t1_id", "t2_id")
            new_edges = within.unionByName(cross)
        else:
            new_edges = within
        new_edges = (
            new_edges.select(
                F.least("t1_id", "t2_id").alias("src"),
                F.greatest("t1_id", "t2_id").alias("dst"),
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
        n_edges = new_edges.count()  # cheap: counts the checkpoint

        self.mentions.append(
            prepared,
            batch_id=batch_id,
            query_id=f"{lineage}:mentions",
            row_count=n_mentions,
        )
        self.edges.append(
            new_edges,
            batch_id=batch_id,
            query_id=f"{lineage}:edges",
            row_count=n_edges,
        )

        # replay gate BEFORE the delta computation: append() would
        # discard a replayed batch at its watermark check without ever
        # evaluating the DataFrame, but the eager checkpoint + count
        # below (needed for the manifest row stat) would have already
        # executed the full merge-log plan — log scan, resolve window,
        # condensed CC — only to throw it away
        last_label = self.labels.last_batch_id(f"{lineage}:labels")
        if last_label is not None and batch_id <= last_label:
            delta_snap = None  # replayed batch — already committed
        else:
            # version monotone ACROSS checkpoint lineages, not just
            # within one (a fresh checkpoint restarts batch ids at 0)
            version = (self._lineage_epoch(lineage) << 32) | batch_id
            delta = (
                self._merge_log_delta(
                    new_edges, new_nodes=prepared.select("id")
                )
                .withColumn("version", F.lit(version).cast("long"))
                .localCheckpoint(eager=True)
            )
            n_delta = delta.count()
            # a crawl-tick delta is small: collapse the shuffle-width
            # partitioning before the write or the label log grows ~32
            # near-empty files per batch (the file-count compaction
            # trigger would then fire on write fan-out, not log size)
            delta = delta.coalesce(max(1, min(32, n_delta // 2_000_000 + 1)))
            delta_snap = self.labels.append(
                delta,
                batch_id=batch_id,
                query_id=f"{lineage}:labels",
                row_count=n_delta,
            )
        if delta_snap is not None:  # None = replay; already audited
            self.audit.commit(
                batch_id,
                lineage=lineage,
                n_mentions=n_mentions,
                n_new_edges=n_edges,
                n_label_changes=n_delta,
                duration_sec=_time.time() - t0,
            )
            self._maybe_compact()

    def _merge_log_delta(
        self, new_edges: DataFrame, new_nodes: DataFrame
    ) -> DataFrame:
        """(node, component) rows that change or are new — the delta
        of ``merge_components`` computed against the label log, with
        per-batch cost O(batch + touched), independent of corpus size
        (asserted value-equal to batch re-clustering by
        tests/test_incremental_cluster.py)."""
        spark = self.spark
        try:
            log = self.labels.read(spark)
        except FileNotFoundError:
            log = spark.createDataFrame(
                [], "node long, component long, version long"
            )

        endpoints = (
            new_edges.select(F.col("src").alias("node"))
            .union(new_edges.select(F.col("dst").alias("node")))
            .union(new_nodes.select(F.col(new_nodes.columns[0]).alias("node")))
            .distinct()
            .localCheckpoint(eager=True)
        )

        # current labels of the touched nodes ONLY
        lab_e = resolve_labels(
            log.join(F.broadcast(endpoints), "node", "left_semi")
        ).localCheckpoint(eager=True)

        # condensed graph over touched components (tiny), then CC
        src_lab = lab_e.select(
            F.col("node").alias("src"), F.col("component").alias("_sc")
        )
        dst_lab = lab_e.select(
            F.col("node").alias("dst"), F.col("component").alias("_dc")
        )
        cond = (
            new_edges.join(F.broadcast(src_lab), "src", "left")
            .join(F.broadcast(dst_lab), "dst", "left")
            .select(
                F.coalesce(F.col("_sc"), F.col("src")).alias("src"),
                F.coalesce(F.col("_dc"), F.col("dst")).alias("dst"),
            )
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        cc = connected_components(cond)
        remap = cc.filter(F.col("node") != F.col("component")).select(
            F.col("node").alias("_old"), F.col("component").alias("_new")
        ).localCheckpoint(eager=True)

        # members of merged components: log rows whose component is in
        # the remap (broadcast hash filter — a scan of the log, no
        # shuffle), resolved over that SMALL candidate set to drop
        # stale rows, then relabeled
        cand_nodes = (
            log.join(F.broadcast(remap), log.component == F.col("_old"), "left_semi")
            .select("node")
            .distinct()
            .localCheckpoint(eager=True)
        )
        cand_current = resolve_labels(
            log.join(F.broadcast(cand_nodes), "node", "left_semi")
        )
        changed = cand_current.join(
            F.broadcast(remap), cand_current.component == F.col("_old"), "inner"
        ).select("node", F.col("_new").alias("component"))

        # nodes with no label history: self-label, remapped if merged
        fresh = endpoints.join(lab_e.select("node"), "node", "left_anti")
        fresh_labeled = fresh.join(
            F.broadcast(remap), fresh.node == F.col("_old"), "left"
        ).select(
            "node", F.coalesce(F.col("_new"), F.col("node")).alias("component")
        )
        return changed.unionByName(fresh_labeled)

    def attach(self, pages_stream: DataFrame, checkpoint_dir: str):
        """Wire the clusterer to a STREAMING pages DataFrame; returns
        the StreamingQuery (availableNow trigger: drain, then stop —
        rerun on a schedule for a rolling crawl).  The replay-dedup
        lineage is derived from the checkpoint dir: batch ids restart
        at 0 under a fresh checkpoint, and scoping the watermark per
        lineage keeps a re-attached stream's batch 0 from being
        silently dropped by the old lineage's high-water mark.  The
        dir is canonicalized before hashing (``checkpoint_lineage``):
        a different spelling of the same physical checkpoint must not
        become a new lineage or replays escape dedup.  A pre-r4
        deployment that already committed under the raw-spelling id
        keeps it (probed via the mentions watermark) so its replay
        watermark survives the upgrade."""
        lineage = checkpoint_lineage(
            checkpoint_dir,
            legacy_probe=lambda lid: self.mentions.last_batch_id(
                f"{lid}:mentions"
            )
            is not None,
        )
        return (
            pages_stream.writeStream.foreachBatch(
                lambda df, bid: self.process_batch(df, bid, lineage=lineage)
            )
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )

    def maintain(self) -> dict:
        """Periodic housekeeping for a long-running crawl: compact the
        label log and the gate's corpus tables, then expire superseded
        snapshots + GC orphan files on every state table.  Call ONLY
        at a consistent stop point (stream drained, no partially
        committed batch) — see ``compact_corpus``.  Returns per-table
        stats."""
        self.compact_labels(expire=True)
        self.compact_corpus(expire=True)
        out = {"labels": "compacted"}
        for name in ("mentions", "edges", "docs", "docs_bands"):
            table = getattr(self, name)
            if table is not None:
                out[name] = table.expire_snapshots(keep_last=2)
        return out

    def _maybe_compact(self) -> None:
        """Auto-compaction trigger, checked after every committed
        batch (see ``__init__``): fold the label log when it holds
        ``compact_factor``× more rows than the node universe (merge
        churn) or more data files than ``compact_max_files``
        (append fan-out).  Pure manifest reads until the trigger
        actually fires."""
        if self.compact_factor is None:
            return
        snap = self.labels.current_snapshot()
        if snap is not None:
            n_files = len(self.labels._file_paths(snap))
            log_rows = self.labels.total_rows(snap)
            nodes = self.mentions.total_rows()
            over_rows = (
                log_rows is not None
                and nodes is not None
                and log_rows > self.compact_factor * max(nodes, 1)
            )
            if over_rows or n_files > self.compact_max_files:
                self.compact_labels(expire=True)
        # the gate's corpus tables accrete files per batch too, and
        # the gate's scans pay per-file open cost
        if self.docs is not None:
            for t in (self.docs, self.docs_bands):
                s = t.current_snapshot()
                if (
                    s is not None
                    and len(t._file_paths(s)) > self.compact_max_files
                ):
                    self.compact_corpus(expire=True)
                    break

    def compact_corpus(self, expire: bool = True) -> None:
        """Fold the dedup gate's corpus tables (docs / docs_bands)
        into single-base snapshots — Iceberg bin-packing.  Appends
        otherwise accrete at least one file per batch, and every corpus
        scan (the byte-exact text_hash probe reads the whole thin
        column) pays per-file open cost; the rewrite restores a
        coalesced base.  Replay-safe from the auto trigger —
        it runs only after a fully-committed batch, so a replay's
        ``snapshot_before`` pin still excludes that batch's own rows
        or skips everything at the append watermark.  A MANUAL call
        (``maintain``) must happen at a consistent stop point: folding
        a partially-committed batch's docs into the base would let its
        replay see its own rows as corpus duplicates."""
        for table in (self.docs, self.docs_bands):
            if table is None or table.current_snapshot() is None:
                continue
            df = table.read(self.spark).localCheckpoint(eager=True)
            n = df.count()
            table.commit(
                df.coalesce(max(1, min(32, n // 2_000_000 + 1))), row_count=n
            )
            if expire:
                table.expire_snapshots(keep_last=1)

    def compact_labels(self, expire: bool = True) -> str | None:
        """Fold the delta log into a single base snapshot (read cost is
        O(base + deltas); compaction restores it to O(nodes)), then
        expire superseded snapshots so the dead delta files are
        actually reclaimed (``expire=False`` keeps history for
        time-travel reads).  Returns the new snapshot id."""
        try:
            raw = self.labels.read(self.spark)
        except FileNotFoundError:
            return None
        w = Window.partitionBy("node").orderBy(F.col("version").desc())
        base = (
            raw.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("node", "component", "version")
            # materialized so the commit writes from memory and the
            # row count (recorded as the new base's manifest stat —
            # it re-seeds total_rows tracking over legacy state) does
            # not re-run the fold
            .localCheckpoint(eager=True)
        )
        n_base = base.count()
        snap = self.labels.commit(
            base.coalesce(max(1, min(32, n_base // 2_000_000 + 1))),
            row_count=n_base,
        )
        if expire:
            self.labels.expire_snapshots(keep_last=1)
        return snap
