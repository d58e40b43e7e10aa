"""Streaming incremental clustering == batch re-clustering.

The clusterer consumes pages in micro-batches; its final resolved
assignment must equal `cluster_pages` run once over all pages — same
nodes, same partition of nodes into clusters (cluster IDS may differ
only when a later batch introduces a smaller node id; with
content-stable xxhash64 ids the min-label is order-independent, so we
compare the induced partitions).
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import functions as F


def _partition_of(rows):
    """cluster assignment -> frozenset-of-frozensets partition."""
    by_cluster = {}
    for node, cluster in rows:
        by_cluster.setdefault(cluster, set()).add(node)
    return {frozenset(v) for v in by_cluster.values()}


def test_incremental_stream_equals_batch(spark, tmp_path):
    from name_match_latest_spark.plans.web_pipeline import cluster_pages
    from name_match_latest_spark.sources.web import WEBPAGE_SCHEMA, generate_webpages
    from name_match_latest_spark.streaming.incremental_cluster import (
        IncrementalClusterer,
    )

    pages = generate_webpages(spark, 300, seed=11).localCheckpoint()

    # three on-disk batches, streamed one file-batch at a time
    src = str(tmp_path / "pages_stream")
    for lo, hi in [(0, 100), (100, 200), (200, 300)]:
        # deterministic split by page index embedded in the url
        batch = pages.filter(
            F.regexp_extract("url", r"/article/(\d+)$", 1).cast("int").between(
                lo, hi - 1
            )
        )
        batch.coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(WEBPAGE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    clusterer = IncrementalClusterer(spark, str(tmp_path / "state"))
    q = clusterer.attach(stream, str(tmp_path / "ckpt"))
    q.awaitTermination(300)

    # >1 batch actually ran (maxFilesPerTrigger=1 over 3 files)
    assert len(clusterer.labels.snapshots()) >= 3
    # every batch committed an audit record with its metrics
    recs = clusterer.audit.records()
    assert len(recs) >= 3
    assert all(
        r["n_mentions"] > 0 and "n_label_changes" in r and "duration_sec" in r
        for r in recs
    )

    got = clusterer.cluster_members().collect()
    want = cluster_pages(pages).collect()

    assert len(got) == len(want)
    assert _partition_of([(r.id, r.cluster_id) for r in got]) == _partition_of(
        [(r.id, r.cluster_id) for r in want]
    )


def test_warc_directory_stream_feeds_clusterer(spark, tmp_path):
    """The rolling-crawl front door: WARC archives dropped in a
    directory -> streaming pages -> incremental clusters, equal to
    batch-clustering the same pages."""
    from name_match_latest_spark.plans.web_pipeline import cluster_pages
    from name_match_latest_spark.sources.warc import stream_warc_pages, write_warc
    from name_match_latest_spark.sources.web import generate_webpages
    from name_match_latest_spark.streaming.incremental_cluster import (
        IncrementalClusterer,
    )

    pages = generate_webpages(spark, 150, seed=23).localCheckpoint()
    rows = pages.collect()
    warc_dir = tmp_path / "warcs"
    warc_dir.mkdir()
    for i, lo in enumerate(range(0, 150, 50)):
        write_warc(
            str(warc_dir / f"seg-{i}.warc.gz"),
            [
                (r.url, r.warc_ts, bytes(r.html), r.lang)
                for r in rows[lo : lo + 50]
            ],
        )

    stream = stream_warc_pages(spark, str(warc_dir))
    assert stream.isStreaming
    clusterer = IncrementalClusterer(spark, str(tmp_path / "state"))
    q = clusterer.attach(stream, str(tmp_path / "ckpt"))
    q.awaitTermination(300)

    got = clusterer.cluster_members().collect()
    want = cluster_pages(pages).collect()
    assert len(got) == len(want)
    assert _partition_of([(r.id, r.cluster_id) for r in got]) == _partition_of(
        [(r.id, r.cluster_id) for r in want]
    )


def test_replayed_batch_is_noop(spark, tmp_path):
    """Re-invoking process_batch with an already-committed batch id
    must not duplicate mentions, edges, or label deltas."""
    from name_match_latest_spark.sources.web import generate_webpages
    from name_match_latest_spark.streaming.incremental_cluster import (
        IncrementalClusterer,
    )

    pages = generate_webpages(spark, 80, seed=3).localCheckpoint()
    c = IncrementalClusterer(spark, str(tmp_path / "state"))
    c.process_batch(pages, batch_id=0)
    n_mentions = c.mentions.read(spark).count()
    n_labels = c.current_labels().count()
    members = sorted(
        (r.id, r.cluster_id) for r in c.cluster_members().collect()
    )

    c.process_batch(pages, batch_id=0)  # replay
    assert c.mentions.read(spark).count() == n_mentions
    assert c.current_labels().count() == n_labels
    assert (
        sorted((r.id, r.cluster_id) for r in c.cluster_members().collect())
        == members
    )


def test_ingest_dedup_gate(spark, tmp_path):
    """With dedup_threshold set, a batch page that near-duplicates an
    already-ingested page (or a batch sibling, or is byte-identical)
    is dropped BEFORE extraction; distinct pages always survive
    (LSH candidates are verified with the exact token Jaccard)."""
    from pyspark.sql import functions as F

    from name_match_latest_spark.sources.web import generate_webpages
    from name_match_latest_spark.streaming.incremental_cluster import (
        IncrementalClusterer,
    )

    base = generate_webpages(spark, 40, seed=41).localCheckpoint()
    c = IncrementalClusterer(
        spark, str(tmp_path / "state"), dedup_threshold=0.8
    )
    c.process_batch(base, batch_id=0)
    n0 = c.docs.read(spark).count()
    assert n0 == 40

    rows = base.orderBy("url").limit(3).collect()

    def tweak(r, i):
        # near-dup: same text with one token appended
        return (
            f"https://copy.example.com/en/article/90{i}",
            r.warc_ts,
            r.html,
            r.text + " extraword",
            r.lang,
            r.true_entities,
        )

    batch2 = spark.createDataFrame(
        [tweak(r, i) for i, r in enumerate(rows)]      # 3 near-dups
        + [
            (
                "https://copy.example.com/en/article/999",
                rows[0].warc_ts,
                rows[0].html,
                rows[0].text,                           # byte-exact dup
                rows[0].lang,
                rows[0].true_entities,
            ),
            (
                "https://fresh.example.com/en/article/998",
                rows[0].warc_ts,
                rows[0].html,
                "completely different tokens about weather patterns "
                "in coastal regions during winter months entirely",
                "en",
                None,
            ),
        ],
        base.schema,
    )
    c.process_batch(batch2, batch_id=1)
    docs = c.docs.read(spark)
    assert docs.count() == n0 + 1  # only the fresh page survived
    assert (
        docs.filter(F.col("doc_id").contains("fresh.example.com")).count() == 1
    )
    # mentions were only extracted from surviving pages
    assert (
        c.mentions.read(spark)
        .filter(F.col("url").contains("copy.example.com"))
        .count()
        == 0
    )


def test_ingest_dedup_drops_within_batch_near_dups(spark, tmp_path):
    from name_match_latest_spark.sources.web import generate_webpages
    from name_match_latest_spark.streaming.incremental_cluster import (
        IncrementalClusterer,
    )

    base = generate_webpages(spark, 10, seed=43).localCheckpoint()
    r = base.orderBy("url").limit(1).collect()[0]
    batch = spark.createDataFrame(
        [
            (r.url, r.warc_ts, r.html, r.text, r.lang, r.true_entities),
            (
                r.url + "x",
                r.warc_ts,
                r.html,
                r.text + " tail",
                r.lang,
                r.true_entities,
            ),
        ],
        base.schema,
    )
    c = IncrementalClusterer(
        spark, str(tmp_path / "state"), dedup_threshold=0.8
    )
    c.process_batch(batch, batch_id=0)
    assert c.docs.read(spark).count() == 1  # smaller url kept


def test_gate_replay_after_partial_commit_still_ingests(spark, tmp_path):
    """Exactly-once under the dedup gate: if a batch crashed AFTER its
    docs/bands commits but BEFORE mentions, the replay must not see
    its own docs as 'corpus' and drop the whole batch (round-3 review
    finding — the gate now pins snapshot_before(batch_id))."""
    from name_match_latest_spark.sources.web import generate_webpages
    from name_match_latest_spark.streaming.incremental_cluster import (
        IncrementalClusterer,
    )

    all_pages = generate_webpages(spark, 60, seed=47).localCheckpoint()
    b1 = all_pages.limit(30).localCheckpoint()
    b2 = all_pages.subtract(b1).localCheckpoint()

    c = IncrementalClusterer(spark, str(tmp_path / "state"), dedup_threshold=0.8)
    c.process_batch(b1, batch_id=0)
    n1 = c.mentions.read(spark).count()

    # simulate the crash: run ONLY the gate for batch 1 (docs + bands
    # commit), as if the driver died before mentions.append
    survivors = c._dedup_gate(b2, 1, "default")
    assert survivors.count() == b2.count()

    # replay batch 1 end-to-end — must ingest, not self-duplicate
    c.process_batch(b2, batch_id=1)
    assert c.mentions.read(spark).count() > n1
    assert c.docs.read(spark).count() == 60


def test_fresh_checkpoint_lineage_not_dropped(spark, tmp_path):
    """A stream re-attached with a FRESH checkpoint restarts batch ids
    at 0; per-lineage watermarks must let the new lineage's batch 0
    commit instead of silently dropping it."""
    from name_match_latest_spark.sources.web import generate_webpages
    from name_match_latest_spark.streaming.incremental_cluster import (
        IncrementalClusterer,
    )

    pages = generate_webpages(spark, 60, seed=49).localCheckpoint()
    b1 = pages.limit(30).localCheckpoint()
    b2 = pages.subtract(b1).localCheckpoint()

    c = IncrementalClusterer(spark, str(tmp_path / "state"))
    c.process_batch(b1, batch_id=0, lineage="ckptA")
    n1 = c.mentions.read(spark).count()
    c.process_batch(b2, batch_id=0, lineage="ckptB")  # fresh checkpoint
    n2 = c.mentions.read(spark).count()
    assert n2 > n1
    # while a true replay in the SAME lineage stays a no-op
    c.process_batch(b2, batch_id=0, lineage="ckptB")
    assert c.mentions.read(spark).count() == n2


def test_compaction_preserves_assignment(spark, tmp_path):
    from name_match_latest_spark.sources.web import generate_webpages
    from name_match_latest_spark.streaming.incremental_cluster import (
        IncrementalClusterer,
    )

    pages = generate_webpages(spark, 120, seed=5).localCheckpoint()
    c = IncrementalClusterer(spark, str(tmp_path / "state"))
    half = pages.limit(60).localCheckpoint()
    c.process_batch(half, batch_id=0)
    c.process_batch(pages.subtract(half), batch_id=1)

    before = sorted((r.id, r.cluster_id) for r in c.cluster_members().collect())
    assert c.compact_labels() is not None
    after = sorted((r.id, r.cluster_id) for r in c.cluster_members().collect())
    assert before == after
    # compaction folds to exactly one row per node
    raw = c.labels.read(spark)
    assert raw.count() == raw.select("node").distinct().count()

    # full housekeeping keeps every table readable and identical
    stats = c.maintain()
    assert "mentions" in stats and "labels" in stats
    assert (
        sorted((r.id, r.cluster_id) for r in c.cluster_members().collect())
        == before
    )
    # a further batch still processes normally after maintenance
    extra = generate_webpages(spark, 140, seed=5).subtract(pages).localCheckpoint()
    if extra.count():
        c.process_batch(extra, batch_id=2)
        assert c.cluster_members().count() >= len(before)


def test_fresh_lineage_labels_supersede(spark, tmp_path):
    """Re-attaching with a FRESH checkpoint restarts batch ids at 0;
    label-delta versions must stay monotone ACROSS lineages (epoch in
    the high bits), or the new lineage's merges lose resolve_labels'
    max_by to the old lineage's higher-batch-id rows and assignments
    silently stay stale.  Asserts full label equality vs the batch
    pipeline, not just counts."""
    from name_match_latest_spark.plans.web_pipeline import cluster_pages
    from name_match_latest_spark.sources.web import generate_webpages
    from name_match_latest_spark.streaming.incremental_cluster import (
        IncrementalClusterer,
    )

    pages = generate_webpages(spark, 180, seed=51).localCheckpoint()

    def split(lo, hi):
        return pages.filter(
            F.regexp_extract("url", r"/article/(\d+)$", 1)
            .cast("int")
            .between(lo, hi - 1)
        ).localCheckpoint()

    c = IncrementalClusterer(spark, str(tmp_path / "state"))
    # lineage A commits versions up to batch_id=1 ...
    c.process_batch(split(0, 60), batch_id=0, lineage="ckptA")
    c.process_batch(split(60, 120), batch_id=1, lineage="ckptA")
    # ... then the stream re-attaches with a fresh checkpoint: its
    # batch 0 merges clusters whose members were last written at A's
    # version 1 — with raw-batch-id versions those merges are lost
    c.process_batch(split(120, 180), batch_id=0, lineage="ckptB")

    got = _partition_of(
        (r.id, r.cluster_id) for r in c.cluster_members().collect()
    )
    want = _partition_of(
        (r.id, r.cluster_id) for r in cluster_pages(pages).collect()
    )
    assert got == want

    # versions are distinct across the two lineages (no max_by ties)
    versions = sorted(
        r.version
        for r in c.labels.read(spark).select("version").distinct().collect()
    )
    assert len(versions) == 3 and versions[-1] > (1 << 32) - 1


def test_checkpoint_lineage_canonicalization(tmp_path, monkeypatch):
    """Same physical checkpoint dir under different spellings is ONE
    lineage (replays must stay deduped); different dirs differ."""
    from name_match_latest_spark.streaming.incremental_cluster import (
        checkpoint_lineage,
    )

    d = tmp_path / "ckpt"
    d.mkdir()
    monkeypatch.chdir(tmp_path)
    assert checkpoint_lineage(str(d)) == checkpoint_lineage("ckpt")
    assert checkpoint_lineage(str(d)) == checkpoint_lineage("ckpt/")
    assert checkpoint_lineage(str(d)) == checkpoint_lineage(
        str(tmp_path / "." / "ckpt")
    )
    link = tmp_path / "ckpt_link"
    link.symlink_to(d)
    assert checkpoint_lineage(str(link)) == checkpoint_lineage(str(d))
    assert checkpoint_lineage(str(d)) != checkpoint_lineage(
        str(tmp_path / "other")
    )


def test_cluster_members_empty_state(spark, tmp_path):
    """Zero micro-batches drained (empty watched dir) -> empty members
    frame with the right schema, not FileNotFoundError."""
    from name_match_latest_spark.streaming.incremental_cluster import (
        IncrementalClusterer,
    )

    c = IncrementalClusterer(spark, str(tmp_path / "state"))
    out = c.cluster_members()
    assert out.count() == 0
    assert out.columns == ["id", "url", "mention_idx", "cluster_id"]


def test_backfill_batch_shuffle_fallback(spark, tmp_path, monkeypatch):
    """A batch above BROADCAST_BATCH_MAX must take the shuffle-join
    corpus match (broadcasting a huge backfill would OOM the driver)
    and still produce the batch pipeline's exact clusters."""
    from name_match_latest_spark.plans.web_pipeline import cluster_pages
    from name_match_latest_spark.sources.web import generate_webpages
    from name_match_latest_spark.streaming import incremental_cluster as ic

    monkeypatch.setattr(ic, "BROADCAST_BATCH_MAX", 10)  # force fallback
    pages = generate_webpages(spark, 160, seed=53).localCheckpoint()
    b1 = pages.limit(80).localCheckpoint()
    b2 = pages.subtract(b1).localCheckpoint()

    c = ic.IncrementalClusterer(spark, str(tmp_path / "state"))
    c.process_batch(b1, batch_id=0)
    c.process_batch(b2, batch_id=1)  # corpus match runs as shuffle join

    got = _partition_of(
        (r.id, r.cluster_id) for r in c.cluster_members().collect()
    )
    want = _partition_of(
        (r.id, r.cluster_id) for r in cluster_pages(pages).collect()
    )
    assert got == want


def test_older_lineage_reattach_supersedes_newer(spark, tmp_path):
    """The REVERSE of the fresh-lineage staleness bug: re-attaching an
    OLDER checkpoint after a newer lineage ran must re-register its
    epoch ABOVE the newer one, or its merges are permanently shadowed
    in resolve_labels."""
    from name_match_latest_spark.plans.web_pipeline import cluster_pages
    from name_match_latest_spark.sources.web import generate_webpages
    from name_match_latest_spark.streaming.incremental_cluster import (
        IncrementalClusterer,
    )

    pages = generate_webpages(spark, 180, seed=57).localCheckpoint()

    def split(lo, hi):
        return pages.filter(
            F.regexp_extract("url", r"/article/(\d+)$", 1)
            .cast("int")
            .between(lo, hi - 1)
        ).localCheckpoint()

    c = IncrementalClusterer(spark, str(tmp_path / "state"))
    c.process_batch(split(0, 60), batch_id=0, lineage="ckptA")
    c.process_batch(split(60, 120), batch_id=0, lineage="ckptB")  # newer
    # operator restores checkpoint A and continues it
    c.process_batch(split(120, 180), batch_id=1, lineage="ckptA")

    got = _partition_of(
        (r.id, r.cluster_id) for r in c.cluster_members().collect()
    )
    want = _partition_of(
        (r.id, r.cluster_id) for r in cluster_pages(pages).collect()
    )
    assert got == want


def test_checkpoint_lineage_legacy_sticky():
    """A deployment that committed batches under the pre-r4 raw-string
    lineage id keeps that id after upgrade (watermark survives); new
    deployments get the canonical id."""
    import hashlib

    from name_match_latest_spark.streaming.incremental_cluster import (
        checkpoint_lineage,
    )

    raw_dir = "relative/ckpt/"
    legacy = hashlib.md5(
        raw_dir.rstrip("/").encode("utf-8")
    ).hexdigest()[:16]

    # legacy state exists -> sticky legacy id
    assert (
        checkpoint_lineage(raw_dir, legacy_probe=lambda lid: lid == legacy)
        == legacy
    )
    # no committed state anywhere -> canonical id
    canonical = checkpoint_lineage(raw_dir)
    assert (
        checkpoint_lineage(raw_dir, legacy_probe=lambda lid: False)
        == canonical
    )
    # canonical state already exists -> canonical wins even if legacy
    # also somehow has state
    assert (
        checkpoint_lineage(raw_dir, legacy_probe=lambda lid: True)
        == canonical
    )


def _flood_batch(spark, schema, n_families: int, n_replicas: int):
    """ONE batch shaped like a crash-replayed crawl dump: n_families
    distinct articles, each mirrored n_replicas times with a one-token
    tweak (near-identical, NOT byte-exact — byte dups never reach the
    band join)."""
    rows = []
    ts = datetime(2024, 1, 1, tzinfo=timezone.utc)
    for fam in range(n_families):
        # family-specific vocabulary: replicas of one family are
        # near-identical to each other and UNRELATED to other
        # families (distinct articles must not share band buckets)
        text = " ".join(f"fam{fam}word{j}" for j in range(40))
        for rep in range(n_replicas):
            rows.append(
                (
                    f"https://mirror{rep}.example.com/en/article/{fam}",
                    ts,
                    b"<html></html>",
                    # one replica-unique token: near-identical, never
                    # byte-exact; most replicas keep the family's band
                    # hashes (the unique shingle rarely wins a min),
                    # divergent ones land in singleton buckets
                    text + f" mirror{rep}tok",
                    "en",
                    None,
                )
            )
    return spark.createDataFrame(rows, schema)


def test_within_batch_band_join_capped(spark, tmp_path):
    """The round-4 carry-over: a backfill batch of near-identical
    pages must NOT send the within-batch LSH band self-join quadratic.
    Oversized buckets (> WITHIN_BATCH_BUCKET_CAP) switch to a star
    against the bucket representative: candidate count stays LINEAR in
    batch size, and the flood still dedups (every replica verifies
    against the representative)."""
    from name_match_latest_spark.operators.dedup import minhash_bands
    from name_match_latest_spark.sources.web import WEBPAGE_SCHEMA
    from name_match_latest_spark.streaming import incremental_cluster as ic

    n_families, n_replicas = 50, 200
    flood = _flood_batch(spark, WEBPAGE_SCHEMA, n_families, n_replicas)
    batch = flood.select(
        F.col("url").alias("doc_id"), "text", "lang"
    ).localCheckpoint()

    c = ic.IncrementalClusterer(
        spark, str(tmp_path / "state"), dedup_threshold=0.8
    )
    bands = minhash_bands(batch).localCheckpoint()
    n_docs = n_families * n_replicas
    n_cand = c._within_batch_candidates(bands).count()
    # star pairs collapse to (rep, member) across bands: ~(m-1) per
    # family plus small-bucket stragglers.  The uncapped join would be
    # >= 50 * (200*199/2) ~ 1M pairs; assert the LINEAR regime.
    assert n_cand < 3 * n_docs, f"band join not capped: {n_cand} candidates"
    assert n_cand >= n_families * (n_replicas - 1) * 0.7  # still covers


def test_flood_batch_still_dedups_end_to_end(spark, tmp_path):
    """End-to-end over the capped path: the star fallback must not
    weaken the gate — the surviving set equals what the UNCAPPED
    candidate join would keep (each family collapses to its
    representative; the only extra survivors are genuine LSH misses
    that share no bucket with anyone, capped or not), and later
    distinct pages still ingest."""
    from name_match_latest_spark.operators.dedup import (
        minhash_lsh_candidates,
    )
    from name_match_latest_spark.sources.web import (
        WEBPAGE_SCHEMA,
        generate_webpages,
    )
    from name_match_latest_spark.streaming import incremental_cluster as ic

    n_families, n_replicas = 4, 150  # family size > cap of 100
    flood = _flood_batch(
        spark, WEBPAGE_SCHEMA, n_families, n_replicas
    ).localCheckpoint()
    c = ic.IncrementalClusterer(
        spark, str(tmp_path / "state"), dedup_threshold=0.8
    )
    c.process_batch(flood, batch_id=0)
    got = {
        r.doc_id for r in c.docs.read(spark).select("doc_id").collect()
    }

    # oracle: uncapped within-batch near-dup pass (no byte-exact dups
    # in this flood, so the gate reduces to exactly this)
    batch = flood.select(
        F.col("url").alias("doc_id"), "text", "lang"
    ).localCheckpoint()
    cand = minhash_lsh_candidates(batch, max_bucket=None).localCheckpoint()
    dropped = {
        r.d2
        for r in c._verified_dups(cand, batch, batch).select("d2").collect()
    }
    want = {r.doc_id for r in batch.select("doc_id").collect()} - dropped
    assert got == want
    # and the flood genuinely collapsed: one rep per family + at most
    # a few bucketless LSH misses
    assert n_families <= len(got) <= n_families + 3

    fresh = generate_webpages(spark, 10, seed=71).localCheckpoint()
    c.process_batch(fresh, batch_id=1)
    assert c.docs.read(spark).count() == len(got) + 10


def test_auto_compaction_bounds_label_log(spark, tmp_path):
    """50-batch stream WITHOUT any manual maintain(): the label log's
    file count and row count stay bounded (auto-compaction fires from
    inside process_batch), and the final clusters still equal batch
    re-clustering."""
    from name_match_latest_spark.plans.web_pipeline import cluster_pages
    from name_match_latest_spark.sources.web import generate_webpages
    from name_match_latest_spark.streaming.incremental_cluster import (
        IncrementalClusterer,
    )

    n_batches, per_batch = 50, 6
    pages = generate_webpages(
        spark, n_batches * per_batch, seed=73
    ).localCheckpoint()
    c = IncrementalClusterer(
        spark,
        str(tmp_path / "state"),
        compact_factor=3.0,
        compact_max_files=12,
    )
    max_files_seen, compactions = 0, 0
    prev_files = 0
    for b in range(n_batches):
        lo, hi = b * per_batch, (b + 1) * per_batch
        batch = pages.filter(
            F.regexp_extract("url", r"/article/(\d+)$", 1)
            .cast("int")
            .between(lo, hi - 1)
        )
        c.process_batch(batch, batch_id=b)
        n_files = len(c.labels._file_paths(c.labels.current_snapshot()))
        if n_files < prev_files:
            compactions += 1
        prev_files = n_files
        max_files_seen = max(max_files_seen, n_files)
        # bounded read cost: rows never drift past the trigger band
        rows = c.labels.total_rows()
        nodes = c.mentions.total_rows()
        assert rows is not None and nodes is not None
        assert rows <= 3.0 * nodes + per_batch * 40

    assert compactions >= 1, "auto-compaction never fired in 50 batches"
    # file count bounded by the trigger, not by batch count
    assert max_files_seen <= 12 + 4, max_files_seen

    got = _partition_of(
        (r.id, r.cluster_id) for r in c.cluster_members().collect()
    )
    want = _partition_of(
        (r.id, r.cluster_id) for r in cluster_pages(pages).collect()
    )
    assert got == want


def test_corpus_gate_survivors_stable_across_compaction(spark, tmp_path):
    """The gate's corpus tables keep their ingest decisions across
    compaction: exact + near duplicates crossing batches are gated,
    ``compact_corpus`` folds the appended files into one base without
    changing the surviving doc_ids, and a batch after the compaction
    is still gated against the compacted corpus."""
    from name_match_latest_spark.sources.web import generate_webpages
    from name_match_latest_spark.streaming.incremental_cluster import (
        IncrementalClusterer,
    )

    base = generate_webpages(spark, 80, seed=47).localCheckpoint()
    idx = F.regexp_extract("url", r"/article/(\d+)$", 1).cast("int")
    b0 = base.filter(idx < 40)
    rows = base.filter(idx < 40).orderBy("url").limit(3).collect()
    dups = [
        (
            f"https://mirror.example.com/en/article/70{i}",
            r.warc_ts,
            r.html,
            r.text + " extraword",  # near-dup of a batch-0 page
            r.lang,
            r.true_entities,
        )
        for i, r in enumerate(rows)
    ] + [
        (
            "https://mirror.example.com/en/article/799",
            rows[0].warc_ts,
            rows[0].html,
            rows[0].text,  # byte-exact dup of a batch-0 page
            rows[0].lang,
            rows[0].true_entities,
        )
    ]
    b1 = base.filter(idx >= 40).unionByName(
        spark.createDataFrame(dups, base.schema)
    )

    c = IncrementalClusterer(
        spark, str(tmp_path / "state"), dedup_threshold=0.8
    )
    c.process_batch(b0, batch_id=0)
    c.process_batch(b1, batch_id=1)

    ids = lambda: {
        r.doc_id for r in c.docs.read(spark).select("doc_id").collect()
    }
    survivors = ids()
    assert len(survivors) == 80  # 80 survivors, 4 dups gated
    assert not any(u.startswith("https://mirror.") for u in survivors)

    n_files = lambda t: len(t._file_paths(t.current_snapshot()))
    assert n_files(c.docs) > 1  # one file per appended batch
    c.compact_corpus()
    assert n_files(c.docs) == 1 and n_files(c.docs_bands) == 1
    assert c.docs.total_rows() == 80
    assert ids() == survivors

    # post-compaction batch: a near-dup of a compacted corpus row is
    # still gated, a fresh page still ingests
    r1 = rows[1]
    b2 = spark.createDataFrame(
        [
            (
                "https://late.example.com/en/article/801",
                r1.warc_ts,
                r1.html,
                r1.text + " extraword",
                r1.lang,
                r1.true_entities,
            ),
            (
                "https://late.example.com/en/article/802",
                r1.warc_ts,
                r1.html,
                "entirely novel content about deep sea thermal vents "
                "and the chemosynthetic ecosystems surrounding them",
                "en",
                None,
            ),
        ],
        base.schema,
    )
    c.process_batch(b2, batch_id=2)
    after = ids()
    assert after == survivors | {"https://late.example.com/en/article/802"}
