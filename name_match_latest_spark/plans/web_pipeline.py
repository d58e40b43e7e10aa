"""The north-rule pipeline: Common-Crawl-style pages -> entity clusters.

    pages (url, warc_ts, html, text, lang)
      -> extract mentions (Arrow batch, byte-identical extractor)
      -> person-shaped mentions with content-stable ids
      -> blocking on (soundex4(last_n), lang, url_domain) composite key
         [AQE-skew-handled; html column pruned before shuffle]
      -> pairwise scoring cascade (exact -> lev -> JW -> metaphone,
         JVM + one Arrow UDF) + birthdate equality
      -> match edges -> large-star/small-star connected components
      -> (mention, cluster) assignments

Resumable variant: the blocking-key space is split into N
deterministic groups; each group's edges are written independently and
committed to the audit log; a restarted run recomputes only
uncommitted groups (plans/checkpoint.py).
"""

from __future__ import annotations

import hashlib
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.blocking import pair_join
from ..operators.clustering import connected_components
from ..operators.persons import prepare_persons
from ..operators.scoring import score_pairs
from ..sources.web import extract_mentions, mentions_as_persons
from .checkpoint import AuditLog, group_expr

__all__ = ["prepare_mentions", "match_mentions", "cluster_pages", "run_resumable"]


def prepare_mentions(pages: DataFrame, with_truth: bool = False) -> DataFrame:
    """Pages -> prepared person-shaped mentions.  The html binary
    column is pruned HERE, before any shuffle — at web scale it
    dominates bytes (SURVEY §4: 'prune early')."""
    mentions = extract_mentions(pages.drop("html"), with_truth=with_truth)
    persons = mentions_as_persons(mentions)
    return prepare_persons(persons)


def _block_key(p: str = ""):
    return F.concat_ws(
        "\x1f", F.col(f"{p}sx_last_n"), F.col(f"{p}lang"), F.col(f"{p}domain")
    )


#: the columns the match+cluster path actually consumes.  Persisting
#: (or checkpointing) the full prepare_persons output materializes ALL
#: five per-person Python UDF columns; this projection keeps only
#: dmeta_no_mid of them (sx_last_n / simple_* are JVM-derived), so the
#: cache skips 3 of 5 Arrow UDF evaluations per mention AND shrinks
#: every downstream shuffle row (guide §2.3: project before the
#: exchange; §4: pass only the columns the function needs).
MATCH_COLS = [
    "id", "url", "mention_idx", "lang", "domain", "birthdate",
    "sx_last_n", "simple_first", "simple_mid", "simple_last",
    "simple_full_no_mid", "dmeta_no_mid",
]


def match_mentions(
    left: DataFrame, right: DataFrame | None = None, broadcast_right: bool = False
) -> DataFrame:
    """Mention pairs in the same block with equal birthdates, scored by
    the no-middle cascade.  Without ``right`` this is the self-match of
    ``left`` (pairs with id1 < id2); with ``right`` it matches ``left``
    against ``right`` (a mention never pairs with itself), broadcasting
    ``right`` when asked."""
    pairs = pair_join(
        left,
        left if right is None else right,
        lambda p: [_block_key(p)],
        broadcast_t2=broadcast_right,
    )
    if right is None:
        pairs = pairs.filter(F.col("t1_id") < F.col("t2_id"))
    else:
        pairs = pairs.filter(F.col("t1_id") != F.col("t2_id"))
    pairs = pairs.filter(F.col("t1_birthdate") == F.col("t2_birthdate"))
    return score_pairs(pairs, no_middle=True)


def _assign_clusters(prepared: DataFrame, edges: DataFrame) -> DataFrame:
    """(id, url, mention_idx, cluster_id) for every prepared mention:
    the connected component of the ``(src, dst)`` edges, or the
    mention's own id when it has no edge.  The node universe is passed
    explicitly: self-edge unions would inflate the canonicalizing
    distinct, and deriving the nodes from the edge lineage would
    re-execute the match join twice more."""
    nodes = prepared.select("id", "url", "mention_idx")
    cc = connected_components(edges.select("src", "dst"), nodes=nodes.select("id"))
    return nodes.join(cc, nodes.id == cc.node, "left").select(
        "id", "url", "mention_idx", F.coalesce("component", "id").alias("cluster_id")
    )


def cluster_pages(pages: DataFrame) -> DataFrame:
    """Full pipeline: pages -> (mention id, url, mention_idx, cluster).

    ``prepared`` is persisted: it feeds the edge join (twice — both
    sides), the node set, and the final assignment join; without the
    persist the whole extract+normalize lineage re-executes per use.
    """
    from .caching import tracked_cache

    prepared = tracked_cache(prepare_mentions(pages).select(*MATCH_COLS))
    edges = match_mentions(prepared).select(
        F.col("t1_id").alias("src"), F.col("t2_id").alias("dst")
    )
    return _assign_clusters(prepared, edges)


def run_resumable(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    n_groups: int = 8,
    fail_after_group: int | None = None,
) -> dict:
    """Checkpointed execution: per blocking-key group, write edges and
    commit lineage.  Returns run metrics.  ``fail_after_group`` is the
    kill-switch used by the resume test."""
    sig = hashlib.md5(f"web-pipeline-v1|{n_groups}|".encode()).hexdigest()
    audit = AuditLog(os.path.join(out_dir, "audit"), sig)
    done = audit.committed_groups()

    prepared = (
        prepare_mentions(pages)
        .select(*MATCH_COLS)
        .withColumn("_grp", group_expr(_block_key(), n_groups))
    )
    prepared = prepared.persist()
    try:
        groups_run = 0
        for g in range(n_groups):
            if g in done:
                continue
            part = prepared.filter(F.col("_grp") == g).drop("_grp")
            t0 = time.time()
            n_input = part.count()
            edges = match_mentions(part).select(
                F.col("t1_id").alias("src"),
                F.col("t2_id").alias("dst"),
                F.col("confidence"),
                F.col("case_label"),
            )
            path = os.path.join(out_dir, f"edges/group={g}")
            edges.write.mode("overwrite").parquet(path)
            n_edges = spark.read.parquet(path).count()
            audit.commit(
                g,
                n_input_mentions=n_input,
                n_match_edges=n_edges,
                duration_sec=time.time() - t0,
            )
            groups_run += 1
            if fail_after_group is not None and groups_run > fail_after_group:
                raise RuntimeError(f"injected failure after group {g}")

        # final clustering over all committed groups' edges — still
        # inside the persist scope: the node set reads `prepared`, and
        # unpersisting first would re-execute the extraction lineage
        edges_all = spark.read.parquet(os.path.join(out_dir, "edges"))
        clusters = _assign_clusters(prepared, edges_all)
        cpath = os.path.join(out_dir, "clusters")
        clusters.orderBy("id").write.mode("overwrite").parquet(cpath)
    finally:
        prepared.unpersist()
    recs = audit.records()
    return {
        "groups": len(recs),
        "mentions": sum(r["n_input_mentions"] for r in recs),
        "edges": sum(r["n_match_edges"] for r in recs),
        "clusters_path": cpath,
        "audit": recs,
    }
