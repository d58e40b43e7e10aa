"""Deduplication operators over document tables (training-data pipeline ops).

Beyond the reference's person-matching scope: the operations a
large-scale training-data pipeline needs over `documents(doc_id,
text, lang, ...)`.  All hashing is md5-based so results are
engine-portable (DuckDB oracle uses the identical construction).

* exact_dedup       — hash-groupBy on full text
* token_jaccard_pairs — token-set Jaccard via shingle explode + equi-join
  (the scalable near-dup join: |∩| by join-count, |∪| by inclusion-
  exclusion — no cross join anywhere)
* minhash_signatures_wide / minhash_lsh_candidates — MinHash + banded LSH:
  shingle→minhash→band→bucket-join; candidate generation is an
  equi-join on (band_id, band_hash), never a cross join
* simhash_fingerprints — 32-bit SimHash from md5 token hashes

Scale notes: every operator here is shuffle-bounded by the token
explode (O(total tokens)), partitions by doc/band keys, and avoids
quadratic work except within LSH buckets — the same blocking idea as
the person matcher.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "tokens_df",
    "exact_dedup",
    "dedup_cluster_reps",
    "token_jaccard_pairs",
    "minhash_signatures_wide",
    "minhash_bands",
    "minhash_lsh_candidates",
    "simhash_fingerprints",
]


def tokens_df(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, tok): DISTINCT lowercase whitespace tokens per doc."""
    return (
        docs.select(
            F.col(id_col),
            F.explode(
                F.array_distinct(F.split(F.lower(F.col(text_col)), r"\s+"))
            ).alias("tok"),
        )
        .filter(F.col("tok") != "")
    )


#: Java/RE2 ``\s`` is ASCII-only ([ \t\n\x0B\f\r]); Python's default is
#: Unicode-aware.  re.ASCII pins the Python tokenizer to the EXACT
#: character class the Column-expression variant (_shingle_array) and
#: the DuckDB oracle split on — a U+00A0 inside a token must NOT split
#: here either.
_WS_ASCII = None  # initialized lazily on executors (regex is cheap but picklable-safe)


def _shingle_set(text: str, n: int) -> set[str]:
    """The scalar shingle contract shared by every physical plan:
    lowercase, split on ASCII whitespace, distinct n-token shingles;
    fewer than n tokens -> empty set."""
    import re

    if not isinstance(text, str) or not text:
        # None/NaN/"" -> no tokens (the Column plans emit null -> null
        # -> zero rows there too)
        return set()
    global _WS_ASCII
    if _WS_ASCII is None:
        _WS_ASCII = re.compile(r"\s+", re.ASCII)
    toks = [t for t in _WS_ASCII.split(text.lower()) if t]
    if len(toks) < n:
        return set()
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def _token_jaccard_scalar(t1: str, t2: str) -> float:
    """Exact unigram token-set Jaccard of two texts — the scalar twin
    of token_jaccard_pairs (same lowercase + ASCII-\\s+ tokenization),
    used to VERIFY LSH candidates in the ingest dedup gate."""
    a = _shingle_set(t1, 1) if t1 else set()
    b = _shingle_set(t2, 1) if t2 else set()
    if not a and not b:
        return 1.0
    if not a or not b:
        return 0.0
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)


def shingles_df(
    docs: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, tok): DISTINCT n-token shingles per doc — the
    discriminative unit for MinHash (unigrams collide on any shared
    vocabulary; shingles encode local word order).

    Physical plan: Arrow-batched mapInPandas.  The previous
    Column-expression form (sequence -> transform(slice, array_join))
    runs entirely in CodegenFallback — higher-order lambdas are
    INTERPRETED per element — and measured 6.5x slower at sf0.1
    (3.7s vs 0.56s for 260k shingles); the batched Python loop
    vectorizes the per-doc work and ships results as Arrow.  The
    Column form stays as ``_shingle_array``, the reference
    test_dedup_minhash checks this plan against."""
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            ids: list = []
            out: list[str] = []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                ss = _shingle_set(text, n)
                ids.extend([did] * len(ss))
                out.extend(ss)
            yield pd.DataFrame({id_col: ids, "tok": out})

    id_type = dict(docs.dtypes)[id_col]
    return docs.select(id_col, text_col).mapInPandas(
        gen, schema=f"{id_col} {id_type}, tok string"
    )


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact duplicate groups by md5(text): canonical (min) doc_id +
    duplicate count; only groups with >1 member."""
    return (
        docs.groupBy(F.md5(F.col("text")).alias("text_hash"))
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count("*").alias("n_dups"),
        )
        .filter(F.col("n_dups") > 1)
    )


#: corpora at or above this size get the stop-token guard by default —
#: without it the token self-join shuffles every occurrence of "the"
#: (Zipf skew), a quadratic blow-up at web scale (round-1 finding:
#: the unguarded path was the single worst bench query, 17s of 68s)
AUTO_GUARD_MIN_DOCS = 2000


def token_jaccard_pairs(
    docs: DataFrame,
    threshold: float,
    max_df: float | str | None = "auto",
    ngram: int = 1,
) -> DataFrame:
    """Near-dup pairs by token-set Jaccard >= threshold (same lang).

    |A∩B| from a self-equi-join on token; |A∪B| = |A|+|B|-|A∩B|.
    The join shuffles on the token — frequent tokens are the skew
    axis.  ``max_df`` (0-1) drops tokens whose document frequency
    exceeds that fraction BEFORE the join (the standard stop-token
    trick; Jaccard is then computed over the FILTERED token sets, and
    the DuckDB oracle mirrors the same cutoff).  The default "auto"
    applies max_df=0.5 once the corpus exceeds AUTO_GUARD_MIN_DOCS;
    pass ``max_df=None`` explicitly for the exact unfiltered metric
    (safe only on small corpora).

    ``ngram > 1`` computes the Jaccard over distinct word n-gram
    (shingle) sets instead of unigrams — the sharper near-dup metric
    (unigrams score reorderings as identical; n-grams demand local
    word order).  N-grams are also the natural skew fix: the df of
    "the quick brown" is tiny next to "the", so the self-join key is
    well-spread even without ``max_df``.
    """
    n_docs: int | None = None
    if max_df == "auto":
        n_docs = docs.count()
        max_df = 0.5 if n_docs >= AUTO_GUARD_MIN_DOCS else None
    toks = shingles_df(docs, n=ngram) if ngram > 1 else tokens_df(docs)
    # attach lang ONCE here (it rides along through the guard and the
    # checkpoint) instead of joining it separately onto each side of
    # the self-join below — one join instead of two
    toks = toks.join(docs.select("doc_id", "lang"), "doc_id")
    if max_df is not None:
        if n_docs is None:
            n_docs = docs.count()
        frequent = (
            toks.groupBy("tok")
            .count()
            .filter(F.col("count") > max_df * n_docs)
            .select("tok")
        )
        toks = toks.join(F.broadcast(frequent), "tok", "left_anti")
    # the (guarded) token table feeds the size dimension AND both
    # sides of the self-join: without materialization the tokenizing
    # mapInPandas pass and the documents scan re-execute 3-4x (the
    # round-6 plan audit counted 12 parquet scans for one call).
    # localCheckpoint, not persist: blocks are freed with the frame.
    toks = toks.localCheckpoint(eager=False)
    sizes = toks.groupBy("doc_id").agg(F.count("*").alias("n_tok"))
    t1 = toks.select(F.col("doc_id").alias("d1"), "tok", "lang")
    t2 = toks.select(F.col("doc_id").alias("d2"), "tok", "lang")
    inter = (
        t1.join(t2, on=["tok", "lang"])
        .filter(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.count("*").alias("n_inter"))
    )
    s1 = sizes.select(F.col("doc_id").alias("d1"), F.col("n_tok").alias("n1"))
    s2 = sizes.select(F.col("doc_id").alias("d2"), F.col("n_tok").alias("n2"))
    return (
        inter.join(s1, "d1")
        .join(s2, "d2")
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("n1") + F.col("n2") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("d1", "d2", "jaccard")
    )


#: Mersenne prime 2^31-1: the affine-mix modulus.  One base hash per
#: shingle (md5 -> 32-bit int, reduced mod P), k signatures derived as
#: (a_i*h + b_i) mod P — the classic universal-hash family.  P must be
#: SMALL relative to a_i*h so the multiplication wraps many times
#: (with a 61-bit modulus the mix is order-preserving and all k
#: "permutations" degenerate into one); a_i < 2^28 and h < 2^31 keep
#: a_i*h < 2^59, no 64-bit overflow, while wrapping ~2^25 times.
#: Constants are md5-derived so the DuckDB oracle replays them as
#: literals.
MINHASH_P = (1 << 31) - 1


def dedup_cluster_reps(
    docs: DataFrame,
    threshold: float = 0.4,
    ngram: int = 3,
    max_df: float | str | None = "auto",
) -> DataFrame:
    """Corpus-level near-dup clustering: verified near-dup pairs ->
    connected components -> one canonical representative (the minimum
    doc_id) per cluster — the training-data "keep one copy per
    near-dup family" operator (pair lists alone under-delete: A~B and
    B~C must collapse to ONE kept doc even when A~C scores under the
    threshold).

    Returns (doc_id, rep_id, cluster_size) for every member of a
    non-trivial cluster; downstream keeps ``rep_id == doc_id`` rows
    and drops the rest.  Scale shape: the pair join is the df-spread
    n-gram self-join with the ``max_df`` stop-shingle guard kept at
    its "auto" default (the oracle query passes ``max_df=None``
    explicitly to pin the exact unguarded metric, same split as
    dedup_ngram_jaccard), CC is the O(log n) alternating-star loop
    with the driver fast path — no all-pairs stage anywhere."""
    from pyspark.sql.window import Window

    from .clustering import connected_components

    pairs = token_jaccard_pairs(docs, threshold, max_df=max_df, ngram=ngram)
    edges = pairs.select(F.col("d1").alias("src"), F.col("d2").alias("dst"))
    cc = connected_components(edges)
    w = Window.partitionBy("component")
    return cc.withColumn("cluster_size", F.count("*").over(w)).select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("rep_id"),
        "cluster_size",
    )


def minhash_params(k: int) -> list[tuple[int, int]]:
    import hashlib

    out = []
    for i in range(k):
        a = int(hashlib.md5(f"mh_a:{i}".encode()).hexdigest()[:7], 16) | 1
        b = int(hashlib.md5(f"mh_b:{i}".encode()).hexdigest()[:15], 16) % MINHASH_P
        out.append((a, b))
    return out


def _shingle_array(text_col: Column, n: int) -> Column:
    """Column-expression reference for :func:`shingles_df`: the same
    distinct n-token shingles per row, as an array.
    ``test_arrow_shingles_equal_column_plan_on_unicode_whitespace``
    checks the Arrow plan against it."""
    toks = F.filter(F.split(F.lower(text_col), r"\s+"), lambda t: t != "")
    if n <= 1:
        return F.array_distinct(toks)
    # same short-doc guard as shingles_df: sequence(1, size-(n-1))
    # descends to [1, 0] when size < n and slice(toks, 0, n) raises
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    return F.array_distinct(
        F.transform(idx, lambda i: F.array_join(F.slice(toks, i, n), " "))
    )


def minhash_signatures_wide(docs: DataFrame, k: int = 8, shingle: int = 3) -> DataFrame:
    """(doc_id, sig_0..sig_{k-1}): MinHash signatures as int64 — one
    md5-derived 32-bit base hash per shingle, k affine mixes
    ``(a_i*h + b_i) mod 2^31-1`` (round-2 fix: one hash per shingle
    instead of k).

    Plan: shingle explode -> ONE groupBy(doc_id) with k
    min-aggregates.  The k-way fan-out happens map-side inside
    whole-stage codegen and partial aggregation collapses the shuffle
    to one row per doc — measured 3x faster than the
    higher-order-function form at sf0.1, because HOF lambdas
    (ArrayTransform/ArrayMin) are CodegenFallback, i.e. interpreted
    per element.

    Docs with no shingles (< ``shingle`` tokens) emit no row,
    matching the DuckDB oracle.
    """
    toks = shingles_df(docs, n=shingle) if shingle > 1 else tokens_df(docs)
    h = (
        F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
        % F.lit(MINHASH_P)
    )
    hashed = toks.withColumn("_h", h)
    mins = [
        F.min((F.col("_h") * F.lit(a) + F.lit(b)) % F.lit(MINHASH_P)).alias(
            f"sig_{i}"
        )
        for i, (a, b) in enumerate(minhash_params(k))
    ]
    return hashed.groupBy("doc_id").agg(*mins)


def minhash_bands(
    docs: DataFrame,
    k: int = 8,
    bands: int = 4,
    shingle: int = 3,
) -> DataFrame:
    """(doc_id, band_id, band_hash): banded LSH bucket assignments.

    rows_per_band = k // bands; band hash = md5 of the band's
    "h_idx|sig" strings joined in sorted order (byte-compatible with
    the DuckDB oracle's array_sort construction)."""
    rows_per_band = k // bands
    wide = minhash_signatures_wide(docs, k, shingle=shingle)
    band_rows = []
    for b in range(bands):
        members = [
            F.concat_ws("|", F.lit(str(i)), F.col(f"sig_{i}"))
            for i in range(b * rows_per_band, (b + 1) * rows_per_band)
        ]
        band_rows.append(
            F.struct(
                F.lit(b).alias("band_id"),
                F.md5(F.array_join(F.array_sort(F.array(*members)), ",")).alias(
                    "band_hash"
                ),
            )
        )
    return wide.select(
        "doc_id", F.explode(F.array(*band_rows)).alias("_b")
    ).select("doc_id", F.col("_b.band_id").alias("band_id"), F.col("_b.band_hash").alias("band_hash"))


#: corpora at or above this size get the LSH bucket cap by default —
#: mirrors AUTO_GUARD_MIN_DOCS for token_jaccard (round-2 finding: an
#: uncapped default lets 10k byte-identical crawl pages produce
#: 10k²×bands candidate pairs that exact_dedup already covers)
AUTO_BUCKET_MIN_DOCS = 2000
AUTO_BUCKET_CAP = 100


def minhash_lsh_candidates(
    docs: DataFrame,
    k: int = 8,
    bands: int = 4,
    shingle: int = 3,
    max_bucket: int | str | None = "auto",
) -> DataFrame:
    """Near-dup candidate pairs sharing >=1 LSH band.  Candidates come
    from an equi-join on (band_id, band_hash) — the document count per
    bucket bounds the quadratic blow-up exactly like a person blocking
    key.

    ``max_bucket`` is the web-scale guard: a crawl with 10k byte-copies
    of one page puts all of them in the same bucket in EVERY band —
    10k² pairs × 4, for dups that exact_dedup already catches with one
    groupBy.  Buckets above the cap are dropped (run ``exact_dedup``
    first, then LSH on the distinct survivors — the standard split of
    labor).  The default "auto" applies AUTO_BUCKET_CAP once the corpus
    exceeds AUTO_BUCKET_MIN_DOCS; pass ``max_bucket=None`` explicitly
    for the uncapped metric (the small-corpus oracle query does).
    """
    if max_bucket == "auto":
        max_bucket = (
            AUTO_BUCKET_CAP if docs.count() >= AUTO_BUCKET_MIN_DOCS else None
        )
    # the band lineage (shingle explode -> k-min groupBy -> band md5)
    # is the expensive half of the operator, and it feeds BOTH sides of
    # the candidate self-join plus (capped path) the oversized-bucket
    # aggregation — materialize it once instead of recomputing it 2-3x.
    # localCheckpoint, not persist: checkpoint blocks are released by
    # the ContextCleaner when the frame is garbage-collected, so
    # library callers don't leak pinned storage per call (a
    # tracked_cache here had no release point inside the operator)
    band = minhash_bands(docs, k, bands, shingle).localCheckpoint(eager=False)
    if max_bucket is not None:
        oversized = (
            band.groupBy("band_id", "band_hash")
            .count()
            .filter(F.col("count") > max_bucket)
            .select("band_id", "band_hash")
        )
        band = band.join(
            F.broadcast(oversized), ["band_id", "band_hash"], "left_anti"
        )
    b1 = band.select(F.col("doc_id").alias("d1"), "band_id", "band_hash")
    b2 = band.select(F.col("doc_id").alias("d2"), "band_id", "band_hash")
    return (
        b1.join(b2, on=["band_id", "band_hash"])
        .filter(F.col("d1") < F.col("d2"))
        .select("d1", "d2")
        .distinct()
    )


def simhash_fingerprints(docs: DataFrame, bits: int = 32) -> DataFrame:
    """(doc_id, simhash): classic SimHash — per-token md5-derived
    integer; bit b of the fingerprint is 1 iff the sum over tokens of
    (+1 if token-bit set else -1) is positive."""
    toks = tokens_df(docs)
    hashed = toks.withColumn(
        "h_int", F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
    )
    exploded = hashed.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("bit"),
        F.col("h_int"),
    ).withColumn(
        "w",
        F.when(F.expr("(shiftright(h_int, bit) & 1)") == 1, F.lit(1)).otherwise(F.lit(-1)),
    )
    return (
        exploded.groupBy("doc_id", "bit")
        .agg(F.sum("w").alias("s"))
        .withColumn(
            "bit_val",
            F.when(F.col("s") > 0, F.expr("shiftleft(1L, bit)")).otherwise(F.lit(0).cast("long")),
        )
        .groupBy("doc_id")
        .agg(F.sum("bit_val").alias("simhash"))
    )
