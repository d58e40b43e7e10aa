"""Similarity search over embedding columns (array<float>).

* ``cosine_topk`` / ``l2_topk`` — brute-force top-k: exact baseline.
  Two metric engines behind one contract (``_brute_topk``): the
  default Arrow engine (numpy blocks over ``mapInPandas``, corpus-side
  partial top-k, queries on a broadcast variable) and the JVM
  higher-order-function fold it is equality-tested against.  One
  shuffle either way.
* ``lsh_bucket_topk``  — the scale path: random-hyperplane LSH
  bucketing (deterministic md5-derived hyperplane signs), candidates
  restricted to same-bucket pairs; top-k within buckets.  At 10^12
  rows the brute-force path is O(N·Q); LSH bounds it by bucket sizes
  exactly like person blocking keys.

All dot products cast elements to double FIRST and accumulate
left-to-right (``F.aggregate`` fold / per-dimension numpy adds), so
results are bit-comparable with the DuckDB oracle's double-precision
loop in BOTH engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "cosine_col",
    "cosine_topk",
    "embedding_near_dups",
    "ivf_assignments",
    "ivf_centroids",
    "ivf_topk",
    "kmeans_refine",
    "l2_col",
    "l2_topk",
    "lsh_band_assignments",
    "lsh_bucket_assignments",
    "lsh_bucket_topk",
    "semantic_dedup",
]


def _to_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_col(a: Column, b: Column) -> Column:
    a, b = _to_double(a), _to_double(b)
    return _dot(a, b) / (_norm(a) * _norm(b))


def _brute_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    metric_name: str,
    metric_fn,
    ascending: bool,
    impl: str = "arrow",
) -> DataFrame:
    """Shared exact-top-k scaffolding for the brute-force ANN metrics:
    queries broadcast, corpus streams map-side through the join, self
    match excluded, per-query top-k via window (WindowGroupLimit
    applies the partial top-k BEFORE the exchange — see
    docs/PLANS.md).  One implementation so the self-exclusion,
    broadcast strategy, and tie-break contract cannot diverge between
    metrics.

    ``impl`` picks the metric engine:

    * ``"arrow"`` (default) — numpy over Arrow batches: the corpus
      alone streams through ``mapInPandas`` (queries ride a broadcast
      variable — the pair matrix is never serialized), each batch
      computes its metric block against all queries and emits a
      PARTIAL top-k, and the same window takes the global top-k over
      ``batches × k`` survivors.  Accumulation is an explicit
      per-dimension left-to-right loop of vectorized adds, so every
      float matches the HOF fold (and therefore the oracle's
      sequential 64-term SQL) BIT-EXACTLY — same values, same ties,
      same ranks (tests/test_annsearch_arrow.py).  Measured 12-76x
      faster than the HOF fold from 10^3 to 10^4 queries on a 20k
      corpus (docs/PLANS.md round-5 table).
    * ``"hof"`` — JVM higher-order-function fold.  Interpreted
      (CodegenFallback) but zero Python transfer and no driver-side
      query collect; kept as the independent reference implementation
      the Arrow engine is equality-tested against.

    Degenerate-input contract (the one place the engines diverge,
    deliberately): the Arrow engine DROPS null / wrong-dimension
    vectors (a corpus row that can never produce a finite metric is
    not a neighbor; a null query has no meaningful top-k), where the
    HOF fold propagates null metrics into the window — which under
    ``F.asc`` ordering can rank a null-metric row FIRST for l2.
    Zero-norm vectors under cosine RAISE in both engines (HOF via
    ANSI DIVIDE_BY_ZERO, Arrow via an explicit ValueError) — silent
    NaN handling would make results depend on Arrow chunk boundaries.

    Both impls keep the same O(N·Q) work and one-shuffle shape.
    """
    from pyspark.sql import Window

    corpus = embeddings.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cvec")
    )
    if impl == "arrow":
        scored = _arrow_partial_topk(
            corpus, queries, k, id_col, vec_col, metric_name, ascending
        )
    else:
        q = queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qvec")
        )
        scored = corpus.crossJoin(F.broadcast(q)).filter(
            F.col("neighbor_id") != F.col("query_id")
        )
        scored = scored.withColumn(
            metric_name, metric_fn(F.col("_cvec"), F.col("_qvec"))
        )
    order = F.asc(metric_name) if ascending else F.desc(metric_name)
    w = Window.partitionBy("query_id").orderBy(order, F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", metric_name, "rank")
    )


def _arrow_partial_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    metric_name: str,
    ascending: bool,
) -> DataFrame:
    """(query_id, neighbor_id, metric) partial top-k per Arrow batch —
    the vectorized half of ``impl="arrow"`` (see ``_brute_topk``).
    The query set is collected once and shipped as a broadcast
    VARIABLE (same small-queries contract as the HOF path's
    ``F.broadcast``); the metric block is accumulated dimension-by-
    dimension left-to-right for bit-exact parity with the sequential
    fold.  Memory per task is O(corpus_chunk × query_chunk), never
    O(batch × queries × dim)."""
    import numpy as np
    import pandas as pd

    metric_is_l2 = metric_name == "distance"
    q_rows = queries.select(id_col, vec_col).collect()
    # null query vectors are dropped (a null can produce no finite
    # metric; the HOF engine degenerately ranks arbitrary neighbors
    # with a null metric for such a query — dropping is the sane
    # contract and is documented as the one divergence)
    q_rows = [r for r in q_rows if r[1] is not None]
    spark = corpus.sparkSession
    b_qids = spark.sparkContext.broadcast([r[0] for r in q_rows])
    qmat_driver = np.array([list(r[1]) for r in q_rows], dtype=np.float64)
    if not metric_is_l2 and len(q_rows):
        zn = ~np.any(qmat_driver != 0.0, axis=1)
        if zn.any():
            # the HOF engine raises DIVIDE_BY_ZERO under ANSI for a
            # zero-norm vector; raising here keeps the engines'
            # observable behavior aligned AND deterministic (silent
            # NaN handling would make inclusion depend on Arrow
            # chunk boundaries)
            raise ValueError(
                "cosine_topk: zero-norm query vector(s) "
                f"{[q_rows[i][0] for i in np.flatnonzero(zn)][:5]}"
            )
    b_qmat = spark.sparkContext.broadcast(qmat_driver)
    dim = qmat_driver.shape[1] if qmat_driver.size else 0
    id_type = corpus.schema["neighbor_id"].dataType.simpleString()
    out_schema = (
        f"query_id {id_type}, neighbor_id {id_type}, {metric_name} double"
    )
    C_CHUNK, Q_CHUNK = 1024, 128

    def seq_sq_norm(M: "np.ndarray") -> "np.ndarray":
        # sequential left-to-right sum of squares per row
        acc = np.zeros(M.shape[0], dtype=np.float64)
        for t in range(M.shape[1]):
            acc += M[:, t] * M[:, t]
        return np.sqrt(acc)

    def gen(batches):
        qids = np.asarray(b_qids.value)
        qmat = b_qmat.value
        nq = len(qids)
        sign = 1.0 if ascending else -1.0
        # hoisted: query norms are fixed for the whole task — do not
        # recompute them once per corpus chunk
        q_norms = None if metric_is_l2 else seq_sq_norm(qmat)
        for pdf in batches:
            if len(pdf) == 0 or nq == 0:
                continue
            # null / ragged corpus vectors can never produce a finite
            # metric: drop them (documented divergence — see
            # _brute_topk) instead of crashing np.stack
            vecs = [
                (i, np.asarray(v, dtype=np.float64))
                for i, v in enumerate(pdf["_cvec"])
                if v is not None and len(v) == dim
            ]
            if not vecs:
                continue
            call = np.stack([v for _, v in vecs])
            nids_all = pdf["neighbor_id"].to_numpy()[[i for i, _ in vecs]]
            out_q, out_n, out_m = [], [], []
            for cs in range(0, len(call), C_CHUNK):
                C = call[cs : cs + C_CHUNK]
                nids = nids_all[cs : cs + C_CHUNK]
                if metric_is_l2:
                    cn = None
                else:
                    cn = seq_sq_norm(C)
                    if not np.all(cn != 0.0):
                        # ANSI-parity with the HOF engine's
                        # DIVIDE_BY_ZERO — and deterministic, unlike
                        # chunk-boundary-dependent NaN handling
                        raise ValueError(
                            "cosine_topk: zero-norm corpus vector(s) "
                            f"{nids[np.flatnonzero(cn == 0.0)][:5].tolist()}"
                        )
                for qs in range(0, nq, Q_CHUNK):
                    Qc = qmat[qs : qs + Q_CHUNK]
                    m = np.zeros((C.shape[0], Qc.shape[0]), dtype=np.float64)
                    if metric_is_l2:
                        for t in range(C.shape[1]):
                            d = C[:, t, None] - Qc[None, :, t]
                            m += d * d
                        m = np.sqrt(m)
                    else:
                        for t in range(C.shape[1]):
                            m += C[:, t, None] * Qc[None, :, t]
                        m = m / (cn[:, None] * q_norms[qs : qs + Q_CHUNK][None, :])
                    for j in range(Qc.shape[0]):
                        qid = qids[qs + j]
                        mask = nids != qid
                        cand_m = m[mask, j]
                        if cand_m.size == 0:
                            continue
                        cand_ids = nids[mask]
                        # primary: metric (per ``ascending``);
                        # secondary: neighbor_id asc — the window's
                        # exact tie-break, so the partial top-k can
                        # never evict a row the global top-k needs
                        top = np.lexsort((cand_ids, sign * cand_m))[:k]
                        out_q.append(np.full(len(top), qid))
                        out_n.append(cand_ids[top])
                        out_m.append(cand_m[top])
            if out_q:
                yield pd.DataFrame(
                    {
                        "query_id": np.concatenate(out_q),
                        "neighbor_id": np.concatenate(out_n),
                        metric_name: np.concatenate(out_m),
                    }
                )

    return corpus.mapInPandas(gen, schema=out_schema)


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    impl: str = "arrow",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``queries`` is expected to be small (broadcast / collected); the
    corpus side streams — map-side metric + per-query top-k via
    window, no corpus self-join.  ``impl`` selects the metric engine
    (Arrow default, bit-exact "hof" reference — see ``_brute_topk``)."""
    return _brute_topk(
        embeddings, queries, k, id_col, vec_col,
        "cosine", cosine_col, ascending=False, impl=impl,
    )


def l2_col(a: Column, b: Column) -> Column:
    """Euclidean distance as a sequential element fold (same
    summation order as the DuckDB oracle's explicit left-to-right
    term list — float-exact across engines)."""
    a, b = _to_double(a), _to_double(b)
    return F.sqrt(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def l2_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    impl: str = "arrow",
) -> DataFrame:
    """Exact top-k EUCLIDEAN neighbors per query — the second metric
    of the ANN family (L2 is the norm-sensitive complement of cosine:
    embedding families that encode magnitude, e.g. un-normalized
    doc2vec-style vectors, rank differently under it).  Same scale
    shape as ``cosine_topk`` via the shared ``_brute_topk``
    scaffolding; ``impl="arrow"`` as there."""
    return _brute_topk(
        embeddings, queries, k, id_col, vec_col,
        "distance", l2_col, ascending=True, impl=impl,
    )


def _hyperplane(dim: int, plane_idx: int) -> list[float]:
    """Deterministic pseudo-random ±1 hyperplane from md5 parity —
    reproducible across engines and sessions with no RNG state."""
    import hashlib

    signs = []
    for d in range(dim):
        h = hashlib.md5(f"{plane_idx}:{d}".encode()).hexdigest()
        signs.append(1.0 if int(h[:2], 16) % 2 == 0 else -1.0)
    return signs


def lsh_bucket_assignments(
    embeddings: DataFrame,
    n_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, bucket): sign-concatenation over ``n_planes``
    deterministic hyperplanes."""
    vec = _to_double(F.col(vec_col))
    bucket_bits = []
    for p in range(n_planes):
        plane = F.array([F.lit(s) for s in _hyperplane(dim, p)])
        proj = _dot(vec, plane)
        bucket_bits.append(F.when(proj >= 0, F.lit("1")).otherwise(F.lit("0")))
    return embeddings.select(
        F.col(id_col).alias("vec_id"), F.concat(*bucket_bits).alias("bucket")
    )


def lsh_band_assignments(
    embeddings: DataFrame,
    n_planes: int = 8,
    bands: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, band_id, bucket): ``bands`` bands of ``n_planes/bands``
    hyperplane sign bits each, OR'd at candidate time (two vectors are
    candidates iff they agree on ALL bits of ANY band) — the minhash
    banding shape (dedup.py:149) applied to random-hyperplane LSH.

    A single conjunctive n-bit signature has recall (1-θ/π)^n, which
    collapses for mid-range cosines; banding raises it to
    1-(1-(1-θ/π)^r)^B while keeping buckets small (r bits per band).
    """
    if n_planes % bands != 0:
        raise ValueError("n_planes must be divisible by bands")
    r = n_planes // bands
    vec = _to_double(F.col(vec_col))
    rows = []
    for b in range(bands):
        bits = []
        for p in range(b * r, (b + 1) * r):
            plane = F.array([F.lit(s) for s in _hyperplane(dim, p)])
            bits.append(
                F.when(_dot(vec, plane) >= 0, F.lit("1")).otherwise(F.lit("0"))
            )
        rows.append(F.struct(F.lit(b).alias("band_id"), F.concat(*bits).alias("bucket")))
    return embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.explode(F.array(*rows)).alias("_b"),
    ).select("vec_id", F.col("_b.band_id").alias("band_id"), F.col("_b.bucket").alias("bucket"))


def embedding_near_dups(
    embeddings: DataFrame,
    threshold: float,
    approximate: bool = True,
    n_planes: int = 8,
    bands: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id1 < id2, cosine >=
    threshold).

    approximate=True (the scale path): candidates are pairs sharing at
    least one LSH band (banded OR — see ``lsh_band_assignments``;
    recall >= 0.9 for cosine >= 0.55 pairs at the 8-plane/4-band
    default, gated by tests/test_annsearch_recall.py).
    approximate=False: exhaustive pair join (quadratic; baseline/
    oracle use only)."""
    left = embeddings.select(
        F.col(id_col).alias("d1"), F.col(vec_col).alias("_v1")
    )
    right = embeddings.select(
        F.col(id_col).alias("d2"), F.col(vec_col).alias("_v2")
    )
    if approximate:
        b = lsh_band_assignments(embeddings, n_planes, bands, dim, id_col, vec_col)
        pairs = (
            b.select(F.col("vec_id").alias("d1"), "band_id", "bucket")
            .join(
                b.select(F.col("vec_id").alias("d2"), "band_id", "bucket"),
                on=["band_id", "bucket"],
            )
            .filter(F.col("d1") < F.col("d2"))
            .select("d1", "d2")
            .distinct()
        )
        cand = pairs.join(left, "d1").join(right, "d2")
    else:
        cand = left.crossJoin(right).filter(F.col("d1") < F.col("d2"))
    return (
        cand.withColumn("cosine", cosine_col(F.col("_v1"), F.col("_v2")))
        .filter(F.col("cosine") >= threshold)
        .select("d1", "d2", "cosine")
    )


def ivf_centroids(
    embeddings: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(centroid_id, cvec): deterministic coarse centroids — the
    ``n_centroids`` corpus vectors with the smallest md5(vec_id).
    A reproducible random sample is the standard coarse-quantizer
    bootstrap (k-means refinement is an optional offline step) and,
    being md5-derived, it is exactly replayable by the SQL oracle.
    At 10^12 rows pick n_centroids ~ sqrt(N) and persist the centroid
    table; it stays broadcast-sized (sqrt(10^12) x dim x 8B ~ 0.5 GB
    partitioned, or cap it and probe more lists)."""
    return (
        embeddings.select(
            F.col(id_col).alias("centroid_id"),
            _to_double(F.col(vec_col)).alias("cvec"),
            F.md5(F.col(id_col).cast("string")).alias("_h"),
        )
        .orderBy("_h", "centroid_id")
        .limit(n_centroids)
        .drop("_h")
    )


def kmeans_refine(
    embeddings: DataFrame,
    centroids: DataFrame,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd refinement of the coarse centroids: per iteration, assign
    every corpus vector to its nearest centroid (broadcast centroids,
    map-side — no shuffle on the corpus beyond the mean aggregation),
    then move each centroid to the element-wise MEAN of its members;
    centroids that lose all members keep their position.  A fixed
    iteration count keeps the plan static (no driver-side convergence
    loop over unbounded rounds).

    Scale shape per iteration: one broadcast join + one
    groupBy(centroid_id, dim_pos) mean — both shuffle O(corpus x dim)
    value cells with full partial aggregation, the same cost class as
    one MinHash signature pass.

    NOT oracle-checked: distributed float summation order makes the
    means ulp-nondeterministic across partitionings, so the driver
    oracle pins the md5-sampled refine=0 centroids (ann_ivf) and this
    refinement is gated by pytest recall assertions instead
    (test_annsearch_recall.py)."""
    out = centroids
    e = embeddings.select(
        F.col(id_col).alias("vec_id"), _to_double(F.col(vec_col)).alias("_v")
    )
    for _ in range(iters):
        from pyspark.sql import Window

        scored = e.crossJoin(F.broadcast(out)).withColumn(
            "_cos", cosine_col(F.col("_v"), F.col("cvec"))
        )
        w = Window.partitionBy("vec_id").orderBy(
            F.desc("_cos"), F.asc("centroid_id")
        )
        nearest = (
            scored.withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") == 1)
            .select("centroid_id", "_v")
        )
        means = (
            nearest.select(
                "centroid_id", F.posexplode("_v").alias("_pos", "_x")
            )
            .groupBy("centroid_id", "_pos")
            .agg(F.avg("_x").alias("_m"))
            .groupBy("centroid_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_pos", "_m"))),
                    lambda s: s["_m"],
                ).alias("_new")
            )
        )
        out = (
            out.join(means, "centroid_id", "left")
            .select(
                "centroid_id",
                F.coalesce(F.col("_new"), F.col("cvec")).alias("cvec"),
            )
            .localCheckpoint(eager=True)  # truncate the per-iteration plan
        )
    return out


def ivf_assignments(
    embeddings: DataFrame,
    centroids: DataFrame,
    n_probe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, centroid_id): each vector's ``n_probe`` nearest
    centroids by cosine (ties broken by centroid_id).  The centroid
    table is broadcast, so assignment is one map-side pass over the
    corpus — no shuffle; n_probe=1 builds the inverted lists, n_probe>1
    is the query-side probe set."""
    from pyspark.sql import Window

    e = embeddings.select(F.col(id_col).alias("vec_id"), _to_double(F.col(vec_col)).alias("_v"))
    scored = e.crossJoin(F.broadcast(centroids)).withColumn(
        "_cos", cosine_col(F.col("_v"), F.col("cvec"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("_cos"), F.asc("centroid_id"))
    return (
        scored.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= n_probe)
        .select("vec_id", "centroid_id")
    )


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 2,
    refine_iters: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-flat approximate top-k: corpus vectors live in ONE inverted
    list each (their nearest coarse centroid); a query scans only its
    ``n_probe`` nearest lists.  The list join is an equi-join on
    centroid_id — a blocking key exactly like the person matcher's, so
    work is bounded by list sizes, never O(N x Q).  Recall is tuned by
    n_probe/n_centroids (the classic IVF trade); ``refine_iters`` runs
    that many Lloyd iterations on the sampled centroids
    (:func:`kmeans_refine`) — better-centered lists at the same probe
    budget."""
    from pyspark.sql import Window

    cents = ivf_centroids(embeddings, n_centroids, id_col, vec_col)
    if refine_iters > 0:
        cents = kmeans_refine(
            embeddings, cents, iters=refine_iters, id_col=id_col, vec_col=vec_col
        )
    lists = ivf_assignments(embeddings, cents, 1, id_col, vec_col)
    probes = ivf_assignments(queries, cents, n_probe, id_col, vec_col)

    corpus = embeddings.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cvec")
    ).join(lists.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
    qside = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qvec")
    ).join(probes.withColumnRenamed("vec_id", "query_id"), "query_id")

    cand = qside.join(corpus, "centroid_id").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    scored = cand.withColumn("cosine", cosine_col(F.col("_cvec"), F.col("_qvec")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def lsh_bucket_topk(
    embeddings: DataFrame,
    k: int = 10,
    n_planes: int = 6,
    dim: int = 64,
) -> DataFrame:
    """Approximate all-pairs top-k: candidates share an LSH bucket.
    The bucket equi-join replaces the O(N²) cross join; recall is
    tunable via n_planes (fewer planes -> bigger buckets)."""
    from pyspark.sql import Window

    b = lsh_bucket_assignments(embeddings, n_planes, dim)
    e = embeddings.join(b, "vec_id")
    left = e.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("_qvec"),
        "bucket",
    )
    right = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("_cvec"),
        "bucket",
    )
    cand = left.join(right, "bucket").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    cand = cand.withColumn(
        "cosine", cosine_col(F.col("_cvec"), F.col("_qvec"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float,
    n_centroids: int | str = "auto",
    refine_iters: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_cell_rows: int = 4096,
) -> DataFrame:
    """SemDeDup-style semantic deduplication: coarse-cluster the
    embedding corpus (the IVF quantizer), compare pairs ONLY within a
    cluster, and drop every vector that has a same-cluster neighbor
    with cosine >= ``threshold`` and a smaller id (min-id survives —
    the same canonical-representative rule the LSH ingest gate and
    dedup_cluster_reps use).  Returns the survivors as
    ``(vec_id, centroid_id)``.

    Scale shape (the SemDeDup design point): the all-pairs comparison
    is confined WITHIN an inverted list, so total pair work is
    ``sum(|list|^2)``, never O(N^2).  ``n_centroids="auto"`` (the
    default) SIZES the quantizer from the corpus:
    ``max(16, ceil(N / target_cell_rows))`` so each list holds
    ~``target_cell_rows`` vectors (~8M scored pairs per list at the
    4096 default — an executor-sized task) no matter how big the
    corpus is; a fixed small ``n_centroids`` on a 10M-vector corpus
    would otherwise mean ~625k-row cells and a ~3e12-pair join (same
    unguarded-default class as the pre-round-2 token-Jaccard, hence
    guarded by construction like ``max_df="auto"``).  The pair join
    is an equi-join on centroid_id (a blocking key exactly like the
    person matcher's).  A hot list (skewed quantizer cell) is split
    by raising n_centroids or running ``refine_iters`` Lloyd steps —
    better-centered cells at the same budget.  Centroids are
    md5-sampled (:func:`ivf_centroids`), so the whole decision
    replays bit-identically in any engine for a GIVEN n_centroids
    (the driver oracle pins it explicitly).

    Cross-cluster near-dups are missed by construction — the recall
    trade SemDeDup makes; the banded-LSH ``embedding_near_dups`` is
    the complementary candidate generator when recall matters more
    than the strict within-cell cost bound.
    """
    if n_centroids == "auto":
        import math

        n_centroids = max(
            16, math.ceil(embeddings.count() / target_cell_rows)
        )
    cents = ivf_centroids(embeddings, n_centroids, id_col, vec_col)
    if refine_iters > 0:
        cents = kmeans_refine(
            embeddings, cents, iters=refine_iters, id_col=id_col, vec_col=vec_col
        )
    # materialized once: the cell assignment (a corpus-wide window
    # over the broadcast-centroid scores) feeds BOTH pair-join sides
    # and the survivor return — without this it re-executes three
    # times.  localCheckpoint, not persist: checkpoint blocks are
    # released by the ContextCleaner when the frame is garbage-
    # collected, so library callers don't leak pinned storage per
    # call (the dedup.py band-table discipline — a tracked_cache here had
    # no release point inside the operator)
    lists = ivf_assignments(
        embeddings, cents, 1, id_col, vec_col
    ).localCheckpoint(eager=False)
    # norms precomputed ONCE per vector (the pair join would otherwise
    # re-run the interpreted norm fold per CANDIDATE PAIR — 2/3 of the
    # per-pair HOF work for the same bits: the oracle's
    # sqrt(dot(v, v)) is this exact per-vector fold)
    e = (
        embeddings.select(
            F.col(id_col).alias("vec_id"),
            _to_double(F.col(vec_col)).alias("_v"),
        )
        .withColumn("_n", _norm(F.col("_v")))
        .join(lists, "vec_id")
    )
    a = e.select(
        F.col("vec_id").alias("d1"),
        F.col("_v").alias("_v1"),
        F.col("_n").alias("_n1"),
        "centroid_id",
    )
    b = e.select(
        F.col("vec_id").alias("d2"),
        F.col("_v").alias("_v2"),
        F.col("_n").alias("_n2"),
        "centroid_id",
    )
    dropped = (
        a.join(b, "centroid_id")
        .filter(F.col("d1") < F.col("d2"))
        .withColumn(
            "_cos",
            _dot(F.col("_v1"), F.col("_v2")) / (F.col("_n1") * F.col("_n2")),
        )
        .filter(F.col("_cos") >= threshold)
        .select(F.col("d2").alias("vec_id"))
        .distinct()
    )
    return lists.join(dropped, "vec_id", "left_anti")
