"""MinHash/LSH quality gate: planted near-dups must surface as
candidates, and the affine hash family must behave as independent
permutations (round-2 regression: an order-preserving mix collapsed
all k signatures into one, inflating candidates ~5x)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql.types import StringType, StructField, StructType

N_BASE = 50
N_DUPS = 10
WORDS = [f"w{i:03d}" for i in range(400)]

SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("text", StringType(), False),
        StructField("lang", StringType(), False),
    ]
)


def _corpus():
    rng = random.Random(99)
    rows = []
    base_texts = []
    for i in range(N_BASE):
        words = [rng.choice(WORDS) for _ in range(40)]
        base_texts.append(words)
        rows.append((f"base{i:02d}", " ".join(words), "en"))
    for j in range(N_DUPS):
        words = list(base_texts[j])
        words[7] = "CHANGED"  # one-word edit: shingle-Jaccard ~ 0.85
        rows.append((f"dup{j:02d}", " ".join(words), "en"))
    return rows


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(_corpus(), SCHEMA).cache()


def test_planted_pairs_are_candidates(spark, docs):
    from name_match_latest_spark.operators.dedup import minhash_lsh_candidates

    got = {
        tuple(sorted((r.d1, r.d2)))
        for r in minhash_lsh_candidates(docs, k=8, bands=4).collect()
    }
    planted = {tuple(sorted((f"base{j:02d}", f"dup{j:02d}"))) for j in range(N_DUPS)}
    found = len(got & planted)
    assert found >= 9, f"minhash recall {found}/{N_DUPS}"
    # random 40-word docs over a 400-word vocab share few shingles:
    # candidate count must stay near the planted set, not explode
    assert len(got) <= N_DUPS + 10, f"{len(got)} candidates (degenerate family?)"


def test_signatures_are_independent(spark, docs):
    """Distinct signature columns must disagree on their argmin doc
    ordering — k copies of one permutation would make banding useless."""
    from name_match_latest_spark.operators.dedup import minhash_signatures_wide

    wide = minhash_signatures_wide(docs, k=8).collect()
    # rank docs by each signature; identical rankings = degenerate
    orders = []
    for i in range(8):
        orders.append(tuple(r.doc_id for r in sorted(wide, key=lambda r: r[f"sig_{i}"])))
    assert len(set(orders)) == 8


def test_max_bucket_guard_drops_dup_crowds(spark):
    """A crowd of byte-identical docs must not explode the candidate
    join when max_bucket caps bucket size (exact_dedup's job)."""
    from name_match_latest_spark.operators.dedup import minhash_lsh_candidates

    crowd = [(f"copy{i:02d}", "same exact text repeated here for everyone", "en")
             for i in range(30)]
    pairs = _corpus() + crowd
    docs = spark.createDataFrame(pairs, SCHEMA)

    uncapped = minhash_lsh_candidates(docs, k=8, bands=4).count()
    capped = minhash_lsh_candidates(docs, k=8, bands=4, max_bucket=10).count()
    crowd_pairs = 30 * 29 // 2
    assert uncapped >= crowd_pairs  # the crowd dominates uncapped
    assert capped <= uncapped - crowd_pairs  # crowd buckets dropped
    # planted near-dups (buckets of 2) survive the cap
    from_planted = {
        tuple(sorted((r.d1, r.d2)))
        for r in minhash_lsh_candidates(docs, k=8, bands=4, max_bucket=10).collect()
    }
    planted = {tuple(sorted((f"base{j:02d}", f"dup{j:02d}"))) for j in range(N_DUPS)}
    assert len(from_planted & planted) >= 9


def test_short_docs_do_not_crash_shingling(spark):
    """Docs with fewer than `shingle` tokens must emit NO rows, not
    crash: an unguarded sequence(1, size-(n-1)) descends to [1, 0] and
    slice(toks, 0, n) raises INVALID_PARAMETER_VALUE.START (round-3
    fix; the DuckDB oracle's range(1,1)=[] already emitted nothing)."""
    from name_match_latest_spark.operators.dedup import (
        minhash_lsh_candidates,
        minhash_signatures_wide,
        shingles_df,
    )

    rows = _corpus() + [
        ("short1", "one", "en"),
        ("short2", "two words", "en"),
        ("short0", "", "en"),
    ]
    docs = spark.createDataFrame(rows, SCHEMA)

    # signature (explode+groupBy) path
    sigs = minhash_signatures_wide(docs, k=8).collect()
    ids = {r.doc_id for r in sigs}
    assert not ids & {"short0", "short1", "short2"}
    assert len(ids) == len(_corpus())

    # shingles_df directly
    sh = shingles_df(docs, n=3).filter("doc_id like 'short%'").count()
    assert sh == 0

    # end-to-end candidates run unharmed
    got = {
        tuple(sorted((r.d1, r.d2)))
        for r in minhash_lsh_candidates(docs, k=8, bands=4, max_bucket=None).collect()
    }
    planted = {tuple(sorted((f"base{j:02d}", f"dup{j:02d}"))) for j in range(N_DUPS)}
    assert len(got & planted) >= 9


def test_max_bucket_auto_default(spark, monkeypatch):
    """The DEFAULT max_bucket='auto' must engage the cap once the
    corpus crosses AUTO_BUCKET_MIN_DOCS (round-2 finding: an uncapped
    default lets dup crowds produce quadratic candidates)."""
    from name_match_latest_spark.operators import dedup

    crowd = [(f"copy{i:02d}", "same exact text repeated here for everyone", "en")
             for i in range(30)]
    docs = spark.createDataFrame(_corpus() + crowd, SCHEMA)
    crowd_pairs = 30 * 29 // 2

    # small corpus: auto == uncapped (the oracle regime)
    assert dedup.minhash_lsh_candidates(docs, k=8, bands=4).count() >= crowd_pairs

    # at scale: auto == capped
    monkeypatch.setattr(dedup, "AUTO_BUCKET_MIN_DOCS", 50)
    monkeypatch.setattr(dedup, "AUTO_BUCKET_CAP", 10)
    auto_capped = dedup.minhash_lsh_candidates(docs, k=8, bands=4).count()
    assert auto_capped < crowd_pairs


def test_arrow_shingles_equal_column_plan_on_unicode_whitespace(spark):
    """shingles_df (Arrow-batched Python) and _shingle_array (Column
    expressions, the reference) must agree on adversarial inputs:
    U+00A0 is NOT a separator (Java/RE2 \\s is ASCII-only — the Python
    side pins re.ASCII), tabs/newlines ARE, case folds, short docs
    empty."""
    from pyspark.sql import functions as F

    from name_match_latest_spark.operators.dedup import (
        _shingle_array,
        shingles_df,
    )

    rows = [
        ("u1", "alpha beta gamma delta epsilon zeta", "en"),
        ("u2", "A\tB\nC  D\r\nE", "en"),
        ("u3", "MiXeD CaSe TOKENS here", "en"),
        ("u4", "two only", "en"),
        ("u5", "", "en"),
        ("u6", "x  y z w", "en"),  # thin space: also non-separator
    ]
    docs = spark.createDataFrame(rows, SCHEMA)

    batch = {
        (r.doc_id, r.tok) for r in shingles_df(docs, n=3).collect()
    }
    column = {
        (r.doc_id, r.tok)
        for r in docs.select(
            "doc_id", F.explode(_shingle_array(F.col("text"), 3)).alias("tok")
        ).collect()
    }
    assert batch == column
    # the NBSP stayed inside one token => it bridges its neighbors
    assert ("u1", "alpha beta gamma delta") in batch


def test_null_text_docs_are_skipped_not_crashed(spark):
    """NULL text rows contribute zero shingles in the Arrow plan —
    same as the Column plans' null -> null -> no rows (round-3 review
    fix: .lower() on None crashed the worker)."""
    from name_match_latest_spark.operators.dedup import (
        minhash_lsh_candidates,
        minhash_signatures_wide,
        token_jaccard_pairs,
    )

    rows = _corpus() + [("nulldoc", None, "en")]
    docs = spark.createDataFrame(rows, "doc_id string, text string, lang string")
    ids = {r.doc_id for r in minhash_signatures_wide(docs, k=8).collect()}
    assert "nulldoc" not in ids and len(ids) == len(_corpus())
    # end-to-end paths survive too
    minhash_lsh_candidates(docs, max_bucket=None).count()
    token_jaccard_pairs(docs, threshold=0.9, max_df=None, ngram=3).count()
