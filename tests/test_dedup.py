"""Dedup (exact / MinHash-LSH) tests with planted duplicates."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from quality_filter.cluster import dedup_pipeline
from quality_filter.dedup import (
    exact_dedup,
    lsh_candidates,
    minhash_jaccard,
    minhash_signatures,
    normalized_text,
)

BASE = ("the quick brown fox jumps over the lazy dog while the committee "
        "reviews the proposal in detail and agrees on next steps for the project")


@pytest.fixture(scope="module")
def dup_docs(spark):
    rows = []
    for i in range(30):
        rows.append((i, f"unique document number {i} " + " ".join(f"w{i}k{j}" for j in range(20))))
    rows.append((100, BASE))
    rows.append((101, BASE))                         # exact dup of 100
    rows.append((102, BASE.replace("lazy", "sleepy")))  # near dup
    rows.append((103, "  " + BASE.upper() + "  "))   # normalized-exact dup
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark, dup_docs):
    out = exact_dedup(dup_docs)
    ids = sorted(r["doc_id"] for r in out.select("doc_id").collect())
    assert 100 in ids and 101 not in ids and 103 not in ids
    assert 102 in ids  # near-dup, not exact
    assert len(ids) == 32


def test_normalized_text_hand_computed(spark):
    """The fingerprint normalization lowercases, collapses runs of
    space/tab/CR/LF to one space and trims the ends; other control
    characters are kept."""
    cases = {
        "  Hello   World\t\n": "hello world",
        "A\r\nB": "a b",
        "": "",
        "x\x0by": "x\x0by",
        "Ünïcode  MIXED": "ünïcode mixed",
    }
    df = spark.createDataFrame([(k,) for k in cases], "text string")
    got = {r["text"]: r["n"] for r in df.select(
        "text", normalized_text(F.col("text")).alias("n")).collect()}
    assert got == cases


def test_minhash_survives_short_docs(spark):
    """Docs with < k words (incl. empty/whitespace) must yield EMPTY
    shingle arrays, not crash: sequence(1, 0) is descending in Spark and
    slice(words, 0, k) throws INVALID_PARAMETER_VALUE.START."""
    rows = [(0, ""), (1, "   "), (2, "one"), (3, "two words"),
            (4, "exactly three words"), (5, BASE),
            (6, BASE.replace("lazy", "sleepy"))]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sig = minhash_signatures(df)
    # docs with < k words produce zero shingles → no signature row at all
    # (doc 1, "   ", splits into 4 empty-string words → degenerate shingles)
    assert sorted(r["doc_id"] for r in sig.select("doc_id").collect()) == [1, 4, 5, 6]
    out = dedup_pipeline(df, jaccard_threshold=0.5)
    ids = sorted(r["doc_id"] for r in out.select("doc_id").collect())
    # the near-dup pair still collapses and the short docs pass through
    # (doc 1 normalizes to doc 0's empty text, so the exact stage keeps 0)
    assert ids == [0, 2, 3, 4, 5]


def test_minhash_lsh_finds_near_dups(spark, dup_docs):
    sig = minhash_signatures(dup_docs)
    pairs = lsh_candidates(sig)
    got = {(r["a"], r["b"]) for r in pairs.collect()}
    assert (100, 101) in got
    assert (100, 102) in got or (101, 102) in got
    jac = {(r["a"], r["b"]): r["est_jaccard"] for r in minhash_jaccard(sig, pairs).collect()}
    assert jac[(100, 101)] == 1.0
