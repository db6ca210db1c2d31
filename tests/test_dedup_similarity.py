"""Dedup (exact / MinHash-LSH / SimHash) tests with planted duplicates."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from quality_filter.dedup import (
    exact_dedup,
    lsh_candidates,
    minhash_dedup,
    minhash_jaccard,
    minhash_signatures,
    normalized_text,
    simhash_near_dups,
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
            (4, "exactly three words"), (5, BASE), (6, BASE)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sig = minhash_signatures(df)
    # docs with < k words produce zero shingles → no signature row at all
    # (doc 1, "   ", splits into 4 empty-string words → degenerate shingles)
    assert sorted(r["doc_id"] for r in sig.select("doc_id").collect()) == [1, 4, 5, 6]
    out = minhash_dedup(df, threshold=0.5)
    ids = sorted(r["doc_id"] for r in out.select("doc_id").collect())
    assert 5 in ids and 6 not in ids          # the dup pair still collapses
    assert {0, 1, 2, 3, 4} <= set(ids)        # short docs pass through


def test_minhash_lsh_finds_near_dups(spark, dup_docs):
    sig = minhash_signatures(dup_docs, n_hashes=16)
    pairs = lsh_candidates(sig, bands=4, rows_per_band=4)
    got = {(r["a"], r["b"]) for r in pairs.collect()}
    assert (100, 101) in got
    assert (100, 102) in got or (101, 102) in got
    jac = {(r["a"], r["b"]): r["est_jaccard"] for r in minhash_jaccard(sig, pairs).collect()}
    assert jac[(100, 101)] == 1.0


def test_minhash_dedup_removes_near_dups(spark, dup_docs):
    out = minhash_dedup(dup_docs, threshold=0.5)
    ids = sorted(r["doc_id"] for r in out.select("doc_id").collect())
    assert 100 in ids and 101 not in ids and 102 not in ids
    assert all(i in ids for i in range(30))


def test_simhash_near_dups(spark, dup_docs):
    pairs = {(r["a"], r["b"]): r["hamming"] for r in simhash_near_dups(dup_docs, max_hamming=6).collect()}
    assert (100, 101) in pairs and pairs[(100, 101)] == 0
    assert (100, 103) in pairs and pairs[(100, 103)] == 0  # normalization
    assert all(a >= 100 for a, b in pairs)  # no false positives among uniques


def test_simhash_grouped_equals_hof(spark, dup_docs):
    """The explode+groupBy SimHash layout must produce bit-identical
    hashes to the aggregate-HOF layout (incl. empty and NULL text)."""
    from quality_filter.dedup import simhash64, simhash64_grouped

    extra = spark.createDataFrame(
        [(200, ""), (201, None), (202, "one")], "doc_id long, text string"
    )
    df = dup_docs.unionByName(extra)
    hof = df.select("doc_id", simhash64(F.coalesce(F.col("text"), F.lit(""))).alias("sh"))
    grp = simhash64_grouped(df)
    joined = hof.alias("a").join(grp.alias("b"), "doc_id", "full")
    assert joined.filter("a.sh IS DISTINCT FROM b.sh").count() == 0
    assert grp.count() == df.count()


