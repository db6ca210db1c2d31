"""Round-5 regression tests: exact-Jaccard total-pair contract (ADVICE r4 low),
overflow-safe Cohen's kappa, sklearn-union macro averages, the 9-digit
banker's-rounding oracle emulation, and the LSH bucket-occupancy guard."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


# -- exact_jaccard_for_pairs: a row for EVERY input pair ---------------------

def test_exact_jaccard_total_pair_contract(spark):
    from quality_filter.dedup import exact_jaccard_for_pairs

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),
            (2, "the quick brown fox leaps"),
            (3, "one two"),            # < SHINGLE_K words -> zero shingles
            (4, ""),                   # empty text -> zero shingles
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (3, 4), (1, 99)],  # 99 absent from docs entirely
        "a long, b long",
    )
    got = {(r["a"], r["b"]): r["jaccard"]
           for r in exact_jaccard_for_pairs(docs, pairs).collect()}
    assert set(got) == {(1, 2), (1, 3), (3, 4), (1, 99)}, "pairs vanished"
    assert got[(1, 2)] == pytest.approx(2 / 4)  # 2 shared of 3+3-2 shingles
    assert got[(1, 3)] == 0.0
    assert got[(3, 4)] == 0.0
    assert got[(1, 99)] == 0.0


# -- Cohen's kappa: exact at web-scale marginal products ---------------------

def test_kappa_from_report_webscale_counts(spark):
    """support·predicted and n² beyond int64: 2 classes × 5e9 pairs.
    The old bigint formula wrapped negative; decimal(38,0) stays exact."""
    from quality_filter.evalreport import kappa_from_report

    s = 5_000_000_000  # per-class support; n = 1e10, n^2 = 1e20 >> 2^63
    tp = 4_000_000_000
    rep = spark.createDataFrame(
        [("x", s, s, tp), ("y", s, s, tp)],
        "class string, support long, predicted long, tp long",
    )
    k = kappa_from_report(rep).collect()[0]["kappa"]
    po = (2 * tp) / (2 * s)
    pe = (2 * s * s) / (2 * s) ** 2  # exact python ints
    assert k == pytest.approx((po - pe) / (1 - pe), rel=1e-12)
    assert -1.0 <= k <= 1.0


def test_kappa_small_values_unchanged(spark):
    from quality_filter.evalreport import cohen_kappa

    rows = ([("a", "a")] * 20 + [("a", "b")] * 5
            + [("b", "a")] * 10 + [("b", "b")] * 15)
    df = spark.createDataFrame(rows, "label string, prediction string")
    k = cohen_kappa(df).collect()[0]["kappa"]
    po, pe = 35 / 50, 0.5
    assert k == pytest.approx((po - pe) / (1 - pe))


# -- bround_sql(x, 9): DuckDB emulation of Spark bround ties -----------------

def test_bround9_oracle_matches_spark(spark):
    import duckdb

    from tests.duckdb_sql import bround_sql

    # tie-dense 9-digit values: k + 5e-10 sits exactly on the HALF_EVEN
    # boundary after shortest-repr; plus random doubles
    vals = [i * 1e-9 + 5e-10 for i in range(50)]
    vals += [0.123456789.__mul__(i) for i in range(1, 20)]
    vals += [1 / 3, 2 / 3, 0.1234567895, 0.1234567885, 0.9999999995]
    sdf = spark.createDataFrame([(v,) for v in vals], "x double")
    want = [r[0] for r in sdf.select(F.bround("x", 9)).collect()]
    con = duckdb.connect()
    got = [
        con.sql(f"SELECT {bround_sql(repr(v), 9)}").fetchone()[0] for v in vals
    ]
    assert got == want


# -- LSH bucket-occupancy guard (VERDICT r4 #3) ------------------------------

def _degenerate_docs(spark, n=240):
    """Near-identical (NOT exact-duplicate) corpus: every doc shares one
    long boilerplate body plus a unique trailing token, so exact-first
    staging cannot collapse it and every minhash band bucket holds all
    n docs — the O(k²) blowup class from ``BENCH/r4_cluster_scale.py`` at
    b9e3436."""
    body = " ".join(f"w{i % 7}x{i % 11}" for i in range(60))
    rows = [(i, f"{body} uniq{i}") for i in range(n)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_lsh_candidates_bucket_cap_bounds_pairs(spark):
    from quality_filter.dedup import lsh_candidates, minhash_signatures

    docs = _degenerate_docs(spark)
    sig = minhash_signatures(docs)
    n_capped = lsh_candidates(sig, max_bucket_size=50).count()
    # 4 bands x C(50,2) upper bound vs C(240,2)=28,680 uncapped per band
    assert 0 < n_capped <= 4 * (50 * 49) // 2


def test_bucket_cap_noop_when_buckets_small(spark):
    from quality_filter.dedup import lsh_candidates, minhash_signatures

    rows = [(i, f"alpha bravo charlie delta echo{i} foxtrot{i * 7} golf{i * 13}")
            for i in range(60)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sig = minhash_signatures(docs)
    base = {tuple(r) for r in lsh_candidates(sig, max_bucket_size=None).collect()}
    guarded = {tuple(r) for r in lsh_candidates(sig, max_bucket_size=50).collect()}
    assert guarded == base


def test_bucket_cap_kept_subset_is_linkable_and_deterministic(spark):
    """Capped bucket keeps a deterministic subset; the kept rows still
    pair with each other, and two runs agree bit-for-bit."""
    from quality_filter.dedup import lsh_candidates, minhash_signatures

    docs = _degenerate_docs(spark, n=120)
    sig = minhash_signatures(docs)
    p1 = sorted(tuple(r) for r in lsh_candidates(sig, max_bucket_size=30).collect())
    p2 = sorted(tuple(r) for r in lsh_candidates(sig, max_bucket_size=30).collect())
    assert p1 == p2 and len(p1) > 0


# -- class_weights goes through the shared cardinality guard -----------------

def test_class_weights_bounded_guard(spark, monkeypatch):
    import quality_filter.guards as G
    from quality_filter.taxonomy import class_weights

    monkeypatch.setattr(G, "MAX_DRIVER_CARDINALITY", 10)
    ok = spark.createDataFrame([(f"l{i % 3}",) for i in range(30)], "label string")
    w = class_weights(ok)
    assert set(w) == {"l0", "l1", "l2"}
    assert w["l0"] == pytest.approx(30 / (3 * 10))
    bad = spark.createDataFrame([(f"l{i}",) for i in range(25)], "label string")
    with pytest.raises(ValueError, match="bounded vocabulary"):
        class_weights(bad)


# -- exact-substring dedup: span-merge boundary property ---------------------

def _py_substring_dedup(docs, k=5):
    """Pure-python Lee-et-al word-grain oracle: mark every word position
    covered by a NON-CANONICAL duplicated k-gram occurrence (canonical =
    min (doc_id, pos)); kept words joined by single spaces — adjacent and
    overlapping marked spans merge by set-union of positions."""
    occ = {}
    for did, text in docs:
        ws = text.split(" ")
        for p in range(len(ws) - k + 1):
            occ.setdefault(" ".join(ws[p:p + k]), []).append((did, p))
    marked = {}
    for gram, places in occ.items():
        if len(places) > 1:
            canon = min(places)
            for did, p in places:
                if (did, p) != canon:
                    for j in range(p, p + k):
                        marked.setdefault(did, set()).add(j)
    out = {}
    for did, text in docs:
        ws = text.split(" ")
        kept = [w for i, w in enumerate(ws) if i not in marked.get(did, set())]
        out[did] = (" ".join(kept), len(ws) - len(kept))
    return out


def test_substring_dedup_span_merge_property(spark):
    """Adjacent/overlapping duplicated spans merge by position-union and
    the kept runs join with single-space boundaries — pinned against a
    pure-python oracle over seeded low-vocab corpora (dense duplicate
    grams) plus hand fixtures for the overlap/adjacency classes."""
    import numpy as np

    from quality_filter.dedup import substring_dedup

    docs = []
    did = 0
    for seed in range(5):
        rng = np.random.RandomState(seed)
        for _ in range(12):
            n = rng.randint(6, 20)
            words = [f"w{rng.randint(0, 6)}" for _ in range(n)]
            docs.append((did, " ".join(words)))
            did += 1
    # hand fixtures: overlapping dups inside one doc, adjacent spans,
    # whole-doc duplication, and a short (<k words) doc
    docs += [
        (9001, "a b c d e f a b c d e f"),        # self-overlap across halves
        (9002, "a b c d e x a b c d e"),          # adjacent marked runs
        (9003, "p q r s t u v"),
        (9004, "p q r s t u v"),                  # exact twin of 9003
        (9005, "tiny doc"),                       # no k-grams at all
    ]
    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["clean_text"], r["n_removed"])
        for r in substring_dedup(sdf, k=5).collect()
    }
    want = _py_substring_dedup(docs, k=5)
    assert got == want
    # twin doc fully removed, canonical untouched
    assert want[9003][1] == 0 and want[9004][1] == 7


# -- apply_label_map: None keys skipped ----------------------------------------

def test_apply_label_map_none_key_and_null_label(spark):
    from quality_filter.taxonomy import apply_label_map

    df = spark.createDataFrame(
        [("spammy",), ("Clean",), (None,)], "label string"
    )
    out = apply_label_map(df, {"spammy": "Spam", None: "X"})
    got = sorted(
        (r["label"] is None, r["label"]) for r in out.collect()
    )
    assert got == [(False, "Clean"), (False, "Spam"), (True, None)]


def test_bucket_cap_output_is_subset_of_uncapped(spark):
    """Capped candidate pairs are always a subset of the uncapped set
    (the guard only removes candidacy, never invents pairs), on a mixed
    corpus with one degenerate group plus unique docs."""
    from quality_filter.dedup import lsh_candidates, minhash_signatures

    body = " ".join(f"w{i % 7}x{i % 11}" for i in range(60))
    rows = [(i, f"{body} uniq{i}") for i in range(80)]
    rows += [(500 + i, f"doc {i} " + " ".join(f"q{i}r{j}" for j in range(25)))
             for i in range(40)]
    sig = minhash_signatures(
        spark.createDataFrame(rows, "doc_id long, text string")
    )
    uncapped = {tuple(r) for r in lsh_candidates(sig, max_bucket_size=None).collect()}
    capped = {tuple(r) for r in lsh_candidates(sig, max_bucket_size=25).collect()}
    assert capped <= uncapped
    assert len(capped) < len(uncapped)


def test_span_marks_strategies_identical(spark):
    """'window' (lead-based, codegen) and 'hof' (narrow string-building)
    gram strategies must produce identical marked positions — including
    short/empty/NULL docs and duplicate-dense text."""
    from quality_filter.dedup import duplicated_span_marks

    rows = [
        (1, "a b c d e f g a b c d e f g"),
        (2, "a b c d e x y z"),
        (3, "short doc"),
        (4, ""),
        (5, None),
        (6, "x y z a b c d e q r s t u"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    win = {(r["doc_id"], r["wpos"])
           for r in duplicated_span_marks(df, grams="window").collect()}
    hof = {(r["doc_id"], r["wpos"])
           for r in duplicated_span_marks(df, grams="hof").collect()}
    assert win == hof and len(win) > 0
    with pytest.raises(ValueError, match="grams strategy"):
        duplicated_span_marks(df, grams="bogus").collect()
