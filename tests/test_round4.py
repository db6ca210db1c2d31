"""Round-4 regression tests: string-id connected components (ADVICE r3),
overflow-free deterministic bucketing, bounded-cardinality guards,
exact-Jaccard candidate verification, and
the training-eval report."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


# -- connected components on STRING ids (ADVICE r3: the decimal-cast
# convergence check silently stopped after one propagation round) ------------

def test_connected_components_string_ids_full_chain(spark):
    from quality_filter.cluster import connected_components

    # a 5-vertex path needs >1 propagation round to collapse: with the old
    # numeric-cast convergence signal (NULL sum for strings) this returned
    # one-hop components ("b"->"a" but "e"->"d")
    ids = ["a", "b", "c", "d", "e"]
    nodes = spark.createDataFrame([(i,) for i in ids], "doc_id string")
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")], "a string, b string"
    )
    out = connected_components(nodes, edges)
    reps = {r["doc_id"]: r["cluster_rep"] for r in out.collect()}
    assert reps == {i: "a" for i in ids}


# -- overflow-free deterministic bucket (ADVICE r3) --------------------------

def test_deterministic_bucket_no_int64_overflow(spark):
    from quality_filter.sampling import _MIX, deterministic_bucket

    # keys >= ~3.47e9 overflow key*2654435761 in int64; the decimal path
    # must match exact Python big-int arithmetic and stay in [0, 1000)
    keys = [0, 1, 2_654_435_761, 3_470_000_000, 2**62, 2**63 - 1]
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    got = {
        r["k"]: r["b"]
        for r in df.select("k", deterministic_bucket("k").alias("b")).collect()
    }
    for k in keys:
        assert got[k] == (k * _MIX) % 1000, k
        assert 0 <= got[k] < 1000


def test_bounded_cardinality_guard(spark, monkeypatch):
    import quality_filter.guards as G
    import quality_filter.sampling as S

    monkeypatch.setattr(G, "MAX_DRIVER_CARDINALITY", 10)
    df = spark.createDataFrame(
        [(i, f"d{i}") for i in range(25)], "doc_id long, source string"
    )
    with pytest.raises(ValueError, match="bounded vocabulary"):
        S.downsample_label(df, "source", "d0", 0.5)


# -- exact-Jaccard verification layer ----------------------------------------

def _jac(t1: str, t2: str, k: int = 3) -> float:
    def sh(t):
        w = t.split(" ")
        return {" ".join(w[i:i + k]) for i in range(len(w) - k + 1)}

    a, b = sh(t1), sh(t2)
    return len(a & b) / len(a | b) if a | b else 0.0


def test_exact_jaccard_for_pairs_values(spark):
    from quality_filter.dedup import exact_jaccard_for_pairs

    t1 = "the quick brown fox jumps over the lazy dog today"
    t2 = "the quick brown fox jumps over the lazy dog tonight"
    t3 = "completely different words with no overlap at all here"
    docs = spark.createDataFrame(
        [(1, t1), (2, t2), (3, t3)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 2), (1, 3)], "a long, b long")
    got = {
        (r["a"], r["b"]): r["jaccard"]
        for r in exact_jaccard_for_pairs(docs, pairs).collect()
    }
    assert got[(1, 2)] == pytest.approx(_jac(t1, t2))
    assert got[(1, 3)] == pytest.approx(_jac(t1, t3))
    assert got[(1, 3)] == 0.0


def test_verify_layer_culls_false_positive_pairs(spark):
    """A candidate list containing a low-true-Jaccard pair (as LSH banding
    can emit: one colliding band ⇒ candidate) loses exactly that pair
    under the verify filter — the dedup_pipeline(verify_exact=True)
    staging."""
    from quality_filter.dedup import exact_jaccard_for_pairs

    near = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near2 = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
    other = "alpha beta gamma completely unrelated tail of words here now"
    docs = spark.createDataFrame(
        [(1, near), (2, near2), (3, other)], "doc_id long, text string"
    )
    cand = spark.createDataFrame([(1, 2), (1, 3)], "a long, b long")
    verified = exact_jaccard_for_pairs(docs, cand).filter(
        F.col("jaccard") >= 0.7
    )
    assert [(r["a"], r["b"]) for r in verified.collect()] == [(1, 2)]
    assert _jac(near, other) < 0.7 <= _jac(near, near2)


def test_dedup_pipeline_verify_exact_end_to_end(spark):
    from quality_filter.cluster import dedup_pipeline

    words = [f"w{i}" for i in range(60)]
    near = " ".join(words)
    near2 = " ".join(words[:-1] + ["changed"])  # 1 of 60 words differs
    docs = spark.createDataFrame(
        [(1, near), (2, near2), (3, "totally distinct content in this one"),
         (4, near)],  # exact copy of 1 — exact stage removes it
        "doc_id long, text string",
    )
    out = dedup_pipeline(docs, jaccard_threshold=0.7, verify_exact=True)
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 3]
    # same corpus without the verify layer: identical outcome here (the
    # near pair is a TRUE near-dup); the verify layer's cull behavior is
    # covered pair-level in test_verify_layer_culls_false_positive_pairs
    base = dedup_pipeline(docs, jaccard_threshold=0.7, verify_exact=False)
    assert sorted(r["doc_id"] for r in base.collect()) == [1, 3]


# -- training-eval report ----------------------------------------------------

def test_eval_report_hand_computed(spark):
    from quality_filter.evalreport import confusion_matrix, eval_report, eval_summary

    rows = (
        [("Clean", "Clean")] * 6
        + [("Clean", "Spam")] * 2
        + [("Spam", "Spam")] * 3
        + [("Spam", "Clean")] * 1
        + [("Rare", "Clean")] * 2      # never predicted
        + [("Clean", "Ghost")] * 1     # never true
    )
    df = spark.createDataFrame(rows, "label string, prediction string")
    rep = {r["class"]: r for r in eval_report(df).collect()}
    assert set(rep) == {"Clean", "Spam", "Rare", "Ghost"}
    c = rep["Clean"]
    assert (c["support"], c["predicted"], c["tp"]) == (9, 9, 6)
    assert c["precision"] == pytest.approx(6 / 9)
    assert c["recall"] == pytest.approx(6 / 9)
    assert c["f1"] == pytest.approx(6 / 9)
    s = rep["Spam"]
    assert (s["support"], s["predicted"], s["tp"]) == (4, 5, 3)
    assert s["precision"] == pytest.approx(3 / 5)
    assert s["recall"] == pytest.approx(3 / 4)
    r = rep["Rare"]
    assert (r["support"], r["predicted"], r["tp"]) == (2, 0, 0)
    assert r["precision"] == 0.0 and r["recall"] == 0.0 and r["f1"] == 0.0
    g = rep["Ghost"]
    assert (g["support"], g["predicted"], g["tp"]) == (0, 1, 0)

    cm = {(r["label"], r["prediction"]): r["n"] for r in confusion_matrix(df).collect()}
    assert cm[("Clean", "Clean")] == 6 and cm[("Rare", "Clean")] == 2

    summ = eval_summary(df).collect()[0]
    assert summ["accuracy"] == pytest.approx(9 / 15)
    # macro over the UNION of true and predicted classes (sklearn
    # labels=None): Clean, Spam, Rare, and never-true Ghost (recall 0)
    assert summ["macro_recall"] == pytest.approx((6 / 9 + 3 / 4 + 0.0 + 0.0) / 4)
    assert summ["macro_precision"] == pytest.approx((6 / 9 + 3 / 5 + 0.0 + 0.0) / 4)


def test_cohen_kappa_hand_computed(spark):
    from quality_filter.evalreport import cohen_kappa

    # classic 2-class example: n=50, agreement 20+15=35, marginals
    # A: (25,25) true, (30,20) predicted -> pe = (25*30 + 25*20)/2500 = 0.5
    rows = (
        [("a", "a")] * 20 + [("a", "b")] * 5
        + [("b", "a")] * 10 + [("b", "b")] * 15
    )
    df = spark.createDataFrame(rows, "label string, prediction string")
    k = cohen_kappa(df).collect()[0]["kappa"]
    po, pe = 35 / 50, (25 * 30 + 25 * 20) / 2500
    assert k == pytest.approx((po - pe) / (1 - pe))
    # perfect agreement -> kappa 1; total disagreement over 2 classes with
    # symmetric marginals -> kappa -1
    perfect = spark.createDataFrame([("x", "x")] * 4 + [("y", "y")] * 4,
                                    "label string, prediction string")
    assert cohen_kappa(perfect).collect()[0]["kappa"] == pytest.approx(1.0)
    worst = spark.createDataFrame([("x", "y")] * 4 + [("y", "x")] * 4,
                                  "label string, prediction string")
    assert cohen_kappa(worst).collect()[0]["kappa"] == pytest.approx(-1.0)
    # degenerate: everything one class on both sides -> pe = 1 -> defined 0
    degen = spark.createDataFrame([("x", "x")] * 5, "label string, prediction string")
    assert cohen_kappa(degen).collect()[0]["kappa"] == 0.0
