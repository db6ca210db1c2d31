"""Round-6 regression tests: lazy occupancy guard, segment-salted substring
dedup, MinHash banding S-curve, scorer fast-path bit-identity."""

from __future__ import annotations

import pytest


def _boom_docs(spark):
    """DataFrame whose evaluation raises — proves a plan was never run."""
    sc = spark.sparkContext

    def boom(_):
        raise RuntimeError("plan was executed")

    rdd = sc.parallelize(range(8), 2).map(boom)
    return spark.createDataFrame(rdd, "doc_id long, text string")


def test_occupancy_guard_is_lazy(spark):
    """The occupancy cap of ``dedup.lsh_candidates``
    must not run ANY Spark job at plan-construction time (the r5 design
    eagerly localCheckpointed + collected stats; ADVICE flagged the
    executor-loss and eager-execution hazards).  Built over an input that
    raises when computed: plan construction succeeds, only an action
    explodes."""
    from quality_filter.dedup import lsh_candidates, minhash_signatures

    docs = _boom_docs(spark)
    sig = minhash_signatures(docs)
    capped = lsh_candidates(sig, max_bucket_size=10)  # no action
    with pytest.raises(Exception, match="plan was executed"):
        capped.count()


def test_occupancy_guard_leaves_nothing_persisted(spark):
    """The guard must not leak cached/checkpointed blocks across calls."""
    from quality_filter.dedup import lsh_candidates, minhash_signatures

    rows = [(i, f"alpha bravo charlie delta echo{i} fox{i * 3}") for i in range(50)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sig = minhash_signatures(docs)
    # other tests in the shared session may hold legitimate checkpoints;
    # assert the GUARD adds none (delta, not absolute zero)
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    for _ in range(3):
        lsh_candidates(sig, max_bucket_size=5).count()
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == before


def test_guard_capped_set_matches_r5_design(spark):
    """Same deterministic survivor set as the previous eager design: for
    every (band, key) bucket, the kept rows are the cap-smallest by
    (xxhash64(key cols, id), id)."""
    from quality_filter.dedup import lsh_candidates, minhash_signatures

    body = " ".join(f"w{i % 5}y{i % 9}" for i in range(40))
    docs = spark.createDataFrame(
        [(i, f"{body} uniq{i}") for i in range(80)], "doc_id long, text string"
    )
    sig = minhash_signatures(docs)
    p1 = sorted(tuple(r) for r in lsh_candidates(sig, max_bucket_size=12).collect())
    p2 = sorted(tuple(r) for r in lsh_candidates(sig, max_bucket_size=12).collect())
    assert p1 == p2 and 0 < len(p1) <= 4 * (12 * 11) // 2


# -- substring dedup: segment-salted window strategy (giant-doc skew) --------

def test_segmented_window_marks_match_hof_across_boundaries(spark):
    """With segment_size smaller than the documents, every gram class —
    interior, segment-boundary-straddling, trailing — must still match
    the segment-free 'hof' strategy exactly."""
    import numpy as np

    from quality_filter.dedup import duplicated_span_marks

    rng = np.random.RandomState(3)
    docs = []
    for did in range(30):
        n = rng.randint(15, 60)
        docs.append((did, " ".join(f"v{rng.randint(0, 8)}" for _ in range(n))))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    for seg in (7, 16, 64):
        win = {(r["doc_id"], r["wpos"])
               for r in duplicated_span_marks(
                   df, grams="window", segment_size=seg).collect()}
        hof = {(r["doc_id"], r["wpos"])
               for r in duplicated_span_marks(df, grams="hof").collect()}
        assert win == hof, f"segment_size={seg}"
    assert len(hof) > 0


def test_substring_dedup_giant_doc_segmented(spark):
    """A planted giant document (50k words, far beyond segment_size) runs
    through the window strategy as many bounded sort groups, and the
    two-level reassembly reproduces the hof-strategy output exactly."""
    import numpy as np

    from quality_filter.dedup import substring_dedup

    rng = np.random.RandomState(9)
    giant = " ".join(f"g{rng.randint(0, 5000)}" for _ in range(50_000))
    docs = [(1, giant), (2, "a b c d e f g h"), (3, "a b c d e f g h")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    win = {r["doc_id"]: (r["clean_text"], r["n_removed"])
           for r in substring_dedup(df, k=5, segment_size=512).collect()}
    hof = {r["doc_id"]: (r["clean_text"], r["n_removed"])
           for r in substring_dedup(df, k=5, grams="hof").collect()}
    assert win == hof
    assert win[3][1] == 8 and win[2][1] == 0  # twin removed, canonical kept


def test_segment_size_must_cover_k(spark):
    from quality_filter.dedup import duplicated_span_marks

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    import pytest as _pytest
    with _pytest.raises(ValueError, match="segment_size"):
        duplicated_span_marks(df, k=5, segment_size=3).collect()


# -- MinHash banding S-curve (docs/minhash_tuning.md) ------------------------

def test_minhash_scurve_recall_matches_theory(spark):
    """Candidate recall of the default 4-band x 4-row banding tracks the
    analytic S-curve P = 1 - (1 - s^4)^4 at three similarity points.

    Construction: each planted pair shares a word prefix of length p out
    of n = 50 unique namespaced words, giving shingle-set Jaccard
    exactly (p-2) / (2*48 - (p-2)) with zero cross-pair collisions.
    xxhash64 is deterministic, so the measured recall is a fixed number
    for this corpus; the +/-0.12 tolerance is the 3-sigma band of the
    120-pair Bernoulli sample the corpus realizes."""
    from quality_filter.dedup import lsh_candidates, minhash_signatures

    n, pairs_per_level = 50, 120
    results = {}
    for level, p_shared in (("lo", 34), ("mid", 41), ("hi", 47)):
        shared = p_shared - 2
        s = shared / (2 * (n - 2) - shared)
        theory = 1.0 - (1.0 - s**4) ** 4
        docs = []
        for pid in range(pairs_per_level):
            a_words = [f"L{level}p{pid}w{i}" for i in range(n)]
            b_words = a_words[:p_shared] + [
                f"L{level}p{pid}x{i}" for i in range(n - p_shared)
            ]
            docs.append((2 * pid, " ".join(a_words)))
            docs.append((2 * pid + 1, " ".join(b_words)))
        df = spark.createDataFrame(docs, "doc_id long, text string")
        sig = minhash_signatures(df)
        cands = {
            (r["a"], r["b"]) for r in lsh_candidates(sig).collect()
        }
        hit = sum(
            1 for pid in range(pairs_per_level)
            if (2 * pid, 2 * pid + 1) in cands
        )
        recall = hit / pairs_per_level
        results[level] = (s, theory, recall)
        assert abs(recall - theory) <= 0.12, (
            f"s={s:.3f}: recall {recall:.3f} vs theory {theory:.3f}"
        )
    # the curve must actually be S-shaped over the three points
    assert results["lo"][2] < results["mid"][2] < results["hi"][2]


# -- scorer fast-path bit-identity (round-6 ngram/langid rework) -------------

def test_batch_hashes_match_slow_reference_adversarial():
    """The int32/early-mask/scatter-keep rolling-hash pipeline is pinned
    bit-for-bit against a transliteration of the pre-r6 int64 per-row
    implementation on adversarial inputs (empty, None-as-empty, 1-byte,
    NUL bytes, multi-byte UTF-8, a 100k-char run)."""
    import numpy as np

    from quality_filter import ngram

    def slow_reference(texts):
        MUL, MASK = 65599, ngram.DIM - 1
        h3s, h2s, offs = [], [], [0]
        for t in texts:
            b = b"\x00\x00" + (t or "").encode("utf-8")
            bs = list(b)
            row3, row2 = [], []
            for j in range(len(bs) - 2):
                row2.append((bs[j] * MUL + bs[j + 1]) & MASK)
                row3.append(((bs[j] * MUL + bs[j + 1]) * MUL + bs[j + 2]) & MASK)
            h3s.extend(row3)
            h2s.extend(row2)
            offs.append(offs[-1] + len(bs) - 2)
        return (np.array(h3s, dtype=np.int64), np.array(h2s, dtype=np.int64),
                np.array(offs, dtype=np.int64))

    texts = ["", "a", "ab", "abc", "é", "汉字", "x" * 100000,
             "\x00weird\x00", "mixed é 汉 ascii", None, ""]
    vals = [t or "" for t in texts]
    e3, e2, eo = slow_reference(vals)
    h3, h2, off = ngram._batch_hashes(vals)
    assert np.array_equal(e3, h3) and np.array_equal(e2, h2)
    assert np.array_equal(eo, off)
    assert ngram._batch_hashes([])[2].tolist() == [0]


def test_langid_per_language_gather_matches_block_reduceat():
    """The per-language 1-D gather + 1-D reduceat scoring path is pinned
    bit-for-bit against the pre-r6 (N, L) axis-0 block reduceat on a
    mixed batch, including the shared-hash fused-UDF entry point."""
    import numpy as np
    import pandas as pd

    from quality_filter import langid as L
    from quality_filter import ngram

    langs, profiles = L.build_artifact()
    rng = np.random.RandomState(11)
    words = ["the", "der", "les", "datos", "kettu", "数据", "отчет", "ß"]
    texts = pd.Series(
        [" ".join(rng.choice(words, rng.randint(0, 40))) for _ in range(500)]
        + ["", "ab", None]
    )
    out = L.score_batch(texts, langs, profiles)

    # pre-r6 block formulation over the same hashes
    vals = texts.fillna("").tolist()
    hashes, offsets = ngram.batch_trigram_hashes(vals)
    profiles_t = np.ascontiguousarray(profiles.T)
    gathered = profiles_t[hashes.astype(np.intp)]
    per_row = np.zeros((len(vals), len(langs)), dtype=np.float64)
    nonempty = offsets[:-1] < offsets[1:]
    if gathered.shape[0] and nonempty.any():
        per_row[nonempty] = np.add.reduceat(
            gathered, offsets[:-1][nonempty], axis=0, dtype=np.float64
        )[: int(nonempty.sum())]
    counts = (offsets[1:] - offsets[:-1]).astype(np.float64)
    mean_lp = per_row / np.maximum(counts, 1.0)[:, None]
    z = mean_lp * L.SHARPNESS
    z -= z.max(axis=1, keepdims=True)
    ez = np.exp(z)
    probs = ez / ez.sum(axis=1, keepdims=True)
    best = probs.argmax(axis=1)
    exp_lang = np.array(langs, dtype=object)[best]
    exp_prob = probs[np.arange(len(vals)), best]
    short = counts < L.MIN_BYTES
    exp_lang[short] = L.UNKNOWN
    exp_prob = np.where(short, 0.0, np.round(exp_prob, 3))

    assert list(out["lang"]) == list(exp_lang)
    assert np.array_equal(out["lang_prob"].to_numpy(), exp_prob)
    shared = L.score_batch(texts, langs, profiles, hashed=(hashes, offsets))
    assert list(shared["lang"]) == list(out["lang"])
    assert np.array_equal(
        shared["lang_prob"].to_numpy(), out["lang_prob"].to_numpy()
    )
