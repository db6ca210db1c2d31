"""End-to-end pre-training corpus composition (corpus.build_pretrain_corpus):
planted fixtures exercise every stage — C4 page drop, Gopher gate drop,
exact dup collapse, near-dup cluster collapse, benchmark decontamination —
and the stage accounting."""

from __future__ import annotations

GOOD_LINE = "the quick brown fox jumps to be of use and that will have come with five."
GOOD_PAGE = "\n".join(GOOD_LINE.replace("five", w) + f" extra {w} tail." for w in
                      ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta"])

# 12-word sentence shared verbatim between doc 6 and the benchmark —
# gives several 8-grams of overlap while sharing no vocabulary with
# GOOD_PAGE (so doc 6 is NOT a near-dup of doc 1).
SHARED = "the shared secret benchmark phrase tokens appear here verbatim once more today."
OTHER_PAGE = "\n".join([
    "astronomy journals describe distant nebulae with that remarkable clarity and insight.",
    "chemistry manuals list every reagent to prepare beforehand for safety checks.",
    SHARED,
    "geology surveys measure sediment layers and deposit ages of riverbanks.",
    "biology field notes record migration to nesting sites and seasonal counts.",
    "physics lectures derive conservation laws with elegant symmetry arguments today.",
])


def _corpus(spark):
    near_dup = GOOD_PAGE.replace("alpha", "alphaX")          # one-word change
    rows = [
        (1, GOOD_PAGE),                   # survivor
        (2, GOOD_PAGE),                   # exact duplicate of 1
        (3, near_dup),                    # near-duplicate of 1
        (4, "no terminal punctuation anywhere\nso zero lines survive\nall dropped"),  # C4 page drop
        (5, "\n".join(["dup dup dup line stays the same here."] * 40)),  # Gopher repetition drop
        (6, OTHER_PAGE),                  # contaminated: shares 8-grams with benchmark
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _benchmark(spark):
    return spark.createDataFrame(
        [(100, "benchmark intro line.\n" + SHARED)], "doc_id long, text string"
    )


def test_full_composition_each_stage_acts(spark):
    from quality_filter.corpus import build_pretrain_corpus

    kept, resolve_counts = build_pretrain_corpus(
        _corpus(spark),
        benchmark=_benchmark(spark),
        jaccard_threshold=0.5,
        with_counts=True,
    )
    ids = sorted(r["doc_id"] for r in kept.collect())  # the single pass
    c = {r["stage"]: r["n_docs"] for r in resolve_counts().collect()}
    assert c["input"] == 6
    assert c["after_c4"] == 5              # doc 4 dropped (no surviving lines)
    assert c["after_gopher"] == 4          # doc 5 dropped (dup-line repetition)
    assert c["after_dedup"] == 2           # 1==2 exact; 3 near-dups into 1's cluster
    assert c["after_decontaminate"] == 1   # doc 6 shares benchmark 8-grams
    assert ids == [1]
    assert kept.columns == ["doc_id", "text"]  # schema preserved


def test_c4_cleaning_feeds_downstream_text(spark):
    """The text column downstream of the C4 stage is the CLEANED text:
    a junk line inside an otherwise-good page is gone from the output."""
    from quality_filter.corpus import build_pretrain_corpus

    page = GOOD_PAGE + "\n" + "junk line no punct"
    docs = spark.createDataFrame([(1, page)], "doc_id long, text string")
    out = build_pretrain_corpus(docs, gopher=False).collect()
    assert len(out) == 1
    assert "junk line" not in out[0]["text"]
    assert out[0]["text"] == GOOD_PAGE


def test_stages_are_optional(spark):
    from quality_filter.corpus import build_pretrain_corpus

    out = build_pretrain_corpus(
        _corpus(spark), c4=False, gopher=False, jaccard_threshold=0.5
    )
    ids = sorted(r["doc_id"] for r in out.collect())
    # only dedup ran: 2 (exact dup) and 3 (near dup) collapse into 1;
    # 4, 5, 6 are not near-dups of anything and survive ungated
    assert ids == [1, 4, 5, 6]


def test_gopher_only_lane_matches_gopher_filter(spark):
    """With the C4 gate off, the Gopher gate runs alone on the raw text:
    the build's ``after_gopher`` count and survivors are those of
    ``gopher_filter`` on the raw text, deduplicated."""
    from quality_filter.cluster import dedup_pipeline
    from quality_filter.corpus import build_pretrain_corpus
    from quality_filter.textstats import gopher_filter

    docs = _corpus(spark)
    kept, resolve_counts = build_pretrain_corpus(
        docs, c4=False, gopher=True, jaccard_threshold=0.5, with_counts=True
    )
    rows = {(r["doc_id"], r["text"]) for r in kept.collect()}
    c = {r["stage"]: r["n_docs"] for r in resolve_counts().collect()}
    gated = gopher_filter(docs)
    assert c["after_gopher"] == gated.count() < c["input"]
    assert "after_c4" not in c
    hand = dedup_pipeline(gated, jaccard_threshold=0.5)
    assert rows == {(r["doc_id"], r["text"]) for r in hand.collect()}


def test_substring_passage_dedup_stage(spark):
    """substring_k folds exact-substring passage dedup into the dedup
    stage: a boilerplate passage repeated across two otherwise-unique
    documents is removed from the later one, text_col carries the
    span-cleaned text, and the schema is still preserved."""
    from quality_filter.corpus import build_pretrain_corpus

    boiler = "all rights reserved contact the webmaster for details of that policy today"
    a = "unique first document body with the usual stopwords to be of use here. " + boiler
    b = boiler + " and a second unique body that will have come with other words here."
    docs = spark.createDataFrame(
        [(1, a), (2, b)], "doc_id long, text string"
    )
    out = build_pretrain_corpus(
        docs, c4=False, gopher=False, substring_k=8
    ).collect()
    assert sorted(r["doc_id"] for r in out) == [1, 2]
    texts = {r["doc_id"]: r["text"] for r in out}
    # the passage survives in exactly one of the two documents
    assert sum(boiler in t for t in texts.values()) == 1
    assert out[0].__fields__ == ["doc_id", "text"]


def test_paragraph_dedup_stage(spark):
    """paragraph_dedup=True removes cross-document duplicate paragraphs
    after doc-level dedup; text_col carries the cleaned text."""
    from quality_filter.corpus import build_pretrain_corpus

    shared = "a shared boilerplate paragraph with the usual words of that kind."
    docs = spark.createDataFrame(
        [
            (1, shared + "\n\nunique tail of the first document here."),
            (2, shared + "\n\nunique tail of the second document there."),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["text"] for r in build_pretrain_corpus(
        docs, c4=False, gopher=False, paragraph_dedup=True
    ).collect()}
    assert shared in out[1]
    assert shared not in out[2]
    assert "unique tail of the second" in out[2]


def test_cli_corpus_subcommand(spark, tmpdir):
    """`python -m quality_filter.cli corpus` writes the gated+deduped
    table and prints per-stage counts."""
    from quality_filter.cli import main

    inp, outp = f"{tmpdir}/docs", f"{tmpdir}/out"
    docs = _corpus(spark)
    docs.write.parquet(inp)
    main([
        "corpus", "--data-path", inp, "--save-path", outp,
        "--jaccard-threshold", "0.5",
    ])
    got = spark.read.parquet(outp)
    ids = sorted(r["doc_id"] for r in got.collect())
    assert ids == [1, 6]  # no benchmark -> doc 6 survives
    assert set(got.columns) == {"doc_id", "text"}


def test_train_artifact_matches_embedded_build(spark):
    """Distributed LM training on the embedded seed corpus is
    bit-identical to the local build_artifact() — integer bincount sums
    commute across partitions."""
    import numpy as np
    from quality_filter.langid import SEED_CORPORA
    from quality_filter.perplexity import build_artifact, train_artifact

    sents = [s for ss in SEED_CORPORA.values() for s in ss]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(sents)], "i long, text string"
    ).repartition(8)
    lp3, lp2 = train_artifact(df)
    ref3, ref2 = build_artifact()
    assert np.array_equal(lp3, ref3) and np.array_equal(lp2, ref2)


def test_corpus_trained_model_scores(spark):
    """A model trained on natural text assigns lower logppl to natural
    text than to symbol junk when scoring with the trained artifact."""
    from quality_filter.langid import SEED_CORPORA
    from quality_filter.perplexity import train_artifact, with_perplexity

    sents = [s for ss in SEED_CORPORA.values() for s in ss]
    corpus = spark.createDataFrame(
        [(i, s) for i, s in enumerate(sents)], "i long, text string"
    )
    art = train_artifact(corpus)
    probe = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "@@##$$%%^^&&**(())__++~~``||@@##$$%%^^&&")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["logppl"] for r in
           with_perplexity(probe, artifact=art).collect()}
    assert got[1] < got[2]


def test_train_profiles_matches_embedded_build(spark):
    """Distributed langid training on the embedded labeled seed corpus is
    bit-identical to build_artifact(); a model trained this way predicts
    held-in languages through with_langid(artifact=...)."""
    import numpy as np
    from quality_filter.langid import SEED_CORPORA, build_artifact, train_profiles, with_langid

    rows = [(lang, s) for lang, ss in SEED_CORPORA.items() for s in ss]
    df = spark.createDataFrame(rows, "lang string, text string").repartition(8)
    langs, profiles = train_profiles(df)
    ref_langs, ref_profiles = build_artifact()
    assert langs == ref_langs
    assert np.array_equal(profiles, ref_profiles)

    probe = spark.createDataFrame(
        [(1, "the committee reviewed the proposal and agreed to proceed with it")],
        "doc_id long, text string",
    )
    got = with_langid(probe, artifact=(langs, profiles)).collect()[0]
    assert got["lang"] == "en"


def test_lm_write_read_roundtrip(spark, tmpdir):
    """write_model persists the LM as a (bucket, c3, c2) parquet table
    with NO driver collect on the training job; read_model rebuilds an
    artifact bit-identical to direct training."""
    import numpy as np
    from quality_filter.langid import SEED_CORPORA
    from quality_filter.perplexity import read_model, train_artifact, write_model

    sents = [s for ss in SEED_CORPORA.values() for s in ss]
    corpus = spark.createDataFrame(
        [(i, s) for i, s in enumerate(sents)], "i long, text string"
    )
    path = f"{tmpdir}/lm_model"
    write_model(corpus, path)
    got3, got2 = read_model(spark, path)
    ref3, ref2 = train_artifact(corpus)
    assert np.array_equal(got3, ref3) and np.array_equal(got2, ref2)


def test_resolve_counts_misuse_raises_not_deadlocks(spark):
    """ADVICE r7 #3 regression: calling resolve_counts() BEFORE any action
    has materialized the returned rows must raise (bounded wait), not
    block forever on Observation.get."""
    import pytest

    from quality_filter.corpus import build_pretrain_corpus

    _, resolve_counts = build_pretrain_corpus(
        _corpus(spark), with_counts=True
    )
    with pytest.raises(RuntimeError, match="resolve_counts"):
        resolve_counts(timeout=2.0)
