"""Round-7 pins: trainer label-column handling, cardinality guard,
single-pass corpus accounting."""

import numpy as np
import pytest
from pyspark.sql import functions as F


def test_train_profiles_nondefault_lang_col(spark):
    """ADVICE r6 (medium): train_profiles used to crash for any
    lang_col != 'lang' (hardcoded pandas column name vs schema string).
    Any label column name must produce the identical artifact."""
    from quality_filter.langid import SEED_CORPORA, train_profiles

    rows = [(lang, s) for lang, ss in SEED_CORPORA.items() for s in ss]
    base = spark.createDataFrame(rows, "lang string, text string").repartition(4)
    langs_a, prof_a = train_profiles(base)
    renamed = base.withColumnRenamed("lang", "language")
    langs_b, prof_b = train_profiles(renamed, lang_col="language")
    assert langs_a == langs_b
    assert np.array_equal(prof_a, prof_b)


def test_train_profiles_label_cardinality_guard(spark):
    """ADVICE r6: a garbage high-cardinality label column must fail loudly
    BEFORE the model-sized collect, via the shared driver-pull guard."""
    from quality_filter.guards import MAX_DRIVER_CARDINALITY
    from quality_filter.langid import train_profiles

    junk = spark.range(MAX_DRIVER_CARDINALITY + 1).select(
        F.concat(F.lit("l"), F.col("id")).alias("lang"),
        F.lit("some text").alias("text"),
    )
    with pytest.raises(ValueError, match="label vocabulary"):
        train_profiles(junk)


def _acc_instrumented_corpus(spark, acc):
    """The planted corpus world wrapped in a pass-through mapInPandas that
    bumps an accumulator once per input row scanned — counts how many
    times the pipeline traverses the input."""
    import sys
    sys.path.insert(0, str(__import__("pathlib").Path(__file__).parent))
    from test_corpus import _corpus

    raw = _corpus(spark)

    def bump(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    return raw.mapInPandas(bump, raw.schema)


def test_corpus_with_counts_is_single_pass(spark):
    """VERDICT r6 #2: with_counts used to run one full-lineage .count()
    per stage (~5× work).  Stage accounting is now observe-based: the
    with_counts build must traverse the input EXACTLY as many times as
    the plain build, and resolving the counts must launch no new scan."""
    import sys
    sys.path.insert(0, str(__import__("pathlib").Path(__file__).parent))
    from test_corpus import _benchmark

    from quality_filter.corpus import build_pretrain_corpus

    acc_a = spark.sparkContext.accumulator(0)
    plain = build_pretrain_corpus(
        _acc_instrumented_corpus(spark, acc_a),
        benchmark=_benchmark(spark),
        jaccard_threshold=0.5,
    )
    plain.collect()
    baseline_scans = acc_a.value

    acc_b = spark.sparkContext.accumulator(0)
    kept, resolve_counts = build_pretrain_corpus(
        _acc_instrumented_corpus(spark, acc_b),
        benchmark=_benchmark(spark),
        jaccard_threshold=0.5,
        with_counts=True,
    )
    kept.collect()
    counts = {r["stage"]: r["n_docs"] for r in resolve_counts().collect()}
    assert acc_b.value == baseline_scans, (
        f"with_counts traversed the input {acc_b.value} rows vs "
        f"{baseline_scans} for the plain build"
    )
    assert counts == {
        "input": 6, "after_c4": 5, "after_gopher": 4,
        "after_dedup": 2, "after_decontaminate": 1,
    }


def _fused_vs_hof(spark, docs):
    """Survivor sets of (id, cleaned text) through both gate impls."""
    from quality_filter.textstats import (
        c4_line_filter,
        fused_gate_arrow,
        gopher_filter,
    )

    c4 = c4_line_filter(docs)
    hof = gopher_filter(
        c4.withColumn("text", F.col("clean_text")).select("doc_id", "text")
    )
    fused = (
        fused_gate_arrow(docs)
        .filter(F.col("c4_keep") & F.col("gopher_keep"))
        .select("doc_id", F.col("clean_text").alias("text"))
    )
    a = {(r["doc_id"], r["text"]) for r in hof.collect()}
    b = {(r["doc_id"], r["text"]) for r in fused.collect()}
    return a, b


def test_fused_gate_parity_adversarial(spark):
    """fused_gate_arrow == the HOF C4→Gopher composition on the same
    adversarial alphabet as the r6 property pin (unicode letters,
    bullets, ellipses, planted dup lines, paragraph breaks) plus edge
    rows (None, empty, whitespace, lorem/brace pages, bullet pages that
    survive C4)."""
    import random

    rng = random.Random(20260818)
    vocab = ["the", "of", "and", "données", "中文", "naïve", "x9", "####",
             "word", "…", "...", "-lead", "•dot", "mix#ed", "a", "be",
             "to", "that", "have", "with"]
    docs = []
    for d in range(200):
        lines = []
        for _ in range(rng.randint(0, 14)):
            ws = [rng.choice(vocab) for _ in range(rng.randint(0, 11))]
            ln = " ".join(ws)
            if rng.random() < 0.2:
                ln = "- " + ln
            if rng.random() < 0.6:
                ln += rng.choice(["...", "…", ".", "!", '?"'])
            lines.append(ln)
        if lines and rng.random() < 0.4:
            lines.append(rng.choice(lines))
        txt = "\n".join(lines)
        if rng.random() < 0.3:
            txt = txt.replace("\n", "\n\n", 1)
        docs.append((d, txt))
    docs += [
        (900, None), (901, ""), (902, "   \n  \n "),
        (903, "\n".join(
            f"line {i} has the be to of and that have with plenty words fine."
            for i in range(8)
        )),
        (904, "Lorem IPSUM hides in the page of the and be that have words."),
        (905, "json = { of the and be that have words here too. }"),
        (906, "\n".join(["- the be of and that with have bullet line."] * 8)),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    a, b = _fused_vs_hof(spark, df)
    assert a == b
    assert 903 in {i for i, _ in a}  # sanity: something survives


def test_fused_gate_parity_synth_corpus(spark):
    from quality_filter.synth import synth_documents

    docs = synth_documents(spark, 1500, seed=11).select("doc_id", "text")
    a, b = _fused_vs_hof(spark, docs)
    assert a == b and len(a) > 1000


def test_corpus_build_fused_gate_matches_hof_composition(spark):
    """The fused gate pass build_pretrain_corpus runs with both gates on
    gives the same survivors AND the same per-stage counts as the hand
    composition of its oracle operators: c4_line_filter → gopher_filter
    → dedup_pipeline."""
    import sys
    sys.path.insert(0, str(__import__("pathlib").Path(__file__).parent))
    from test_corpus import _corpus

    from quality_filter.cluster import dedup_pipeline
    from quality_filter.corpus import build_pretrain_corpus
    from quality_filter.textstats import c4_line_filter, gopher_filter

    docs = _corpus(spark)
    kept, resolve = build_pretrain_corpus(
        docs, jaccard_threshold=0.5, with_counts=True
    )
    fused = {(r["doc_id"], r["text"]) for r in kept.collect()}
    counts = {r["stage"]: r["n_docs"] for r in resolve().collect()}

    c4 = c4_line_filter(docs).select("doc_id", F.col("clean_text").alias("text"))
    gated = gopher_filter(c4).select("doc_id", "text")
    hand = dedup_pipeline(gated, jaccard_threshold=0.5)
    assert fused == {(r["doc_id"], r["text"]) for r in hand.collect()}
    assert counts == {
        "input": docs.count(),
        "after_c4": c4.count(),
        "after_gopher": gated.count(),
        "after_dedup": len(fused),
    }


def test_fused_gate_composes_with_streaming(spark, tmp_path):
    """fused_gate_arrow (mapInPandas) is a stateless projection, so it
    composes with Structured Streaming unchanged; the streamed survivor
    set must equal the batch survivor set on the same input."""
    from quality_filter.synth import synth_documents
    from quality_filter.textstats import fused_gate_arrow

    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    docs = synth_documents(spark, 400, seed=23).select("doc_id", "text")
    docs.write.mode("overwrite").parquet(inp)

    stream = spark.readStream.schema("doc_id long, text string").parquet(inp)
    gated = (
        fused_gate_arrow(stream)
        .filter(F.col("c4_keep") & F.col("gopher_keep"))
        .select("doc_id", "clean_text")
    )
    q = (
        gated.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        (r["doc_id"], r["clean_text"])
        for r in spark.read.parquet(out).collect()
    }
    batch = {
        (r["doc_id"], r["clean_text"])
        for r in fused_gate_arrow(spark.read.parquet(inp))
        .filter(F.col("c4_keep") & F.col("gopher_keep"))
        .select("doc_id", "clean_text")
        .collect()
    }
    assert streamed == batch and len(batch) > 250
