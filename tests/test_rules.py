"""Spark rule engine vs the pure-Python golden oracle: labels and scores
must match exactly (the F1 ≥ 0.99 gate of BASELINE.json — in practice 1.0)."""

from __future__ import annotations

from pyspark.sql import functions as F

from quality_filter.rules import score_turns
from tests import oracle

EDGE_TEXTS = [
    "",
    "   ",
    "\t\r",
    "a",
    "1234",
    "ok!",
    "Thanks, that works for me.",
    "line with trailing newline\n",
    "carriage\rreturn and \x0b vertical tab",
    "unicode ellipsis… and – dash",
    "ALL CAPS SHOUTING TEXT WITH MANY WORDS INSIDE IT",
    "mail me at a.b-c_d%e@sub.example.co.uk thanks",
    "call +358 (0)40 123 4567 now",
    "tel: 555-0199",
    "<br/>",
    "x = {a: 1}; y = {b: 2};",
    "see https://example.org/a?b=c#d",
    "WWW.EXAMPLE.COM",
    "All Rights Reserved",
    "J. Doe et al., vol. 7, pp. 101",
    "[42]",
    "[4242]",  # 4 digits — should NOT match the 1-3 digit citation rule
    "Click Here to continue",
    "buy now while stocks last",
    "wow!!!",
    "you are an idiot",
    "-----",
    "....",  # only 4 — below the 5-symbol run
    ".....",
    "résumé naïve façade über",
    "中文句子没有空格也应该被认为是字母",
    "半角ｶﾀｶﾅとひらがな混在",
    "a b c d e f g h i j k l m n o p",
    "99.9% of 1,000,000 users agree (p<0.05)",
]


def test_labels_and_scores_match_oracle(spark, transcripts, transcript_rows):
    got = {
        (r["conv_id"], r["turn_idx"]): (r["label"], r["clean_score"])
        for r in score_turns(transcripts).select(
            "conv_id", "turn_idx", "label", "clean_score"
        ).collect()
    }
    assert len(got) == len(transcript_rows)
    mismatches = []
    for r in transcript_rows:
        text = r["text"] or ""
        want_label = oracle.label_of(text)
        want_score = oracle.clean_score_of(text, want_label)
        gl, gs = got[(r["conv_id"], r["turn_idx"])]
        if gl != want_label or gs != want_score:
            mismatches.append((text[:60], gl, want_label, gs, want_score))
    assert not mismatches, mismatches[:10]


def test_edge_texts_match_oracle(spark):
    df = spark.createDataFrame(
        [("c0", i, t) for i, t in enumerate(EDGE_TEXTS)],
        "conv_id string, turn_idx int, text string",
    )
    rows = score_turns(df).orderBy("turn_idx").collect()
    for row in rows:
        text = EDGE_TEXTS[row["turn_idx"]]
        want_label = oracle.label_of(text)
        want_score = oracle.clean_score_of(text, want_label)
        assert row["label"] == want_label, (text, row["label"], want_label)
        assert row["clean_score"] == want_score, (text, row["clean_score"], want_score)


def test_score_is_rounded_3(spark, transcripts):
    bad = (
        score_turns(transcripts)
        .filter(F.bround("clean_score", 3) != F.col("clean_score"))
        .count()
    )
    assert bad == 0


def test_clean_long_scores_above_salvage_threshold(spark):
    from quality_filter.synth import CLEAN_LONG

    df = spark.createDataFrame(
        [("c", i, t) for i, (_, t) in enumerate(CLEAN_LONG)],
        "conv_id string, turn_idx int, text string",
    )
    langs = [lang for lang, _ in CLEAN_LONG]
    rows = score_turns(df).orderBy("turn_idx").collect()
    for r in rows:
        assert r["label"] == "Clean"
        if langs[r["turn_idx"]] != "zh":
            # CJK: dense punctuation + shorter char count keeps the score
            # in the "uncertain" band below the salvage threshold — by
            # design; the label is still Clean.
            assert r["clean_score"] > 0.9, (r["text"][:40], r["clean_score"])
