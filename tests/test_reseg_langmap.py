"""A4 resegmentation parity vs a verbatim Python port of the reference
packing loop (src/label_lines_with_LLM.py:144-168), plus A9 language-map
lookups."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from quality_filter.langmap import LANGUAGE_NAMES, lang_name_expr
from quality_filter.reseg import resegment, segments_expr


def _reference_segments(text: str) -> list[str]:
    """Line-for-line port of the reference's split_long_line_into_segments
    (lookbehind split; the engine's sentinel split is equivalent)."""
    sentences = re.split(r"(?<=[.!?])\s+", text)
    segments = []
    current_segment = ""
    for sentence in sentences:
        if len(current_segment) + len(sentence) + 1 > 200:
            segments.append(current_segment.strip())
            current_segment = sentence
        else:
            current_segment += " " + sentence
    if current_segment:
        segments.append(current_segment.strip())
    return segments


LONG_SENT = "word " * 50 + "end."          # ~254 chars, no interior boundary
CASES = [
    "",                                     # empty text
    "short line with no boundary at all",   # no [.!?]
    "One. Two! Three? Four.",               # many tiny sentences
    LONG_SENT.strip(),                      # single over-long sentence
    (LONG_SENT + "Tail sentence here. And another one follows!").strip(),
    ("Lead in. " + LONG_SENT).strip(),      # over-long in the middle
    " \t leading whitespace. then more text after the boundary.",
    ("S. " * 120).strip(),                  # packs many sentences per segment
    "Ends exactly at boundary" + "x" * 175 + ". next one.",
]


def test_segments_match_reference(spark):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(CASES)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["segs"]
        for r in df.select(
            "doc_id", segments_expr(F.col("text")).alias("segs")
        ).collect()
    }
    for i, t in enumerate(CASES):
        assert got[i] == _reference_segments(t), (i, t[:60], got[i])


def test_resegment_rows(spark):
    df = spark.createDataFrame([(7, CASES[4])], "doc_id long, text string")
    rows = resegment(df).orderBy("seg_idx").collect()
    expect = _reference_segments(CASES[4])
    assert [r["segment"] for r in rows] == expect
    assert [r["seg_idx"] for r in rows] == list(range(len(expect)))


def test_lang_name_lookup(spark):
    df = spark.createDataFrame(
        [("eng_Latn",), ("zho_Hans",), ("xxx_Latn",), (None,)], "code string"
    )
    out = {r["code"]: r["name"] for r in df.select(
        "code", lang_name_expr(F.col("code")).alias("name")
    ).collect()}
    assert out["eng_Latn"] == "English"
    assert out["zho_Hans"] == "Simplified Chinese"
    assert out["xxx_Latn"] == "Unknown"
    assert out[None] == "Unknown"
    # every reference code resolves
    codes = list(LANGUAGE_NAMES)
    df2 = spark.createDataFrame([(c,) for c in codes], "code string")
    n = df2.select(lang_name_expr(F.col("code")).alias("n")).filter(
        "n = 'Unknown'"
    ).count()
    assert n == 0


def test_llm_output_strip_matches_python(spark):
    """A7 wrapper strip must equal Python str.strip(" `\\njson")."""
    from quality_filter.llmprep import strip_llm_wrapper

    cases = [
        "```json\n{\"a\": 1}\n```",
        "  {\"a\": 1}  ",
        "json{\"a\": 1}json",
        "no wrapper at all",     # ends with chars in the set ('n', 'o'!)
        "{\"label\": \"Clean\"}",
        "",
        "jsonjson",
    ]
    df = spark.createDataFrame([(i, c) for i, c in enumerate(cases)],
                               "i long, raw string")
    got = {r["i"]: r["s"] for r in df.select(
        "i", strip_llm_wrapper(F.col("raw")).alias("s")).collect()}
    for i, c in enumerate(cases):
        assert got[i] == c.strip(" `\njson"), (c, got[i])


def test_llm_parse_and_prompt(spark):
    from quality_filter.llmprep import (
        CLASSIFY_TEMPLATE,
        classify_prompt_expr,
        parse_llm_output,
    )

    df = spark.createDataFrame(
        [(0, "```json\n{'label': 'Clean', 'score': 2,}\n```"),
         (1, "total garbage }{")],
        "i long, raw string",
    )
    out = {r["i"]: r for r in df.select(
        "i", parse_llm_output(F.col("raw"), "label string, score int").alias("p")
    ).select("i", "p.label", "p.score").collect()}
    assert (out[0]["label"], out[0]["score"]) == ("Clean", 2)
    assert out[1]["label"] is None  # best-effort: unparseable -> NULL

    # embedded apostrophes survive quote promotion (ADVICE r2): only
    # quotes adjacent to structural chars are promoted
    apos = df.sparkSession.createDataFrame(
        [(0, "{'note': 'it's fine', 'score': 3}")], "i long, raw string"
    ).select(
        parse_llm_output(F.col("raw"), "note string, score int").alias("p")
    ).select("p.note", "p.score").first()
    assert apos["note"] == "it's fine" and apos["score"] == 3

    # the whole prompt is the template with the language and the
    # numbered line blocks substituted in
    lines = ["first line", "100% sure", ""]
    p = spark.createDataFrame(
        [(lines, "English")],
        "lines array<string>, language string",
    ).select(classify_prompt_expr(F.col("lines"), F.col("language")).alias("t")
    ).first()["t"]
    blocks = "".join(f"Line {i + 1}: {t}\n------\n" for i, t in enumerate(lines))
    assert p == CLASSIFY_TEMPLATE % ("English", blocks)
    assert "document in English" in p


def test_verbatim_prompt_templates_byte_parity(spark):
    """The shipped template data files must render BYTE-IDENTICALLY to the
    reference's prompt functions (src/prompts.py:1-217), both through the
    Python loader and through the Catalyst template_expr path — a
    production labeling replay is byte-compatible."""
    import importlib.util
    import os

    import pytest as _pytest

    ref_path = "/root/reference/src/prompts.py"
    if not os.path.exists(ref_path):
        _pytest.skip("reference repo not present")
    spec = importlib.util.spec_from_file_location("ref_prompts", ref_path)
    ref = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(ref)

    from quality_filter.llmprep import (
        classify_prompt_verbatim_expr,
        generate_labels_prompt_verbatim_expr,
        load_verbatim_template,
        synonyms_prompt_verbatim_expr,
    )

    lines = ["first line", "second ------ tricky", ""]
    fmt = "".join(f"Line {i+1}: {l}\n------\n" for i, l in enumerate(lines))

    # python-side parity (pure string substitution)
    assert load_verbatim_template("classify").replace(
        "__LANGUAGE__", "English").replace("__LINES__", fmt
    ) == ref.classify(fmt, "English")
    assert load_verbatim_template("generate_labels").replace(
        "__LANGUAGE__", "Finnish").replace("__LINES__", fmt).replace(
        "__VOCAB__", "- Spam\n- Toxic"
    ) == ref.generate_labels(fmt, "- Spam\n- Toxic", "Finnish")
    assert load_verbatim_template("synonyms").replace(
        "__GROUP_NAME__", "Spam").replace("__SYNONYMS__", "junk\nads"
    ) == ref.synonyms("Spam", "junk\nads")

    # catalyst-side parity (the expression a labeling job would run)
    df = spark.createDataFrame(
        [(lines, "English", "- Spam\n- Toxic", "Spam", "junk\nads")],
        "lines array<string>, language string, vocab string, "
        "group_name string, syns string",
    )
    row = df.select(
        classify_prompt_verbatim_expr(F.col("lines"), F.col("language")).alias("c"),
        generate_labels_prompt_verbatim_expr(
            F.col("lines"), F.col("vocab"), F.col("language")).alias("g"),
        synonyms_prompt_verbatim_expr(F.col("group_name"), F.col("syns")).alias("s"),
    ).first()
    assert row["c"] == ref.classify(fmt, "English")
    assert row["g"] == ref.generate_labels(fmt, "- Spam\n- Toxic", "English")
    assert row["s"] == ref.synonyms("Spam", "junk\nads")
