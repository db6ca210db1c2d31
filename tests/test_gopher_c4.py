"""Gopher quality rules (Rae et al. 2021 A1.1) and C4 line/page cleaning
(Raffel et al. 2020 §2.2): hand-computed fixtures for every rule, plus
edge cases (empty/None text, div-by-zero guards, case-insensitive lorem,
line-order preservation).  The fused Arrow gate is pinned to these HOF
gates in tests/test_round7.py and tests/test_round8.py."""

from __future__ import annotations

import pytest

from quality_filter.textstats import (
    C4_MIN_LINES,
    C4_MIN_WORDS_PER_LINE,
    GOPHER_MIN_STOPWORD_HITS,
    GOPHER_MIN_WORDS,
    c4_line_filter,
    with_gopher_flags,
)

GOOD = (
    "the quick brown fox jumps over the lazy dog and then runs home "
    "to be with all of that good company that it might have kept "
) * 3  # 78 words, all alphabetic, all 8 distinct stopword hits


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _gopher_map(spark, rows):
    out = with_gopher_flags(_docs(spark, rows)).collect()
    return {r["doc_id"]: r for r in out}


def test_gopher_passing_doc(spark):
    m = _gopher_map(spark, [(1, GOOD)])[1]
    assert m["word_count"] == 78
    assert 3.0 <= m["mean_word_len"] <= 10.0
    assert m["symbol_ratio"] == 0.0
    assert m["bullet_frac"] == 0.0 and m["ellipsis_frac"] == 0.0
    assert m["alpha_word_frac"] == 1.0
    assert m["stopword_hits"] == 8  # every list entry occurs in GOOD
    assert m["gopher_keep"] is True


def test_gopher_each_rule_fails_independently(spark):
    rows = [
        (1, "too short " * 5),                       # 10 words < min
        (2, " ".join(["####"] * 60)),                # symbols, no alpha
        (3, "\n".join(["- the be bullet line"] * 60)),  # bullet_frac 1.0
        (4, "\n".join(["the be trailing words..."] * 60)),  # ellipsis 1.0
        (5, " ".join(["a"] * 60)),                   # mean_word_len 1.0
        (6, " ".join(["wordsoup"] * 60)),            # 0 stopword hits
    ]
    m = _gopher_map(spark, rows)
    assert m[1]["word_count"] == 10 < GOPHER_MIN_WORDS
    # each '####' word contributes 4 '#' matches -> ratio 4.0 per word
    assert m[2]["alpha_word_frac"] == 0.0 and m[2]["symbol_ratio"] == 4.0
    assert m[3]["bullet_frac"] == 1.0
    assert m[4]["ellipsis_frac"] == 1.0
    assert m[5]["mean_word_len"] == 1.0
    assert m[6]["stopword_hits"] == 0 < GOPHER_MIN_STOPWORD_HITS
    assert not any(m[i]["gopher_keep"] for i in m)


def test_gopher_empty_and_null_text(spark):
    m = _gopher_map(spark, [(1, ""), (2, None)])
    for i in (1, 2):
        assert m[i]["word_count"] == 0
        assert m[i]["mean_word_len"] == 0.0  # div-by-zero guarded
        assert m[i]["gopher_keep"] is False


def test_gopher_stopword_hits_are_distinct_and_case_insensitive(spark):
    # 'The THE the' is ONE distinct stopword; 'of' a second
    m = _gopher_map(spark, [(1, "The THE the of xyz")])[1]
    assert m["stopword_hits"] == 2


def test_c4_line_rules(spark):
    text = "\n".join([
        "this line ends with a period.",      # kept
        "this line ends with a question?",    # kept
        'this line ends with a quote"',       # kept
        "this line has no terminal mark",     # dropped: no punctuation
        "four word line.",                    # dropped: 3 < 5 words
        "ends with bang and five words!",     # kept
    ])
    out = c4_line_filter(_docs(spark, [(1, text)])).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_lines_total"] == 6 and r["n_lines_kept"] == 4
    # surviving lines keep original order
    assert r["clean_text"].split("\n") == [
        "this line ends with a period.",
        "this line ends with a question?",
        'this line ends with a quote"',
        "ends with bang and five words!",
    ]


def test_c4_page_gates(spark):
    keepable = "\n".join(["a good line with five words."] * C4_MIN_LINES)
    rows = [
        (1, keepable),                                      # kept
        (2, "a good line with five words."),                # < min lines
        (3, keepable + "\nLorem Ipsum dolor sit amet."),    # lorem, any case
        (4, keepable + "\nvar x = { a: 1 }"),               # curly brace
        (5, None),                                          # null text
    ]
    kept = [r["doc_id"] for r in c4_line_filter(_docs(spark, rows)).collect()]
    assert kept == [1]


def test_c4_default_thresholds(spark):
    text = "one two three four.\none two three four."
    strict = c4_line_filter(_docs(spark, [(1, text)]))
    assert strict.count() == 0  # 4 words < 5
    assert C4_MIN_WORDS_PER_LINE == 5 and C4_MIN_LINES == 3


def test_c4_plan_has_no_exchange(spark):
    """Scale contract: the whole operator is scan-shaped — zero shuffles."""
    df = c4_line_filter(_docs(spark, [(1, "a b c d e.")]))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# ---------------------------------------------------------------------------
# Gopher repetition sub-rules (with_gopher_repetition)
# ---------------------------------------------------------------------------

def _rep_map(spark, rows):
    from quality_filter.textstats import with_gopher_repetition

    out = with_gopher_repetition(_docs(spark, rows)).collect()
    return {r["doc_id"]: r for r in out}


def test_repetition_hand_computed(spark):
    # 4 lines: "aa" twice (dup), "bbbb", "cc" -> dup_line_frac 1/4,
    # chars 2+2+4+2=10, distinct chars 2+4+2=8 -> char frac 2/10
    m = _rep_map(spark, [(1, "aa\naa\nbbbb\ncc")])[1]
    assert m["dup_line_frac"] == 0.25
    assert m["dup_line_char_frac"] == 0.2
    assert m["dup_para_frac"] == 0.0  # one paragraph, no blank lines
    assert m["repetition_keep"] is True


def test_repetition_paragraph_grain(spark):
    # three paragraphs, two identical -> dup_para_frac 1/3; the para
    # texts are "x.\ny." (4+1 chars incl inner newline) twice + "zzzz."
    text = "x.\ny.\n\nx.\ny.\n\nzzzz."
    m = _rep_map(spark, [(1, text)])[1]
    assert m["dup_para_frac"] == pytest.approx(1 / 3)
    assert m["dup_para_char_frac"] == pytest.approx(5 / 15)
    # paragraph dup over threshold 0.30 -> rejected
    assert m["repetition_keep"] is False


def test_repetition_empty_lines_excluded(spark):
    # blank lines are paragraph separators, never counted as dup lines
    m = _rep_map(spark, [(1, "a.\n\n\n\nb.\n\n\n\nc.")])[1]
    assert m["dup_line_frac"] == 0.0
    assert m["dup_para_frac"] == 0.0
    assert m["repetition_keep"] is True


def test_repetition_degenerate_docs(spark):
    m = _rep_map(spark, [(1, ""), (2, None), (3, "all same\nall same\nall same")])
    for i in (1, 2):
        assert m[i]["dup_line_frac"] == 0.0 and m[i]["repetition_keep"] is True
    assert m[3]["dup_line_frac"] == pytest.approx(2 / 3)
    assert m[3]["dup_line_char_frac"] == pytest.approx(16 / 24)
    assert m[3]["repetition_keep"] is False


def test_repetition_plan_has_no_exchange(spark):
    from quality_filter.textstats import with_gopher_repetition

    df = with_gopher_repetition(_docs(spark, [(1, "a\nb")]))
    assert "Exchange" not in df._jdf.queryExecution().executedPlan().toString()


# ---------------------------------------------------------------------------
# Composed gate + property pin against a pure-Python reference
# ---------------------------------------------------------------------------

def test_gopher_filter_composition(spark):
    rows = [
        (1, GOOD),                                   # passes everything
        (2, "short."),                               # fails quality rules
        (3, "\n".join([GOOD[:60] + "."] * 40)),      # repetitious
    ]
    from quality_filter.textstats import gopher_filter

    kept = [r["doc_id"] for r in gopher_filter(_docs(spark, rows)).collect()]
    assert kept == [1]
    # doc 3 passes the quality rules and fails on repetition alone
    no_rep = with_gopher_flags(_docs(spark, rows)).filter("gopher_keep")
    assert sorted(r["doc_id"] for r in no_rep.collect()) == [1, 3]
    assert gopher_filter(_docs(spark, rows)).columns == ["doc_id", "text"]


def _py_gopher(text):
    """Pure-Python transliteration of both metric sets (reference for the
    property pin; alphabet below avoids Java-vs-Python regex divergences:
    no exotic whitespace, trims are space-only)."""
    import re

    text = text or ""
    words = [w for w in re.split(r"\s+", text) if w != ""]
    wc1 = max(1, len(words))
    lines_all = text.split("\n")
    nl1 = max(1, len(lines_all))
    stop = ["the", "be", "to", "of", "and", "that", "have", "with"]
    low = [w.lower() for w in words]
    lines_ne = [ln for ln in lines_all if ln != ""]
    paras = [p for p in re.split(r"\n{2,}", text) if p != ""]

    def dup(units):
        seen, dis = [], []
        for u in units:
            if u not in dis:
                dis.append(u)
        n, chars = len(units), sum(len(u) for u in units)
        chars_d = sum(len(u) for u in dis)
        return (
            (n - len(dis)) / max(1, n),
            (chars - chars_d) / max(1, chars),
        )

    dl, dlc = dup(lines_ne)
    dp, dpc = dup(paras)
    return dict(
        word_count=len(words),
        mean_word_len=sum(len(w) for w in words) / wc1,
        symbol_ratio=len(re.findall(r"#|\.\.\.|…", text)) / wc1,
        bullet_frac=sum(bool(re.search(r"^[-*•]", ln.lstrip(" "))) for ln in lines_all) / nl1,
        ellipsis_frac=sum(bool(re.search(r"(\.\.\.|…)$", ln.rstrip(" "))) for ln in lines_all) / nl1,
        alpha_word_frac=sum(any(c.isalpha() for c in w) for w in words) / wc1,
        stopword_hits=sum(s in low for s in stop),
        dup_line_frac=dl, dup_line_char_frac=dlc,
        dup_para_frac=dp, dup_para_char_frac=dpc,
    )


def test_gopher_metrics_property_pin(spark):
    """200 seeded random documents over an adversarial alphabet (unicode
    letters, bullets, ellipses, planted dup lines, blank-line paragraph
    breaks): every metric of both operators equals the pure-Python
    reference exactly (all ratios are int/int IEEE divisions)."""
    import random

    rng = random.Random(20260817)
    vocab = ["the", "of", "and", "données", "中文", "naïve", "x9", "####",
             "word", "…", "...", "-lead", "•dot", "mix#ed", "a"]
    docs = []
    for d in range(200):
        lines = []
        for _ in range(rng.randint(0, 12)):
            ws = [rng.choice(vocab) for _ in range(rng.randint(0, 9))]
            ln = " ".join(ws)
            if rng.random() < 0.2:
                ln = "- " + ln
            if rng.random() < 0.2:
                ln += rng.choice(["...", "…", ".", "!"])
            lines.append(ln)
        if lines and rng.random() < 0.4:           # planted duplicate line
            lines.append(rng.choice(lines))
        txt = "\n".join(lines)
        if rng.random() < 0.3:                     # paragraph break(s)
            txt = txt.replace("\n", "\n\n", 1)
        docs.append((d, txt))

    from quality_filter.textstats import with_gopher_flags, with_gopher_repetition

    got = {
        r["doc_id"]: r
        for r in with_gopher_repetition(with_gopher_flags(_docs(spark, docs))).collect()
    }
    for d, txt in docs:
        exp = _py_gopher(txt)
        for k, v in exp.items():
            assert got[d][k] == v, (d, k, got[d][k], v, repr(txt)[:120])


def test_gates_compose_with_structured_streaming(spark, tmpdir):
    """The gates are stateless projections, so they drop into a
    readStream→writeStream plan unchanged: streaming output over a file
    source equals the batch gate on the same files (incremental corpus
    gating needs no new operator)."""
    from quality_filter.textstats import c4_line_filter, gopher_filter

    inp, outp, ckpt = f"{tmpdir}/in", f"{tmpdir}/out", f"{tmpdir}/ckpt"
    rows = [(1, GOOD), (2, "short."), (3, GOOD + "\nmore of the same text to be kept here.")]
    batch = spark.createDataFrame(rows, "doc_id long, text string")
    batch.write.mode("append").parquet(inp)

    stream = spark.readStream.schema("doc_id long, text string").parquet(inp)
    gated = c4_line_filter(gopher_filter(stream))
    assert gated.isStreaming
    (gated.writeStream.format("parquet")
        .option("path", outp).option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start().awaitTermination())

    got = sorted(r["doc_id"] for r in spark.read.parquet(outp).collect())
    want = sorted(
        r["doc_id"] for r in c4_line_filter(gopher_filter(batch)).collect()
    )
    assert got == want


def test_gates_linear_on_giant_document(spark):
    """The O(n)-per-doc claim: a ~100k-word, 8k-line document flows
    through ALL gate metrics in one pass with correct values (the
    dup-fraction fold is array_distinct + sums, never a pair scan)."""
    from quality_filter.textstats import with_gopher_flags, with_gopher_repetition

    n_lines = 8_000  # 96k words — giant, but under Gopher's own 100k cap
    lines = [f"unique line {i} with the usual stopwords to be of use here." for i in range(n_lines)]
    lines[n_lines // 2] = lines[0]          # exactly one duplicate line
    text = "\n".join(lines)
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    r = with_gopher_repetition(with_gopher_flags(df)).collect()[0]
    assert r["word_count"] == n_lines * 12
    assert r["dup_line_frac"] == 1 / n_lines
    assert r["gopher_keep"] is True and r["repetition_keep"] is True


# ---------------------------------------------------------------------------
# Corpus-wide paragraph dedup (dedup.paragraph_dedup): hand-computed
# outputs of the operator, which groups paragraphs by a 128-bit hash key
# ---------------------------------------------------------------------------

def test_paragraph_dedup_first_occurrence_wins(spark):
    from quality_filter.dedup import paragraph_dedup

    rows = [
        (1, "shared para one.\n\nunique to one."),
        (2, "unique to two.\n\nshared para one.\n\nshared para one."),
        (3, ""),
        (4, None),
    ]
    out = {r["doc_id"]: r for r in paragraph_dedup(
        spark.createDataFrame(rows, "doc_id long, text string")).collect()}
    # doc 1 (lowest id) keeps the shared paragraph; doc 2 loses BOTH
    # its cross-doc copy and its within-doc repeat
    assert out[1]["clean_text"] == "shared para one.\n\nunique to one."
    assert out[1]["n_paras_kept"] == 2 == out[1]["n_paras_total"]
    assert out[2]["clean_text"] == "unique to two."
    assert out[2]["n_paras_kept"] == 1 and out[2]["n_paras_total"] == 3
    for i in (3, 4):
        assert out[i]["n_paras_total"] == 0 and out[i]["clean_text"] == ""


def test_paragraph_dedup_preserves_order(spark):
    from quality_filter.dedup import paragraph_dedup

    text = "\n\n".join(f"paragraph number {i} stays." for i in range(10))
    out = paragraph_dedup(
        spark.createDataFrame([(1, text)], "doc_id long, text string")
    ).collect()[0]
    assert out["clean_text"] == text  # all unique -> byte-identical round trip
