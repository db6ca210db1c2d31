"""Round-8 additions: the fused corpus gate's Spark output (the
Arrow-compute batch kernel) must be COLUMN-EXACT against the r7 row
kernel run on the driver over the same texts (the row kernel stays in
the tree as the parity oracle), including the exact-fallback lanes —
exotic Unicode whitespace, unicode-letter tokens without ASCII letters,
adjacent letterless tokens, empty/None/ws-only docs."""

from __future__ import annotations

import random


def _adversarial_docs():
    rng = random.Random(20260818)
    vocab = [
        "the", "of", "and", "données", "中文", "naïve", "x9", "####",
        "word", "…", "...", "-lead", "•dot", "mix#ed", "a", "be", "to",
        "that", "have", "with", "{", "lorem", "IPSUM", "9.9", "9!9",
    ]
    docs = []
    for d in range(400):
        lines = []
        for _ in range(rng.randint(0, 14)):
            ws = [rng.choice(vocab) for _ in range(rng.randint(0, 11))]
            ln = " ".join(ws)
            if rng.random() < 0.2:
                ln = "- " + ln
            if rng.random() < 0.1:
                ln = "  " + ln + "   "
            if rng.random() < 0.6:
                ln += rng.choice(["...", "…", ".", "!", '?"', ". ", "… "])
            lines.append(ln)
        if lines and rng.random() < 0.4:
            lines.append(rng.choice(lines))
        if lines and rng.random() < 0.3:
            lines = lines + lines[:3]  # planted duplicate lines
        txt = "\n".join(lines)
        if rng.random() < 0.3:
            txt = txt.replace("\n", "\n\n", 1)
        docs.append((d, txt))
    good = "the be to of and that have with plenty of words here fine."
    docs += [
        (900, None), (901, ""), (902, "   \n  \n "),
        (903, "\n".join(f"line {i} has {good}" for i in range(8))),
        (904, "Lorem IPSUM hides in the page of the and be that have words."),
        (905, "json = { of the and be that have words here too. }"),
        (906, "\n".join(["- the be of and that with have bullet line."] * 8)),
        # adjacent letterless tokens (the rare-class count must not let
        # them consume each other's delimiter)
        (907, "\n".join(["9 9 9 ## the of and be that have 42 fine."] * 5)),
        # unicode-letter tokens with no ASCII letter → isalpha fallback
        (908, "\n".join(["中文 中文 the of and be that have naïve fine."] * 5)),
        # punctuation-only unicode tokens (must stay NON-alpha)
        (909, "\n".join(["… « » the of and be that have words fine."] * 5)),
        # exotic Unicode whitespace → exact row-kernel lane
        (910, "\n".join(
            f"word{i} the be\u00a0to of and that have with plenty words fine."
            for i in range(6))),
        (911, "\n".join(
            f"word{i} \u3000the be to of and that have with plenty words fine."
            for i in range(6))),
        (912, "\n".join(
            f"word{i} the\u2028be to of and that have with plenty words fine."
            for i in range(6))),
        # tabs/vertical ws inside lines (ASCII ws set, fast lane)
        (913, "\n".join(
            f"word{i} the\tbe to\x0bof and\fthat have with plenty words fine."
            for i in range(6))),
    ]
    return docs


def _row_kernel(df):
    """doc_id → (clean_text, c4_keep, gopher_keep) from the per-doc row
    kernel, run on the driver over the same texts."""
    from quality_filter.textstats import _fused_gate_row

    return {r["doc_id"]: _fused_gate_row(r["text"], True) for r in df.collect()}


def _spark_gate(df):
    from quality_filter.textstats import fused_gate_arrow

    cols = ["doc_id", "clean_text", "c4_keep", "gopher_keep"]
    return {
        r["doc_id"]: tuple(r)[1:]
        for r in fused_gate_arrow(df).select(cols).collect()
    }


def test_fused_gate_batch_equals_row_kernel(spark):
    df = spark.createDataFrame(_adversarial_docs(), "doc_id long, text string")
    row = _row_kernel(df)
    batch = _spark_gate(df)
    assert row.keys() == batch.keys()
    diffs = [i for i in row if row[i] != batch[i]]
    assert not diffs, f"batch kernel diverges from row kernel on: {diffs[:10]}"
    # sanity: the fixture exercises both verdicts and both lanes
    assert any(gk for _, _, gk in row.values())
    assert any(not c4 for _, c4, _ in row.values())
    assert row[910][2] and row[913][2]


def test_fused_gate_batch_equals_row_on_synth(spark):
    from quality_filter.synth import synth_documents

    docs = synth_documents(spark, 1500, seed=11).select("doc_id", "text")
    row = _row_kernel(docs)
    assert _spark_gate(docs) == row and len(row) == 1500
