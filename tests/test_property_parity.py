"""Property-based parity: Spark rules/scrub vs the Python oracle on
hypothesis-generated unicode text.

One Spark job per example is too slow, so examples are accumulated per
test run: hypothesis generates a batch of strings up front (deterministic
seed), and a single Spark round-trip checks them all.
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings, strategies as st

from quality_filter.labels import LABELS
from quality_filter.rules import clean_fastpath_scored, score_turns
from quality_filter.scrub import scrub_turns
from tests import oracle

# Alphabet restricted to ranges assigned since early Unicode versions:
# Python 3.11 (Unicode 14), Java 17 (Unicode 13) and RE2 classify
# *recently assigned* codepoints differently (fuzzing caught U+9FFE: a
# letter to Python, unassigned to Java's \p{L}) — a documented engine
# limitation, not a rule bug.  Long-stable ranges agree everywhere.
_STABLE = (
    list(range(0x00, 0x300))        # ASCII + Latin-1 + Latin Extended
    + list(range(0x370, 0x3FF))     # Greek
    + list(range(0x400, 0x4FF))     # Cyrillic
    + list(range(0x2000, 0x2070))   # general punctuation (incl.   etc.)
    + list(range(0x4E00, 0x9EA0))   # CJK unified (Unicode 1.0 block)
)
TEXTS = st.text(alphabet=[chr(c) for c in _STABLE], max_size=200)
SEEDY = st.lists(TEXTS, min_size=1, max_size=40)


def _collect_examples(n_batches: int = 8) -> list[str]:
    out: list[str] = []

    @settings(max_examples=n_batches, deadline=None, database=None, derandomize=True)
    @given(SEEDY)
    def gather(batch):
        out.extend(batch)

    gather()
    # plus adversarial hand-picked ones
    out += [
        "a" * 4999,
        "@" * 50,
        "\x00\x01\x02",
        "mixed  nbsp and   ls",
        "ｗｉｄｅ ｔｅｘｔ",
        "\\d [0-9]+ regex-looking (?i) input $1",
        "newline\ninside turn",
        "plain words, then a divider ===== and more plain words",
    ]
    return out


@pytest.fixture(scope="module")
def examples():
    return _collect_examples()


def test_rules_parity_on_fuzz(spark, examples):
    df = spark.createDataFrame(
        [("c", i, t) for i, t in enumerate(examples)],
        "conv_id string, turn_idx int, text string",
    )
    rows = score_turns(df).select("turn_idx", "label", "clean_score").collect()
    assert len(rows) == len(examples)
    bad = []
    for r in rows:
        t = examples[r["turn_idx"]]
        wl = oracle.label_of(t)
        ws = oracle.clean_score_of(t, wl)
        if r["label"] != wl or r["clean_score"] != ws:
            bad.append((repr(t)[:80], r["label"], wl, r["clean_score"], ws))
    assert not bad, bad[:5]


def test_clean_fastpath_parity_on_fuzz(spark, examples):
    """The fused remove-all lane keeps exactly the turns the oracle labels
    Clean, each with the oracle's undamped score."""
    df = spark.createDataFrame(
        [("c", i, t) for i, t in enumerate(examples)],
        "conv_id string, turn_idx int, text string",
    )
    got = {
        r["turn_idx"]: (r["label"], r["clean_score"])
        for r in clean_fastpath_scored(df).collect()
    }
    want = {
        i: (LABELS[0], oracle.clean_score_of(t, LABELS[0]))
        for i, t in enumerate(examples)
        if oracle.label_of(t) == LABELS[0]
    }
    assert want, "fuzz batch has no Clean turn"
    assert set(got) == set(want), [
        repr(examples[i])[:80] for i in sorted(set(got) ^ set(want))[:5]
    ]
    bad = [(repr(examples[i])[:80], got[i], want[i]) for i in want if got[i] != want[i]]
    assert not bad, bad[:5]


def test_scrub_parity_on_fuzz(spark, examples):
    df = spark.createDataFrame(
        [("c", i, t) for i, t in enumerate(examples)],
        "conv_id string, turn_idx int, text string",
    )
    rows = scrub_turns(df).select("turn_idx", "scrubbed_text").collect()
    bad = []
    for r in rows:
        t = examples[r["turn_idx"]]
        if r["scrubbed_text"] != oracle.scrub_of(t):
            bad.append((repr(t)[:80], repr(r["scrubbed_text"])[:80]))
    assert not bad, bad[:5]


def test_reseg_parity_on_fuzz(spark):
    """A4 packing fold vs the verbatim Python reference loop on generated
    sentence-ish text.  Alphabet keeps whitespace within the engine's
    frozen WS class ([ \\t\\r\\n\\x0B\\f]) — Python \\s and str.strip also
    cover Unicode whitespace (NBSP, NEL, FS), a documented divergence."""
    import re

    from quality_filter.reseg import segments_expr
    from pyspark.sql import functions as F

    def ref_segments(text: str) -> list[str]:
        sentences = re.split(r"(?<=[.!?])\s+", text)
        segments, current = [], ""
        for s in sentences:
            if len(current) + len(s) + 1 > 200:
                segments.append(current.strip())
                current = s
            else:
                current += " " + s
        if current:
            segments.append(current.strip())
        return segments

    alphabet = list("abcdefg XYZ0189.!?,;-") + ["\t", "\n", ".", "!", "?", " "]
    texts = st.text(alphabet=alphabet, max_size=600)
    collected: list[str] = []

    @settings(max_examples=60, deadline=None, database=None, derandomize=True)
    @given(texts)
    def gather(t):
        collected.append(t)

    gather()
    collected += ["", ".", "?!.", "x" * 700, ("word. " * 80).strip()]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(collected)], "i long, text string"
    )
    got = {r["i"]: r["segs"] for r in df.select(
        "i", segments_expr(F.col("text")).alias("segs")).collect()}
    bad = [
        (repr(collected[i])[:60], got[i], ref_segments(collected[i]))
        for i in range(len(collected))
        if got[i] != ref_segments(collected[i])
    ]
    assert not bad, bad[:3]
