"""End-to-end filter/trim pipeline parity vs the golden oracle:
per-turn keep/drop F1 (must be 1.0 ≥ the 0.99 gate) and scrubbed-text
byte equality under stable (conv_id, turn_idx) ordering."""

from __future__ import annotations

from collections import defaultdict

import pytest

from quality_filter.pipeline import clean_pipeline, reassemble
from tests import oracle


def _as_convs(rows):
    convs = defaultdict(list)
    for r in rows:
        convs[r["conv_id"]].append(
            oracle.Turn(conv_id=r["conv_id"], turn_idx=r["turn_idx"], text=r["text"])
        )
    return dict(convs)


def _oracle_expect(rows, **kw):
    out = oracle.clean_pipeline(_as_convs(rows), **kw)
    expect = {}
    for conv_id, turns in out.items():
        for t in turns:
            expect[(conv_id, t.turn_idx)] = t
    return expect


def _check(spark_df, expect, check_scrub=True):
    got = {(r["conv_id"], r["turn_idx"]): r for r in spark_df.collect()}
    assert set(got.keys()) == set(expect.keys()), (
        f"survivor sets differ: only-spark={list(set(got) - set(expect))[:5]} "
        f"only-oracle={list(set(expect) - set(got))[:5]}"
    )
    for key, row in got.items():
        t = expect[key]
        assert row["label"] == t.label, (key, row["label"], t.label)
        assert row["clean_score"] == t.clean_score
        if check_scrub:
            assert row["scrubbed_text"] == t.scrubbed_text, key


MODES = [
    dict(mode="filter", labels_to_remove="all"),
    dict(mode="filter", labels_to_remove="toxic,spam,contact"),
    dict(mode="filter", score_threshold=0.9, labels_to_remove=None),
    dict(mode="filter", score_threshold=0.5, labels_to_remove=None),
    dict(mode="trim", labels_to_remove="all"),
    dict(mode="trim", labels_to_remove="interface,errors"),
    dict(mode="trim", score_threshold=0.9, labels_to_remove=None),
    dict(mode="filter", labels_to_remove="all", min_doc_length=250),
    dict(mode="trim", labels_to_remove="all", min_doc_length=250),
]


@pytest.mark.parametrize("kw", MODES, ids=[str(i) for i in range(len(MODES))])
def test_pipeline_matches_oracle(spark, transcripts, transcript_rows, kw):
    out = clean_pipeline(transcripts, **kw)
    _check(out, _oracle_expect(transcript_rows, **kw))


def test_filter_and_trim_mutually_exclusive(spark, transcripts):
    with pytest.raises(ValueError):
        clean_pipeline(transcripts, mode="both")


def test_all_bad_conversation_vanishes(spark):
    # conversation of only defects: trim → empty → dropped (P4,
    # src/filter_by_quality_label.py:50-53,188)
    rows = [
        ("bad", 0, "====================="),
        ("bad", 1, "Buy now!!! discount code"),
        ("bad", 2, "   "),
        ("mix", 0, "====================="),
        ("mix", 1, "The committee reviewed the proposal in detail and concluded "
                   "that the approach was sound and ready for implementation."),
        ("mix", 2, "$$$ %%% ###"),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    for mode in ("filter", "trim"):
        out = clean_pipeline(df, mode=mode, labels_to_remove="all")
        got = sorted((r["conv_id"], r["turn_idx"]) for r in out.collect())
        assert got == [("mix", 1)], (mode, got)


def test_trim_keeps_interior_bad_turns(spark):
    clean = ("The committee reviewed the proposal in detail and concluded that "
             "the approach was sound and ready for implementation soon.")
    rows = [
        ("c", 0, "=========="),       # leading bad → trimmed
        ("c", 1, clean),
        ("c", 2, "Buy now!!!"),        # interior bad → kept by trim
        ("c", 3, clean),
        ("c", 4, "Click Here"),        # trailing bad → trimmed
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    out = clean_pipeline(df, mode="trim", labels_to_remove="all")
    got = sorted(r["turn_idx"] for r in out.collect())
    assert got == [1, 2, 3]


def test_reassemble_order_and_bytes(spark, transcripts, transcript_rows):
    out = clean_pipeline(transcripts, mode="filter", labels_to_remove="all")
    docs = {r["conv_id"]: r["text"] for r in reassemble(out, "scrubbed_text").collect()}
    expect = oracle.clean_pipeline(
        _as_convs(transcript_rows), mode="filter", labels_to_remove="all"
    )
    want_docs = {
        cid: "\n".join(t.scrubbed_text for t in turns) for cid, turns in expect.items()
    }
    assert docs == want_docs


def test_score_threshold_boundary_is_inclusive(spark):
    # keep iff clean_score >= t (src/filter_by_quality_score.py:30): a turn
    # whose score equals the threshold exactly must survive.
    df = spark.createDataFrame(
        [("c", 0, "Thanks, that works for me."), ("c", 1, "ok")],
        "conv_id string, turn_idx int, text string",
    )
    from quality_filter.rules import score_turns

    scores = {r["turn_idx"]: r["clean_score"] for r in score_turns(df).collect()}
    t = scores[0]
    out = clean_pipeline(df, mode="filter", score_threshold=t, labels_to_remove=None)
    kept = sorted(r["turn_idx"] for r in out.collect())
    assert 0 in kept
