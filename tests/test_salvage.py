"""Salvage pipeline parity: Clean ∧ score>0.9 ∧ lang==document_lang with
doc pre/post length gates (``src/salvage_low_quality_data.py:176-259``),
on input that carries an upstream ``lang``/``lang_prob`` and on raw
transcripts that the pipeline scores itself."""

from __future__ import annotations

from collections import defaultdict

import pytest

from quality_filter.pipeline import salvage_pipeline
from quality_filter.scoring import with_scores
from tests import oracle


@pytest.fixture(scope="module")
def langid_transcripts(spark, transcripts):
    df = with_scores(transcripts).drop("logppl").cache()
    df.count()
    return df


def _oracle_salvage(rows, mode, min_doc_length):
    convs = defaultdict(list)
    for r in rows:
        convs[r["conv_id"]].append(
            oracle.Turn(
                conv_id=r["conv_id"],
                turn_idx=r["turn_idx"],
                text=r["text"],
                lang=r["lang"],
                lang_prob=r["lang_prob"],
            )
        )
    expect = {}
    for conv_id, turns in convs.items():
        turns = sorted(turns, key=lambda t: t.turn_idx)
        # doc pre-gate on ORIGINAL text length
        if len(oracle.doc_text(turns)) < min_doc_length:
            continue
        oracle.score(turns)
        doc_lang = oracle.document_lang(turns)
        if mode == "filter":
            keep = oracle.keep_flags(turns, salvage_doc_lang=doc_lang)
            survivors = oracle.filter_mode(turns, keep)
        else:
            # reference salvage trim bounds on the label alone
            # (src/salvage_low_quality_data.py:191-203)
            keep = [t.label == "Clean" for t in turns]
            survivors = oracle.trim_mode(turns, keep)
        survivors = oracle.min_doc_length_filter(survivors, min_doc_length)
        for t in survivors:
            expect[(conv_id, t.turn_idx)] = t
    return expect


def _assert_matches_oracle(src, langid_rows, mode, min_len):
    expect = _oracle_salvage(langid_rows, mode, min_len)
    got = {
        (r["conv_id"], r["turn_idx"]): r
        for r in salvage_pipeline(src, mode=mode, min_doc_length=min_len).collect()
    }
    assert set(got) == set(expect), (
        len(got),
        len(expect),
        list(set(got) ^ set(expect))[:6],
    )
    for key, row in got.items():
        assert row["label"] == expect[key].label
        assert row["clean_score"] == expect[key].clean_score
        assert (row["lang"], row["lang_prob"]) == (expect[key].lang, expect[key].lang_prob)


@pytest.mark.parametrize("mode", ["filter", "trim"])
@pytest.mark.parametrize("min_len", [1, 250])
def test_salvage_matches_oracle(spark, langid_transcripts, mode, min_len):
    """Input that already carries ``lang``/``lang_prob``."""
    rows = langid_transcripts.collect()
    _assert_matches_oracle(langid_transcripts, rows, mode, min_len)


@pytest.mark.parametrize("mode", ["filter", "trim"])
@pytest.mark.parametrize("min_len", [1, 250])
def test_salvage_raw_input_matches_oracle(
    spark, transcripts, langid_transcripts, mode, min_len
):
    """Raw transcripts, as the CLI reads them: the pipeline scores the
    language itself.  The oracle takes ``lang``/``lang_prob`` from
    ``with_scores`` on the same rows."""
    rows = langid_transcripts.collect()
    _assert_matches_oracle(transcripts, rows, mode, min_len)


@pytest.mark.parametrize("mode", ["filter", "trim"])
def test_salvage_plans_one_exchange(spark, transcripts, langid_transcripts, mode):
    """Every window of salvage partitions on conv_id and shares one
    exchange of the turn rows, whether the pipeline scores the language
    itself or reads it from the input."""
    for src in (transcripts, langid_transcripts):
        plan = (
            salvage_pipeline(src, mode=mode)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert plan.count("Exchange hashpartitioning") == 1, plan


@pytest.mark.parametrize("present", ["lang", "lang_prob"])
def test_salvage_rejects_half_present_language(spark, langid_transcripts, present):
    """One language column without the other is a loud error that names
    the missing column, not an unresolved column deep in the plan."""
    missing = {"lang", "lang_prob"} - {present}
    half = langid_transcripts.drop(*missing)
    with pytest.raises(ValueError, match=f"no '{missing.pop()}'"):
        salvage_pipeline(half)


def test_document_lang_skew_safe_plan_and_result(spark):
    """One 20k-turn conversation (heavy skew): the window attach gives
    every turn its conversation's dominant language, and its plan reads
    the input once (windows, no join back to a second evaluation)."""
    from quality_filter.pipeline import with_document_lang

    rows = [("big", i, "en" if i % 3 else "de", 0.9 if i % 3 else 0.8)
            for i in range(20_000)]
    rows += [("small", 0, "fr", 1.0), ("small", 1, "fr", 0.9)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, lang string, lang_prob double"
    )
    out = with_document_lang(df)
    # big: en mass = 13333*0.9 ≈ 12000 > de mass ≈ 5333*0.8
    got = {(r["conv_id"], r["turn_idx"], r["document_lang"]) for r in out.collect()}
    expect = {(r["conv_id"], r["turn_idx"],
               "en" if r["conv_id"] == "big" else "fr")
              for r in df.collect()}
    assert got == expect
    # AQE finalizes the physical plan only after execution of THIS frame
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan, plan
    assert "Join" not in plan, plan


def test_salvage_keeps_only_clean_high_conf_lang_matched(spark, langid_transcripts):
    out = salvage_pipeline(langid_transcripts, mode="filter", min_doc_length=1)
    bad = out.filter("label != 'Clean' OR clean_score <= 0.9").count()
    assert bad == 0


def test_document_lang_null_conv_id_one_group(spark):
    """NULL conv_id rows form one group: they share one document_lang,
    decided by their summed mass, apart from the other conversations."""
    from quality_filter.pipeline import with_document_lang

    rows = [(None, 0, "en", 0.9), (None, 1, "de", 0.5), ("x", 0, "fr", 1.0)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, lang string, lang_prob double"
    )
    got = sorted(
        ((r["conv_id"], r["turn_idx"], r["document_lang"])
         for r in with_document_lang(df).collect()),
        key=str,
    )
    # en mass 0.9 > de 0.5
    assert got == sorted([(None, 0, "en"), (None, 1, "en"), ("x", 0, "fr")], key=str)
