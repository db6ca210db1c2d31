"""Round-9 optimization pins: every change here altered an operator's
INTERNALS only — these tests pin output identity against the slower
construction each change replaced.

1. ``ngram._batch_hashes_from_arrow`` (zero-copy Arrow-buffer hashing for
   the fused scorer UDF) is bit-identical to ``ngram._batch_hashes`` on
   adversarial inputs: nulls, empties, unicode, embedded NULs, sliced
   arrays, large_string, chunked arrays.
2. ``rules.clean_fastpath_scored`` (the fused remove-all filter+score
   lane) is row-identical to the general lane's Clean rows,
   ``score_turns(df).filter(label == 'Clean')``.
3. ``scoring.with_scores`` (now an arrow_udf off the string buffers)
   matches the pandas ``score_batch`` reference path value-exactly.
4. The ``_has_digit`` guard rewrite is exactly the former ``[0-9]``
   regex probe.
"""

from __future__ import annotations

import random
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from quality_filter import ngram


def _random_texts(n: int, seed: int) -> list:
    rng = random.Random(seed)
    out = []
    for _ in range(n):
        r = rng.random()
        if r < 0.08:
            out.append(None)
        elif r < 0.16:
            out.append("")
        else:
            out.append(
                "".join(
                    chr(rng.randint(1, 0x10FF))
                    for _ in range(rng.randint(1, 120))
                )
            )
    return out


def _assert_same(texts, arr):
    a3, a2, ao = ngram._batch_hashes([t if t is not None else "" for t in texts])
    b3, b2, bo = ngram._batch_hashes_from_arrow(arr)
    assert np.array_equal(a3, b3)
    assert np.array_equal(a2, b2)
    assert np.array_equal(ao, bo)


@pytest.mark.parametrize("typ", [pa.string(), pa.large_string()])
def test_arrow_hashes_bit_identical(typ):
    cases = [
        [],
        [""],
        [None],
        ["a"], ["ab"], ["abc"],
        ["héllo wörld", "", None, "x", "yy", "zzz", "mixed ünïcödé"],
        ["\x00\x00embedded\x00", "tab\tnl\n", "🎉emoji🎉"],
        ["long " * 500, "s"],
        _random_texts(300, seed=9),
    ]
    for texts in cases:
        _assert_same(texts, pa.array(texts, type=typ))


def test_arrow_hashes_sliced_and_chunked():
    texts = _random_texts(200, seed=3)
    arr = pa.array(texts, type=pa.string())
    # slices exercise the non-gapless gather path (offset != 0)
    _assert_same(texts[5:150], arr.slice(5, 145))
    ch = pa.chunked_array([
        pa.array(texts[:80]), pa.array(texts[80:]),
    ])
    _assert_same(texts, ch)


def test_clean_fastpath_scored_matches_two_pass(spark, transcripts):
    from pyspark.sql import functions as F

    from quality_filter.labels import LABELS
    from quality_filter.rules import clean_fastpath_scored, score_turns

    two_pass = score_turns(transcripts).filter(F.col("label") == LABELS[0])
    fused = clean_fastpath_scored(transcripts)
    assert fused.columns == two_pass.columns
    a = sorted(map(tuple, two_pass.collect()))
    b = sorted(map(tuple, fused.collect()))
    assert a and a == b


def test_with_scores_arrow_matches_pandas_reference(spark, transcripts):
    import pandas as pd

    from quality_filter import langid as L
    from quality_filter import perplexity as X
    from quality_filter.scoring import with_scores

    rows = (
        with_scores(transcripts.select("conv_id", "turn_idx", "text"))
        .select("conv_id", "turn_idx", "text", "lang", "lang_prob", "logppl")
        .collect()
    )
    texts = pd.Series([r["text"] for r in rows])
    langs, profiles = L.build_artifact()
    lp3, lp2 = X.build_artifact()
    ref = L.score_batch(texts, langs, profiles)
    ref["logppl"] = X.score_batch(texts, lp3, lp2)
    for i, r in enumerate(rows):
        assert r["lang"] == ref["lang"][i]
        assert r["lang_prob"] == ref["lang_prob"][i]
        assert r["logppl"] == ref["logppl"][i]


def test_with_langid_and_perplexity_arrow_match_reference(spark, transcripts):
    import pandas as pd

    from quality_filter import langid as L
    from quality_filter import perplexity as X

    base = transcripts.select("conv_id", "turn_idx", "text")
    rows = X.with_perplexity(L.with_langid(base)).select(
        "text", "lang", "lang_prob", "logppl"
    ).collect()
    texts = pd.Series([r["text"] for r in rows])
    langs, profiles = L.build_artifact()
    ref = L.score_batch(texts, langs, profiles)
    lp3, lp2 = X.build_artifact()
    ref["logppl"] = X.score_batch(texts, lp3, lp2)
    for i, r in enumerate(rows):
        assert r["lang"] == ref["lang"][i]
        assert r["lang_prob"] == ref["lang_prob"][i]
        assert r["logppl"] == ref["logppl"][i]


def test_cc_fused_first_round_chain_and_empty(spark):
    """connected_components with the fused first propagation round: a
    diameter-3 chain still converges to the component minimum (exercising
    the loop past the fused round), singletons keep self-labels, an empty
    edge set yields all-singletons, and mixed edge orientations behave
    as undirected."""
    from pyspark.sql import functions as F

    from quality_filter.cluster import connected_components

    nodes = spark.range(8).select(F.col("id").alias("doc_id"))
    edges = spark.createDataFrame(
        [(1, 0), (1, 2), (2, 3), (6, 5), (5, 6)], ["a", "b"]
    )
    stats: dict = {}
    got = sorted(
        (r["doc_id"], r["cluster_rep"])
        for r in connected_components(nodes, edges, stats=stats).collect()
    )
    assert got == [
        (0, 0), (1, 0), (2, 0), (3, 0), (4, 4), (5, 5), (6, 5), (7, 7)
    ]
    assert stats["iterations"] >= 2  # chain needs rounds beyond the fused one

    empty = edges.filter(F.lit(False))
    got2 = sorted(
        (r["doc_id"], r["cluster_rep"])
        for r in connected_components(nodes, empty).collect()
    )
    assert got2 == [(i, i) for i in range(8)]


def test_has_digit_equals_regex_probe(spark):
    from pyspark.sql import functions as F

    from quality_filter.rules import _has_digit

    vals = [
        "", "abc", "a1c", "1", "٣ arabic-indic digits stay non-ascii",
        "¹superscript", "tail9", "0head", "\x0031\x00",
    ]
    df = spark.createDataFrame([(v,) for v in vals], "t string")
    got = df.select(
        _has_digit(F.col("t")).alias("a"),
        F.col("t").rlike("[0-9]").alias("b"),
    ).collect()
    for r in got:
        assert r["a"] == r["b"]
