"""Round-9 optimization pins: every change here altered an operator's
INTERNALS only — these tests pin output identity against the slower
construction each change replaced.

1. ``ngram._batch_hashes_from_arrow`` (zero-copy Arrow-buffer hashing for
   the fused scorer UDF) is bit-identical to ``ngram._batch_hashes`` on
   adversarial inputs: nulls, empties, unicode, embedded NULs, sliced
   arrays, large_string, chunked arrays.
2. ``rules.clean_fastpath_scored`` (the fused remove-all filter+score
   lane) is row-identical to the former two-pass
   ``score_clean_survivors(filter(clean_fastpath_predicate))``.
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

    from quality_filter.rules import (
        clean_fastpath_predicate,
        clean_fastpath_scored,
        score_clean_survivors,
    )

    text = F.coalesce(F.col("text"), F.lit(""))
    two_pass = score_clean_survivors(
        transcripts.filter(clean_fastpath_predicate(text))
    )
    fused = clean_fastpath_scored(transcripts)
    assert fused.columns == two_pass.columns
    a = sorted(map(tuple, two_pass.collect()))
    b = sorted(map(tuple, fused.collect()))
    assert a == b


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


def test_srp_bucket_matches_unrolled(spark):
    """The nested-HOF srp_bucket (one array-of-plane-literals transform)
    is value-identical to the unrolled per-plane aggregate form it
    replaced — same zip_with product, same sequential double fold.  The
    40-plane case checks that bits from 31 up do not wrap: the bit
    arithmetic runs in bigint."""
    from pyspark.sql import functions as F

    from quality_filter.similarity import _dot, _hyperplanes, srp_bucket

    rng = np.random.RandomState(7)
    vecs = [[float(np.float32(x)) for x in rng.randn(16)] for _ in range(40)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "id int, v array<float>"
    )

    def unrolled(vec_col, planes):
        bits = []
        for i, plane in enumerate(planes):
            lit_plane = F.array(*[F.lit(float(x)) for x in plane])
            proj = _dot(vec_col, lit_plane)
            bits.append(F.when(proj >= 0, F.lit(1 << i)).otherwise(F.lit(0)))
        out = bits[0]
        for b in bits[1:]:
            out = out + b
        return out

    for n_bits in (6, 8, 40):
        planes = _hyperplanes(16, n_bits, seed=123)
        rows = df.select(
            srp_bucket(F.col("v"), planes).alias("a"),
            unrolled(F.col("v"), planes).alias("b"),
        ).collect()
        assert rows and all(r["a"] == r["b"] for r in rows), n_bits
        assert all(0 <= r["a"] < 1 << n_bits for r in rows), n_bits


def test_srp_n_bits_out_of_range_raises(spark):
    """Bucket ids are bigint bit sets, so the public SRP operators accept
    1..62 planes and fail loudly outside that range."""
    from quality_filter.similarity import (
        embedding_near_dups,
        lsh_ann_topk,
        semantic_dedup,
    )

    df = spark.createDataFrame([(0, [1.0, 0.0])], "vec_id long, embedding array<float>")
    for n_bits in (0, 63):
        with pytest.raises(ValueError, match="n_bits"):
            embedding_near_dups(df, dim=2, n_bits=n_bits)
        with pytest.raises(ValueError, match="n_bits"):
            semantic_dedup(df, dim=2, n_bits=n_bits)
        with pytest.raises(ValueError, match="n_bits"):
            lsh_ann_topk(df, df, dim=2, n_bits=n_bits)


def test_nearest_centroids_matches_unrolled(spark):
    """_nearest_centroids' transform-over-centroid-literals form equals
    the former unrolled array-of-structs argmin."""
    from pyspark.sql import functions as F

    from quality_filter.similarity import _nearest_centroids, _sqdist

    rng = np.random.RandomState(11)
    vecs = [[float(np.float32(x)) for x in rng.randn(8)] for _ in range(30)]
    centers = [list(map(float, rng.randn(8))) for _ in range(5)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "id int, v array<float>"
    )

    def unrolled(vec_col, n):
        ds = F.array(
            *[
                F.struct(
                    _sqdist(
                        vec_col, F.array(*[F.lit(float(x)) for x in c])
                    ).alias("d"),
                    F.lit(i).alias("cid"),
                )
                for i, c in enumerate(centers)
            ]
        )
        return F.transform(F.slice(F.array_sort(ds), 1, n), lambda s: s["cid"])

    rows = df.select(
        _nearest_centroids(F.col("v"), centers, 3).alias("a"),
        unrolled(F.col("v"), 3).alias("b"),
    ).collect()
    assert rows and all(list(r["a"]) == list(r["b"]) for r in rows)


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
