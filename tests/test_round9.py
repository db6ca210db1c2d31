"""Round-9 optimization pins: every change here altered an operator's
INTERNALS only — these tests pin output identity against the slower
construction each change replaced.

1. ``rules.clean_fastpath_scored`` (the fused remove-all filter+score
   lane) is row-identical to the general lane's Clean rows,
   ``score_turns(df).filter(label == 'Clean')``.
2. The fused first round of ``cluster.connected_components`` converges
   to the component minimum.
3. The ``_has_digit`` guard rewrite is exactly the former ``[0-9]``
   regex probe.
"""

from __future__ import annotations


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
