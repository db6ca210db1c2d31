"""Unit tests for near-dup clustering and decontamination (cluster.py),
exact-substring dedup and package shipping."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from quality_filter.cluster import (
    cluster_dedup,
    connected_components,
    decontaminate,
)


def _nodes(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "doc_id bigint")


def _edges(spark, pairs):
    return spark.createDataFrame(
        [(a, b) for a, b in pairs] or [(None, None)], "a bigint, b bigint"
    ).filter(F.col("a").isNotNull())


def test_connected_components_chain_and_singletons(spark):
    # chain 1-2-3, pair 7-5 (reversed orientation), singletons 9, 10
    comp = connected_components(
        _nodes(spark, [1, 2, 3, 5, 7, 9, 10]),
        _edges(spark, [(1, 2), (2, 3), (7, 5)]),
    )
    got = {r["doc_id"]: r["cluster_rep"] for r in comp.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 5: 5, 7: 5, 9: 9, 10: 10}


def test_connected_components_long_chain_converges(spark):
    # a 40-node path needs ~40 propagation rounds — the worst case for
    # min-label propagation; must converge (not hit max_iter) and be right
    n = 40
    comp = connected_components(
        _nodes(spark, range(n)), _edges(spark, [(i, i + 1) for i in range(n - 1)])
    )
    reps = {r["cluster_rep"] for r in comp.collect()}
    assert reps == {0}


def test_connected_components_no_edges(spark):
    comp = connected_components(_nodes(spark, [3, 4]), _edges(spark, []))
    got = {r["doc_id"]: r["cluster_rep"] for r in comp.collect()}
    assert got == {3: 3, 4: 4}


def _iterations(spark, n_nodes, pairs, max_iter=50):
    stats: dict = {}
    comp = connected_components(
        _nodes(spark, range(n_nodes)), _edges(spark, pairs),
        max_iter=max_iter, stats=stats,
    )
    reps = {r["doc_id"]: r["cluster_rep"] for r in comp.collect()}
    return stats["iterations"], reps


def test_connected_components_iterations_exclude_confirming_round(spark):
    """``iterations`` counts the rounds before the one that confirms the
    fixpoint, the fused first round included."""
    assert _iterations(spark, 2, [(0, 1)]) == (1, {0: 0, 1: 0})
    assert _iterations(spark, 2, []) == (1, {0: 0, 1: 1})
    path = [(0, 1), (1, 2), (2, 3)]
    assert _iterations(spark, 4, path) == (3, {v: 0 for v in range(4)})


def test_connected_components_max_iter_bounds_label_changing_rounds(spark):
    """``max_iter`` bounds the rounds that change a label, not the
    confirming one: a graph that settles in exactly ``max_iter`` rounds
    returns, one that needs more raises."""
    assert _iterations(spark, 2, [(0, 1)], max_iter=1) == (1, {0: 0, 1: 0})
    path = [(0, 1), (1, 2), (2, 3)]
    assert _iterations(spark, 4, path, max_iter=3)[0] == 3
    with pytest.raises(RuntimeError, match="did not converge in 2 iterations") as err:
        _iterations(spark, 4, path, max_iter=2)
    assert "algorithm" not in str(err.value)


def test_cluster_dedup_transitive_chain_one_pass(spark):
    # A~B, B~C but not A~C: one-pass cluster dedup keeps only A
    df = spark.createDataFrame(
        [(1, "x"), (2, "y"), (3, "z"), (8, "w")], "doc_id bigint, text string"
    )
    out = cluster_dedup(df, _edges(spark, [(1, 2), (2, 3)]))
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 8]


def test_decontaminate_flags_ngram_overlap(spark):
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog tonight")],
        "doc_id bigint, text string",
    )
    train = spark.createDataFrame(
        [
            # contains an 8-gram of the benchmark sentence
            (1, "prefix words the quick brown fox jumps over the lazy suffix"),
            (2, "completely unrelated content with no overlap at all here"),
            (3, "short doc"),  # under 8 words -> no grams
        ],
        "doc_id bigint, text string",
    )
    got = {
        r["doc_id"]: (r["n_overlap"], r["contaminated"])
        for r in decontaminate(train, bench).collect()
    }
    assert got[1][1] is True and got[1][0] >= 1
    assert got[2] == (0, False)
    assert got[3] == (0, False)


# -- exact-substring dedup ---------------------------------------------------

def _sub_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_substring_dedup_cross_doc(spark):
    from quality_filter.dedup import substring_dedup

    span = "alpha beta gamma delta epsilon"
    df = _sub_df(
        spark,
        [
            (1, f"start {span} end"),
            (2, f"other words here {span} tail words here"),
            (3, "nothing shared with anyone at all here"),
        ],
    )
    got = {r["doc_id"]: (r["clean_text"], r["n_removed"]) for r in
           substring_dedup(df, k=5).collect()}
    # doc 1 holds the canonical (min doc_id) occurrence -> untouched
    assert got[1] == (f"start {span} end", 0)
    assert got[2] == ("other words here tail words here", 5)
    assert got[3][1] == 0


def test_substring_dedup_within_doc_and_full_dup(spark):
    from quality_filter.dedup import substring_dedup

    span = "one two three four five"
    df = _sub_df(
        spark,
        [
            (1, f"{span} x {span}"),  # second occurrence removed
            (2, span),                # whole doc duplicates doc 1's span
        ],
    )
    got = {r["doc_id"]: (r["clean_text"], r["n_removed"]) for r in
           substring_dedup(df, k=5).collect()}
    assert got[1] == (f"{span} x", 5)
    assert got[2] == ("", 5)


def test_substring_dedup_short_docs_untouched(spark):
    from quality_filter.dedup import substring_dedup

    df = _sub_df(spark, [(1, "too short"), (2, "too short")])
    got = {r["doc_id"]: (r["clean_text"], r["n_removed"]) for r in
           substring_dedup(df, k=5).collect()}
    assert got == {1: ("too short", 0), 2: ("too short", 0)}


def test_ensure_shipped_from_zipimport_ships_the_archive(tmp_path):
    # driver importing quality_filter from a --py-files zip must register
    # THAT archive, not silently build an empty one (globs over a zip
    # pseudo-path match nothing)
    import subprocess
    import sys
    import zipfile
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / "quality_filter"
    zp = tmp_path / "qf.zip"
    with zipfile.ZipFile(zp, "w") as zf:
        for py in sorted(pkg.glob("*.py")):
            zf.write(py, arcname=f"quality_filter/{py.name}")
        for dat in sorted(pkg.glob("data/**/*.txt")):
            zf.write(dat, arcname=f"quality_filter/{dat.relative_to(pkg)}")
    code = f"""
import sys; sys.path.insert(0, {str(zp)!r})
import quality_filter.shipping as sh
class FakeSC:
    def __init__(self): self.added = []
    def addPyFile(self, p): self.added.append(p)
class FakeSpark:
    sparkContext = FakeSC()
sh.ensure_shipped(FakeSpark)
assert FakeSpark.sparkContext.added == [{str(zp)!r}], FakeSpark.sparkContext.added
# template data loads from the zip too
from quality_filter.llmprep import load_verbatim_template
assert len(load_verbatim_template('classify')) > 100
print('OK')
"""
    r = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, cwd="/tmp"
    )
    assert r.returncode == 0 and "OK" in r.stdout, r.stderr[-800:]


def test_dedup_pipeline_stages(spark):
    from quality_filter.cluster import dedup_pipeline

    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tonight")
    boiler = "subscribe to our newsletter for more updates every single day"
    rows = [
        (1, base),
        (2, base),           # exact dup of 1 -> dropped in stage 1
        (3, near),           # near dup of 1 -> clustered out in stage 2
        (4, f"completely distinct article about alpine glaciers and meltwater {boiler}"),
        (5, f"tutorial covering sourdough starters hydration ratios and ovens {boiler}"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = dedup_pipeline(df, jaccard_threshold=0.5, substring_k=5)
    got = {r["doc_id"]: r for r in out.collect()}
    assert set(got) == {1, 4, 5}
    assert got[1]["n_removed"] == 0
    # the shared boilerplate span survives only in its first occurrence
    assert boiler in got[4]["clean_text"]
    assert boiler not in got[5]["clean_text"]
