"""Doc-shaped operators: the reference's "text + positionally aligned
parallel arrays" record (SURVEY.md §1.1, FIXTURES.md F3) handled natively
with array higher-order functions — alignment is preserved by
construction instead of by runtime asserts.

Reference semantics mirrored here:

- C1 line explode         — ``text.split("\\n")`` flattened with
  positional index (``src/classifier_inference_pipeline.py:41-50``).
- A1 argmax lookup        — ``lang[argmax(prob)]`` (``:115``; numpy argmax
  takes the FIRST maximum — ``array_position(array_max)`` matches).
- C3 doc filter           — keep line i iff label ∉ removal set, slice
  text/labels/scores (and langs in the salvage variant) by the same index
  set (``src/filter_by_quality_label.py:27-39``,
  ``src/salvage_low_quality_data.py:140-154``).
- C4 doc trim             — slice ``[start:end+1]``
  (``src/filter_by_quality_label.py:41-59``).
- alignment invariant     — ``len(text.split('\\n')) == len(labels) ==
  len(scores)`` (``src/classifier_inference_pipeline.py:120``).
- S7/P1/P3 gates          — ``robotstxt == 'allowed'``,
  ``doc_scores[0] < 5``, empty-doc drop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from quality_filter.labels import parse_labels


def doc_lang_expr(lang: Column, prob: Column) -> Column:
    """A1: ``lang[argmax(prob)]`` — first maximum wins, like np.argmax."""
    return F.element_at(lang, F.array_position(prob, F.array_max(prob)).cast("int"))


def alignment_ok(df: DataFrame) -> Column:
    """The reference's alignment assert as a checkable predicate."""
    n_lines = F.size(F.split(F.coalesce(F.col("text"), F.lit("")), "\n", -1))
    return (n_lines == F.size("line_quality_labels")) & (
        n_lines == F.size("quality_scores")
    )


def explode_document(df: DataFrame) -> DataFrame:
    """C1: one row per line with aligned per-line fields pulled from the
    parallel arrays (``posexplode(split(text, '\\n'))``)."""
    lines = F.split(F.coalesce(F.col("text"), F.lit("")), "\n", -1)
    out = df.select(
        F.col("id"),
        F.posexplode(lines).alias("line_idx", "line"),
        F.col("line_quality_labels"),
        F.col("quality_scores"),
    )
    return out.select(
        "id",
        "line_idx",
        "line",
        F.element_at("line_quality_labels", F.col("line_idx") + 1).alias("label"),
        F.element_at("quality_scores", F.col("line_idx") + 1).alias("clean_score"),
    )


def _zipped(df: DataFrame, extra: dict[str, str]) -> Column:
    """arrays_zip of lines + every parallel array (``extra`` maps
    zip-field name → column name), so one filter/slice keeps them aligned
    by construction."""
    lines = F.split(F.coalesce(F.col("text"), F.lit("")), "\n", -1)
    cols = [
        lines.alias("line"),
        F.col("line_quality_labels").alias("label"),
        F.col("quality_scores").alias("score"),
    ]
    for out_name, col_name in extra.items():
        cols.append(F.col(col_name).alias(out_name))
    return F.arrays_zip(*cols)


def _unzip(df: DataFrame, zipped: Column, extra: dict[str, str]) -> DataFrame:
    out = df.withColumn("_z", zipped)
    out = (
        out.withColumn(
            "text", F.array_join(F.transform("_z", lambda x: x["line"]), "\n")
        )
        .withColumn("line_quality_labels", F.transform("_z", lambda x: x["label"]))
        .withColumn("quality_scores", F.transform("_z", lambda x: x["score"]))
    )
    for out_name, col_name in extra.items():
        out = out.withColumn(col_name, F.transform("_z", lambda x: x[out_name]))
    return out.drop("_z")


def filter_doc_lines(df: DataFrame, labels_to_remove: str | list[str]) -> DataFrame:
    """C3 on doc-shaped rows: drop lines whose label is in the removal
    set; text, labels and scores are sliced by the same mask."""
    labels = parse_labels(labels_to_remove)
    remove = F.array(*[F.lit(l) for l in labels])
    kept = F.filter(_zipped(df, {}), lambda x: ~F.array_contains(remove, x["label"]))
    return _unzip(df, kept, {})


def trim_doc_lines(df: DataFrame, labels_to_remove: str | list[str]) -> DataFrame:
    """C4 on doc-shaped rows: slice ``[start:end+1]`` where start/end are
    the first/last non-removable line; all-bad → empty arrays and empty
    text (``src/filter_by_quality_label.py:50-53``)."""
    labels = parse_labels(labels_to_remove)
    remove = F.array(*[F.lit(l) for l in labels])
    z = _zipped(df, {})
    n = F.size(z)
    keep_idx = F.filter(
        F.sequence(F.lit(0), n - 1),
        lambda i: ~F.array_contains(remove, F.element_at(z, i + 1)["label"]),
    )
    start = F.array_min(keep_idx)
    end = F.array_max(keep_idx)
    # all-bad doc → zero-length slice of z keeps the element type
    sliced = F.when(
        F.size(keep_idx) > 0, F.slice(z, start + 1, end - start + 1)
    ).otherwise(F.slice(z, 1, 0))
    return _unzip(df, sliced, {})


def salvage_doc_filter(df: DataFrame) -> DataFrame:
    """The salvage composite on doc rows
    (``src/salvage_low_quality_data.py:183-188``): keep line i iff
    label=='Clean' ∧ score>0.9 ∧ seg_langs[i]==document_lang; slices
    text/labels/scores/langs together (``seg_langs`` rides the zip as
    field ``lg``, ``:152``)."""
    with_dl = df.withColumn("document_lang", doc_lang_expr(F.col("lang"), F.col("prob")))
    z = _zipped(with_dl, {"lg": "seg_langs"})
    kept = F.filter(
        z,
        lambda x: (x["label"] == "Clean")
        & (x["score"] > 0.9)
        & (x["lg"] == F.col("document_lang")),
    )
    return _unzip(with_dl, kept, {"lg": "seg_langs"})


def doc_gates(
    df: DataFrame,
    require_robots_allowed: bool = False,
    doc_score_max: float | None = None,
) -> DataFrame:
    """S7/P1/P3/P4 doc-level gates: the optional robots and doc-score
    gates, then the empty-doc drop.  The P2 min-length gate runs on the
    turn table (``pipeline.apply_min_doc_length``)."""
    out = df
    if doc_score_max is not None:
        out = out.filter(F.element_at("doc_scores", 1) < F.lit(doc_score_max))
    if require_robots_allowed:
        out = out.filter(F.col("robotstxt") == "allowed")
    return out.filter(F.col("text") != "")
