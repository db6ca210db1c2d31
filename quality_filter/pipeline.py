"""The core cleaning pipelines: keep-flag computation, filter mode, trim
mode, salvage mode, min-length post-filter, and conversation reassembly.

Reference semantics (all re-expressed as declarative Catalyst plans):

- filter mode  — keep turn iff label ∉ removal-set
  (``src/filter_by_quality_label.py:71-75``) or score ≥ threshold
  (``src/filter_by_quality_score.py:28-35``, note ``>=``).
- trim mode    — drop leading/trailing bad turns only; interior bad turns
  survive (``src/filter_by_quality_label.py:77-90``,
  ``src/filter_by_quality_score.py:37-56``); all-bad conversation → empty
  → dropped (``src/filter_by_quality_label.py:188``).
- salvage mode — filter: keep iff label == 'Clean' AND clean_score > 0.9
  (strict) AND turn lang == document lang
  (``src/salvage_low_quality_data.py:183-188``); trim: edge-bound on the
  label ALONE (``quality_labels[i] != "Clean"``, ``:191-203`` — no score
  or lang condition); doc pre-gate ``len(text) >= min_doc_length``
  (``src/salvage_low_quality_data.py:246``; its ``doc_scores[0] < 5``
  half needs a document score, which the transcript schema lacks — see
  ``docmodel.doc_gates``), post-gate ``len(text) >= min_doc_length``
  (``:219``).
- empty-doc drop — P4 (``src/filter_by_quality_label.py:188``).

Per-conversation aggregates (trim bounds, document length, document
language) are attached to every turn with windows over ``conv_id``, and
the upstream subtree — the scorer UDF included — is evaluated exactly
once in the same pass as the rows it attaches to.  Each cleaning
pipeline shuffles the turn rows at most once: every window partitions on
``conv_id`` (the document-language mass on ``(conv_id, lang)``, which a
``conv_id`` partitioning satisfies), so they share one exchange.  Spark's
WindowExec spills giant groups to disk, so skewed conversations are
slow-but-safe.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from quality_filter.labels import LABELS, parse_labels
from quality_filter.rules import barrier_filter, clean_fastpath_scored, score_turns
from quality_filter.scrub import scrub_turns

SALVAGE_SCORE_THRESHOLD = 0.9  # strict > (src/salvage_low_quality_data.py:185)
DEFAULT_MIN_DOC_LENGTH = 250   # src/salvage_low_quality_data.py:274


# --------------------------------------------------------------------------
# keep-flag predicates (pure Column expressions)
# --------------------------------------------------------------------------

def keep_by_label(labels_to_remove: str | list[str]) -> Column:
    """C3 label variant: keep iff label not in removal set."""
    labels = parse_labels(labels_to_remove)
    return ~F.col("label").isin(labels)


def keep_by_score(threshold: float) -> Column:
    """C3 score variant: keep iff clean_score >= threshold (note ``>=``,
    ``src/filter_by_quality_score.py:30``)."""
    return F.col("clean_score") >= F.lit(threshold)


def keep_by_salvage() -> Column:
    """C3 salvage variant: Clean AND score strictly > 0.9 AND lang match
    (``src/salvage_low_quality_data.py:185-186``)."""
    return (
        (F.col("label") == "Clean")
        & (F.col("clean_score") > F.lit(SALVAGE_SCORE_THRESHOLD))
        & (F.col("lang") == F.col("document_lang"))
    )


# --------------------------------------------------------------------------
# per-conversation aggregate attachment
# --------------------------------------------------------------------------

def _attach_per_conv(df: DataFrame, aggs: dict[str, Column]) -> DataFrame:
    """Attach per-conv aggregate columns to every turn row (a window over
    ``conv_id``; NULL conv_id rows form one group).

    ``aggs`` maps output column name → a *single* aggregate function call
    (compose arithmetic after attachment — window functions can only wrap
    one aggregate at a time).
    """
    w = Window.partitionBy("conv_id")
    out = df
    for name, expr in aggs.items():
        out = out.withColumn(name, expr.over(w))
    return out


def _attach_doc_len(df: DataFrame) -> DataFrame:
    """Attach ``_doc_len`` = length of '\\n'.join(texts) per conversation =
    sum(len(turn)) + count - 1."""
    with_parts = _attach_per_conv(
        df,
        {
            "_sum_len": F.sum(F.length(F.coalesce(F.col("text"), F.lit("")))),
            "_cnt": F.count(F.lit(1)),
        },
    )
    return with_parts.withColumn(
        "_doc_len", F.col("_sum_len") + F.col("_cnt") - F.lit(1)
    ).drop("_sum_len", "_cnt")


def with_document_lang(df: DataFrame) -> DataFrame:
    """Per-conversation dominant language: argmax over summed per-turn
    ``lang_prob`` — the turn-grain analog of
    ``lang[argmax(prob)]`` (``src/classifier_inference_pipeline.py:115``).
    Deterministic tiebreak: highest mass, then lexicographically largest
    lang code.

    One linear pass — sum mass over (conv_id, lang), then
    max(struct(mass, lang)) over conv_id.  The upstream subtree (the
    scorer UDF included) is evaluated exactly ONCE.  On input already
    partitioned by ``conv_id`` (salvage runs it after its pre-gate window)
    both windows reuse that exchange, and their ``(conv_id, lang)`` sort
    serves the ``conv_id`` windows after them; on unpartitioned input the
    two windows shuffle once each.
    """
    w1 = Window.partitionBy("conv_id", "lang")
    w2 = Window.partitionBy("conv_id")
    massed = df.withColumn("_lang_mass", F.sum("lang_prob").over(w1))
    return massed.withColumn(
        "document_lang",
        F.max(F.struct(F.col("_lang_mass"), F.col("lang"))).over(w2)["lang"],
    ).drop("_lang_mass")


# --------------------------------------------------------------------------
# modes
# --------------------------------------------------------------------------

def apply_filter_mode(df: DataFrame, keep: Column) -> DataFrame:
    """Filter mode: drop every turn failing ``keep``.  Narrow, no shuffle."""
    return df.filter(keep)


def apply_trim_mode(df: DataFrame, keep: Column) -> DataFrame:
    """Trim mode: keep turns between the first and last keep-worthy turn;
    interior bad turns survive.  Conversations with zero keep-worthy turns
    vanish (NULL bounds fail the BETWEEN).

    ``min/max(CASE WHEN keep THEN turn_idx END)`` per conversation,
    attached by a window, then a single BETWEEN filter.
    """
    flagged = df.withColumn("_keep", keep)
    kept_idx = F.when(F.col("_keep"), F.col("turn_idx"))
    bounds = {
        "_first_keep": F.min(kept_idx),
        "_last_keep": F.max(kept_idx),
    }
    with_bounds = _attach_per_conv(flagged, bounds)
    return (
        with_bounds.filter(
            F.col("turn_idx").between(F.col("_first_keep"), F.col("_last_keep"))
        )
        .drop("_keep", "_first_keep", "_last_keep")
    )


def apply_min_doc_length(df: DataFrame, min_doc_length: int) -> DataFrame:
    """Drop conversations whose reassembled text would be shorter than
    ``min_doc_length`` chars.  Reassembled length of n turns =
    sum(len(turn)) + (n-1) joiner newlines — exactly
    ``len("\\n".join(lines))`` (``src/salvage_low_quality_data.py:219``).

    ``min_doc_length <= 1`` also drops empty conversations (P4) because a
    conversation with zero rows has already vanished and a single empty
    turn has doc_len 0.
    """
    with_len = _attach_doc_len(df)
    return with_len.filter(F.col("_doc_len") >= F.lit(min_doc_length)).drop("_doc_len")


def drop_empty_convs(df: DataFrame) -> DataFrame:
    """P4: drop conversations whose reassembled text is empty ("" join of
    all-empty turns still counts as non-empty if any turn has chars or
    there are ≥2 turns — matches ``if processed["text"]`` truthiness on
    the joined string)."""
    with_len = _attach_doc_len(df)
    return with_len.filter(F.col("_doc_len") > 0).drop("_doc_len")


# --------------------------------------------------------------------------
# reassembly
# --------------------------------------------------------------------------

def reassemble(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Rebuild one row per conversation: ``text`` = '\\n'.join(turns) under
    stable (conv_id, turn_idx) order — A3
    (``src/filter_by_quality_label.py:35``) without a window: sort the
    collected (turn_idx, text) structs *inside* each group, so the only
    shuffle is the groupBy itself.  A giant conversation is one group;
    its output row is the whole conversation text under any layout."""
    sorted_structs = F.array_sort(
        F.collect_list(F.struct(F.col("turn_idx"), F.col(text_col).alias("t")))
    )
    return df.groupBy("conv_id").agg(
        F.array_join(
            F.transform(sorted_structs, lambda s: F.coalesce(s["t"], F.lit(""))), "\n"
        ).alias("text"),
        F.count(F.lit(1)).alias("n_turns"),
    )


# --------------------------------------------------------------------------
# end-to-end pipelines
# --------------------------------------------------------------------------

def clean_pipeline(
    df: DataFrame,
    mode: str = "filter",
    labels_to_remove: str | list[str] | None = "all",
    score_threshold: float | None = None,
    min_doc_length: int = 1,
    scrub: bool = True,
) -> DataFrame:
    """Flagship pipeline: score → keep flag → filter/trim → min-length →
    scrub.  Output stays turn-grained (one row per surviving turn) with
    ``label``, ``clean_score``, ``scrubbed_text`` columns; call
    ``reassemble`` for doc-grained output.

    Exactly one of ``labels_to_remove`` / ``score_threshold`` selects the
    predicate; ``mode`` must be 'filter' or 'trim' (mutually exclusive,
    mirroring ``src/filter_by_quality_label.py:67-68``).
    """
    if mode not in ("filter", "trim"):
        raise ValueError("Must choose either 'trim' or 'filter'")
    if score_threshold is None and labels_to_remove is None:
        raise ValueError("one of labels_to_remove / score_threshold is required")
    remove_all = (
        score_threshold is None
        and set(parse_labels(labels_to_remove)) == set(LABELS[1:])
    )
    if mode == "filter" and remove_all:
        # cheap-filter-first rewrite: when every non-Clean label is removed,
        # keep ⟺ the turn would label Clean — filter on that BEFORE
        # labelling; survivors are Clean by construction, so the label is a
        # literal and no row ever builds the label CASE chain.
        out = clean_fastpath_scored(df)
    else:
        scored = score_turns(df)
        if score_threshold is not None:
            keep = keep_by_score(score_threshold)
        else:
            keep = keep_by_label(labels_to_remove)
        if mode == "filter":
            # pushdown barrier: without it Catalyst substitutes the full
            # label/score expression tree into the filter predicate below
            # the projection, evaluating the regex cascade twice per row
            # (measured 19 vs 9 RLIKE nodes, ~17 % slower).  r9: the
            # barrier column is folded into the predicate itself
            # (rules.barrier_filter) — a bare barrier column is pruned
            # as unreferenced and the pushdown then happens anyway.
            out = barrier_filter(scored, keep)
        else:
            out = apply_trim_mode(scored, keep)
    if min_doc_length > 1:
        out = apply_min_doc_length(out, min_doc_length)
    elif not (mode == "filter" and remove_all):
        out = drop_empty_convs(out)
    # else: the empty-conversation gate is provably a no-op — every
    # survivor of the remove-all filter is Clean, and an empty/whitespace
    # turn always labels "Formatting, Style & Errors" (n_nonspace == 0),
    # so surviving conversations have ≥1 non-empty turn ⇒ doc_len > 0.
    # Skipping it removes the pipeline's ONLY shuffle: the whole job is a
    # single narrow stage.
    if scrub:
        out = scrub_turns(out)
    return out


def salvage_pipeline(
    df: DataFrame,
    mode: str = "filter",
    min_doc_length: int = DEFAULT_MIN_DOC_LENGTH,
) -> DataFrame:
    """The salvage path (``src/salvage_low_quality_data.py:176-259``)
    over the transcript schema: score → doc length pre-gate → Clean ∧
    score>0.9 ∧ lang==document_lang → filter/trim → min-length post-gate.

    The transcript schema carries no document score, so the reference's
    ``doc_scores[0] < 5`` pre-gate is not applied here; on doc-shaped
    records it is ``docmodel.doc_gates(doc_score_max=)``.

    Per-turn ``lang``/``lang_prob`` columns already present (an upstream
    language ID, as the reference consumes) are used as they are; when
    both are absent ``scoring.with_scores`` computes them.  One without
    the other is a ``ValueError``.

    The scorer UDF runs before every window: Spark's Arrow UDF node does
    not pass on its child's partitioning, so a UDF between two windows
    would make the windows after it shuffle again.  The pre-gate,
    document-language, trim and post-gate windows then share one
    ``conv_id`` exchange — at the price of scoring the turns of
    conversations the pre-gate drops.
    """
    if mode not in ("filter", "trim"):
        raise ValueError("Must choose either 'trim' or 'filter'")
    lang_cols = {"lang", "lang_prob"} & set(df.columns)
    if len(lang_cols) == 1:
        (missing,) = {"lang", "lang_prob"} - lang_cols
        raise ValueError(
            f"salvage input has {lang_cols.pop()!r} but no {missing!r}: "
            "pass both language columns or neither"
        )
    scored = score_turns(df)
    if not lang_cols:
        from quality_filter.scoring import with_scores

        scored = with_scores(scored).drop("logppl")
    # doc pre-gate: original doc length >= min_doc_length.  Its window
    # is the first, so the exchange partitions on conv_id alone.
    scored = with_document_lang(apply_min_doc_length(scored, min_doc_length))
    if mode == "filter":
        out = apply_filter_mode(scored, keep_by_salvage())
    else:
        # the reference's salvage TRIM path bounds on the label alone —
        # no score or lang condition (``src/salvage_low_quality_data.py:
        # 191-203`` loops on ``quality_labels[i] != "Clean"`` only); the
        # composite predicate applies to filter mode only (``:186-188``)
        out = apply_trim_mode(scored, F.col("label") == "Clean")
    out = apply_min_doc_length(out, min_doc_length)
    return out.drop("document_lang")
