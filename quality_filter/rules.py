"""Heuristic line/turn rules as pure Catalyst expressions.

This is the native re-expression of what the reference delegates to an
XLM-R sequence classifier (``src/classifier_inference_pipeline.py:37-124``):
each turn gets a ``label`` from the fixed 9-label taxonomy plus a
``clean_score`` = rule-based P(Clean) rounded to 3 decimals with banker's
rounding, matching ``round(score, 3)`` at
``src/classifier_inference_pipeline.py:88`` (Spark ``bround`` == Python
``round`` == HALF_EVEN).

Everything here is a single Catalyst projection — no UDFs, fully
whole-stage-codegen'd, and trivially parallel at any scale (no shuffle).
Rule precedence is frozen (first match wins); the Python golden oracle
(``tests/oracle.py``) implements the same order, and the two are
bit-identical.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from quality_filter import patterns as P
from quality_filter.labels import LABELS

# (label, regex) in frozen precedence order; regex rules first, then the
# ratio-based "Formatting, Style & Errors" fallback, then Clean.
REGEX_RULES: list[tuple[str, str]] = [
    ("Contact & Identification Information",
     P.ci(f"({P.EMAIL}|{P.PHONE}|{P.CONTACT_MARKER})")),
    ("Technical Specifications & Metadata",
     P.ci(f"({P.HTML_TAG}|{P.TECH_MARKER})")),
    ("Legal & Administrative Content", P.ci(P.LEGAL)),
    ("Bibliographical & Citation References", P.ci(P.CITATION)),
    ("Navigation & Interface Elements",
     P.ci(f"({P.NAVIGATION}|{P.URL})")),
    ("Promotional & Spam Content", P.ci(P.SPAM)),
    ("Offensive or Inappropriate Content", P.ci(P.TOXIC)),
]

FORMATTING_LABEL = "Formatting, Style & Errors"

# Ratio thresholds for the formatting fallback rule.
SYMBOL_RATIO_MAX = 0.3
ALPHA_RATIO_MIN = 0.2
MIN_CHARS_FOR_ALPHA_RULE = 4

# clean_score formula weights (frozen; mirrored in tests/oracle.py).
W_ALPHA, W_LEN, W_SYM = 0.6, 0.3, 0.1
LEN_NORM = 120


def feature_columns(text: Column) -> dict[str, Column]:
    """Character-class counts/ratios used by the formatting rule and score.

    Letter counting uses Unicode-aware ``\\p{L}`` (one regex pass); digit
    and whitespace counts use ``translate`` (a plain char-map pass, several
    times cheaper than a regex scan) — provably identical to counting the
    ASCII classes ``[0-9]`` / ``[ \\t\\r\\n\\x0B\\f]`` the oracle uses.
    """
    n_chars = F.length(text)
    # length-diff of a regexp_replace beats regexp_count (which
    # materializes every single-char match into an array per row);
    # matching letter RUNS removes the same characters with one regex
    # iteration per run instead of per letter (~2.5× on mostly-letter
    # text, identical count)
    n_letter = n_chars - F.length(F.regexp_replace(text, r"\p{L}+", ""))
    n_digit = n_chars - F.length(F.translate(text, "0123456789", ""))
    n_space = n_chars - F.length(F.translate(text, " \t\r\n\x0b\f", ""))
    n_nonspace = n_chars - n_space
    n_symbol = n_chars - n_letter - n_digit - n_space
    alpha_ratio = n_letter.cast("double") / F.greatest(F.lit(1), n_nonspace)
    symbol_ratio = n_symbol.cast("double") / F.greatest(F.lit(1), n_chars)
    return {
        "n_chars": n_chars,
        "n_nonspace": n_nonspace,
        "alpha_ratio": alpha_ratio,
        "symbol_ratio": symbol_ratio,
    }


# --- per-rule two-level screen ---------------------------------------------
# Every rule regex is gated behind its OWN sound necessary condition
# (lowercase substring probes + tiny anchored/char-class regexes), so a
# row that trips one rule's guard confirms against THAT rule's regex
# only — never a monolithic all-rules alternation.  The previous design
# (one combined screen → one combined ~60 µs/row confirm NFA) charged
# every screen-passing row the full alternation; per-rule gating cuts
# the confirm cost to the guard-hit slice of each rule (measured ~2×
# on the fast-path filter).  Soundness audit per guard: every top-level
# alternative of the rule's pattern either contains one of the guard
# literals after ASCII case folding (Java (?i) folds ASCII only, so
# lower(text).contains(lit) is implied by any case-insensitive literal
# match) or implies the guard's small regex, which runs on LOWERED text
# so the (?i) fold applies to it too (all-letter 32-hex, X-*: headers).
# Unsoundness would break oracle-parity + fuzz tests.
_GUARD_LITERALS: dict[str, list[str]] = {
    # EMAIL ⇒ '@'; PHONE ⇒ digit (small rx); CONTACT_MARKER alternatives
    # ('email us'/'e-mail us' ⇒ 'mail us')
    "Contact & Identification Information":
        ["@", "contact us", "call us", "tel:", "fax:", "mail us"],
    # HTML_TAG ⇒ '<'; ``` ⇒ '`'; [{};]{2,} ⇒ one of '{' '}' ';';
    # text/html|utf-8|charset=|http/1.x literals; hex32 ⇒ digit or the
    # all-letter run (small rx); ^(user-agent|…|x-*): ⇒ anchored small rx
    "Technical Specifications & Metadata":
        ["<", "`", "{", "}", ";", "text/html", "utf-8", "charset=", "http"],
    # '(c) 2024' ⇒ '(c)'; 'gdpr compliance' ⇒ 'gdpr'
    "Legal & Administrative Content":
        ["all rights reserved", "terms of service", "terms and conditions",
         "privacy policy", "cookie policy", "legal notice", "disclaimer",
         "gdpr", "(c)", "©"],
    # '[12]' ⇒ '['; 'doi:5' ⇒ 'doi:'; 'pp. 3'/'vol.4' ⇒ 'pp.'/'vol.'
    "Bibliographical & Citation References":
        ["et al.", "doi:", "[", "pp.", "vol.", "isbn ", "ibid."],
    # 'home ?page' et sim. need both spaced and joined forms; URL ⇒
    # 'http'/'www.'
    "Navigation & Interface Elements":
        ["home page", "homepage", "log in", "login", "sign up", "signup",
         "next page", "previous page", "click here", "main menu",
         "site map", "sitemap", "back to top", "skip to content",
         "read more", "search results", "breadcrumb", "navigation bar",
         "toggle menu", "http", "www."],
    "Promotional & Spam Content":
        ["buy now", "limited time offer", "discount code", "free shipping",
         "subscribe now", "casino", "jackpot", "winner winner",
         "claim your prize", "100% free", "act now",
         "best price guaranteed", "order today", "!!!"],
    # 'you (are|re) an idiot' ⇒ 'idiot'; 'total moron' ⇒ 'moron'
    "Offensive or Inappropriate Content":
        ["idiot", "moron", "stupid fool", "i hate you", "shut up forever",
         "worthless loser", "garbage person", "trash human"],
}
# Small per-rule regexes, run on LOWERED text so the rules' (?i) ASCII
# fold is honoured (the pre-r6 screen ran them case-sensitively on raw
# text — an uppercase 'X-FOO:' header or all-uppercase letter-only hex32
# could slip past the screen and mis-label as Clean).  r9: the [0-9]
# alternative is split out as a ``translate`` char-map digit test
# (_has_digit — exactly "a digit is present", several times cheaper than
# a per-row regex scan) and short-circuits BEFORE the residual regex,
# so only digit-free guard-miss rows ever pay it.
_GUARD_SMALL: dict[str, str | None] = {
    # [0-9] → _has_digit; no residual regex
    "Contact & Identification Information": None,
    "Technical Specifications & Metadata":
        r"(^(user-agent|content-type|accept-encoding|x-[a-z\-]+):"
        r"|\b[a-f]{32}\b)",
}
# rules whose guard includes the digit-presence test (the former [0-9])
_GUARD_DIGIT = frozenset(_GUARD_SMALL)


def _has_digit(lowered: Column) -> Column:
    return F.length(lowered) != F.length(
        F.translate(lowered, "0123456789", "")
    )


def _rule_hits(text: Column, lowered: Column) -> list[tuple[str, Column]]:
    """(label, hit) per REGEX_RULES entry in frozen precedence order;
    hit = sound cheap guard AND the rule's own regex."""
    hits = []
    for label, pattern in REGEX_RULES:
        guard = F.lit(False)
        for lit in _GUARD_LITERALS[label]:
            guard = guard | lowered.contains(lit)
        if label in _GUARD_DIGIT:
            guard = guard | _has_digit(lowered)
        small = _GUARD_SMALL.get(label)
        if small is not None:
            guard = guard | lowered.rlike(small)
        hits.append((label, guard & text.rlike(pattern)))
    return hits


def _defect_hit(text: Column, lowered: Column | None = None) -> Column:
    """True iff ANY labelling regex (or the symbol-run formatting
    trigger) matches — ∃-equivalent to the old combined-alternation
    scan, evaluated as per-rule guarded probes.  Pass a materialized
    ``lowered`` column when available: an inline ``lower(text)`` in the
    guards' short-circuit OR chains is re-evaluated per probe (codegen
    CSE skips conditional branches)."""
    if lowered is None:
        lowered = F.lower(text)
    hit = F.lit(False)
    for _, rule_hit in _rule_hits(text, lowered):
        hit = hit | rule_hit
    return hit | text.rlike(P.SYMBOL_RUN)


def _feature_cols_from(df: DataFrame, text: Column) -> DataFrame:
    """Materialize the four feature counts as real columns.

    Keeping them as named intermediate columns (instead of inlining the
    expression tree at every use site) matters twice over: each count is
    computed once per row, and every downstream operator's generated code
    stays under the JVM JIT's ~8 KB compile limit — a single inlined
    label+score expression tree pushed into a Filter blows that limit and
    the whole stage silently runs interpreted (~3× slower; measured).
    CollapseProject will not re-inline them because they are non-cheap and
    multiply referenced.
    """
    n_chars = F.length(text)
    return (
        df.withColumn("_n_chars", n_chars)
        .withColumn(
            "_n_letter",
            n_chars - F.length(F.regexp_replace(text, r"\p{L}+", "")),
        )
        .withColumn("_n_digit", n_chars - F.length(F.translate(text, "0123456789", "")))
        .withColumn("_n_space", n_chars - F.length(F.translate(text, " \t\r\n\x0b\f", "")))
    )


def _feats_from_cols() -> dict[str, Column]:
    n_chars = F.col("_n_chars")
    n_nonspace = n_chars - F.col("_n_space")
    n_symbol = n_chars - F.col("_n_letter") - F.col("_n_digit") - F.col("_n_space")
    return {
        "n_chars": n_chars,
        "n_nonspace": n_nonspace,
        "alpha_ratio": F.col("_n_letter").cast("double")
        / F.greatest(F.lit(1), n_nonspace),
        "symbol_ratio": n_symbol.cast("double") / F.greatest(F.lit(1), n_chars),
    }


def _ratio_formatting(feats: dict[str, Column]) -> Column:
    return (
        (feats["n_nonspace"] == 0)
        | (feats["symbol_ratio"] > F.lit(SYMBOL_RATIO_MAX))
        | (
            (feats["n_chars"] >= F.lit(MIN_CHARS_FOR_ALPHA_RULE))
            & (feats["alpha_ratio"] < F.lit(ALPHA_RATIO_MIN))
        )
    )


def clean_fastpath_predicate(
    text: Column, lowered: Column | None = None
) -> Column:
    """True iff the label would be Clean — as a compact standalone
    predicate (per-rule guarded probes + char-map counts).  Lets pipelines
    filter *before* scoring when the removal set is every non-Clean label
    (the cheap-filter-first rewrite anticipated in SURVEY.md §7.2):
    pushed into the scan, it never materializes labels for dropped rows.
    ``lowered``: see ``_defect_hit``."""
    feats = feature_columns(text)
    ratio_formatting = (
        (feats["n_nonspace"] == 0)
        | (feats["symbol_ratio"] > F.lit(SYMBOL_RATIO_MAX))
        | (
            (feats["n_chars"] >= F.lit(MIN_CHARS_FOR_ALPHA_RULE))
            & (feats["alpha_ratio"] < F.lit(ALPHA_RATIO_MIN))
        )
    )
    return ~_defect_hit(text, lowered) & ~ratio_formatting


def barrier_filter(df: DataFrame, keep: Column) -> DataFrame:
    """Filter that provably evaluates HERE — above whatever projections
    ``df`` carries — instead of being pushed to the scan.

    A bare nondeterministic barrier column does not survive: nothing
    references it, so ColumnPruning removes it before the pushdown
    check and PushDownPredicates then substitutes every computed column
    the predicate touches into a scan-level filter (re-evaluating them
    per row, and below any repartition — observed undoing both the
    fused clean lane and the scan spread, r9).  Folding the barrier
    into the predicate itself — ``keep OR (id < 0)``, vacuously false
    since monotonically_increasing_id() is non-negative — makes the
    filter nondeterministic (never pushed) and the column referenced
    (never pruned).  The OR short-circuits, so kept rows never evaluate
    the barrier term."""
    barred = df.withColumn("_qf_barrier", F.monotonically_increasing_id())
    return barred.filter(keep | (F.col("_qf_barrier") < 0)).drop("_qf_barrier")


def clean_fastpath_scored(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Fused remove-all lane (r9): filter to Clean rows AND score them in
    ONE pass over materialized feature/lowered columns — byte-identical
    to ``score_clean_survivors(df.filter(clean_fastpath_predicate(...)))``
    (same expressions), but the char-class counts and the lowered text
    are computed once instead of once for the predicate and once for the
    score (the predicate path re-derived them per evaluation).  The
    nondeterministic barrier column blocks PushDownPredicates from
    substituting the materialized columns back into the filter."""
    text = F.coalesce(F.col(text_col), F.lit(""))
    base = _feature_cols_from(df, text).withColumn("_lowered", F.lower(text))
    feats = _feats_from_cols()
    keep = ~_defect_hit(text, F.col("_lowered")) & ~_ratio_formatting(feats)
    kept = barrier_filter(base, keep).drop("_lowered")
    score_raw = (
        F.lit(W_ALPHA) * feats["alpha_ratio"]
        + F.lit(W_LEN)
        * (F.least(feats["n_chars"], F.lit(LEN_NORM)).cast("double") / F.lit(float(LEN_NORM)))
        + F.lit(W_SYM) * (F.lit(1.0) - feats["symbol_ratio"])
    )
    return (
        kept.withColumn("label", F.lit(LABELS[0]))
        .withColumn("clean_score", F.bround(score_raw, 3))
        .drop("_n_chars", "_n_letter", "_n_digit", "_n_space")
    )


def score_clean_survivors(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Score rows already known to be Clean (e.g. survivors of
    ``clean_fastpath_predicate``): label is a literal and the score needs
    only the char-class counts — no regex cascade at all.  Byte-identical
    to ``score_turns`` on such rows (parity-tested)."""
    text = F.coalesce(F.col(text_col), F.lit(""))
    base = _feature_cols_from(df, text).withColumn("label", F.lit(LABELS[0]))
    feats = _feats_from_cols()
    score_raw = (
        F.lit(W_ALPHA) * feats["alpha_ratio"]
        + F.lit(W_LEN)
        * (F.least(feats["n_chars"], F.lit(LEN_NORM)).cast("double") / F.lit(float(LEN_NORM)))
        + F.lit(W_SYM) * (F.lit(1.0) - feats["symbol_ratio"])
    )
    return base.withColumn("clean_score", F.bround(score_raw, 3)).drop(
        "_n_chars", "_n_letter", "_n_digit", "_n_space"
    )


def score_turns(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append ``label`` and ``clean_score`` to a transcript DataFrame.

    Three slim projections (features → label → score) — the Spark analog
    of the reference's classify-then-annotate step
    (``src/classifier_inference_pipeline.py:103-123``) with the model
    replaced by deterministic rules.  ``label`` is computed from the
    materialized feature columns; ``clean_score`` references the ``label``
    column (no re-inlining — see ``_feature_cols_from``).
    """
    text = F.coalesce(F.col(text_col), F.lit(""))
    # ``_lowered`` is materialized as a real column for the same reason
    # the feature counts are (see _feature_cols_from): the ~60 guard
    # ``contains`` probes sit in short-circuit OR chains, where codegen's
    # subexpression elimination does NOT fire (conditional branches are
    # excluded), so an inline ``lower(text)`` was re-lowering the string
    # once per probe — measured ~2× on the guard pass (r9).
    base = _feature_cols_from(df, text).withColumn("_lowered", F.lower(text))
    feats = _feats_from_cols()
    full = F.lit(LABELS[0])
    formatting = _ratio_formatting(feats) | text.rlike(P.SYMBOL_RUN)
    full = F.when(formatting, F.lit(FORMATTING_LABEL)).otherwise(full)
    for label, hit in reversed(_rule_hits(text, F.col("_lowered"))):
        full = F.when(hit, F.lit(label)).otherwise(full)
    labeled = base.withColumn("label", full)
    score_raw = (
        F.lit(W_ALPHA) * feats["alpha_ratio"]
        + F.lit(W_LEN)
        * (F.least(feats["n_chars"], F.lit(LEN_NORM)).cast("double") / F.lit(float(LEN_NORM)))
        + F.lit(W_SYM) * (F.lit(1.0) - feats["symbol_ratio"])
    )
    damped = F.when(F.col("label") == F.lit(LABELS[0]), score_raw).otherwise(
        F.lit(0.4) * score_raw
    )
    return labeled.withColumn("clean_score", F.bround(damped, 3)).drop(
        "_n_chars", "_n_letter", "_n_digit", "_n_space", "_lowered"
    )
