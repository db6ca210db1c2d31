"""Heuristic line/turn rules as pure Catalyst expressions.

This is the native re-expression of what the reference delegates to an
XLM-R sequence classifier (``src/classifier_inference_pipeline.py:37-124``):
each turn gets a ``label`` from the fixed 9-label taxonomy plus a
``clean_score`` = rule-based P(Clean) rounded to 3 decimals with banker's
rounding, matching ``round(score, 3)`` at
``src/classifier_inference_pipeline.py:88`` (Spark ``bround`` == Python
``round`` == HALF_EVEN).

Everything here is Catalyst projections and filters — no UDFs, fully
whole-stage-codegen'd, and trivially parallel at any scale (no shuffle).
Rule precedence is frozen (first match wins); the Python golden oracle
(``tests/oracle.py``) implements the same order, and the two are
bit-identical.

One features → label → score builder serves both public lanes.  Each
piece is written once: ``_with_features`` (materialized char-class counts
and lowered text), ``_features`` (derived ratios), ``_rule_hits`` (the
guarded regex rules), ``_formatting`` (the fallback rule) and
``_clean_score`` (the score formula).

- ``score_turns`` labels every turn (the CASE chain) and damps non-Clean
  scores — the general lane, used by trim, score-threshold and salvage.
- ``clean_fastpath_scored`` keeps only turns that would label Clean and
  scores them undamped — the filter lane when every non-Clean label is
  removed.
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




# --- features → label → score: the pieces both lanes share ------------------

_MATERIALIZED = ("_n_chars", "_n_letter", "_n_digit", "_n_space", "_lowered")


def _with_features(df: DataFrame, text: Column) -> DataFrame:
    """Materialize the four char-class counts and the lowered text as real
    columns (dropped again by the caller, see ``_MATERIALIZED``).

    Keeping them as named intermediate columns (instead of inlining the
    expression tree at every use site) matters twice over: each count is
    computed once per row, and every downstream operator's generated code
    stays under the JVM JIT's ~8 KB compile limit — a single inlined
    label+score expression tree pushed into a Filter blows that limit and
    the whole stage silently runs interpreted (~3× slower; measured).
    CollapseProject will not re-inline them because they are non-cheap and
    multiply referenced.  ``_lowered`` is materialized for the same reason:
    the ~60 guard ``contains`` probes sit in short-circuit OR chains, where
    codegen's subexpression elimination does NOT fire (conditional branches
    are excluded), so an inline ``lower(text)`` re-lowered the string once
    per probe — measured ~2× on the guard pass (r9).

    Letter counting uses Unicode-aware ``\\p{L}``: the length-diff of a
    ``regexp_replace`` over letter RUNS (one regex iteration per run, ~2.5×
    cheaper than ``regexp_count``, same count).  Digit and whitespace
    counts use ``translate`` (a plain char-map pass) — provably identical
    to counting the ASCII classes ``[0-9]`` / ``[ \\t\\r\\n\\x0B\\f]`` the
    oracle uses.
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
        .withColumn("_lowered", F.lower(text))
    )


def _features() -> dict[str, Column]:
    """Derived features over the ``_with_features`` columns."""
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


def _formatting(feats: dict[str, Column], text: Column) -> tuple[Column, Column]:
    """The "Formatting, Style & Errors" rule as its two triggers: the
    char-class ratio test and the symbol-run regex.  A turn is formatting
    iff either holds (and no earlier regex rule fired)."""
    ratio = (
        (feats["n_nonspace"] == 0)
        | (feats["symbol_ratio"] > F.lit(SYMBOL_RATIO_MAX))
        | (
            (feats["n_chars"] >= F.lit(MIN_CHARS_FOR_ALPHA_RULE))
            & (feats["alpha_ratio"] < F.lit(ALPHA_RATIO_MIN))
        )
    )
    return ratio, text.rlike(P.SYMBOL_RUN)


def _clean_score(feats: dict[str, Column]) -> Column:
    """Undamped rule-based P(Clean), before rounding."""
    return (
        F.lit(W_ALPHA) * feats["alpha_ratio"]
        + F.lit(W_LEN)
        * (F.least(feats["n_chars"], F.lit(LEN_NORM)).cast("double") / F.lit(float(LEN_NORM)))
        + F.lit(W_SYM) * (F.lit(1.0) - feats["symbol_ratio"])
    )


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
    """Remove-all lane: keep only the turns ``score_turns`` would label
    Clean, and score them, in ONE pass over the materialized features.

    The keep predicate is "no regex rule and no formatting trigger fires",
    so dropped rows never build a label, and survivors get the literal
    Clean label and the undamped score.  Row-identical to
    ``score_turns(df).filter(label == 'Clean')`` (parity-tested).  The
    filter sits behind ``barrier_filter`` so PushDownPredicates cannot
    substitute the materialized columns back into a scan-level filter."""
    text = F.coalesce(F.col(text_col), F.lit(""))
    base = _with_features(df, text)
    feats = _features()
    ratio_formatting, symbol_run = _formatting(feats, text)
    defect = F.lit(False)
    for _, hit in _rule_hits(text, F.col("_lowered")):
        defect = defect | hit
    keep = ~(defect | symbol_run) & ~ratio_formatting
    return (
        barrier_filter(base, keep)
        .withColumn("label", F.lit(LABELS[0]))
        .withColumn("clean_score", F.bround(_clean_score(feats), 3))
        .drop(*_MATERIALIZED)
    )


def score_turns(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append ``label`` and ``clean_score`` to a transcript DataFrame.

    Three slim projections (features → label → score) — the Spark analog
    of the reference's classify-then-annotate step
    (``src/classifier_inference_pipeline.py:103-123``) with the model
    replaced by deterministic rules.  ``label`` is the first-match CASE
    chain over the regex rules, then formatting, else Clean; non-Clean
    scores are damped by 0.4.  ``clean_score`` references the
    materialized ``label`` column (no re-inlining — see
    ``_with_features``).
    """
    text = F.coalesce(F.col(text_col), F.lit(""))
    base = _with_features(df, text)
    feats = _features()
    ratio_formatting, symbol_run = _formatting(feats, text)
    label = F.when(ratio_formatting | symbol_run, F.lit(FORMATTING_LABEL)).otherwise(
        F.lit(LABELS[0])
    )
    for name, hit in reversed(_rule_hits(text, F.col("_lowered"))):
        label = F.when(hit, F.lit(name)).otherwise(label)
    score = _clean_score(feats)
    damped = F.when(F.col("label") == F.lit(LABELS[0]), score).otherwise(
        F.lit(0.4) * score
    )
    return (
        base.withColumn("label", label)
        .withColumn("clean_score", F.bround(damped, 3))
        .drop(*_MATERIALIZED)
    )
