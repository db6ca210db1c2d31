"""Text-analysis operators: the quality heuristic and the C4/Gopher
corpus gates — pure Catalyst expressions over the text column, plus the
fused Arrow gate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "was", "for",
    "on", "with", "that", "this", "it", "as", "at", "by", "be",
]


def quality_score_expr(text: Column, words: Column | None = None) -> Column:
    """Heuristic [0,1] doc-quality score: length saturation, stopword
    presence, alpha density, repetition penalty — the doc-level analog of
    the reference's upstream ``doc_scores`` signal.

    ``words`` — optionally a materialized ``split(lower(text), '\\s+')``
    column: the expression references the word array five times, and an
    inline split is re-evaluated at every reference (r9 — see
    ``with_quality_score``)."""
    n_chars = F.length(text)
    if words is None:
        words = F.split(F.lower(text), r"\s+")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(words, lambda w: F.array_contains(stop_arr, w)))
    stop_ratio = n_stop.cast("double") / F.greatest(F.lit(1), F.size(words))
    alpha_ratio = (
        n_chars - F.length(F.regexp_replace(text, r"\p{L}", ""))
    ).cast("double") / F.greatest(F.lit(1), n_chars)
    rep_ratio = F.size(F.array_distinct(words)).cast("double") / F.greatest(
        F.lit(1), F.size(words)
    )
    len_sat = F.least(n_chars, F.lit(500)).cast("double") / 500.0
    return F.bround(
        0.3 * len_sat + 0.25 * alpha_ratio + 0.25 * rep_ratio
        + 0.2 * F.least(stop_ratio * 4.0, F.lit(1.0)),
        3,
    )


def with_quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append ``quality_score``; the word array is materialized in its
    own column first so the five references inside the score share one
    split (CollapseProject keeps a non-cheap multiply-referenced alias
    materialized), then dropped."""
    text = F.coalesce(F.col(text_col), F.lit(""))
    return (
        df.withColumn("_qs_words", F.split(F.lower(text), r"\s+"))
        .withColumn(
            "quality_score", quality_score_expr(text, F.col("_qs_words"))
        )
        .drop("_qs_words")
    )


# ---------------------------------------------------------------------------
# Gopher document-quality rules (Rae et al. 2021, "Scaling Language Models:
# Methods, Analysis & Insights from Training Gopher", appendix A1.1) — the
# standard pre-training corpus gate.  Frozen thresholds; the fused Arrow
# gate below and its tests read these same constants, so they cannot drift.
# ---------------------------------------------------------------------------

GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MAX_BULLET_FRAC = 0.9
GOPHER_MAX_ELLIPSIS_FRAC = 0.3
GOPHER_MIN_ALPHA_WORD_FRAC = 0.8
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]
GOPHER_MIN_STOPWORD_HITS = 2

_BULLET_RE = r"^[-*•]"
_ELLIPSIS_RE = r"(\.\.\.|…)$"
_SYMBOL_RE = r"#|\.\.\.|…"
_TERMINAL_RE = r"[.!?\"]$"


def _nonempty_words(text: Column) -> Column:
    return F.filter(F.split(text, r"\s+"), lambda w: w != F.lit(""))


def with_gopher_flags(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher quality-rule metrics + keep decision per document.

    Adds ``word_count``, ``mean_word_len``, ``symbol_ratio`` (# / ellipsis
    per word), ``bullet_frac`` / ``ellipsis_frac`` (of lines),
    ``alpha_word_frac`` (words containing a letter), ``stopword_hits``
    (distinct hits from the 8-word Gopher list) and boolean
    ``gopher_keep`` (every rule passes).

    Scale shape: one narrow per-row projection — no shuffle, no join, no
    Python; predicate/column pruning reach the scan unchanged.  The array
    HOFs run interpreted (not codegen), which is fine for an audit/gate
    pass; a hot-path variant would fuse into the existing scorer Arrow
    UDF the way langid does.  All ratios are exact-int divisions cast to
    double, so results are bit-stable across engines and partitionings.
    """
    text = F.coalesce(F.col(text_col), F.lit(""))
    words = _nonempty_words(text)
    wc = F.size(words)
    wc1 = F.greatest(F.lit(1), wc).cast("double")
    # long accumulator: summed word lengths of a near-2GB document exceed
    # int32, so the fold accumulates in a long
    mean_wl = (
        F.aggregate(
            words, F.lit(0).cast("long"), lambda a, w: a + F.length(w)
        ).cast("double")
        / wc1
    )
    symbol_ratio = F.regexp_count(text, F.lit(_SYMBOL_RE)).cast("double") / wc1
    lines = F.split(text, r"\n")
    nl1 = F.greatest(F.lit(1), F.size(lines)).cast("double")
    bullet_frac = (
        F.size(F.filter(lines, lambda ln: F.ltrim(ln).rlike(_BULLET_RE))).cast("double")
        / nl1
    )
    ellipsis_frac = (
        F.size(F.filter(lines, lambda ln: F.rtrim(ln).rlike(_ELLIPSIS_RE))).cast(
            "double"
        )
        / nl1
    )
    alpha_frac = (
        F.size(F.filter(words, lambda w: w.rlike(r"\p{L}"))).cast("double") / wc1
    )
    words_low = F.transform(words, F.lower)
    stop_arr = F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
    stop_hits = F.size(
        F.filter(stop_arr, lambda s: F.array_contains(words_low, s))
    )
    out = (
        df.withColumn("word_count", wc)
        .withColumn("mean_word_len", mean_wl)
        .withColumn("symbol_ratio", symbol_ratio)
        .withColumn("bullet_frac", bullet_frac)
        .withColumn("ellipsis_frac", ellipsis_frac)
        .withColumn("alpha_word_frac", alpha_frac)
        .withColumn("stopword_hits", stop_hits)
    )
    keep = (
        F.col("word_count").between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
        & F.col("mean_word_len").between(
            GOPHER_MIN_MEAN_WORD_LEN, GOPHER_MAX_MEAN_WORD_LEN
        )
        & (F.col("symbol_ratio") <= GOPHER_MAX_SYMBOL_RATIO)
        & (F.col("bullet_frac") <= GOPHER_MAX_BULLET_FRAC)
        & (F.col("ellipsis_frac") <= GOPHER_MAX_ELLIPSIS_FRAC)
        & (F.col("alpha_word_frac") >= GOPHER_MIN_ALPHA_WORD_FRAC)
        & (F.col("stopword_hits") >= GOPHER_MIN_STOPWORD_HITS)
    )
    return out.withColumn("gopher_keep", keep)


# ---------------------------------------------------------------------------
# C4 line/page cleaning (Raffel et al. 2020, "Exploring the Limits of
# Transfer Learning with a Unified Text-to-Text Transformer", §2.2) —
# keep lines ending in terminal punctuation with >= 5 words; drop pages
# with fewer than C4_MIN_LINES surviving lines, containing "lorem ipsum",
# or containing a curly brace.
# ---------------------------------------------------------------------------

C4_MIN_WORDS_PER_LINE = 5
C4_MIN_LINES = 3


def c4_line_filter(df: DataFrame, text_col: str = "text") -> DataFrame:
    """C4 cleaning as one narrow projection + filter: per-line keep rule
    evaluated inside array HOFs (no explode → no shuffle, doc order and
    partitioning preserved), then the page-level gates.  Returns kept
    pages with ``clean_text`` (surviving lines re-joined), ``n_lines_kept``
    and ``n_lines_total``.

    At 100 TB this is scan-shaped: the whole operator is a single
    WholeStageCodegen-adjacent map over the text column with zero
    exchanges; the line explode/reassemble alternative would shuffle
    every byte of the corpus twice for identical output.
    """
    text = F.coalesce(F.col(text_col), F.lit(""))
    lines = F.split(text, r"\n")
    kept = F.filter(
        lines,
        lambda ln: F.rtrim(ln).rlike(_TERMINAL_RE)
        & (F.size(_nonempty_words(ln)) >= C4_MIN_WORDS_PER_LINE),
    )
    out = (
        df.withColumn("n_lines_total", F.size(lines))
        .withColumn("n_lines_kept", F.size(kept))
        .withColumn("clean_text", F.array_join(kept, "\n"))
    )
    return out.filter(
        (F.col("n_lines_kept") >= C4_MIN_LINES)
        & ~F.contains(F.lower(text), F.lit("lorem ipsum"))
        & ~F.contains(text, F.lit("{"))
    )


# Gopher repetition sub-rules (Rae et al. 2021 A1.1, "repetitious text"):
# duplicate line / paragraph fractions by count and by character mass.
# The top-n-gram char-fraction rules from the same table are not
# implemented.
GOPHER_MAX_DUP_LINE_FRAC = 0.30
GOPHER_MAX_DUP_PARA_FRAC = 0.30
GOPHER_MAX_DUP_LINE_CHAR_FRAC = 0.20
GOPHER_MAX_DUP_PARA_CHAR_FRAC = 0.20

_PARA_SPLIT_RE = r"\n{2,}"


def _dup_fracs(units: Column) -> tuple[Column, Column]:
    """(duplicate-count fraction, duplicate-character fraction) of an
    array of text units: occurrences beyond the first are duplicates.
    array_distinct + two integer sums — O(n) per row, no sort, no pair
    scan, so a 10^5-line document costs one pass."""
    distinct = F.array_distinct(units)
    n = F.size(units)
    zero = F.lit(0).cast("long")
    chars = F.aggregate(units, zero, lambda a, u: a + F.length(u))
    chars_d = F.aggregate(distinct, zero, lambda a, u: a + F.length(u))
    dup_frac = (n - F.size(distinct)).cast("double") / F.greatest(F.lit(1), n)
    dup_char_frac = (chars - chars_d).cast("double") / F.greatest(
        F.lit(1).cast("long"), chars
    )
    return dup_frac, dup_char_frac


def with_gopher_repetition(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher duplicate-line/paragraph metrics + keep decision.

    Lines are newline-separated non-empty strings; paragraphs are
    blank-line-separated non-empty blocks.  Adds ``dup_line_frac``,
    ``dup_line_char_frac``, ``dup_para_frac``, ``dup_para_char_frac``
    and ``repetition_keep`` (all four under the frozen GOPHER_MAX_*
    thresholds).  Same scale shape as the other gates: one narrow
    projection, exact-int divisions, zero exchanges."""
    text = F.coalesce(F.col(text_col), F.lit(""))
    lines = F.filter(F.split(text, r"\n"), lambda ln: ln != F.lit(""))
    paras = F.filter(F.split(text, _PARA_SPLIT_RE), lambda p: p != F.lit(""))
    dl, dlc = _dup_fracs(lines)
    dp, dpc = _dup_fracs(paras)
    out = (
        df.withColumn("dup_line_frac", dl)
        .withColumn("dup_line_char_frac", dlc)
        .withColumn("dup_para_frac", dp)
        .withColumn("dup_para_char_frac", dpc)
    )
    keep = (
        (F.col("dup_line_frac") <= GOPHER_MAX_DUP_LINE_FRAC)
        & (F.col("dup_line_char_frac") <= GOPHER_MAX_DUP_LINE_CHAR_FRAC)
        & (F.col("dup_para_frac") <= GOPHER_MAX_DUP_PARA_FRAC)
        & (F.col("dup_para_char_frac") <= GOPHER_MAX_DUP_PARA_CHAR_FRAC)
    )
    return out.withColumn("repetition_keep", keep)


def gopher_filter(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The composed Gopher corpus gate: keep documents passing ALL quality
    rules (with_gopher_flags) and all repetition rules
    (with_gopher_repetition).  One scan-shaped pass; both metric sets
    evaluate inside the same projection, and the output schema equals
    the input schema (``with_gopher_flags`` and ``with_gopher_repetition``
    keep the per-rule metric columns for auditing)."""
    in_cols = df.columns
    out = with_gopher_repetition(with_gopher_flags(df, text_col), text_col)
    keep = F.col("gopher_keep") & F.col("repetition_keep")
    return out.filter(keep).select(*in_cols)


# ---------------------------------------------------------------------------
# Fused Arrow gate: C4 line cleaning + Gopher quality + repetition rules in
# ONE Arrow-batched pass (r7).  The HOF gates above are the fixture-checked
# reference; this is the 100-TB hot path for the composed corpus build —
# the r7 A/B (``BENCH/r7_gates_ab.json`` at b9e3436) measured the
# interpreted HOF chain at 5.4× the fused gate's wall time at identical
# survivors on a 200k-doc corpus at local[32], consistent with the r4
# finding that Catalyst array HOFs run interpreted.  Survivor sets and
# cleaned text are pinned identical to the HOF path (tests/test_round7.py)
# on ASCII + the adversarial-alphabet fixtures; Java-vs-Python regex
# semantics are aligned by construction (explicit ASCII \s class,
# space-only trims, str.isalpha == \p{L} on the letter categories the
# gates see).
#
# r8 runs the plan node on _fused_gate_batch, built on pyarrow.compute C++
# kernels (no per-element Python on the fast lane).  The per-doc kernel
# _fused_gate_row is its parity oracle (tests/test_round8.py pins the two
# column-exact on adversarial corpora) and the batch kernel's lane for
# documents with exotic whitespace; ``BENCH/r8_gates_ab.json`` at b9e3436
# carries the measured A/B.
# ---------------------------------------------------------------------------

import re as _re
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

_PY_WS = _re.compile(r"[ \t\n\x0b\f\r]+")  # Java \s is ASCII-only
_PY_TERM = _re.compile(r'[.!?"]$')
_PY_SYM = _re.compile(r"#|\.\.\.|…")
_PY_ELL = _re.compile(r"(\.\.\.|…)$")
_PY_PARA = _re.compile(r"\n{2,}")
_PY_ASCII_ALPHA = _re.compile(r"[A-Za-z]")


def _has_alpha(w: str) -> bool:
    """Exact equivalent of any(c.isalpha() for c in w), two-tiered: one
    C-level ASCII-letter regex probe first (hits for the vast majority
    of words), the per-character unicode-category fallback only when no
    ASCII letter is found.  The alpha-word check was 36% of the fused
    gate's profile as a bare generator."""
    return _PY_ASCII_ALPHA.search(w) is not None or any(
        c.isalpha() for c in w
    )


def _fused_gate_row(t: str, with_repetition: bool) -> tuple[str, bool, bool]:
    """(clean_text, c4_keep, gopher_keep) for one document — the exact
    composition build_pretrain_corpus runs: C4 line keep → page gates →
    Gopher quality + repetition rules over the C4-cleaned text."""
    t = t or ""
    if "{" in t or "lorem ipsum" in t.lower():
        return "", False, False
    kept = [
        ln
        for ln in t.split("\n")
        if _PY_TERM.search(ln.rstrip(" "))
        and sum(1 for w in _PY_WS.split(ln) if w) >= C4_MIN_WORDS_PER_LINE
    ]
    if len(kept) < C4_MIN_LINES:
        return "", False, False
    clean = "\n".join(kept)
    words = [w for w in _PY_WS.split(clean) if w]
    wc = len(words)
    wc1 = float(max(1, wc))
    if not (GOPHER_MIN_WORDS <= wc <= GOPHER_MAX_WORDS):
        return clean, True, False
    mean_wl = sum(len(w) for w in words) / wc1
    if not (GOPHER_MIN_MEAN_WORD_LEN <= mean_wl <= GOPHER_MAX_MEAN_WORD_LEN):
        return clean, True, False
    if len(_PY_SYM.findall(clean)) / wc1 > GOPHER_MAX_SYMBOL_RATIO:
        return clean, True, False
    lines = clean.split("\n")
    nl1 = float(max(1, len(lines)))
    if sum(ln.lstrip(" ").startswith(("-", "*", "•")) for ln in lines) / nl1 \
            > GOPHER_MAX_BULLET_FRAC:
        return clean, True, False
    if sum(bool(_PY_ELL.search(ln.rstrip(" "))) for ln in lines) / nl1 \
            > GOPHER_MAX_ELLIPSIS_FRAC:
        return clean, True, False
    if sum(_has_alpha(w) for w in words) / wc1 \
            < GOPHER_MIN_ALPHA_WORD_FRAC:
        return clean, True, False
    lowered = {w.lower() for w in words}
    if sum(s in lowered for s in GOPHER_STOPWORDS) < GOPHER_MIN_STOPWORD_HITS:
        return clean, True, False
    if with_repetition:
        nz_lines = [ln for ln in lines if ln]
        paras = [p for p in _PY_PARA.split(clean) if p]
        for units, fmax, cmax in (
            (nz_lines, GOPHER_MAX_DUP_LINE_FRAC, GOPHER_MAX_DUP_LINE_CHAR_FRAC),
            (paras, GOPHER_MAX_DUP_PARA_FRAC, GOPHER_MAX_DUP_PARA_CHAR_FRAC),
        ):
            distinct = set(units)
            if (len(units) - len(distinct)) / max(1, len(units)) > fmax:
                return clean, True, False
            chars = sum(len(u) for u in units)
            if (chars - sum(len(u) for u in distinct)) / max(1, chars) > cmax:
                return clean, True, False
    return clean, True, True


# --- r8 Arrow-compute batch kernel ------------------------------------------
# Per-kernel measurements that shaped it (``BENCH/ROUND8_NOTES.md`` at
# b9e3436): RE2 class-star token patterns pay ~0.5 µs per MATCH, so
# counting every token-with-a-letter is ~10× slower than scanning for the
# rare class (letterless tokens); utf8_split_whitespace (non-regex C++)
# beats the [\s]+ run-count regex ~3×; plain substring kernels (memchr)
# beat single-char regex classes ~10×.  Docs containing non-ASCII Unicode
# whitespace take the exact row-kernel lane — utf8_split_whitespace
# splits on Unicode White_Space, the row kernel's \s is ASCII-only.

_FG_WSC = " \t\n\x0b\f\r"  # the row kernel's ASCII \s
# Unicode White_Space beyond ASCII (utf8proc set, = the divergence set)
_FG_EXOTIC_WS_RE = (
    "[\\x{0085}\\x{00a0}\\x{1680}\\x{2000}-\\x{200a}"
    "\\x{2028}\\x{2029}\\x{202f}\\x{205f}\\x{3000}]"
)
_FG_RE_TERM = '[.!?"]$'
_FG_RE_SYM = "#|\\.\\.\\.|…"
_FG_RE_BULLET = "(?m)^ *[-*•]"
_FG_RE_ELL = "(?m)(?:\\.\\.\\.|…) *$"
_FG_RE_NON_ASCII = "[^\\x00-\\x7f]"
# one match per ws-delimited token that contains an ASCII letter (used
# only on the small unicode-residue subset)
_FG_RE_TOK_ASCII_ALPHA = f"[^{_FG_WSC}]*[A-Za-z][^{_FG_WSC}]*"


def _fg_np(a) -> np.ndarray:
    return a.to_numpy(zero_copy_only=False)


def _fg_token_count(arr: pa.Array) -> np.ndarray:
    """ASCII-ws token count: trim, then utf8_split_whitespace (which keeps
    leading/trailing empty tokens — hence the trim) with an empty guard."""
    t = pc.utf8_trim(arr, _FG_WSC)
    lens = _fg_np(pc.list_value_length(pc.utf8_split_whitespace(t)))
    return np.where(_fg_np(pc.equal(t, "")), 0, lens).astype(np.int64)


def _fg_space_norm(arr: pa.Array) -> pa.Array:
    """Every ASCII-ws char → ' ' (plain replaces, memchr-fast)."""
    for ch in "\t\n\x0b\f\r":
        arr = pc.replace_substring(arr, ch, " ")
    return arr


def _fused_gate_batch(
    texts: pd.Series, with_repetition: bool
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(clean_text, c4_keep, gopher_keep) arrays for one Arrow batch —
    column-exact vs ``_fused_gate_row`` (tests/test_round8.py)."""
    n = len(texts)
    clean_out = np.full(n, "", dtype=object)
    c4_out = np.zeros(n, dtype=bool)
    gk_out = np.zeros(n, dtype=bool)
    if n == 0:
        return clean_out, c4_out, gk_out
    arr0 = pc.coalesce(pa.array(texts, type=pa.string()), "")

    # exact lane for docs whose whitespace the fast lane would mis-split
    exotic = _fg_np(pc.match_substring_regex(arr0, _FG_EXOTIC_WS_RE))
    slow_idx = np.flatnonzero(exotic)
    for i in slow_idx:
        c, k4, kg = _fused_gate_row(arr0[int(i)].as_py(), with_repetition)
        clean_out[i], c4_out[i], gk_out[i] = c, k4, kg
    fast_idx = np.flatnonzero(~exotic)
    if len(fast_idx) == 0:
        return clean_out, c4_out, gk_out
    arr = arr0.take(pa.array(fast_idx)) if len(slow_idx) else arr0
    m = len(fast_idx)

    page_bad = _fg_np(pc.or_(
        pc.match_substring(arr, "{"),
        pc.match_substring(arr, "lorem ipsum", ignore_case=True),
    ))

    # ---- C4 line keep over the exploded lines ---------------------------
    lines = pc.split_pattern(arr, "\n")
    counts = _fg_np(pc.list_value_length(lines)).astype(np.int64)
    flat = pc.list_flatten(lines)
    doc_idx = np.repeat(np.arange(m), counts)
    term = _fg_np(
        pc.match_substring_regex(pc.utf8_rtrim(flat, " "), _FG_RE_TERM)
    )
    wc_line = _fg_token_count(flat)
    keep_line = term & (wc_line >= C4_MIN_WORDS_PER_LINE)
    n_kept = np.bincount(doc_idx[keep_line], minlength=m)
    c4_keep = (~page_bad) & (n_kept >= C4_MIN_LINES)

    # '\n'-join of kept lines as ONE C++ kernel (binary_join over a
    # rebuilt ListArray), no per-doc Python
    kept_flat = flat.filter(pa.array(keep_line))
    offsets = np.zeros(m + 1, dtype=np.int32)
    np.cumsum(n_kept, out=offsets[1:])
    joined = pc.binary_join(
        pa.ListArray.from_arrays(pa.array(offsets), kept_flat), "\n"
    )
    clean_all = pc.if_else(pa.array(c4_keep), joined, "")
    clean_out[fast_idx] = np.asarray(_fg_np(clean_all), dtype=object)
    c4_out[fast_idx] = c4_keep

    surv = np.flatnonzero(c4_keep)
    if len(surv) == 0:
        return clean_out, c4_out, gk_out
    cs = clean_all.take(pa.array(surv))

    # ---- Gopher quality rules over the cleaned survivors ----------------
    # ws-normalized view (every ASCII-ws char → ' '): the remaining counts
    # use PLAIN substring kernels and space-only token patterns
    norm = _fg_space_norm(cs)
    wc = _fg_token_count(norm)
    wc1 = np.maximum(1, wc).astype(np.float64)
    # sum of token lengths: leading/trailing ws cancels between the terms
    sum_wl = (
        _fg_np(pc.utf8_length(norm)) - _fg_np(pc.count_substring(norm, " "))
    )
    mean_wl = sum_wl / wc1
    sym_ratio = _fg_np(pc.count_substring_regex(cs, _FG_RE_SYM)) / wc1
    nl1 = np.maximum(
        1, _fg_np(pc.count_substring(cs, "\n")) + 1
    ).astype(np.float64)
    bullet_frac = _fg_np(pc.count_substring_regex(cs, _FG_RE_BULLET)) / nl1
    ell_frac = _fg_np(pc.count_substring_regex(cs, _FG_RE_ELL)) / nl1

    # alpha-word fraction, two-tiered like the row kernel, counting the
    # RARE class.  On the space-DOUBLED padded text every token is flanked
    # by ≥ 2 spaces, so adjacent letterless tokens cannot consume each
    # other's delimiter — the count is exact.  Only docs that BOTH carry a
    # non-ASCII byte AND have letterless-ASCII tokens can owe extra alpha
    # words to the unicode fallback (str.isalpha over the tiny residue).
    lowpad = pc.binary_join_element_wise(" ", pc.utf8_lower(norm), " ", "")
    doubled = pc.replace_substring(
        pc.binary_join_element_wise(" ", norm, " ", ""), " ", "  "
    )
    non_alpha = _fg_np(pc.count_substring_regex(doubled, " [^ A-Za-z]+ "))
    unicode_alpha = np.zeros(len(surv), dtype=np.int64)
    has_nonascii = _fg_np(pc.match_substring_regex(cs, _FG_RE_NON_ASCII))
    maybe = np.flatnonzero(has_nonascii & (non_alpha > 0))
    if len(maybe) > 0:
        residue = pc.replace_substring_regex(
            cs.take(pa.array(maybe)), _FG_RE_TOK_ASCII_ALPHA, ""
        )
        ws_split = _re.compile(f"[{_FG_WSC}]+").split
        for j, txt in zip(maybe, residue.to_pylist()):
            unicode_alpha[j] = sum(
                1 for w in ws_split(txt) if w and any(c.isalpha() for c in w)
            )
    alpha_frac = (wc - non_alpha + unicode_alpha) / wc1

    # distinct stopword hits: one PLAIN substring probe per stopword on
    # the padded lowercased view (token equality ⇔ ' word ' in it)
    stop_hits = np.zeros(len(surv), dtype=np.int64)
    for s in GOPHER_STOPWORDS:
        stop_hits += _fg_np(pc.match_substring(lowpad, f" {s} "))

    ok = (
        (wc >= GOPHER_MIN_WORDS)
        & (wc <= GOPHER_MAX_WORDS)
        & (mean_wl >= GOPHER_MIN_MEAN_WORD_LEN)
        & (mean_wl <= GOPHER_MAX_MEAN_WORD_LEN)
        & (sym_ratio <= GOPHER_MAX_SYMBOL_RATIO)
        & (bullet_frac <= GOPHER_MAX_BULLET_FRAC)
        & (ell_frac <= GOPHER_MAX_ELLIPSIS_FRAC)
        & (alpha_frac >= GOPHER_MIN_ALPHA_WORD_FRAC)
        & (stop_hits >= GOPHER_MIN_STOPWORD_HITS)
    )

    if with_repetition:
        # duplicate-line rules on the cleaned text; C4-kept lines are
        # never empty (an empty line has no terminal punctuation), so the
        # nonempty-line unit set == kept lines and the paragraph split
        # (\n{2,}) can never fire — paragraph fracs are identically 0 and
        # always pass, exactly as in the row kernel.
        in_surv = c4_keep[doc_idx[keep_line]]
        pos = np.searchsorted(surv, doc_idx[keep_line][in_surv])
        ru = kept_flat.filter(pa.array(in_surv))
        lens = _fg_np(pc.utf8_length(ru)).astype(np.int64)
        k = len(surv)
        n_units = np.bincount(pos, minlength=k)
        chars = np.bincount(pos, weights=lens, minlength=k)
        codes = pd.factorize(np.asarray(_fg_np(ru), dtype=object))[0]
        pair = pd.DataFrame(
            {"p": pos, "c": codes, "l": lens}
        ).drop_duplicates(subset=["p", "c"])
        n_dist = np.bincount(pair["p"].to_numpy(), minlength=k)
        chars_d = np.bincount(
            pair["p"].to_numpy(), weights=pair["l"].to_numpy(), minlength=k
        )
        dup_frac = (n_units - n_dist) / np.maximum(1, n_units)
        dup_char = (chars - chars_d) / np.maximum(1, chars)
        ok &= (dup_frac <= GOPHER_MAX_DUP_LINE_FRAC) & (
            dup_char <= GOPHER_MAX_DUP_LINE_CHAR_FRAC
        )

    gk = np.zeros(m, dtype=bool)
    gk[surv] = ok
    gk_out[fast_idx] = gk
    return clean_out, c4_out, gk_out


def fused_gate_arrow(
    df: DataFrame, text_col: str = "text", with_repetition: bool = True
) -> DataFrame:
    """Append ``clean_text`` (C4-surviving lines re-joined), ``c4_keep``
    and ``gopher_keep`` via one Arrow-batched pass — a non-filtering
    projection, so callers place their own observed filters per stage
    (exact stage accounting survives the fusion).  Partition-preserving,
    zero exchanges, one Python worker stage instead of the interpreted
    HOF expression chain.

    Implemented as a ``mapInPandas`` plan NODE rather than a pandas-UDF
    column expression: predicate pushdown substitutes UDF-column filters
    through projections, and over complex expression inputs Catalyst can
    land the PythonUDF inside an interpreted Filter ([INTERNAL_ERROR]
    Cannot evaluate expression) — a plan node cannot be collapsed into.

    Each batch runs through ``_fused_gate_batch`` (the Arrow-compute
    kernel, ``BENCH/r8_gates_ab.json`` at b9e3436), which hands documents
    with exotic whitespace to the per-doc ``_fused_gate_row``; outputs are
    column-exact against ``_fused_gate_row`` on every document
    (tests/test_round8.py)."""
    from quality_filter.shipping import ensure_shipped

    ensure_shipped(df.sparkSession)
    out_schema = (
        ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields)
        + ", clean_text string, c4_keep boolean, gopher_keep boolean"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            clean, c4, gk = _fused_gate_batch(pdf[text_col], with_repetition)
            g = pd.DataFrame(
                {"clean_text": clean, "c4_keep": c4, "gopher_keep": gk},
                index=pdf.index,
            )
            yield pd.concat([pdf, g], axis=1)

    return df.mapInPandas(run, out_schema)
