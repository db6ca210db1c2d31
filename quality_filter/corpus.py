"""End-to-end pre-training corpus construction: the full composition a
100 TB web-scale run executes, staged so each pass shrinks (and
de-skews) the input of the next.  Every stage is an already
oracle-or-pytest-verified library operator; this module contributes the
ordering, the column plumbing, and the stage accounting.

Stage order and why it matters at scale:

1. **C4 line cleaning** (`textstats.c4_line_filter`) — scan-shaped, no
   shuffle; runs first because boilerplate lines inflate both gate
   metrics and shingle sets, and because dropping whole junk pages here
   is the cheapest possible discard (nothing has been shuffled yet).
   Downstream stages operate on the cleaned text.
2. **Gopher gates** (`textstats.gopher_filter`) — also scan-shaped;
   applied to the C4-cleaned text so repetition/quality metrics judge
   the content that would actually be trained on.
3. **Dedup** (`cluster.dedup_pipeline`) — exact-first (skew defuser),
   then MinHash+LSH → connected components; runs AFTER the gates so the
   shuffle-bearing stage sees only documents worth deduplicating
   (gates typically drop 30-70% of raw web text before any exchange).
4. **Decontamination** (`cluster.decontaminate`) — gram-overlap against
   the benchmark set via a broadcast probe; runs after dedup so each
   surviving cluster representative is probed once, not once per copy.

Returns the surviving rows plus a `resolve_counts` callable when
``with_counts=True``.  Stage accounting is SINGLE-PASS: each boundary
carries a ``df.observe`` count that Spark collects as a side effect of
whatever action the caller runs (no per-stage ``.count()`` job, so a
100-TB build scans each stage once, not once per stage printed — the
pre-r7 implementation ran one full-lineage count per stage, ~5×
end-to-end work).  Call ``resolve_counts()`` only AFTER materializing
the returned rows (e.g. after the output write); Spark's ``Observation``
locks in the first completed execution of each observed node and is
stable across later actions (probed: exactly-once under self-joins,
broadcast and sort-merge reuse, and repeated actions).  Note the
connected-components stage inside ``dedup_pipeline`` is iterative and
therefore runs jobs when the composition is built (convergence checks
are inherent to CC); the gate/scan stages stay lazy until an action."""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def build_pretrain_corpus(
    docs: DataFrame,
    benchmark: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    c4: bool = True,
    gopher: bool = True,
    gopher_repetition: bool = True,
    gate_impl: str = "arrow",
    jaccard_threshold: float = 0.8,
    verify_exact: bool = False,
    max_bucket_size: int | None = 1000,
    substring_k: int | None = None,
    paragraph_dedup: bool = False,
    paragraph_key: str = "hash",
    decontaminate_n: int = 8,
    decontaminate_impl: str = "exact",
    with_counts: bool = False,
):
    """Compose C4 cleaning → Gopher gates → staged dedup →
    decontamination over a documents table.  The output carries the
    input schema with ``text_col`` replaced by the cleaned text (when
    ``c4`` or ``substring_k`` is on — ``substring_k`` additionally runs
    exact-substring passage dedup inside the dedup stage and folds the
    span-cleaned text back into ``text_col``).  See the module
    docstring for the scale rationale of the stage order."""
    from quality_filter.cluster import decontaminate, dedup_pipeline
    from quality_filter.textstats import c4_line_filter, gopher_filter

    in_cols = docs.columns
    observations: list[tuple[str, Observation]] = []

    def _observed(df: DataFrame, stage: str) -> DataFrame:
        """Thread a zero-job observe-count through the stage boundary."""
        if not with_counts:
            return df
        obs = Observation(f"corpus_{stage}")
        observations.append((stage, obs))
        return df.observe(obs, F.count(F.lit(1)).alias("n_docs"))

    if gate_impl not in ("arrow", "hof"):
        raise ValueError(f"gate_impl must be 'arrow' or 'hof', got {gate_impl!r}")

    cur = _observed(docs, "input")
    if gate_impl == "arrow" and c4 and gopher:
        # 100-TB hot path: one fused Arrow pass computes the C4 clean +
        # both gate verdicts (the interpreted HOF chain measured 5.4×
        # its wall time at identical survivors — ``BENCH/r7_gates_ab.json``
        # at b9e3436); the verdicts come back as columns, so per-stage
        # accounting stays exact.
        from quality_filter.textstats import fused_gate_arrow

        g = fused_gate_arrow(cur, text_col, with_repetition=gopher_repetition)
        cur = (
            g.filter(F.col("c4_keep"))
            .withColumn(text_col, F.col("clean_text"))
            .select(*in_cols, "gopher_keep")
        )
        cur = _observed(cur, "after_c4")
        cur = cur.filter(F.col("gopher_keep")).select(*in_cols)
        cur = _observed(cur, "after_gopher")
    else:
        if c4:
            cleaned = c4_line_filter(cur, text_col)
            # downstream stages see the surviving lines only
            cur = cleaned.withColumn(text_col, F.col("clean_text")).select(*in_cols)
            cur = _observed(cur, "after_c4")
        if gopher:
            cur = gopher_filter(cur, text_col, with_repetition=gopher_repetition)
            cur = _observed(cur, "after_gopher")
    cur = dedup_pipeline(
        cur,
        id_col=id_col,
        text_col=text_col,
        jaccard_threshold=jaccard_threshold,
        verify_exact=verify_exact,
        max_bucket_size=max_bucket_size,
        substring_k=substring_k,
    )
    if substring_k is not None:
        cur = cur.withColumn(text_col, F.col("clean_text")).select(*in_cols)
    cur = _observed(cur, "after_dedup")
    if paragraph_dedup:
        # corpus-wide paragraph grain (Dolma-style), after doc dedup so a
        # paragraph's canonical occurrence is in a canonical document
        from quality_filter.dedup import paragraph_dedup as _para

        # hash key by default: the 100-TB exchange carries a 16-byte
        # fingerprint per paragraph, not the paragraph (output-identical,
        # pinned by test_round7.py)
        spans = _para(cur, id_col, text_col, key=paragraph_key)
        cur = (
            cur.drop(text_col)
            .join(spans.select(id_col, "clean_text"), id_col)
            .withColumnRenamed("clean_text", text_col)
            .select(*in_cols)
        )
        cur = _observed(cur, "after_paragraph_dedup")
    if benchmark is not None:
        if decontaminate_impl == "bloom":
            # memory-bounded variant: 3 bytes/gram broadcast bitset, no
            # false negatives, ~0.1% doc-level over-flagging at the
            # default sizing (see curation.build_decontamination_filter)
            from quality_filter.curation import (
                build_decontamination_filter,
                decontaminate_bloom,
            )

            bits, meta = build_decontamination_filter(
                benchmark, text_col, n=decontaminate_n
            )
            flags = decontaminate_bloom(cur, bits, meta, id_col, text_col)
        elif decontaminate_impl == "exact":
            flags = decontaminate(
                cur, benchmark, id_col, text_col, n=decontaminate_n
            )
        else:
            raise ValueError(
                f"decontaminate_impl must be 'exact' or 'bloom', "
                f"got {decontaminate_impl!r}"
            )
        cur = cur.join(
            flags.filter(~F.col("contaminated")).select(id_col), id_col, "semi"
        )
        cur = _observed(cur, "after_decontaminate")

    if not with_counts:
        return cur

    spark = docs.sparkSession

    def resolve_counts(timeout: float = 30.0) -> DataFrame:
        """Stage survivor counts, harvested from the observations the
        caller's action already computed — call AFTER materializing the
        returned rows.  Misuse (no action has run) raises after
        ``timeout`` seconds instead of deadlocking on ``Observation.get``
        (ADVICE r7 #3): readiness is polled via the JVM observation's
        non-blocking ``getRowOrEmpty``, so the normal case costs one
        Py4J round-trip per stage."""
        import time

        deadline = time.monotonic() + timeout
        for stage, obs in observations:
            # ADVICE r8 #2: ``_jo`` is a private PySpark attribute — if a
            # version bump renames it, fall back to the blocking
            # ``obs.get`` below instead of spinning to the misleading
            # "must be called AFTER materializing" error even though
            # metrics are available (cluster._checkpoint_with_sig has
            # the same fallback).
            if getattr(obs, "_jo", None) is None:
                continue
            while True:
                jo = getattr(obs, "_jo", None)
                if jo is not None and jo.getRowOrEmpty().isDefined():
                    break
                if time.monotonic() >= deadline:
                    raise RuntimeError(
                        f"corpus stage observation {stage!r} has no metrics "
                        f"after {timeout:g}s: resolve_counts() must be called "
                        "AFTER materializing the returned DataFrame (run the "
                        "output write/count first)"
                    )
                time.sleep(0.05)
        rows = [(stage, int(obs.get["n_docs"])) for stage, obs in observations]
        return spark.createDataFrame(rows, "stage string, n_docs long")

    return cur, resolve_counts
