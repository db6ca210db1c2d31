"""End-to-end pre-training corpus construction: the full composition a
100 TB web-scale run executes, staged so each pass shrinks (and
de-skews) the input of the next.  Every stage is an already
oracle-or-pytest-verified library operator; this module contributes the
ordering, the column plumbing, and the stage accounting.

Stage order and why it matters at scale:

1. **C4 line cleaning** — scan-shaped, no shuffle; runs first because
   boilerplate lines inflate both gate metrics and shingle sets, and
   because dropping whole junk pages here is the cheapest possible
   discard (nothing has been shuffled yet).  Downstream stages operate
   on the cleaned text.
2. **Gopher gates** — also scan-shaped; applied to the C4-cleaned text
   so repetition/quality metrics judge the content that would actually
   be trained on.

   With both gates on, stages 1 and 2 are one fused Arrow pass
   (`textstats.fused_gate_arrow`); with one gate off, the other runs
   alone as its HOF operator (`textstats.c4_line_filter` or
   `textstats.gopher_filter`), which is also the fused pass's test
   oracle.
3. **Dedup** (`cluster.dedup_pipeline`) — exact-first (skew defuser),
   then MinHash+LSH → connected components; runs AFTER the gates so the
   shuffle-bearing stage sees only documents worth deduplicating
   (gates typically drop 30-70% of raw web text before any exchange).
4. **Decontamination** (`cluster.decontaminate`) — gram-overlap against
   the benchmark set via a broadcast probe; runs after dedup so each
   surviving cluster representative is probed once, not once per copy.

The documents table is (``doc_id``, ``text``, …), the shape every
stage operator reads; the dedup stage caps LSH bucket occupancy at
``dedup.lsh_candidates``' default and decontamination matches
``cluster.DECONTAMINATION_N``-word grams.

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
    c4: bool = True,
    gopher: bool = True,
    jaccard_threshold: float = 0.8,
    verify_exact: bool = False,
    substring_k: int | None = None,
    paragraph_dedup: bool = False,
    with_counts: bool = False,
):
    """Compose C4 cleaning → Gopher gates → staged dedup →
    decontamination over a documents table.  The output carries the
    input schema with ``text`` replaced by the cleaned text (when
    ``c4`` or ``substring_k`` is on — ``substring_k`` additionally runs
    exact-substring passage dedup inside the dedup stage and folds the
    span-cleaned text back into ``text``).  See the module
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

    cur = _observed(docs, "input")
    if c4 and gopher:
        # one fused Arrow pass computes the C4 clean + both gate verdicts
        # (the interpreted HOF chain measured 5.4× its wall time at
        # identical survivors); the verdicts come back as columns, so
        # per-stage accounting stays exact.  With one gate off, the HOF
        # operators below run that gate alone.
        from quality_filter.textstats import fused_gate_arrow

        g = fused_gate_arrow(cur)
        cur = (
            g.filter(F.col("c4_keep"))
            .withColumn("text", F.col("clean_text"))
            .select(*in_cols, "gopher_keep")
        )
        cur = _observed(cur, "after_c4")
        cur = cur.filter(F.col("gopher_keep")).select(*in_cols)
        cur = _observed(cur, "after_gopher")
    else:
        if c4:
            cleaned = c4_line_filter(cur)
            # downstream stages see the surviving lines only
            cur = cleaned.withColumn("text", F.col("clean_text")).select(*in_cols)
            cur = _observed(cur, "after_c4")
        if gopher:
            cur = gopher_filter(cur)
            cur = _observed(cur, "after_gopher")
    cur = dedup_pipeline(
        cur,
        jaccard_threshold=jaccard_threshold,
        verify_exact=verify_exact,
        substring_k=substring_k,
    )
    if substring_k is not None:
        cur = cur.withColumn("text", F.col("clean_text")).select(*in_cols)
    cur = _observed(cur, "after_dedup")
    if paragraph_dedup:
        # corpus-wide paragraph grain (Dolma-style), after doc dedup so a
        # paragraph's canonical occurrence is in a canonical document
        from quality_filter.dedup import paragraph_dedup as _para

        spans = _para(cur)
        cur = (
            cur.drop("text")
            .join(spans.select("doc_id", "clean_text"), "doc_id")
            .withColumnRenamed("clean_text", "text")
            .select(*in_cols)
        )
        cur = _observed(cur, "after_paragraph_dedup")
    if benchmark is not None:
        flags = decontaminate(cur, benchmark)
        cur = cur.join(
            flags.filter(~F.col("contaminated")).select("doc_id"), "doc_id", "semi"
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
