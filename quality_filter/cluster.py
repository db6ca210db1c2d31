"""Near-duplicate CLUSTERING: candidate pairs (MinHash-LSH, optionally
Jaccard-verified) are only half of a dedup pipeline — production
web-scale dedup (CCNet / RefinedWeb / Gopher style) groups the pair
graph into connected components and keeps ONE canonical document per
component, so that transitive chains (A~B, B~C, A!~C) collapse in a
single pass instead of needing repeated pairwise sweeps.

Reference scope note: the reference repo (TurkuNLP/linewise_quality_filtering)
has no dedup at all — this module is part of the beyond-reference
training-data-pipeline surface the brief asks for.

Scale design
------------
``connected_components`` is iterative min-label propagation:

    label(v) <- min(label(v), min over neighbours u of label(u))

Each iteration is one shuffle-join (edges x labels) + one map-side-
combinable groupBy min.  It converges in <= graph-diameter iterations.
For NEAR-DUP graphs this is the right algorithm: LSH banding links every
pair of a duplicate cluster that shares a band, so components are dense
(near-cliques) and their diameter is tiny (2-3 hops) regardless of
corpus size — iteration count does not grow with data volume.  A
component settles in as many rounds as its farthest member is hops
from its minimum; ``max_iter`` bounds those rounds, so a pathologically
long chain raises instead of returning partial components.

Lineage is cut every iteration with ``localCheckpoint`` — without it the
plan doubles per round and the driver OOMs on plan strings long before
the data is big.  Convergence is detected with a one-row TYPE-GENERIC
signature aggregate: ``(count, sum(xxhash64(vertex, label)) as
decimal(38,0))``.  Min-propagation is monotone (labels only move down
the column's ordering), so the label assignment is a fixpoint iff no
label changed, and an unchanged assignment keeps the signature equal; a
changed assignment collides with the previous signature only if the
xxhash64 sums coincide (~2^-64 per round).  This works for string ids
too, where the previous decimal-cast-sum approach returned NULL and
silently stopped after one round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    max_iter: int = 50,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components by min-label propagation.

    ``nodes``: one row per vertex (``doc_id``); vertices with no edge
    become singleton clusters.  ``edges``: undirected edge list as
    (``a``, ``b``) pairs (any orientation, duplicates fine).

    ``max_iter`` bounds the propagation rounds that change a label (the
    fused first round included); the round that confirms the fixpoint is
    not counted, so a graph whose components settle in ``max_iter``
    rounds returns, and one that needs more raises ``RuntimeError``.
    Pass a dict as ``stats`` to receive ``{"iterations": k}``, the
    number of rounds before the confirming one (1 for an empty or
    single-edge graph, 3 for the path 0-1-2-3).

    Returns (``doc_id``, cluster_rep) where cluster_rep is the minimum
    vertex id reachable from the vertex (the component's canonical
    representative).
    """
    from pyspark import StorageLevel

    # both directions via one explode, NOT union(edges, edges.swapped):
    # the union form plans and EXECUTES the whole upstream pair pipeline
    # (LSH band join / exact verify) once per branch when
    # ``und`` first materializes — the explode derives both orientations
    # from a single pass and halves the candidate-stage plan tree
    und = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col("a").alias("_s"), F.col("b").alias("_d")),
                    F.struct(F.col("b").alias("_s"), F.col("a").alias("_d")),
                )
            ).alias("_e")
        )
        .select(F.col("_e._s").alias("_s"), F.col("_e._d").alias("_d"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        # r8: iterate ONLY the edge-touched subgraph.  A vertex with no
        # edge receives no messages and its min-label is itself, so
        # singletons are re-attached by one left join at the end — every
        # per-iteration shuffle scales with the near-dup subgraph
        # (typically ≪ corpus after exact dedup), not the corpus.
        #
        # r9: the initial assignment labels0(v)=v makes iteration 0's
        # message join an identity — msgs0 = und itself read as
        # (_d, _s-as-label) — so the labels0 checkpoint job AND the first
        # edges⋈labels shuffle join fold into one union-groupBy that
        # produces labels1 directly (both union branches scan the same
        # persisted edge RDD, whose shuffle dependency runs once).
        labels, sig = _checkpoint_with_sig(
            und.select(F.col("_s").alias("_v"), F.col("_s").alias("_lbl"))
            .union(und.select(F.col("_d").alias("_v"), F.col("_s").alias("_lbl")))
            .groupBy("_v")
            .agg(F.min("_lbl").alias("_lbl"))
        )
        # ``rounds`` label-changing rounds have run; the next one either
        # confirms the fixpoint or is round ``rounds + 1``
        for rounds in range(1, max_iter + 1):
            msgs = und.join(labels, und["_s"] == labels["_v"]).select(
                F.col("_d").alias("_v"), F.col("_lbl")
            )
            labels, new_sig = _checkpoint_with_sig(
                labels.union(msgs).groupBy("_v").agg(F.min("_lbl").alias("_lbl"))
            )
            if new_sig == sig:
                if stats is not None:
                    stats["iterations"] = rounds
                break
            sig = new_sig
        else:
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} iterations "
                "(a chain longer than max_iter)"
            )
    finally:
        # unpersist on every exit path — a non-convergence RuntimeError (or
        # any mid-loop failure) must not leak the cached edge DataFrame for
        # the session's lifetime
        und.unpersist()
    comp = labels.select(F.col("_v").alias("doc_id"), F.col("_lbl").alias("cluster_rep"))
    return nodes.select("doc_id").join(comp, "doc_id", "left").select(
        F.col("doc_id"),
        F.coalesce(F.col("cluster_rep"), F.col("doc_id")).alias("cluster_rep"),
    )


def _label_sig(labels: DataFrame):
    """Type-generic one-row fixpoint signature of a (_v, _lbl) assignment:
    (row count, exact decimal sum of per-row xxhash64) — works for any
    id type (numeric, string, binary), unlike a numeric cast-sum."""
    row = labels.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64("_v", "_lbl").cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return row["n"], row["h"]


def _checkpoint_with_sig(labels: DataFrame):
    """Eagerly localCheckpoint a (_v, _lbl) assignment and return
    ``(checkpointed_df, fixpoint_signature)`` where the signature rides
    the SAME job as the checkpoint via ``df.observe`` — the pre-r8 loop
    paid a second whole-lineage aggregate job per iteration just to read
    it.  Falls back to the explicit aggregate if the checkpoint action
    ever stops populating observations (Spark version drift)."""
    import time

    from pyspark.sql import Observation

    obs = Observation()
    observed = labels.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64("_v", "_lbl").cast("decimal(38,0)")).alias("h"),
    )
    ck = observed.localCheckpoint()
    jo = getattr(obs, "_jo", None)
    deadline = time.monotonic() + 5.0
    while jo is not None and time.monotonic() < deadline:
        if jo.getRowOrEmpty().isDefined():
            row = obs.get
            return ck, (row["n"], row["h"])
        time.sleep(0.01)
    return ck, _label_sig(ck)


def cluster_dedup(df: DataFrame, pairs: DataFrame) -> DataFrame:
    """Keep one canonical row per near-dup cluster (the minimum id).

    ``pairs`` is any near-dup pair set — ``dedup.lsh_candidates`` output
    or verified-Jaccard pairs.  Transitive chains (A~B, B~C, A!~C)
    collapse in one pass, not over repeated pairwise sweeps."""
    comp = connected_components(df.select("doc_id"), pairs)
    keep = comp.filter(F.col("doc_id") == F.col("cluster_rep")).select("doc_id")
    return df.join(keep, "doc_id", "left_semi")


# n-word gram length of the decontamination overlap rule
DECONTAMINATION_N = 8


def decontaminate(df: DataFrame, benchmark: DataFrame) -> DataFrame:
    """Test-set decontamination: flag training documents sharing any
    ``DECONTAMINATION_N``-word gram with a benchmark/eval set (the
    n-gram-overlap rule used by GPT-3 appx. C / Gopher / The Pile to strip
    eval leakage from training data).

    Returns (doc_id, n_overlap, contaminated) for every training doc,
    where n_overlap counts DISTINCT benchmark grams the doc contains.

    Scale: benchmark gram sets are eval-suite sized (millions of grams at
    most) — broadcast them; the join is then a map-side hash probe per
    training gram, no shuffle of the corpus.  ``F.broadcast`` is a hint:
    if a benchmark ever outgrows the broadcast ceiling Spark falls back
    to a shuffled hash join on the gram key, still sub-quadratic."""
    from quality_filter.dedup import word_grams

    bench_grams = (
        benchmark.select(F.split(F.col("text"), " ").alias("_w"))
        .select(F.explode(word_grams(F.col("_w"), DECONTAMINATION_N)).alias("gram"))
        .distinct()
    )
    doc_grams = df.select(
        F.col("doc_id"), F.split(F.col("text"), " ").alias("_w")
    ).select(
        F.col("doc_id"),
        F.explode(word_grams(F.col("_w"), DECONTAMINATION_N)).alias("gram"),
    )
    # join FIRST, dedup after: the broadcast probe filters the corpus gram
    # stream map-side, so the (doc, gram) distinct shuffles only the hit
    # set (eval-suite sized) — a pre-join distinct would shuffle every
    # gram in the corpus
    hits = (
        doc_grams.join(F.broadcast(bench_grams), "gram")
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return (
        df.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_overlap"), F.lit(0)).alias("n_overlap"),
            (F.coalesce(F.col("n_overlap"), F.lit(0)) > 0).alias("contaminated"),
        )
    )


def dedup_pipeline(
    df: DataFrame,
    jaccard_threshold: float = 0.8,
    substring_k: int | None = None,
    verify_exact: bool = False,
) -> DataFrame:
    """The staged corpus-dedup composition a 100 TB run uses, in order:

    1. EXACT dedup first (``dedup.exact_dedup``, hash-groupBy).  This is
       the skew defuser, not just a cheap win: a document duplicated k
       times would otherwise reach LSH banding k times and emit O(k²)
       candidate pairs per band bucket — exact-first collapses those k
       copies to one representative so near-dup candidate volume scales
       with band-bucket occupancy of DISTINCT texts.
    2. MinHash+LSH near-dup pairs over the survivors (the signature shape
       is ``dedup.BANDS`` × ``dedup.ROWS_PER_BAND``, LSH buckets capped
       at ``lsh_candidates``' default occupancy) → connected components →
       one canonical doc per cluster (``cluster_dedup``).  With
       ``verify_exact=True`` the estimated-Jaccard survivors are
       re-checked against the TRUE shingle-set Jaccard
       (``dedup.exact_jaccard_for_pairs``) before any edge links a
       cluster — 16-hash signatures quantize Jaccard to 1/16 steps, so
       borderline false positives (est ≥ t, true < t) otherwise merge
       unrelated documents; the verify join touches only candidate-pair
       docs, never the corpus.
    3. Optionally (``substring_k``) exact-substring span dedup over the
       survivors (``dedup.substring_dedup``) — removes repeated
       boilerplate PASSAGES inside otherwise-unique documents; returns
       column ``clean_text`` alongside the original.

    Takes and returns a documents table (``doc_id``, ``text``, …): the
    surviving rows (with ``clean_text``/``n_removed`` when stage 3
    ran)."""
    from quality_filter.dedup import (
        exact_dedup,
        exact_jaccard_for_pairs,
        lsh_candidates,
        minhash_jaccard,
        minhash_signatures,
        substring_dedup,
    )

    # uniq feeds the signature stage, the CC vertex set, AND the final
    # keeper join; sig feeds the band grouping plus the two signature
    # re-attach joins.  Without a materialization boundary every consumer
    # re-executes the full upstream lineage — for a corpus build whose
    # input is an Arrow gate stage that measured ~8 executions of the most
    # expensive stage per build.  Lazy localCheckpoint (same mechanism as
    # the CC loop): blocks live MEMORY_AND_DISK on executors, are freed
    # when the DataFrame is GC'd, and truncate lineage — the documented CC
    # caveat applies (executor loss requires a job restart; acceptable
    # for batch dedup).
    uniq = exact_dedup(df).localCheckpoint(eager=False)
    sig = minhash_signatures(uniq).localCheckpoint(eager=False)
    pairs = minhash_jaccard(sig, lsh_candidates(sig)).filter(
        F.col("est_jaccard") >= jaccard_threshold
    )
    if verify_exact:
        pairs = exact_jaccard_for_pairs(uniq, pairs.select("a", "b")).filter(
            F.col("jaccard") >= jaccard_threshold
        )
    kept = cluster_dedup(uniq, pairs)
    if substring_k is None:
        return kept
    spans = substring_dedup(kept, k=substring_k)
    return kept.join(spans, "doc_id")
