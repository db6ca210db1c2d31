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
corpus size — iteration count does not grow with data volume.  For
general graphs with long chains, the alternating large-star/small-star
algorithm (Kiveris et al., "Connected Components in MapReduce and
Beyond", SoCC'14) converges in O(log^2 n) rounds; near-dup graphs never
need it, so we keep the simpler propagation and bound it with
``max_iter``.

Lineage is cut every iteration with ``localCheckpoint`` — without it the
plan doubles per round and the driver OOMs on plan strings long before
the data is big.  Convergence is detected with a one-row TYPE-GENERIC
signature aggregate: ``(count, sum(xxhash64(vertex, label)) as
decimal(38,0))``.  Min-propagation is monotone (labels only move down
the column's ordering), so the label assignment is a fixpoint iff no
label changed, and an unchanged assignment keeps the signature equal; a
changed assignment collides with the previous signature only if the
xxhash64 sums coincide (~2^-64 per round — the same construction the
star variant's edge fixpoint check uses).  This works for string ids
too, where the previous decimal-cast-sum approach returned NULL and
silently stopped after one round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "a",
    b_col: str = "b",
    max_iter: int = 50,
    algorithm: str = "propagation",
    stats: dict | None = None,
) -> DataFrame:
    """Connected components by min-label propagation (default) or the
    alternating large-star/small-star algorithm (``algorithm='star'``,
    Kiveris et al. SoCC'14 — O(log² n) rounds, for graphs with long
    chains where propagation's diameter-bounded rounds would be slow).

    ``nodes``: one row per vertex (``id_col``); vertices with no edge
    become singleton clusters.  ``edges``: undirected edge list as
    (``a_col``, ``b_col``) pairs (any orientation, duplicates fine).

    Pass a dict as ``stats`` to receive ``{"iterations": k}`` — the
    bench harness uses it to evidence rounds-to-convergence vs input
    scale.

    Returns (``id_col``, cluster_rep) where cluster_rep is the minimum
    vertex id reachable from the vertex (the component's canonical
    representative).
    """
    if algorithm == "star":
        return _star_components(
            nodes, edges, id_col, a_col, b_col, max_iter, stats
        )
    if algorithm != "propagation":
        raise ValueError(f"unknown algorithm: {algorithm!r}")
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
                    F.struct(F.col(a_col).alias("_s"), F.col(b_col).alias("_d")),
                    F.struct(F.col(b_col).alias("_s"), F.col(a_col).alias("_d")),
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
        for it in range(1, max_iter):
            msgs = und.join(labels, und["_s"] == labels["_v"]).select(
                F.col("_d").alias("_v"), F.col("_lbl")
            )
            labels, new_sig = _checkpoint_with_sig(
                labels.union(msgs).groupBy("_v").agg(F.min("_lbl").alias("_lbl"))
            )
            if new_sig == sig:
                if stats is not None:
                    stats["iterations"] = it + 1
                break
            sig = new_sig
        else:
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} iterations "
                "(pathologically long chain — rerun with algorithm='star')"
            )
    finally:
        # unpersist on every exit path — a non-convergence RuntimeError (or
        # any mid-loop failure) must not leak the cached edge DataFrame for
        # the session's lifetime
        und.unpersist()
    comp = labels.select(F.col("_v").alias(id_col), F.col("_lbl").alias("cluster_rep"))
    return nodes.select(id_col).join(comp, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("cluster_rep"), F.col(id_col)).alias("cluster_rep"),
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


def _sym(e: DataFrame) -> DataFrame:
    return e.union(e.select(F.col("_b").alias("_a"), F.col("_a").alias("_b")))


def _large_star(e: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(Γ(u) ∪ {u})."""
    nb = _sym(e)
    mins = nb.groupBy("_a").agg(F.min("_b").alias("_mv"))
    mins = mins.select("_a", F.least("_mv", F.col("_a")).alias("_m"))
    j = nb.join(mins, "_a")
    return (
        j.filter(F.col("_b") > F.col("_a"))
        .select(F.col("_b").alias("_a"), F.col("_m").alias("_b"))
        .filter(F.col("_a") != F.col("_b"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Orient edges large→small; connect u and all its smaller neighbors
    to their minimum."""
    o = e.select(
        F.greatest("_a", "_b").alias("_a"), F.least("_a", "_b").alias("_b")
    ).filter(F.col("_a") != F.col("_b"))
    mins = o.groupBy("_a").agg(F.min("_b").alias("_m"))
    out_v = o.join(mins, "_a").select(
        F.col("_b").alias("_x"), F.col("_m").alias("_y")
    )
    out_u = mins.select(F.col("_a").alias("_x"), F.col("_m").alias("_y"))
    return (
        out_v.union(out_u)
        .filter(F.col("_x") != F.col("_y"))
        .select(F.col("_x").alias("_a"), F.col("_y").alias("_b"))
        .distinct()
    )


def _edge_sig(e: DataFrame):
    row = e.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64("_a", "_b").cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return row["n"], row["h"]


def _star_components(
    nodes: DataFrame, edges: DataFrame, id_col: str, a_col: str, b_col: str,
    max_iter: int, stats: dict | None = None,
) -> DataFrame:
    """Alternating large-star/small-star rounds until the edge set is a
    fixpoint (all edges then form stars rooted at component minima) —
    O(log² n) rounds regardless of chain length; each round is two
    join+groupBy shuffles.  Fixpoint detection compares (edge count,
    exact decimal sum of edge hashes) between rounds."""
    e = (
        edges.select(
            F.greatest(F.col(a_col), F.col(b_col)).alias("_a"),
            F.least(F.col(a_col), F.col(b_col)).alias("_b"),
        )
        .filter(F.col("_a") != F.col("_b"))
        .distinct()
        .localCheckpoint()
    )
    sig = _edge_sig(e)
    for it in range(max_iter):
        e = _small_star(_large_star(e)).localCheckpoint()
        new_sig = _edge_sig(e)
        if new_sig == sig:
            if stats is not None:
                stats["iterations"] = it + 1
            break
        sig = new_sig
    else:
        raise RuntimeError(f"star components did not converge in {max_iter} rounds")
    reps = (
        _sym(e)
        .groupBy("_a")
        .agg(F.min("_b").alias("_m"))
        .select("_a", F.least("_m", F.col("_a")).alias("_m"))
    )
    return (
        nodes.select(F.col(id_col))
        .join(reps, nodes[id_col] == reps["_a"], "left")
        .select(
            F.col(id_col),
            F.least(F.coalesce(F.col("_m"), F.col(id_col)), F.col(id_col)).alias(
                "cluster_rep"
            ),
        )
    )


def cluster_dedup(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "a",
    b_col: str = "b",
    algorithm: str = "propagation",
) -> DataFrame:
    """Keep one canonical row per near-dup cluster (the minimum id).

    ``pairs`` is any near-dup pair set — ``dedup.lsh_candidates`` output
    or verified-Jaccard pairs.  Transitive chains (A~B, B~C, A!~C)
    collapse in one pass, not over repeated pairwise sweeps."""
    comp = connected_components(
        df.select(id_col), pairs, id_col=id_col, a_col=a_col, b_col=b_col,
        algorithm=algorithm,
    )
    keep = comp.filter(F.col(id_col) == F.col("cluster_rep")).select(id_col)
    return df.join(keep, id_col, "left_semi")


def _word_ngrams_from_words(words_col, n: int):
    """Array of n-word grams (space-joined) from an already-split word
    array; empty for docs under n words.  Takes the ARRAY column so call
    sites can hoist the split into its own projection — an inline
    ``split`` captured by the lambda is re-evaluated per gram
    (O(words²) per doc, see dedup.word_shingles_from_words)."""
    cnt = F.size(words_col) - (n - 1)
    return F.when(
        cnt >= 1,
        F.transform(
            F.sequence(F.lit(1), F.greatest(cnt, F.lit(1))),
            lambda i: F.array_join(F.slice(words_col, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def decontaminate(
    df: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Test-set decontamination: flag training documents sharing any
    n-word gram with a benchmark/eval set (the n-gram-overlap rule used
    by GPT-3 appx. C / Gopher / The Pile to strip eval leakage from
    training data).

    Returns (id, n_overlap, contaminated) for every training doc, where
    n_overlap counts DISTINCT benchmark grams the doc contains.

    Scale: benchmark gram sets are eval-suite sized (millions of grams at
    most) — broadcast them; the join is then a map-side hash probe per
    training gram, no shuffle of the corpus.  ``F.broadcast`` is a hint:
    if a benchmark ever outgrows the broadcast ceiling Spark falls back
    to a shuffled hash join on the gram key, still sub-quadratic."""
    bench_grams = (
        benchmark.select(F.split(F.col(text_col), " ").alias("_w"))
        .select(F.explode(_word_ngrams_from_words(F.col("_w"), n)).alias("gram"))
        .distinct()
    )
    doc_grams = df.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("_w")
    ).select(
        F.col(id_col), F.explode(_word_ngrams_from_words(F.col("_w"), n)).alias("gram")
    )
    # join FIRST, dedup after: the broadcast probe filters the corpus gram
    # stream map-side, so the (doc, gram) distinct shuffles only the hit
    # set (eval-suite sized) — a pre-join distinct would shuffle every
    # gram in the corpus
    hits = (
        doc_grams.join(F.broadcast(bench_grams), "gram")
        .distinct()
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return (
        df.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_overlap"), F.lit(0)).alias("n_overlap"),
            (F.coalesce(F.col("n_overlap"), F.lit(0)) > 0).alias("contaminated"),
        )
    )


def dedup_pipeline(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.8,
    substring_k: int | None = None,
    algorithm: str = "propagation",
    verify_exact: bool = False,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """The staged corpus-dedup composition a 100 TB run uses, in order:

    1. EXACT dedup first (``dedup.exact_dedup``, hash-groupBy).  This is
       the skew defuser, not just a cheap win: a document duplicated k
       times would otherwise reach LSH banding k times and emit O(k²)
       candidate pairs per band bucket — exact-first collapses those k
       copies to one representative so near-dup candidate volume scales
       with band-bucket occupancy of DISTINCT texts.
    2. MinHash+LSH near-dup pairs over the survivors → connected
       components → one canonical doc per cluster (``cluster_dedup``;
       ``algorithm='star'`` for pathological chain graphs).  With
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

    Returns the surviving rows (with ``clean_text``/``n_removed`` when
    stage 3 ran)."""
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
    uniq = exact_dedup(df, id_col, text_col).localCheckpoint(eager=False)
    sig = minhash_signatures(uniq, id_col, text_col).localCheckpoint(eager=False)
    cand = lsh_candidates(sig, id_col, max_bucket_size=max_bucket_size)
    pairs = minhash_jaccard(sig, cand, id_col).filter(
        F.col("est_jaccard") >= jaccard_threshold
    )
    if verify_exact:
        pairs = exact_jaccard_for_pairs(
            uniq, pairs.select("a", "b"), id_col, text_col
        ).filter(F.col("jaccard") >= jaccard_threshold)
    kept = cluster_dedup(uniq, pairs, id_col=id_col, algorithm=algorithm)
    if substring_k is None:
        return kept
    spans = substring_dedup(kept, id_col, text_col, k=substring_k)
    return kept.join(spans, id_col)
