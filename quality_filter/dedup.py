"""Deduplication operators for training-data pipelines: exact,
MinHash+LSH with n-gram Jaccard verify, exact-substring spans and
paragraphs — all JVM-side (xxhash64 + array HOFs + joins), no UDFs.

Scale notes: exact dedup is one hash-groupBy (map-side combinable);
MinHash signatures are one groupBy over exploded shingles; LSH candidate
generation groups on band keys (shuffle on band hash — the standard
sub-quadratic near-dup layout); everything downstream of candidates is
pair-local.

Every operator takes a documents table (``doc_id``, ``text``, …); pair
tables are (``a``, ``b``) doc-id pairs, as ``lsh_candidates`` emits them.

The MinHash shape is written once, here: ``N_HASHES`` signature
columns over ``SHINGLE_K``-word shingles, banded into ``BANDS`` bands of
``ROWS_PER_BAND`` rows.  ``minhash_signatures``, ``lsh_candidates``,
``minhash_jaccard`` and ``exact_jaccard_for_pairs`` all read these
constants, so they cannot disagree; changing the shape is a code edit
(``docs/minhash_tuning.md`` gives its S-curve).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

BANDS = 4
ROWS_PER_BAND = 4
N_HASHES = BANDS * ROWS_PER_BAND
SHINGLE_K = 3


def normalized_text(col):
    """Normalization for fingerprinting: lowercase, collapse whitespace,
    strip."""
    return F.trim(F.regexp_replace(F.lower(col), r"[ \t\r\n]+", " "))


def exact_dedup(df: DataFrame) -> DataFrame:
    """Exact dedup on normalized text: keep the row with the smallest id
    per fingerprint group (deterministic keeper).

    ONE scan and ONE shuffle: ``min_by(struct(row), id)`` per fingerprint
    (r7; the previous groupBy-ids + left-semi-join shape scanned the
    upstream lineage twice and shuffled twice — measured 2× the upstream
    cost when the input is an expensive Arrow-gate stage).  min_by is
    map-side combinable, so k identical copies collapse to at most one
    surviving row per mapper before the exchange — the same skew defusal
    the join shape had."""
    fp = F.md5(F.encode(normalized_text(F.col("text")), "UTF-8"))
    row = F.struct(*[F.col(c) for c in df.columns])
    keeper = (
        df.groupBy(fp.alias("_fp"))
        .agg(F.min_by(row, F.col("doc_id")).alias("_row"))
    )
    return keeper.select(*[F.col(f"_row.{c}").alias(c) for c in df.columns])


def word_grams(words_col, n: int):
    """Array of n-word grams (space-joined) from an already-split
    word-array column — the MinHash shingles (``SHINGLE_K``) and the
    decontamination grams (``cluster.DECONTAMINATION_N``).
    Empty for docs with fewer than ``n`` words: ``sequence(1, 0)`` is
    DESCENDING in Spark (yields [1, 0] and the 0 start then crashes
    ``slice``), so the short-doc case must be guarded explicitly.

    Pass a bound ATTRIBUTE (an array column materialized by its own
    projection under the consuming explode), not an inline ``split(...)``
    expression: Catalyst re-evaluates a lambda's captured expressions on
    every element, so an inline split rebuilds the whole word array once
    per shingle — O(words²) work per document (hoisting the split
    measured 3× on the corpus minhash stage at sf0.1)."""
    cnt = F.size(words_col) - (n - 1)
    return F.when(cnt >= 1, F.transform(
        F.sequence(F.lit(1), F.greatest(cnt, F.lit(1))),
        lambda i: F.array_join(F.slice(words_col, i, n), " "),
    )).otherwise(F.array().cast("array<string>"))


def minhash_signatures(df: DataFrame) -> DataFrame:
    """MinHash signature per doc: min over shingles of xxhash64(seed,
    shingle) for each of ``N_HASHES`` seeded permutations.  Output:
    (doc_id, h0..h{N_HASHES-1}).  One explode + one groupBy (map-side
    combine keeps the shuffle at one row per doc)."""
    # no .distinct() on the exploded shingles: min() is duplicate-
    # insensitive, and the distinct would be a second full shuffle of the
    # widest intermediate in the job.  The split is hoisted into its own
    # projection so the shingle lambda reads a bound attribute (see
    # word_grams).
    warr = df.select(F.col("doc_id"), F.split(F.col("text"), " ").alias("_w"))
    sh = warr.select(
        F.col("doc_id"),
        F.explode(word_grams(F.col("_w"), SHINGLE_K)).alias("sh"),
    )
    aggs = [
        F.min(F.xxhash64(F.lit(s), F.col("sh"))).alias(f"h{s}") for s in range(N_HASHES)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def lsh_candidates(sig: DataFrame, max_bucket_size: int | None = 1000) -> DataFrame:
    """LSH banding: docs sharing any band hash become distinct candidate
    pairs (``a`` < ``b``).

    Physical strategy:

    - ``max_bucket_size`` set (the scale path): the occupancy cap bounds
      every (band, hash) bucket, so pairs are generated WITHOUT a
      self-join — per-bucket ``row_number`` cap (map-side
      ``WindowGroupLimit`` + one bucket shuffle), then ``collect_list``
      of the ≤ cap members per bucket (bounded memory, reuses the
      window's partitioning — no second shuffle) and a positional
      double-explode of the sorted member array for the C(n,2)
      combinations.  The banded lineage — signatures, banding explode —
      is computed EXACTLY ONCE; a self-join on the capped table would
      compute window + lineage once per join side (measured +38-46%
      end-to-end on the sf0.1 minhash path).
    - ``max_bucket_size=None``: per-bucket membership is unbounded, so
      ``collect_list`` would be an OOM hazard on a degenerate bucket —
      pairs come from the classic banded self-join on the bucket key,
      quadratic in the largest bucket.

    Both strategies emit the identical pair set (combinations of the same
    deterministic survivor membership; parity pinned by test).

    The cap is the occupancy guard: a bucket of k rows emits O(k²) pairs,
    so one degenerate bucket would make the sub-quadratic plan quadratic.
    Survivors are the first ``max_bucket_size`` rows by xxhash64(bucket,
    id), so a duplicate group capped in several bands keeps a different
    member subset per band, which maximizes cross-band linkage.
    Truncation trades recall for a hard runtime bound."""
    band_cols = []
    for b in range(BANDS):
        cols = [F.col(f"h{b * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)]
        band_cols.append(F.struct(F.lit(b).alias("band"), F.xxhash64(*cols).alias("bh")))
    banded = sig.select(
        F.col("doc_id"), F.explode(F.array(*band_cols)).alias("bd")
    ).select("doc_id", F.col("bd.band").alias("band"), F.col("bd.bh").alias("bh"))
    if max_bucket_size is None:
        x, y = banded.alias("x"), banded.alias("y")
        cond = F.col("x.doc_id") < F.col("y.doc_id")
        for k in ("band", "bh"):
            cond = (F.col(f"x.{k}") == F.col(f"y.{k}")) & cond
        return (
            x.join(y, cond)
            .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
            .distinct()
        )
    order = F.xxhash64(F.col("band"), F.col("bh"), F.col("doc_id"))
    w = Window.partitionBy("band", "bh").orderBy(order, F.col("doc_id"))
    capped = banded.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= max_bucket_size
    )
    # id is the struct's only field, so sort_array orders members by id
    # and positional combinations below are automatically a < b
    members = capped.groupBy("band", "bh").agg(
        F.sort_array(F.collect_list(F.struct(F.col("doc_id").alias("_i")))).alias("_ms")
    )
    e = members.select(
        F.posexplode("_ms").alias("_p", "_a"), F.col("_ms")
    )
    pairs = e.select(
        "_a",
        F.explode(
            F.slice(F.col("_ms"), F.col("_p") + F.lit(2), F.size("_ms"))
        ).alias("_b"),
    )
    return pairs.select(
        F.col("_a._i").alias("a"), F.col("_b._i").alias("b")
    ).distinct()


def minhash_jaccard(sig: DataFrame, pairs: DataFrame) -> DataFrame:
    """Estimated Jaccard for candidate pairs = fraction of agreeing
    signature positions."""
    sa = sig.select(F.col("doc_id").alias("a"), *[F.col(f"h{i}").alias(f"a{i}") for i in range(N_HASHES)])
    sb = sig.select(F.col("doc_id").alias("b"), *[F.col(f"h{i}").alias(f"b{i}") for i in range(N_HASHES)])
    j = pairs.join(sa, "a").join(sb, "b")
    agree = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("int") for i in range(N_HASHES)
    )
    return j.select("a", "b", (agree / F.lit(float(N_HASHES))).alias("est_jaccard"))


def exact_jaccard_for_pairs(df: DataFrame, pairs: DataFrame) -> DataFrame:
    """TRUE shingle-set Jaccard for a given candidate pair list (a, b) —
    the verify layer between LSH candidates and clustering: 16-hash
    MinHash estimates have ±0.125 granularity, so precision-critical runs
    re-check candidates against the exact statistic before linking.

    Scale: only docs that appear in some pair are shingled (semi-join
    first — the pair set is near-dup-sized, orders of magnitude smaller
    than the corpus); the intersection count joins pair×shingle streams
    on (doc, shingle) equi-keys — volume is Σ|shingles(a)| over pairs,
    never corpus-quadratic.

    Returns (a, b, jaccard) for EVERY input pair: 0.0 when the shingle
    sets are disjoint, and also when either side has zero shingles (doc
    shorter than ``SHINGLE_K`` words, null/empty text, or an id absent
    from ``df`` entirely) — the size joins are left joins with a
    coalesce-to-0 so no pair silently vanishes."""
    ids = (
        pairs.select(F.col("a").alias("doc_id"))
        .union(pairs.select(F.col("b").alias("doc_id")))
        .distinct()
    )
    sh = (
        df.join(ids, "doc_id", "left_semi")
        .select(F.col("doc_id"), F.split(F.col("text"), " ").alias("_w"))
        .select(
            F.col("doc_id"),
            F.explode(word_grams(F.col("_w"), SHINGLE_K)).alias("sh"),
        )
        .distinct()
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sa = sh.select(F.col("doc_id").alias("a"), "sh")
    sb = sh.select(F.col("doc_id").alias("b"), "sh")
    common = (
        pairs.join(sa, "a")
        .join(sb, ["b", "sh"])
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    na = sizes.select(F.col("doc_id").alias("a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col("doc_id").alias("b"), F.col("n").alias("n_b"))
    j = (
        pairs.join(common, ["a", "b"], "left")
        .join(na, "a", "left")
        .join(nb, "b", "left")
        .withColumn("_nc", F.coalesce(F.col("n_common"), F.lit(0)))
        .withColumn("_na", F.coalesce(F.col("n_a"), F.lit(0)))
        .withColumn("_nb", F.coalesce(F.col("n_b"), F.lit(0)))
    )
    union_n = F.col("_na") + F.col("_nb") - F.col("_nc")
    return j.select(
        "a",
        "b",
        F.when(union_n > 0, F.col("_nc").cast("double") / union_n)
        .otherwise(F.lit(0.0))
        .alias("jaccard"),
    )


def duplicated_span_marks(
    df: DataFrame, k: int = 5, grams: str = "window", segment_size: int = 16384
) -> DataFrame:
    """Word positions covered by NON-CANONICAL duplicated k-gram
    occurrences — the marking half of exact-substring dedup (Lee et al.
    2022, "Deduplicating Training Data Makes Language Models Better",
    word-grain variant): a k-word window that occurs more than once in
    the corpus keeps only its first occurrence (minimum (id, pos)); every
    other occurrence's positions are marked for removal.

    Returns (id, wpos) distinct marked word positions.

    Gram construction (``grams``) — two strategies, identical output:

    - ``'window'`` (default): explode words once, hash k consecutive
      words per position via ``lead()`` over a (id, segment, pos)
      window — whole-stage-codegen'd, no per-gram string
      materialization.  Costs one extra shuffle of the word stream.
      The window partitions on (id, pos ÷ ``segment_size``), NOT bare
      id: a 10⁷-word document would otherwise become ONE sort task.
      Boundary grams stay exact because each segment's first
      k−1 words are duplicated into the previous segment's group (the
      overlap rows only feed ``lead()``; a gram row is kept only in its
      home segment, so no double counting).  Per-group sort state is
      bounded by ``segment_size`` + k − 1 regardless of document
      length; duplicated-row overhead is (k−1)/segment_size ≈ 0.02%.
      Measured 1.87× faster than the HOF strategy at sf0.1 local[32]
      (3.38 s → 1.81 s marking stage).
    - ``'hof'``: per-row array HOF building each gram string narrowly
      (no extra shuffle, but Catalyst interprets HOF lambdas and each
      gram allocates a k-word string).  Prefer on shuffle-constrained
      clusters where CPU is cheaper than network.

    Scale (both): grams are grouped by xxhash64 (the 'window' strategy
    hashes the k word columns directly, 'hof' the joined string — either
    way collision odds ~1e-12 per corpus-gram pair; the oracle groups by
    the gram string — identical occurrence classes), canonical selection
    is a map-side-combinable min(struct(id, pos)) aggregate — NO
    per-gram window, so boilerplate grams with millions of occurrences
    cost one combiner-reduced row; the occurrence⋈gram-info join builds
    its hash table on the one-row-per-gram side."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if grams == "window":
        if segment_size < k:
            raise ValueError(
                f"segment_size ({segment_size}) must be >= k ({k})"
            )
        words = df.select(
            F.col("doc_id"),
            F.size(F.split(F.col("text"), " ")).alias("_nw"),
            F.posexplode(F.split(F.col("text"), " ")).alias("pos", "w0"),
        )
        home = (F.col("pos") / segment_size).cast("long")
        # first k-1 words of a segment also feed the PREVIOUS segment's
        # trailing grams: duplicate them into that group (lead-only rows)
        segs = F.when(
            (F.col("pos") % segment_size < k - 1) & (F.col("pos") >= segment_size),
            F.array(home, home - 1),
        ).otherwise(F.array(home))
        words = words.select(
            "doc_id", "_nw", "pos", "w0", F.explode(segs).alias("_seg")
        )
        win = Window.partitionBy("doc_id", "_seg").orderBy("pos")
        lead_cols = [F.col("w0")] + [
            F.lead("w0", j).over(win).alias(f"w{j}") for j in range(1, k)
        ]
        occ = (
            words.select("doc_id", "_nw", "pos", "_seg", *lead_cols)
            # trailing positions have NULL leads; filter BEFORE hashing
            # (xxhash64 skips nulls, so unfiltered short windows would
            # collide with genuine shorter grams)
            .filter(F.col("pos") <= F.col("_nw") - k)
            # a gram row counts only in its home segment — the copy in
            # the previous segment exists purely as lead() input
            .filter((F.col("pos") / segment_size).cast("long") == F.col("_seg"))
            .select(
                "doc_id",
                "pos",
                F.xxhash64(*[F.col(f"w{j}") for j in range(k)]).alias("gh"),
            )
        )
    elif grams == "hof":
        # split hoisted into its own projection under the posexplode
        # (r9): the transform lambda captures the word array, and a
        # captured expression is re-evaluated per element — the inline
        # split was O(words²) per document (see word_grams)
        pre = df.select(
            F.col("doc_id"), F.split(F.col("text"), " ").alias("_w")
        )
        w = F.col("_w")
        n = F.size(w) - (k - 1)
        gram_arr = F.when(
            n >= 1,
            F.transform(
                F.sequence(F.lit(1), F.greatest(n, F.lit(1))),
                lambda i: F.xxhash64(F.array_join(F.slice(w, i, k), " ")),
            ),
        ).otherwise(F.array().cast("array<bigint>"))
        occ = pre.select(F.col("doc_id"), F.posexplode(gram_arr).alias("pos", "gh"))
    else:
        raise ValueError(f"unknown grams strategy {grams!r}")
    info = occ.groupBy("gh").agg(
        F.count(F.lit(1)).alias("c"),
        F.min(F.struct(F.col("doc_id"), F.col("pos"))).alias("mn"),
    )
    noncanon = (
        occ.join(info.filter(F.col("c") > 1), "gh")
        .filter(F.struct(F.col("doc_id"), F.col("pos")) != F.col("mn"))
        .select("doc_id", "pos")
    )
    return noncanon.select(
        F.col("doc_id"),
        F.explode(F.sequence(F.col("pos"), F.col("pos") + (k - 1))).alias("wpos"),
    ).distinct()


def substring_dedup(
    df: DataFrame, k: int = 5, grams: str = "window", segment_size: int = 16384
) -> DataFrame:
    """Exact-substring dedup: cut duplicated k-word spans (all but their
    first corpus occurrence) out of every document.  Returns
    (id, clean_text, n_removed) — clean_text is the surviving words in
    original order.

    Reassembly is explode → anti-join marked positions → TWO-LEVEL
    ordered group-concat: level 1 sorts and joins words within an
    (id, wpos ÷ ``segment_size``) segment (per-group state bounded by
    ``segment_size``, not document length — the same giant-doc skew
    guard as the marking window), level 2 concatenates the per-segment
    strings in segment order (per-group state = the output document
    itself, which the result row must hold anyway).  Every shuffle keys
    on the gram hash or the doc id.  ``grams`` selects the marking
    strategy (see ``duplicated_span_marks``)."""
    marked = duplicated_span_marks(df, k, grams=grams, segment_size=segment_size)
    words = df.select(
        F.col("doc_id"),
        F.posexplode(F.split(F.col("text"), " ")).alias("wpos", "word"),
    )
    kept = words.join(marked, ["doc_id", "wpos"], "left_anti")
    seg_agg = kept.groupBy(
        "doc_id", (F.col("wpos") / segment_size).cast("long").alias("_seg")
    ).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("wpos"), F.col("word").alias("w")))
                ),
                lambda s: s["w"],
            ),
            " ",
        ).alias("_segtext"),
        F.count(F.lit(1)).alias("_n_seg"),
    )
    agg = seg_agg.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(F.col("_seg"), F.col("_segtext").alias("t"))
                    )
                ),
                lambda s: s["t"],
            ),
            " ",
        ).alias("clean_text"),
        F.sum("_n_seg").alias("_n_kept"),
    )
    base = df.select(
        F.col("doc_id"),
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("_n_words"),
    )
    return (
        base.join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            (F.col("_n_words") - F.coalesce(F.col("_n_kept"), F.lit(0))).alias(
                "n_removed"
            ),
        )
    )


def paragraph_dedup(df: DataFrame) -> DataFrame:
    """Corpus-wide exact PARAGRAPH dedup (the Dolma-style pass between
    whole-document dedup and word-gram span dedup): every blank-line
    separated paragraph survives only at its first occurrence —
    ``min(struct(id, para_idx))`` across the corpus — and later
    occurrences are removed from their documents.

    Scale shape: posexplode → one map-side-combinable ``min(struct)``
    aggregate keyed on the paragraph, an equi-join back (the aggregated
    side is ONE row per distinct paragraph, so a boilerplate paragraph
    repeated 10^9 times joins against a single row — no giant window
    partition, which is why this is an aggregate and not a
    ``row_number`` over the paragraph key), and an ordered group-concat
    per document.

    The shuffle/join key is ``struct(xxhash64(p), xxhash64(p, 1))``, a
    128-bit fingerprint: the aggregate exchange carries 16 bytes per
    distinct paragraph instead of the paragraph, and the join
    hashes/compares two longs instead of arbitrarily long strings
    (collision odds across two independent 64-bit seeds are ~n²/2¹²⁹;
    the DuckDB parity case groups on the paragraph text itself).

    Returns (id, clean_text, n_paras_kept, n_paras_total)."""
    text = F.coalesce(F.col("text"), F.lit(""))
    paras = F.filter(F.split(text, r"\n{2,}"), lambda p: p != F.lit(""))
    exploded = df.select(
        F.col("doc_id"), F.posexplode(paras).alias("para_idx", "para")
    ).withColumn(
        "pkey", F.struct(F.xxhash64("para"), F.xxhash64("para", F.lit(1)))
    )
    first = exploded.groupBy("pkey").agg(
        F.min(F.struct(F.col("doc_id"), F.col("para_idx"))).alias("first")
    )
    kept = (
        exploded.join(first, "pkey")
        .filter(
            (F.col("first")["doc_id"] == F.col("doc_id"))
            & (F.col("first")["para_idx"] == F.col("para_idx"))
        )
        .drop("first", "pkey")
    )
    agg = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("para_idx"), F.col("para")))
                ),
                lambda s: s["para"],
            ),
            "\n\n",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_paras_kept"),
    )
    totals = df.select(
        F.col("doc_id"), F.size(paras).alias("n_paras_total")
    )
    return (
        totals.join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            F.coalesce(F.col("n_paras_kept"), F.lit(0)).cast("int").alias(
                "n_paras_kept"
            ),
            F.col("n_paras_total").cast("int"),
        )
    )
