"""Deduplication operators for training-data pipelines: exact,
MinHash+LSH, SimHash, and n-gram Jaccard — all JVM-side (xxhash64 +
array HOFs + joins), no UDFs.

Scale notes: exact dedup is one hash-groupBy (map-side combinable);
MinHash signatures are one groupBy over exploded shingles; LSH candidate
generation is an equi-join on band keys (shuffle on band hash — the
standard sub-quadratic near-dup layout); everything downstream of
candidates is pair-local.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_LOG = logging.getLogger(__name__)


def _log_bucket_drops(
    banded: DataFrame, key_cols: list[str], cap: int, what: str
) -> None:
    """Diagnostic drop accounting for the occupancy cap: one extra
    aggregate pass over the banded lineage, WARNs when buckets overflow."""
    sizes = banded.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("_bn"))
    st = (
        sizes.filter(F.col("_bn") > cap)
        .agg(
            F.count(F.lit(1)).alias("nb"),
            F.sum(F.col("_bn") - F.lit(cap)).alias("nd"),
            F.max("_bn").alias("mx"),
        )
        .collect()[0]
    )
    if st["nb"]:
        _LOG.warning(
            "%s: %d bucket(s) exceed the occupancy cap %d (largest: %d "
            "rows); dropping %d banded row(s) from candidate generation "
            "(deterministic per-bucket, per-band top-%d by hashed id). "
            "If these are genuine duplicates, stage exact dedup first "
            "or raise max_bucket_size.",
            what, st["nb"], cap, st["mx"], st["nd"], cap,
        )


def bucket_pairs(
    banded: DataFrame,
    key_cols: list[str],
    id_col: str,
    cap: int | None,
    what: str = "lsh",
    payload: tuple[str, ...] = (),
    log_drops: bool = False,
) -> DataFrame:
    """Distinct candidate pairs (``a`` < ``b``) of ids sharing a bucket in
    an LSH-banded table — the shared candidate-generation core of
    ``lsh_candidates`` / ``simhash_near_dups``.

    Output columns: ``a``, ``b`` (+ ``a_<p>``, ``b_<p>`` for each
    ``payload`` column carried through, e.g. the simhash needed for the
    Hamming verify).

    Physical strategy:

    - ``cap`` set (the scale path): the occupancy cap bounds every bucket,
      so pairs are generated WITHOUT a self-join — per-bucket
      ``row_number`` cap (map-side ``WindowGroupLimit`` + one (key)
      shuffle), then ``collect_list`` of the ≤ cap members per bucket
      (bounded memory, reuses the window's partitioning — no second
      shuffle) and a positional double-explode of the sorted member array
      for the C(n,2) combinations.  The banded lineage — signatures,
      banding explode — is computed EXACTLY ONCE; a self-join on the
      capped table would compute window + lineage once per join side
      (measured +38-46% end-to-end on the sf0.1 minhash path).
    - ``cap=None``: per-bucket membership is unbounded, so
      ``collect_list`` would be an OOM hazard on a degenerate bucket —
      pairs come from the classic banded self-join on the bucket key,
      quadratic in the largest bucket.

    Both strategies emit the identical pair set (combinations of the same
    deterministic survivor membership; parity pinned by test).

    The cap is the occupancy guard: a bucket of k rows emits O(k²) pairs,
    so one degenerate bucket would make the sub-quadratic plan quadratic.
    Survivors are the first ``cap`` rows by xxhash64(bucket key, id), so a
    duplicate group capped in several bands keeps a different member
    subset per band, which maximizes cross-band linkage.  Truncation
    trades recall for a hard runtime bound; ``log_drops=True`` runs one
    extra aggregate pass and WARNs with the drop counts."""
    if cap is None:
        x, y = banded.alias("x"), banded.alias("y")
        cond = F.col(f"x.{id_col}") < F.col(f"y.{id_col}")
        for k in key_cols:
            cond = (F.col(f"x.{k}") == F.col(f"y.{k}")) & cond
        return (
            x.join(y, cond)
            .select(
                F.col(f"x.{id_col}").alias("a"),
                F.col(f"y.{id_col}").alias("b"),
                *[F.col(f"x.{p}").alias(f"a_{p}") for p in payload],
                *[F.col(f"y.{p}").alias(f"b_{p}") for p in payload],
            )
            .distinct()
        )
    if log_drops:
        _log_bucket_drops(banded, key_cols, cap, what)
    order = F.xxhash64(*[F.col(c) for c in key_cols], F.col(id_col))
    w = Window.partitionBy(*key_cols).orderBy(order, F.col(id_col))
    capped = banded.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= cap
    )
    member = F.struct(
        F.col(id_col).alias("_i"), *[F.col(p).alias(p) for p in payload]
    )
    # id is the struct's first field, so sort_array orders members by id
    # and positional combinations below are automatically a < b
    members = capped.groupBy(*key_cols).agg(
        F.sort_array(F.collect_list(member)).alias("_ms")
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
        F.col("_a._i").alias("a"),
        F.col("_b._i").alias("b"),
        *[F.col(f"_a.{p}").alias(f"a_{p}") for p in payload],
        *[F.col(f"_b.{p}").alias(f"b_{p}") for p in payload],
    ).distinct()


def normalized_text(col):
    """Normalization for fingerprinting: lowercase, collapse whitespace,
    strip."""
    return F.trim(F.regexp_replace(F.lower(col), r"[ \t\r\n]+", " "))


def exact_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup on normalized text: keep the row with the smallest id
    per fingerprint group (deterministic keeper).

    ONE scan and ONE shuffle: ``min_by(struct(row), id)`` per fingerprint
    (r7; the previous groupBy-ids + left-semi-join shape scanned the
    upstream lineage twice and shuffled twice — measured 2× the upstream
    cost when the input is an expensive Arrow-gate stage).  min_by is
    map-side combinable, so k identical copies collapse to at most one
    surviving row per mapper before the exchange — the same skew defusal
    the join shape had."""
    fp = F.md5(F.encode(normalized_text(F.col(text_col)), "UTF-8"))
    row = F.struct(*[F.col(c) for c in df.columns])
    keeper = (
        df.groupBy(fp.alias("_fp"))
        .agg(F.min_by(row, F.col(id_col)).alias("_row"))
    )
    return keeper.select(*[F.col(f"_row.{c}").alias(c) for c in df.columns])


def conv_fingerprint_salted(
    df: DataFrame,
    text_col: str = "text",
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    segment_turns: int = 4096,
) -> DataFrame:
    """Conversation-grain fingerprint WITHOUT materializing the joined
    conversation string: phase 1 groups by (conv_id, turn_idx div
    ``segment_turns``) — every group bounded, skew spread across tasks —
    and hashes each segment's '\\n'-joined text; phase 2 hashes the
    ordered segment hashes.  A 10^7-turn conversation costs bounded
    memory per task in both phases (the same skew story as
    ``pipeline.reassemble_salted``, minus even the segment-concat output).

    Equality contract: two conversations with the same turn_idx → text
    mapping always get equal fingerprints.  Conversations whose joined
    texts are equal but whose turn_idx values straddle segment boundaries
    differently may get different fingerprints (false split, never false
    merge beyond md5 collision) — with the per-conversation 0-based
    turn_idx contract of TRANSCRIPT_SCHEMA this does not occur.

    Returns (conv_id, _fp string, n_turns)."""
    salt = (F.col(idx_col) / F.lit(segment_turns)).cast("int")
    segs = (
        df.withColumn("_salt", salt)
        .groupBy(conv_col, "_salt")
        .agg(
            F.md5(
                F.encode(
                    F.array_join(
                        F.transform(
                            F.array_sort(
                                F.collect_list(
                                    F.struct(
                                        F.col(idx_col),
                                        F.col(text_col).alias("t"),
                                    )
                                )
                            ),
                            lambda s: F.coalesce(s["t"], F.lit("")),
                        ),
                        "\n",
                    ),
                    "UTF-8",
                )
            ).alias("_seg_h"),
            F.count(F.lit(1)).alias("_seg_n"),
        )
    )
    return segs.groupBy(conv_col).agg(
        F.md5(
            F.encode(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct(F.col("_salt"), F.col("_seg_h").alias("h"))
                            )
                        ),
                        lambda s: s["h"],
                    ),
                    "|",
                ),
                "UTF-8",
            )
        ).alias("_fp"),
        F.sum("_seg_n").alias("n_turns"),
    )


def word_shingles_from_words(words_col, k: int = 3):
    """Array of k-word shingles from an already-split word-array column.
    Empty for docs with fewer than ``k`` words: ``sequence(1, 0)`` is
    DESCENDING in Spark (yields [1, 0] and the 0 start then crashes
    ``slice``), so the short-doc case must be guarded explicitly.

    Pass a bound ATTRIBUTE (an array column materialized by its own
    projection under the consuming explode), not an inline ``split(...)``
    expression: Catalyst re-evaluates a lambda's captured expressions on
    every element, so an inline split rebuilds the whole word array once
    per shingle — O(words²) work per document (hoisting the split
    measured 3× on the corpus minhash stage at sf0.1)."""
    n = F.size(words_col) - (k - 1)
    return F.when(n >= 1, F.transform(
        F.sequence(F.lit(1), F.greatest(n, F.lit(1))),
        lambda i: F.array_join(F.slice(words_col, i, k), " "),
    )).otherwise(F.array().cast("array<string>"))


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    shingle_k: int = 3,
) -> DataFrame:
    """MinHash signature per doc: min over shingles of xxhash64(seed,
    shingle) for each of ``n_hashes`` seeded permutations.  Output:
    (id, h0..h{n-1}).  One explode + one groupBy (map-side combine keeps
    the shuffle at one row per doc)."""
    # no .distinct() on the exploded shingles: min() is duplicate-
    # insensitive, and the distinct would be a second full shuffle of the
    # widest intermediate in the job.  The split is hoisted into its own
    # projection so the shingle lambda reads a bound attribute (see
    # word_shingles_from_words).
    warr = df.select(F.col(id_col), F.split(F.col(text_col), " ").alias("_w"))
    sh = warr.select(
        F.col(id_col),
        F.explode(word_shingles_from_words(F.col("_w"), shingle_k)).alias("sh"),
    )
    aggs = [
        F.min(F.xxhash64(F.lit(s), F.col("sh"))).alias(f"h{s}") for s in range(n_hashes)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def lsh_candidates(
    sig: DataFrame,
    id_col: str = "doc_id",
    bands: int = 4,
    rows_per_band: int = 4,
    max_bucket_size: int | None = 1000,
    log_bucket_drops: bool = False,
) -> DataFrame:
    """LSH banding: docs sharing any band hash become candidate pairs
    (a < b) via ``bucket_pairs`` — single-lineage grouped combinations
    when ``max_bucket_size`` bounds the buckets, banded self-join when
    uncapped; set ``log_bucket_drops`` for an audited extra pass that
    WARNs with drop counts."""
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(F.struct(F.lit(b).alias("band"), F.xxhash64(*cols).alias("bh")))
    banded = sig.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("bd")
    ).select(id_col, F.col("bd.band").alias("band"), F.col("bd.bh").alias("bh"))
    return bucket_pairs(
        banded, ["band", "bh"], id_col, max_bucket_size, "lsh_candidates",
        log_drops=log_bucket_drops,
    )


def minhash_jaccard(sig: DataFrame, pairs: DataFrame, id_col: str = "doc_id",
                    n_hashes: int = 16) -> DataFrame:
    """Estimated Jaccard for candidate pairs = fraction of agreeing
    signature positions."""
    sa = sig.select(F.col(id_col).alias("a"), *[F.col(f"h{i}").alias(f"a{i}") for i in range(n_hashes)])
    sb = sig.select(F.col(id_col).alias("b"), *[F.col(f"h{i}").alias(f"b{i}") for i in range(n_hashes)])
    j = pairs.join(sa, "a").join(sb, "b")
    agree = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("int") for i in range(n_hashes)
    )
    return j.select("a", "b", (agree / F.lit(float(n_hashes))).alias("est_jaccard"))


def exact_jaccard_for_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
) -> DataFrame:
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
    shorter than ``shingle_k`` words, null/empty text, or an id absent
    from ``df`` entirely) — the size joins are left joins with a
    coalesce-to-0 so no pair silently vanishes."""
    ids = (
        pairs.select(F.col("a").alias(id_col))
        .union(pairs.select(F.col("b").alias(id_col)))
        .distinct()
    )
    sh = (
        df.join(ids, id_col, "left_semi")
        .select(F.col(id_col), F.split(F.col(text_col), " ").alias("_w"))
        .select(
            F.col(id_col),
            F.explode(word_shingles_from_words(F.col("_w"), shingle_k)).alias("sh"),
        )
        .distinct()
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    sa = sh.select(F.col(id_col).alias("a"), "sh")
    sb = sh.select(F.col(id_col).alias("b"), "sh")
    common = (
        pairs.join(sa, "a")
        .join(sb, ["b", "sh"])
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    na = sizes.select(F.col(id_col).alias("a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col(id_col).alias("b"), F.col("n").alias("n_b"))
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


def minhash_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    n_hashes: int = 16,
    bands: int = 4,
    max_bucket_size: int | None = 1000,
    log_bucket_drops: bool = False,
) -> DataFrame:
    """Near-dup removal: LSH candidates → signature-Jaccard ≥ threshold →
    drop the larger id of each duplicate pair (single-link, one hop —
    transitive chains collapse over repeated application)."""
    sig = minhash_signatures(df, id_col, text_col, n_hashes)
    pairs = lsh_candidates(sig, id_col, bands, n_hashes // bands,
                           max_bucket_size=max_bucket_size,
                           log_bucket_drops=log_bucket_drops)
    dups = minhash_jaccard(sig, pairs, id_col, n_hashes).filter(
        F.col("est_jaccard") >= threshold
    )
    losers = dups.select(F.col("b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


def _bit_vote(hashes, i: int):
    """Sum over tokens of (bit_i set ? +1 : -1).  Closure over ``i`` — a
    default-arg parameter would change the HOF lambda's arity."""
    return F.aggregate(
        hashes,
        F.lit(0),
        lambda acc, h: acc
        + F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
    )


def simhash64(text_col):
    """64-bit SimHash over whitespace tokens: per-bit majority vote of
    token hashes, built from 64 bit-test aggregates on xxhash64 — pure
    Catalyst (aggregate HOF over the token array)."""
    tokens = F.split(normalized_text(text_col), " ")
    hashes = F.transform(tokens, lambda t: F.xxhash64(t))
    bit_exprs = []
    for i in range(64):
        weight = 2**i if i < 63 else -(2**63)  # two's-complement sign bit
        bit_exprs.append(
            F.when(_bit_vote(hashes, i) > 0, F.lit(weight).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    out = bit_exprs[0]
    for e in bit_exprs[1:]:
        out = out + e
    return out


def simhash_near_dups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    max_hamming: int = 3, max_bucket_size: int | None = 1000,
    log_bucket_drops: bool = False,
) -> DataFrame:
    """SimHash near-dup pairs: band the 64-bit hash into 4×16-bit keys —
    any pair within Hamming distance 3 shares at least one band
    (pigeonhole); verify with bit_count(xor) ≤ max_hamming.

    Hashes come from the grouped layout (measured 7.8× faster than the
    per-row aggregate-HOF variant at sf0.1: 0.65 s vs 5.08 s for 5k docs —
    64 codegen'd conditional sums beat 64 interpreted HOF passes).

    NULL/empty-text docs are excluded up front: they carry no content
    signal, and under the grouped layout they would otherwise all collapse
    onto one hash and be reported as hamming-0 "near-dups" of each other.
    Assumes ``id_col`` is unique per row (duplicate ids would be merged
    into a single signature by the groupBy)."""
    nonempty = df.filter(normalized_text(F.col(text_col)) != "")
    h = simhash64_grouped(nonempty, id_col, text_col).select(
        F.col(id_col), F.col("sh")
    )
    bands = h.select(
        id_col,
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned("sh", 16 * i)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("bk"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("bd"),
    ).select(id_col, "sh", F.col("bd.band").alias("band"), F.col("bd.bk").alias("bk"))
    cand = bucket_pairs(
        bands, ["band", "bk"], id_col, max_bucket_size, "simhash_near_dups",
        payload=("sh",), log_drops=log_bucket_drops,
    ).select(
        "a", "b", F.col("a_sh").alias("sha"), F.col("b_sh").alias("shb")
    )
    ham = F.bit_count(F.col("sha").bitwiseXOR(F.col("shb")))
    return cand.select("a", "b", ham.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


def simhash64_grouped(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Same 64-bit SimHash as ``simhash64`` in an explode+groupBy layout:
    one row per token, 64 conditional-sum aggregates (map-side combinable,
    whole-stage-codegen'd) instead of 64 interpreted aggregate-HOF passes
    per row.  Costs one shuffle of (id, 64 ints); wins when documents are
    long enough that the HOF interpretation dominates.  Docs with zero
    tokens (empty text) get no row — left-join and fill 0 if needed."""
    tokens = df.select(
        F.col(id_col),
        F.explode(
            F.split(normalized_text(F.coalesce(F.col(text_col), F.lit(""))), " ")
        ).alias("_tok"),
    ).withColumn("_h", F.xxhash64("_tok"))
    votes = [
        F.sum(
            F.when(F.shiftright("_h", i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{i}")
        for i in range(64)
    ]
    per_doc = tokens.groupBy(id_col).agg(*votes)
    sh = None
    for i in range(64):
        weight = 2**i if i < 63 else -(2**63)
        term = F.when(F.col(f"v{i}") > 0, F.lit(weight).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sh = term if sh is None else sh + term
    return per_doc.select(F.col(id_col), sh.alias("sh"))


def duplicated_span_marks(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 5,
    grams: str = "window", segment_size: int = 16384,
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
      id: a 10⁷-word document would otherwise become ONE sort task (the
      giant-doc skew the salted conv-fingerprint already guards
      against).  Boundary grams stay exact because each segment's first
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
    if grams == "window":
        if segment_size < k:
            raise ValueError(
                f"segment_size ({segment_size}) must be >= k ({k})"
            )
        words = df.select(
            F.col(id_col),
            F.size(F.split(F.col(text_col), " ")).alias("_nw"),
            F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "w0"),
        )
        home = (F.col("pos") / segment_size).cast("long")
        # first k-1 words of a segment also feed the PREVIOUS segment's
        # trailing grams: duplicate them into that group (lead-only rows)
        segs = F.when(
            (F.col("pos") % segment_size < k - 1) & (F.col("pos") >= segment_size),
            F.array(home, home - 1),
        ).otherwise(F.array(home))
        words = words.select(
            id_col, "_nw", "pos", "w0", F.explode(segs).alias("_seg")
        )
        win = Window.partitionBy(id_col, "_seg").orderBy("pos")
        lead_cols = [F.col("w0")] + [
            F.lead("w0", j).over(win).alias(f"w{j}") for j in range(1, k)
        ]
        occ = (
            words.select(id_col, "_nw", "pos", "_seg", *lead_cols)
            # trailing positions have NULL leads; filter BEFORE hashing
            # (xxhash64 skips nulls, so unfiltered short windows would
            # collide with genuine shorter grams)
            .filter(F.col("pos") <= F.col("_nw") - k)
            # a gram row counts only in its home segment — the copy in
            # the previous segment exists purely as lead() input
            .filter((F.col("pos") / segment_size).cast("long") == F.col("_seg"))
            .select(
                id_col,
                "pos",
                F.xxhash64(*[F.col(f"w{j}") for j in range(k)]).alias("gh"),
            )
        )
    elif grams == "hof":
        # split hoisted into its own projection under the posexplode
        # (r9): the transform lambda captures the word array, and a
        # captured expression is re-evaluated per element — the inline
        # split was O(words²) per document (see word_shingles_from_words)
        pre = df.select(
            F.col(id_col), F.split(F.col(text_col), " ").alias("_w")
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
        occ = pre.select(F.col(id_col), F.posexplode(gram_arr).alias("pos", "gh"))
    else:
        raise ValueError(f"unknown grams strategy {grams!r}")
    info = occ.groupBy("gh").agg(
        F.count(F.lit(1)).alias("c"),
        F.min(F.struct(F.col(id_col), F.col("pos"))).alias("mn"),
    )
    noncanon = (
        occ.join(info.filter(F.col("c") > 1), "gh")
        .filter(F.struct(F.col(id_col), F.col("pos")) != F.col("mn"))
        .select(id_col, "pos")
    )
    return noncanon.select(
        F.col(id_col),
        F.explode(F.sequence(F.col("pos"), F.col("pos") + (k - 1))).alias("wpos"),
    ).distinct()


def substring_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 5,
    grams: str = "window", segment_size: int = 16384,
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
    marked = duplicated_span_marks(
        df, id_col, text_col, k, grams=grams, segment_size=segment_size
    )
    words = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), " ")).alias("wpos", "word"),
    )
    kept = words.join(marked, [id_col, "wpos"], "left_anti")
    seg_agg = kept.groupBy(
        id_col, (F.col("wpos") / segment_size).cast("long").alias("_seg")
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
    agg = seg_agg.groupBy(id_col).agg(
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
        F.col(id_col),
        F.size(F.split(F.col(text_col), " ")).cast("bigint").alias("_n_words"),
    )
    return (
        base.join(agg, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            (F.col("_n_words") - F.coalesce(F.col("_n_kept"), F.lit(0))).alias(
                "n_removed"
            ),
        )
    )


def paragraph_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    key: str = "text",
) -> DataFrame:
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

    ``key`` picks the shuffle/join key:

    * ``"text"`` — the paragraph string itself: exact equality, the
      default, checked by hand-computed fixtures.
    * ``"hash"`` — ``struct(xxhash64(p), xxhash64(p, 1))``: a 128-bit
      fingerprint, so the aggregate exchange carries 16 bytes per
      distinct paragraph instead of the paragraph, and the join
      hashes/compares two longs instead of arbitrarily long strings —
      the 100-TB production key (collision odds across two independent
      64-bit seeds are ~n²/2¹²⁹).  Output-identical to ``"text"``
      absent a collision (pinned by test).

    Returns (id, clean_text, n_paras_kept, n_paras_total)."""
    if key not in ("text", "hash"):
        raise ValueError(f"key must be 'text' or 'hash', got {key!r}")
    text = F.coalesce(F.col(text_col), F.lit(""))
    paras = F.filter(F.split(text, r"\n{2,}"), lambda p: p != F.lit(""))
    exploded = df.select(
        F.col(id_col), F.posexplode(paras).alias("para_idx", "para")
    )
    if key == "hash":
        exploded = exploded.withColumn(
            "pkey", F.struct(F.xxhash64("para"), F.xxhash64("para", F.lit(1)))
        )
    else:
        exploded = exploded.withColumn("pkey", F.col("para"))
    first = exploded.groupBy("pkey").agg(
        F.min(F.struct(F.col(id_col), F.col("para_idx"))).alias("first")
    )
    kept = (
        exploded.join(first, "pkey")
        .filter(
            (F.col("first")[id_col] == F.col(id_col))
            & (F.col("first")["para_idx"] == F.col("para_idx"))
        )
        .drop("first", "pkey")
    )
    agg = kept.groupBy(id_col).agg(
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
        F.col(id_col), F.size(paras).alias("n_paras_total")
    )
    return (
        totals.join(agg, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            F.coalesce(F.col("n_paras_kept"), F.lit(0)).cast("int").alias(
                "n_paras_kept"
            ),
            F.col("n_paras_total").cast("int"),
        )
    )
