"""Corpus-curation operators beyond the per-document gates: per-key
contribution caps (RefinedWeb/Dolma-style per-domain limits).
"""

from __future__ import annotations

from typing import Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def cap_per_key(
    df: DataFrame,
    key_col: str = "source",
    k: int = 1000,
    order_col: str | None = None,
    ascending: bool = False,
    tiebreak_col: str = "doc_id",
) -> DataFrame:
    """Keep at most ``k`` rows per ``key_col`` group — the per-domain
    document cap of RefinedWeb/Dolma-style corpus curation (bound any
    single host's contribution to the training mix).

    Rows are ranked by ``order_col`` (descending by default — "keep the
    k best"; ``ascending=True`` flips it) with ``tiebreak_col`` as the
    deterministic tiebreaker; ``order_col=None`` ranks by
    ``tiebreak_col`` alone ("keep the k first").

    Scale: expressed as a rank-limit window (``row_number() <= k``),
    which Spark 3.5+ plans as a WindowGroupLimit with a PARTIAL
    (map-side) pass before the exchange — every mapper keeps only its
    own top-k per key, so a 10^9-row domain ships at most tasks × k
    rows through the shuffle instead of 10^9 rows into one sort task
    (the same plan shape as the bucket-occupancy guard).  Asserted by
    plan test (tests/test_round7.py)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    from pyspark.sql import Window

    order = []
    if order_col is not None:
        c = F.col(order_col)
        order.append(c.asc() if ascending else c.desc())
    order.append(F.col(tiebreak_col).asc())
    w = Window.partitionBy(key_col).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


# ---------------------------------------------------------------------------
# Bloom-filter decontamination: the approximate, memory-bounded variant of
# cluster.decontaminate for eval suites too large to broadcast as exact
# gram tables.  An exact benchmark gram table costs ~tens of bytes per
# gram on every executor; the Bloom bitset costs `bits_per_gram` BITS per
# gram (16 bits → fpp ≈ 5e-4) and the whole operator stays JVM-side:
#
#   build — gram → xxhash64 (a, b) → k Kirsch-Mitzenmacher bit positions
#           → (word_idx = pos >> 6, mask = 1 << (pos & 63)) → one
#           map-side-combinable groupBy(word_idx).agg(bit_or(mask)).
#           bit_or is idempotent, so duplicate grams need NO distinct
#           pass; the filter materializes as an (m/64)-row DataFrame.
#   probe — corpus gram positions (same JVM hash construction, so build
#           and probe can never drift) BROADCAST-hash-join the bitset on
#           word_idx; a gram is flagged iff all k probed bits are set.
#           No Python workers, no shuffle of the corpus gram stream
#           before the per-doc aggregate (same shape as the exact path).
#
# Guarantee: NO false negatives (every truly contaminated doc is
# flagged — Bloom filters only err toward flagging more), which is the
# conservative direction for decontamination.  fpp ≈ (1 - e^(-k/b))^k
# for b = bits_per_gram, minimized at k = b·ln2.
# ---------------------------------------------------------------------------

import math

_BLOOM_SEED_A = 0x9E3779B1
_BLOOM_SEED_B = 0x85EBCA77


def _is_prime(n: int) -> bool:
    """Deterministic Miller-Rabin for 64-bit n (the standard witness set
    {2,3,5,7,11,13,17,19,23,29,31,37} is exact below 3.3e24)."""
    if n < 2:
        return False
    for p in (2, 3, 5, 7, 11, 13, 17, 19, 23, 29, 31, 37):
        if n % p == 0:
            return n == p
    d, r = n - 1, 0
    while d % 2 == 0:
        d //= 2
        r += 1
    for a in (2, 3, 5, 7, 11, 13, 17, 19, 23, 29, 31, 37):
        x = pow(a, d, n)
        if x in (1, n - 1):
            continue
        for _ in range(r - 1):
            x = x * x % n
            if x == n - 1:
                break
        else:
            return False
    return True


def _next_prime(n: int) -> int:
    n += (n + 1) % 2  # next odd >= n
    while not _is_prime(n):
        n += 2
    return n


def _gram_hashes(df, text_col: str, n: int, *keep):
    """Explode documents into (``*keep``, a, b): one row per n-gram
    instance with the two seeded xxhash64 digests, all in Catalyst."""
    from quality_filter.cluster import _word_ngrams_from_words

    grams = df.select(
        *keep, F.split(F.col(text_col), " ").alias("_w")
    ).select(
        *keep, F.explode(_word_ngrams_from_words(F.col("_w"), n)).alias("_g")
    )
    return grams.select(
        *keep,
        F.xxhash64(F.col("_g"), F.lit(_BLOOM_SEED_A)).alias("a"),
        F.xxhash64(F.col("_g"), F.lit(_BLOOM_SEED_B)).alias("b"),
    )


def _gram_positions(df, text_col: str, n: int, m_bits: int, k: int, *keep):
    """Explode documents into (``*keep``, a, b, pos): one row per n-gram
    per probe position, all hashing in Catalyst.

    Positions are Kirsch-Mitzenmacher double hashing pos_i = (a + i·b)
    mod m with ``m`` PRIME and the step forced into [1, m-1]: a composite
    m lets a gram whose step shares a large factor with m cycle through
    only m/gcd distinct bits — hit in r8 at sf0.01, where m = 2^6·7·29
    gave one gram just TWO distinct probe bits and a ~25 % false-positive
    chance instead of 2^-k; prime m makes every step a unit so all k
    positions are distinct.  No int64 overflow: a,b reduced first, so
    the sum is < (k+1)·m."""
    hashed = _gram_hashes(df, text_col, n, *keep)
    am = F.pmod(F.col("a"), F.lit(m_bits))
    bm = F.pmod(F.col("b"), F.lit(m_bits - 1)) + F.lit(1)  # step in [1, m-1]
    pos = F.array(*[
        F.pmod(am + F.lit(i) * bm, F.lit(m_bits)) for i in range(k)
    ])
    return hashed.select(*keep, "a", "b", F.explode(pos).alias("pos"))


def build_decontamination_filter(
    benchmark: DataFrame,
    text_col: str = "text",
    n: int = 8,
    bits_per_gram: int = 24,
    expected_grams: int | None = None,
) -> tuple[DataFrame, dict]:
    """Build the Bloom bitset over the benchmark's n-grams.

    Returns ``(bits_df, meta)``: ``bits_df`` has one (``w``, ``mask``)
    row per SET 64-bit word of the filter (m/64 rows at most), ``meta``
    carries ``{m, k, n}`` for the probe side.  ``expected_grams=None``
    counts the gram stream first (one cheap aggregate over the
    eval-suite-sized benchmark).

    Size ``bits_per_gram`` by DOCUMENT-level false-positive tolerance,
    not gram-level: a doc probing g grams is over-flagged with
    probability ≈ g·fpp, so at fpp(16 bits) ≈ 4.4e-4 a 150-gram page
    already carries ~6% FP odds, while the default 24 bits
    (fpp ≈ 1e-5) keeps it ~0.1% — and 3 bytes/gram is still >16×
    smaller than broadcasting the exact gram table."""
    from quality_filter.cluster import _word_ngrams_from_words

    if expected_grams is None:
        expected_grams = (
            benchmark.select(F.split(F.col(text_col), " ").alias("_w"))
            .select(F.explode(_word_ngrams_from_words(F.col("_w"), n)).alias("_g"))
            .distinct()
            .count()
        )
    # PRIME m (see _gram_positions): the bitset still materializes as
    # ceil(m/64) words; the last word is simply partial
    m_bits = _next_prime(max(1031, expected_grams * bits_per_gram))
    k = max(1, round(bits_per_gram * math.log(2)))
    pos = _gram_positions(benchmark, text_col, n, m_bits, k)
    bits = (
        pos.select(
            F.shiftrightunsigned(F.col("pos"), 6).alias("w"),
            # python F.shiftleft only takes a literal shift — SQL takes a column
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pmod(pos, 64) AS INT))").alias("_m"),
        )
        .groupBy("w")
        .agg(F.bit_or("_m").alias("mask"))
    )
    return bits, {"m": m_bits, "k": k, "n": n}


# Past this bitset size the vectorized probe's driver collect + numpy
# broadcast is no longer obviously safe (2^33 bits = 1 GiB of words);
# fall back to the pure-JVM position-explode join, which never
# materializes the bitset outside Spark.
_VECTOR_PROBE_MAX_BITS = 1 << 33


def _probe_hit_udf(bits: DataFrame, meta: dict):
    """Build the vectorized membership predicate: the bitset words are
    collected once (bounded by ``_VECTOR_PROBE_MAX_BITS``) into a numpy
    uint64 array, broadcast, and probed by a batched Arrow UDF that
    computes the SAME Kirsch-Mitzenmacher positions as
    ``_gram_positions`` (numpy's ``%`` is floored modulo — identical to
    Catalyst ``pmod`` for the positive prime m) with an early exit once
    every gram in the batch has a cleared bit."""
    m, k = int(meta["m"]), int(meta["k"])
    wlen = (m + 63) // 64
    words = np.zeros(wlen, dtype=np.uint64)
    for r in bits.select("w", "mask").collect():
        words[int(r["w"])] = np.uint64(int(r["mask"]) & 0xFFFFFFFFFFFFFFFF)
    bc = bits.sparkSession.sparkContext.broadcast(words)

    @F.pandas_udf("boolean")
    def _hit(it: Iterator[Tuple[pd.Series, pd.Series]]) -> Iterator[pd.Series]:
        wv = bc.value
        one = np.uint64(1)
        for a, b in it:
            av = a.to_numpy(dtype=np.int64, copy=False)
            bv = b.to_numpy(dtype=np.int64, copy=False)
            am = av % m
            bm = bv % (m - 1) + 1
            ok = np.ones(av.shape[0], dtype=bool)
            for i in range(k):
                pos = (am + i * bm) % m
                bit = (wv[pos >> 6] >> (pos & 63).astype(np.uint64)) & one
                ok &= bit.astype(bool)
                if not ok.any():
                    break  # sound: ok is monotone non-increasing
            yield pd.Series(ok)

    return _hit


def decontaminate_bloom(
    df: DataFrame,
    bits: DataFrame,
    meta: dict,
    id_col: str = "doc_id",
    text_col: str = "text",
    probe_impl: str = "auto",
) -> DataFrame:
    """Flag training documents sharing any n-gram with the filtered
    benchmark: (``id_col``, n_overlap, contaminated) — the same output
    contract as ``cluster.decontaminate``, where n_overlap counts
    distinct (by hash pair) flagged grams.  Superset guarantee: every
    doc the exact operator flags is flagged here.

    ``probe_impl`` (r9):

    * ``'vector'`` — ONE row per gram instance through a batched Arrow
      predicate against the broadcast numpy bitset; only *hit* grams
      reach the per-doc aggregate, so the exchange carries the (tiny)
      contaminated gram set rather than every (doc, gram, position) row.
      The former join probe exploded k rows per gram (k=17..33) through
      a broadcast join + full-width aggregate — measured 10× slower at
      sf1.0 for identical output.
    * ``'join'`` — the pure-JVM position-explode broadcast join; never
      materializes the bitset outside Spark, so it has no size bound.
    * ``'auto'`` — 'vector' when the bitset fits comfortably on the
      driver (m <= 2^33 bits = 1 GiB), else 'join'.
    """
    if probe_impl == "auto":
        probe_impl = (
            "vector" if int(meta["m"]) <= _VECTOR_PROBE_MAX_BITS else "join"
        )
    if probe_impl == "vector":
        hashed = _gram_hashes(df, text_col, meta["n"], F.col(id_col))
        hit_grams = hashed.filter(_probe_hit_udf(bits, meta)(F.col("a"), F.col("b")))
        hits = hit_grams.groupBy(id_col).agg(
            F.count_distinct(F.struct("a", "b")).alias("n_overlap")
        )
    elif probe_impl == "join":
        pos = _gram_positions(
            df, text_col, meta["n"], meta["m"], meta["k"], F.col(id_col)
        )
        probed = pos.join(
            F.broadcast(bits), F.shiftrightunsigned(pos["pos"], 6) == bits["w"], "left"
        )
        hit = F.when(
            F.col("mask").isNotNull(),
            F.expr(
                "pmod(shiftrightunsigned(mask, CAST(pmod(pos, 64) AS INT)), 2)"
            ) == 1,
        ).otherwise(F.lit(False))
        per_gram = (
            probed.select(F.col(id_col), "a", "b", hit.alias("_hit"))
            .groupBy(id_col, "a", "b")
            .agg(F.min("_hit").alias("_present"))  # all k probed bits set
        )
        hits = (
            per_gram.filter(F.col("_present"))
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_overlap"))
        )
    else:
        raise ValueError(f"unknown probe_impl {probe_impl!r}")
    return (
        df.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_overlap"), F.lit(0)).alias("n_overlap"),
            (F.coalesce(F.col("n_overlap"), F.lit(0)) > 0).alias("contaminated"),
        )
    )


# Bit-positioning scheme version of the persisted filter.  v2 = prime m
# + Kirsch-Mitzenmacher step forced into [1, m-1] (r8); filters written
# by the pre-r8 composite-m scheme carry no version column and compute
# DIFFERENT bit positions — probing one with current code would produce
# silent false negatives, breaking the no-false-negative guarantee, so
# the reader rejects them (ADVICE r8 #1).
_BLOOM_SCHEME_VERSION = 2


def write_decontamination_filter(bits: DataFrame, meta: dict, path: str) -> None:
    """Persist the filter fully distributed: bits as parquet, meta as a
    one-row parquet table (mirrors the perplexity LM artifact layout).
    The meta carries the hash-scheme version so a reader can never
    silently probe a filter built under different bit positioning."""
    bits.write.mode("overwrite").parquet(f"{path}/bits")
    spark = bits.sparkSession
    spark.createDataFrame(
        [(int(meta["m"]), int(meta["k"]), int(meta["n"]), _BLOOM_SCHEME_VERSION)],
        "m long, k int, n int, v int",
    ).write.mode("overwrite").parquet(f"{path}/meta")


def read_decontamination_filter(spark, path: str) -> tuple[DataFrame, dict]:
    bits = spark.read.parquet(f"{path}/bits")
    meta_df = spark.read.parquet(f"{path}/meta")
    row = meta_df.collect()[0]
    v = row["v"] if "v" in meta_df.columns else 1
    if v != _BLOOM_SCHEME_VERSION:
        raise ValueError(
            f"decontamination filter at {path!r} uses bit-positioning "
            f"scheme v{v}, this build probes v{_BLOOM_SCHEME_VERSION}: "
            "probing it would silently produce false negatives — rebuild "
            "the filter with build_decontamination_filter"
        )
    return bits, {"m": row["m"], "k": row["k"], "n": row["n"]}
