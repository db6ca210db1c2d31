"""Scorer tests: the one hash front end (``ngram.batch_hashes``) against a
per-row reference, the langid and perplexity cores, the one scorer UDF
(``scoring.with_scores``) — accuracy on labeled synthetic turns,
determinism across partitionings/batch compositions, gate semantics — and
the distributed langid trainer."""

from __future__ import annotations

import random

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from quality_filter import langid as L
from quality_filter import ngram
from quality_filter import perplexity as X
from quality_filter.scoring import with_scores
from quality_filter.synth import synth_transcripts


def slow_reference(texts):
    """Per-row int64 transliteration of the hash contract: each row's
    UTF-8 bytes behind a two-NUL prefix, one trigram and one context bigram
    per byte; None reads as ""."""
    MUL, MASK = 65599, ngram.DIM - 1
    h3s, h2s, offs = [], [], [0]
    for t in texts:
        bs = list(b"\x00\x00" + (t or "").encode("utf-8"))
        for j in range(len(bs) - 2):
            h2s.append((bs[j] * MUL + bs[j + 1]) & MASK)
            h3s.append(((bs[j] * MUL + bs[j + 1]) * MUL + bs[j + 2]) & MASK)
        offs.append(offs[-1] + len(bs) - 2)
    return (np.array(h3s, dtype=np.int64), np.array(h2s, dtype=np.int64),
            np.array(offs, dtype=np.int64))


def _hashes(texts):
    return ngram.batch_hashes(pa.array(texts, type=pa.string()))


def _local_langid(texts):
    """The langid core on one local batch, embedded model."""
    langs, profiles = L.build_artifact()
    h3, _, off = _hashes(texts)
    return L._score_hashed(h3, off, len(texts), langs, profiles)


def _random_texts(n: int, seed: int) -> list:
    rng = random.Random(seed)
    out = []
    for _ in range(n):
        r = rng.random()
        if r < 0.08:
            out.append(None)
        elif r < 0.16:
            out.append("")
        else:
            out.append(
                "".join(
                    chr(rng.randint(1, 0x10FF))
                    for _ in range(rng.randint(1, 120))
                )
            )
    return out


def _assert_same(texts, arr):
    for want, got in zip(slow_reference(texts), ngram.batch_hashes(arr)):
        assert np.array_equal(want, got)


# --- the hash front end ----------------------------------------------------

def test_trigram_hash_counts_and_offsets():
    h, _, off = _hashes(["abc", "", "é", "xy"])
    # per-row trigram count == utf-8 byte count (NUL-pad scheme)
    assert list(off) == [0, 3, 3, 5, 7]
    assert h.shape[0] == 7


def test_row_hashes_independent_of_batch_composition():
    h1, _, off1 = _hashes(["hello world", "zzz"])
    h2, _, off2 = _hashes(["completely different prefix", "hello world"])
    row_a = h1[off1[0]:off1[1]]
    row_b = h2[off2[1]:off2[2]]
    assert np.array_equal(row_a, row_b)


def test_segment_sums_empty_spans():
    vals = np.array([1.0, 2.0, 3.0, 4.0])
    off = np.array([0, 2, 2, 4, 4])
    got = ngram.segment_sums(vals, off)
    assert list(got) == [3.0, 0.0, 7.0, 0.0]
    # 2-D variant
    got2 = ngram.segment_sums(np.stack([vals, 2 * vals]), off)
    assert got2.shape == (2, 4)
    assert list(got2[1]) == [6.0, 0.0, 14.0, 0.0]


def test_batch_hashes_match_slow_reference_adversarial():
    """The int32/early-mask rolling hash over the Arrow buffer is pinned
    bit-for-bit against the per-row int64 reference on adversarial inputs
    (empty, None-as-empty, 1-byte, NUL bytes, multi-byte UTF-8, a
    100k-char run)."""
    texts = ["", "a", "ab", "abc", "é", "汉字", "x" * 100000,
             "\x00weird\x00", "mixed é 汉 ascii", None, ""]
    _assert_same(texts, pa.array(texts, type=pa.string()))
    assert _hashes([])[2].tolist() == [0]


@pytest.mark.parametrize("typ", [pa.string(), pa.large_string()])
def test_arrow_hashes_bit_identical(typ):
    cases = [
        [],
        [""],
        [None],
        ["a"], ["ab"], ["abc"],
        ["héllo wörld", "", None, "x", "yy", "zzz", "mixed ünïcödé"],
        ["\x00\x00embedded\x00", "tab\tnl\n", "🎉emoji🎉"],
        ["long " * 500, "s"],
        _random_texts(300, seed=9),
    ]
    for texts in cases:
        _assert_same(texts, pa.array(texts, type=typ))


def test_arrow_hashes_sliced_and_chunked():
    texts = _random_texts(200, seed=3)
    arr = pa.array(texts, type=pa.string())
    # slices exercise the non-gapless gather path (offset != 0)
    _assert_same(texts[5:150], arr.slice(5, 145))
    ch = pa.chunked_array([
        pa.array(texts[:80]), pa.array(texts[80:]),
    ])
    _assert_same(texts, ch)


# --- language ID -----------------------------------------------------------

SAMPLES = [
    ("en", "The meeting went well and everyone agreed on the schedule for next week."),
    ("de", "Das Treffen verlief gut und alle waren mit dem Zeitplan einverstanden."),
    ("fr", "La réunion s'est bien passée et tout le monde a accepté le calendrier."),
    ("es", "La reunión salió bien y todos estuvieron de acuerdo con el calendario."),
    ("zh", "会议进行得很顺利大家都同意下周的时间安排"),
    ("ru", "Встреча прошла хорошо и все согласились с расписанием на следующую неделю."),
    ("fi", "Kokous sujui hyvin ja kaikki hyväksyivät ensi viikon aikataulun."),
]


def test_langid_batch_accuracy():
    lang, prob = _local_langid([t for _, t in SAMPLES])
    want = [l for l, _ in SAMPLES]
    assert list(lang) == want, list(zip(want, lang))
    assert (prob > 0.2).all()


def test_langid_short_text_is_unknown():
    lang, prob = _local_langid(["", "ab", None])
    assert list(lang) == ["und", "und", "und"]
    assert list(prob) == [0.0, 0.0, 0.0]


def test_langid_per_language_gather_matches_block_reduceat():
    """The per-language 1-D gather + 1-D reduceat scoring path is pinned
    bit-for-bit against an (N, L) axis-0 block reduceat on a mixed
    batch."""
    langs, profiles = L.build_artifact()
    rng = np.random.RandomState(11)
    words = ["the", "der", "les", "datos", "kettu", "数据", "отчет", "ß"]
    texts = (
        [" ".join(rng.choice(words, rng.randint(0, 40))) for _ in range(500)]
        + ["", "ab", None]
    )
    out_lang, out_prob = _local_langid(texts)

    # block formulation over the same hashes
    hashes, _, offsets = _hashes(texts)
    profiles_t = np.ascontiguousarray(profiles.T)
    gathered = profiles_t[hashes.astype(np.intp)]
    per_row = np.zeros((len(texts), len(langs)), dtype=np.float64)
    nonempty = offsets[:-1] < offsets[1:]
    if gathered.shape[0] and nonempty.any():
        per_row[nonempty] = np.add.reduceat(
            gathered, offsets[:-1][nonempty], axis=0, dtype=np.float64
        )[: int(nonempty.sum())]
    counts = (offsets[1:] - offsets[:-1]).astype(np.float64)
    mean_lp = per_row / np.maximum(counts, 1.0)[:, None]
    z = mean_lp * L.SHARPNESS
    z -= z.max(axis=1, keepdims=True)
    ez = np.exp(z)
    probs = ez / ez.sum(axis=1, keepdims=True)
    best = probs.argmax(axis=1)
    exp_lang = np.array(langs, dtype=object)[best]
    exp_prob = probs[np.arange(len(texts)), best]
    short = counts < L.MIN_BYTES
    exp_lang[short] = L.UNKNOWN
    exp_prob = np.where(short, 0.0, np.round(exp_prob, 3))

    assert list(out_lang) == list(exp_lang)
    assert np.array_equal(out_prob, exp_prob)


def test_langid_spark_matches_local_and_is_partition_invariant(spark):
    df = spark.createDataFrame(
        [(l, i, t) for i, (l, t) in enumerate(SAMPLES)],
        "want string, turn_idx int, text string",
    )
    one = {
        r["turn_idx"]: (r["lang"], r["lang_prob"])
        for r in with_scores(df.coalesce(1)).collect()
    }
    many = {
        r["turn_idx"]: (r["lang"], r["lang_prob"])
        for r in with_scores(df.repartition(7)).collect()
    }
    assert one == many
    lang, prob = _local_langid([t for _, t in SAMPLES])
    for i in range(len(SAMPLES)):
        assert one[i][0] == lang[i]
        assert one[i][1] == pytest.approx(prob[i], abs=0)


def test_langid_on_synth_truth(spark):
    df = synth_transcripts(spark, n_convs=40, seed=11, with_truth=True)
    # language ID is only meaningful on linguistic text — evaluate on the
    # clean-bank turns (defect templates are nav bars / HTML / garble)
    scored = with_scores(df).filter("length(text) >= 40 AND true_kind = 'clean'")
    rows = scored.select("true_lang", "lang").collect()
    acc = sum(1 for r in rows if r["lang"] == r["true_lang"]) / len(rows)
    assert acc >= 0.95, acc


def test_with_scores_matches_per_row_reference(spark, transcripts):
    """Every column of the scorer UDF equals the langid and perplexity
    cores run on the per-row reference hashes of the same texts."""
    rows = (
        with_scores(transcripts.select("conv_id", "turn_idx", "text"))
        .select("text", "lang", "lang_prob", "logppl")
        .collect()
    )
    texts = [r["text"] for r in rows]
    h3, h2, off = slow_reference(texts)
    langs, profiles = L.build_artifact()
    lp3, lp2 = X.build_artifact()
    lang, prob = L._score_hashed(h3, off, len(texts), langs, profiles)
    logppl = X._ppl_hashed(h3, h2, off, lp3, lp2)
    for i, r in enumerate(rows):
        assert (r["lang"], r["lang_prob"], r["logppl"]) == (lang[i], prob[i], logppl[i])


# --- perplexity ------------------------------------------------------------

def test_perplexity_orders_text_quality(spark):
    rows = [
        ("c", 0, "we reviewed the results together and agreed on the next steps"),
        ("c", 1, "qzx vkj wpf bgh mzn dtl rkv xqs jwm"),
        ("c", 2, "$$$ %%% ### @@@ *** ^^^"),
        ("c", 3, ""),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    got = {r["turn_idx"]: r["logppl"] for r in with_scores(df).collect()}
    # natural text sits far below both garble kinds (which saturate near
    # the smoothing floor of 8 bits/byte)
    assert got[0] < 5.0 < got[1] and got[0] < 5.0 < got[2], got
    assert got[3] == 8.0
    # natural text should sit clearly below garble — gate splits them
    kept = (
        with_scores(df)
        .filter(X.keep_by_perplexity((got[0] + got[1]) / 2))
        .select("turn_idx")
        .collect()
    )
    assert sorted(r["turn_idx"] for r in kept) == [0]


def test_perplexity_partition_invariant(spark):
    df = synth_transcripts(spark, n_convs=20, seed=5)
    a = {
        (r["conv_id"], r["turn_idx"]): r["logppl"]
        for r in with_scores(df.coalesce(1)).collect()
    }
    b = {
        (r["conv_id"], r["turn_idx"]): r["logppl"]
        for r in with_scores(df.repartition(8)).collect()
    }
    assert a == b


# --- langid training -------------------------------------------------------

def test_train_profiles_nondefault_lang_col(spark):
    """Any label column name must produce the identical artifact (the
    mapInPandas batches read a fixed internal column name)."""
    rows = [(lang, s) for lang, ss in L.SEED_CORPORA.items() for s in ss]
    base = spark.createDataFrame(rows, "lang string, text string").repartition(4)
    langs_a, prof_a = L.train_profiles(base)
    renamed = base.withColumnRenamed("lang", "language")
    langs_b, prof_b = L.train_profiles(renamed, lang_col="language")
    assert langs_a == langs_b
    assert np.array_equal(prof_a, prof_b)


def test_train_profiles_label_cardinality_guard(spark):
    """A garbage high-cardinality label column must fail loudly BEFORE
    the model-sized collect, via the shared driver-pull guard."""
    from quality_filter.guards import MAX_DRIVER_CARDINALITY

    junk = spark.range(MAX_DRIVER_CARDINALITY + 1).select(
        F.concat(F.lit("l"), F.col("id")).alias("lang"),
        F.lit("some text").alias("text"),
    )
    with pytest.raises(ValueError, match="label vocabulary"):
        L.train_profiles(junk)
