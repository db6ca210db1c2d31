"""Dedup (exact / MinHash-LSH / SimHash) and similarity-search tests with
planted duplicates and brute-force ground truth."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from quality_filter.dedup import (
    exact_dedup,
    lsh_candidates,
    minhash_dedup,
    minhash_jaccard,
    minhash_signatures,
    normalized_text,
    simhash_near_dups,
)
from quality_filter.similarity import cosine_topk, lsh_ann_topk

BASE = ("the quick brown fox jumps over the lazy dog while the committee "
        "reviews the proposal in detail and agrees on next steps for the project")


@pytest.fixture(scope="module")
def dup_docs(spark):
    rows = []
    for i in range(30):
        rows.append((i, f"unique document number {i} " + " ".join(f"w{i}k{j}" for j in range(20))))
    rows.append((100, BASE))
    rows.append((101, BASE))                         # exact dup of 100
    rows.append((102, BASE.replace("lazy", "sleepy")))  # near dup
    rows.append((103, "  " + BASE.upper() + "  "))   # normalized-exact dup
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark, dup_docs):
    out = exact_dedup(dup_docs)
    ids = sorted(r["doc_id"] for r in out.select("doc_id").collect())
    assert 100 in ids and 101 not in ids and 103 not in ids
    assert 102 in ids  # near-dup, not exact
    assert len(ids) == 32


def test_normalized_text_hand_computed(spark):
    """The fingerprint normalization lowercases, collapses runs of
    space/tab/CR/LF to one space and trims the ends; other control
    characters are kept."""
    cases = {
        "  Hello   World\t\n": "hello world",
        "A\r\nB": "a b",
        "": "",
        "x\x0by": "x\x0by",
        "Ünïcode  MIXED": "ünïcode mixed",
    }
    df = spark.createDataFrame([(k,) for k in cases], "text string")
    got = {r["text"]: r["n"] for r in df.select(
        "text", normalized_text(F.col("text")).alias("n")).collect()}
    assert got == cases


def test_minhash_survives_short_docs(spark):
    """Docs with < k words (incl. empty/whitespace) must yield EMPTY
    shingle arrays, not crash: sequence(1, 0) is descending in Spark and
    slice(words, 0, k) throws INVALID_PARAMETER_VALUE.START."""
    rows = [(0, ""), (1, "   "), (2, "one"), (3, "two words"),
            (4, "exactly three words"), (5, BASE), (6, BASE)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sig = minhash_signatures(df)
    # docs with < k words produce zero shingles → no signature row at all
    # (doc 1, "   ", splits into 4 empty-string words → degenerate shingles)
    assert sorted(r["doc_id"] for r in sig.select("doc_id").collect()) == [1, 4, 5, 6]
    out = minhash_dedup(df, threshold=0.5)
    ids = sorted(r["doc_id"] for r in out.select("doc_id").collect())
    assert 5 in ids and 6 not in ids          # the dup pair still collapses
    assert {0, 1, 2, 3, 4} <= set(ids)        # short docs pass through


def test_minhash_lsh_finds_near_dups(spark, dup_docs):
    sig = minhash_signatures(dup_docs, n_hashes=16)
    pairs = lsh_candidates(sig, bands=4, rows_per_band=4)
    got = {(r["a"], r["b"]) for r in pairs.collect()}
    assert (100, 101) in got
    assert (100, 102) in got or (101, 102) in got
    jac = {(r["a"], r["b"]): r["est_jaccard"] for r in minhash_jaccard(sig, pairs).collect()}
    assert jac[(100, 101)] == 1.0


def test_minhash_dedup_removes_near_dups(spark, dup_docs):
    out = minhash_dedup(dup_docs, threshold=0.5)
    ids = sorted(r["doc_id"] for r in out.select("doc_id").collect())
    assert 100 in ids and 101 not in ids and 102 not in ids
    assert all(i in ids for i in range(30))


def test_simhash_near_dups(spark, dup_docs):
    pairs = {(r["a"], r["b"]): r["hamming"] for r in simhash_near_dups(dup_docs, max_hamming=6).collect()}
    assert (100, 101) in pairs and pairs[(100, 101)] == 0
    assert (100, 103) in pairs and pairs[(100, 103)] == 0  # normalization
    assert all(a >= 100 for a, b in pairs)  # no false positives among uniques


SF = "/root/testdata/sf0.01"


def _brute_force_topk(emb, k=5, n_queries=3):
    ids = np.array([e[0] for e in emb])
    V = np.array([e[1] for e in emb], dtype=np.float64)
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    out = {}
    for qi in range(n_queries):
        sims = Vn @ Vn[qi]
        order = [
            int(ids[j])
            for j in sorted(range(len(ids)), key=lambda j: (-sims[j], ids[j]))
            if ids[j] != ids[qi]
        ]
        out[int(ids[qi])] = order[:k]
    return out


@pytest.fixture(scope="module")
def embeddings(spark):
    df = spark.read.parquet(f"{SF}/embeddings.parquet")
    return df, [(r["vec_id"], r["embedding"]) for r in df.collect()]


def test_simhash_grouped_equals_hof(spark, dup_docs):
    """The explode+groupBy SimHash layout must produce bit-identical
    hashes to the aggregate-HOF layout (incl. empty and NULL text)."""
    from quality_filter.dedup import simhash64, simhash64_grouped

    extra = spark.createDataFrame(
        [(200, ""), (201, None), (202, "one")], "doc_id long, text string"
    )
    df = dup_docs.unionByName(extra)
    hof = df.select("doc_id", simhash64(F.coalesce(F.col("text"), F.lit(""))).alias("sh"))
    grp = simhash64_grouped(df)
    joined = hof.alias("a").join(grp.alias("b"), "doc_id", "full")
    assert joined.filter("a.sh IS DISTINCT FROM b.sh").count() == 0
    assert grp.count() == df.count()


def test_cosine_topk_matches_brute_force(spark, embeddings):
    df, emb = embeddings
    queries = df.filter("vec_id < 3")
    got = {}
    for r in cosine_topk(df, queries, k=5).collect():
        got.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"]))
    want = _brute_force_topk(emb, k=5, n_queries=3)
    for q, pairs in got.items():
        ordered = [nid for _, nid in sorted(pairs)]
        assert ordered == want[q], (q, ordered, want[q])


def test_lsh_ann_recall(spark, embeddings):
    df, emb = embeddings
    queries = df.filter("vec_id < 10")
    ann = {}
    # random-Gaussian embeddings are LSH's worst case (neighbors barely
    # closer than random) — use wide buckets and many tables
    for r in lsh_ann_topk(df, queries, k=5, n_bits=4, n_tables=12).collect():
        ann.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    want = _brute_force_topk(emb, k=5, n_queries=10)
    recalls = [
        len(ann.get(q, set()) & set(truth)) / len(truth) for q, truth in want.items()
    ]
    assert sum(recalls) / len(recalls) >= 0.5, recalls


def test_embedding_near_dups(spark, embeddings):
    from pyspark.sql import functions as F
    from quality_filter.similarity import embedding_near_dups

    df, emb = embeddings
    # plant two near-identical copies of vec 0
    v0 = emb[0][1]
    extra = spark.createDataFrame(
        [(9001, [x * 1.0001 for x in v0], 0), (9002, list(v0), 0)],
        "vec_id long, embedding array<float>, label int",
    )
    world = df.unionByName(extra)
    pairs = {(r["a"], r["b"]): r["cosine"] for r in
             embedding_near_dups(world, threshold=0.99).collect()}
    assert (0, 9001) in pairs and (0, 9002) in pairs and (9001, 9002) in pairs
    for c in pairs.values():
        assert c >= 0.99
    # random vectors must not appear as near-dups at 0.99
    assert all(a >= 9001 or b >= 9001 or a == 0 for (a, b) in pairs), pairs


def test_ivf_topk_recall(spark, embeddings):
    """IVF ANN: recall@5 vs brute force must be high at nprobe=4/16 and
    exact at nprobe=nlist (probe-everything degrades to brute force)."""
    from quality_filter.similarity import ivf_topk

    df, emb = embeddings
    truth = _brute_force_topk(emb, k=5, n_queries=3)
    queries = df.filter("vec_id < 3")

    got = {}
    for r in ivf_topk(df, queries, k=5, nlist=16, nprobe=4).collect():
        got.setdefault(r["query_id"], []).append(r["neighbor_id"])
    hits = sum(len(set(got.get(q, [])) & set(t)) for q, t in truth.items())
    assert hits >= 0.6 * sum(len(t) for t in truth.values()), (got, truth)

    exact = {}
    for r in ivf_topk(df, queries, k=5, nlist=8, nprobe=8).collect():
        exact.setdefault(r["query_id"], []).append(r["neighbor_id"])
    assert {q: set(v) for q, v in exact.items()} == {q: set(t) for q, t in truth.items()}


def test_conv_fingerprint_salted_20k_turn_conversation(spark):
    """The skew-safe conversation fingerprint must (a) agree with the
    full-text md5 on equality CLASSES, and (b) handle a 20k-turn
    conversation — which crosses multiple 4096-turn segments — through
    the salted path without materializing the joined string."""
    from quality_filter.dedup import conv_fingerprint_salted
    from quality_filter.pipeline import reassemble

    n = 20_000
    rows = []
    for i in range(n):
        txt = f"turn number {i} with some content"
        rows.append(("X", i, txt))
        rows.append(("Y", i, txt))                      # exact copy of X
        rows.append(("Z", i, txt if i != 12_345 else "DIFFERENT"))
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")

    fps = {r["conv_id"]: (r["_fp"], r["n_turns"])
           for r in conv_fingerprint_salted(df).collect()}
    assert fps["X"][1] == n
    assert fps["X"][0] == fps["Y"][0], "identical conversations must collide"
    assert fps["X"][0] != fps["Z"][0], "one differing turn must split"

    # equality classes agree with the full-text fingerprint
    full = {r["conv_id"]: r["h"] for r in reassemble(df).select(
        "conv_id", F.md5(F.encode(F.col("text"), "UTF-8")).alias("h")).collect()}
    assert (full["X"] == full["Y"]) and (full["X"] != full["Z"])
