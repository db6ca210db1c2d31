"""Similarity search over embedding columns (``array<float>``).

- ``cosine_topk``      — exact brute-force top-k: broadcast the (small)
  query set, fold the dot product with array HOFs (JVM-side, no UDF),
  rank per query with a window.  The baseline at any scale where
  |queries| × |corpus| row pairs are tractable.
- ``lsh_ann_topk``     — scale path #1: sign-random-projection LSH
  (deterministic seeded hyperplanes, broadcast as literals) buckets the
  corpus; candidates share a bucket with the query, then exact rerank.
  Probe radius 0 (same bucket) by default; increase ``n_tables`` for
  recall.
- ``ivf_topk``         — scale path #2: KMeans inverted-file cells,
  centroids folded into the plan as literals, nprobe-cell probing with
  exact rerank.  Prefer IVF when the corpus is clusterable (real
  embedding manifolds); SRP-LSH when it isn't.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors per query (query ids ≠ neighbor ids).
    Output: (query_id, neighbor_id, cosine, rank)."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    joined = c.crossJoin(F.broadcast(q)).filter(F.col("query_id") != F.col("neighbor_id"))
    cos = _dot(F.col("qv"), F.col("cv")) / (_norm(F.col("qv")) * _norm(F.col("cv")))
    scored = joined.select("query_id", "neighbor_id", cos.alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _hyperplanes(dim: int, n_bits: int, seed: int) -> list[list[float]]:
    rng = np.random.RandomState(seed)
    return rng.randn(n_bits, dim).astype(float).tolist()


def _check_n_bits(n_bits: int) -> None:
    # SRP bucket ids are bigint bit sets; up to 62 planes every id is a
    # non-negative long
    if not 1 <= n_bits <= 62:
        raise ValueError(f"n_bits must be in 1..62, got {n_bits}")


def srp_bucket(vec_col, planes: list[list[float]]):
    """Sign-random-projection bucket id (bigint): one bit per hyperplane.

    Tree-size note: each plane is a single ArrayType Literal node (not a
    dim-wide CreateArray) and the per-plane projections fold into one
    nested HOF over the plane array instead of ``n_bits`` unrolled
    aggregates — at (n_bits=8, dim=64) × n_tables the unrolled form made
    Catalyst analysis/optimization of the bucketing projection cost ~3×
    the execution it planned.  The per-plane arithmetic is unchanged
    (same zip_with product + sequential double fold), so bucket ids are
    bit-identical."""
    planes_arr = F.array(*[F.lit(np.asarray(p, dtype="float64")) for p in planes])
    projs = F.transform(planes_arr, lambda pl: _dot(vec_col, pl))
    bits = F.transform(
        projs,
        lambda p, i: F.when(
            p >= 0, F.call_function("shiftleft", F.lit(1).cast("bigint"), i)
        ).otherwise(F.lit(0).cast("bigint")),
    )
    return F.aggregate(bits, F.lit(0).cast("bigint"), lambda acc, b: acc + b)


def embedding_near_dups(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_bits: int = 8,
    n_tables: int = 4,
    seed: int = 42,
    max_bucket_size: int | None = 1000,
    log_bucket_drops: bool = False,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a < b, cosine ≥ threshold):
    SRP-LSH self-join candidates, exact cosine verify.  Near-identical
    vectors collide in every table, so recall at high thresholds is ~1
    while the join stays sub-quadratic.  Bucket occupancy is bounded by
    ``max_bucket_size`` (``dedup.cap_bucket_occupancy``) — a corpus of
    near-parallel embeddings would otherwise make one (table, bucket)
    key quadratic.

    Shuffle layout: the banded table drops the vector right after the
    bucket projection, so the LSH self-join, the occupancy window and the
    cross-table ``distinct`` all shuffle (id, tbl, bk) rows — at
    production dims the vector payload is 10-100× the id, and a pair
    colliding in several tables would otherwise ship its vectors once per
    collision.  Embeddings are re-attached to the DEDUPED pair list by
    two id-equi-joins against the corpus (each corpus vector crosses the
    wire once per side it appears on, not once per collision)."""
    from quality_filter.dedup import bucket_pairs

    _check_n_bits(n_bits)
    tables = [_hyperplanes(dim, n_bits, seed + 1000 * t) for t in range(n_tables)]
    renamed = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    parts = [
        F.struct(F.lit(t).alias("tbl"), srp_bucket(F.col("v"), planes).alias("bk"))
        for t, planes in enumerate(tables)
    ]
    b = renamed.select("id", F.explode(F.array(*parts)).alias("bd")).select(
        "id", F.col("bd.tbl").alias("tbl"), F.col("bd.bk").alias("bk")
    )
    ids = bucket_pairs(
        b, ["tbl", "bk"], "id", max_bucket_size, "embedding_near_dups",
        log_drops=log_bucket_drops,
    )
    va = renamed.select(F.col("id").alias("a"), F.col("v").alias("va"))
    vb = renamed.select(F.col("id").alias("b"), F.col("v").alias("vb"))
    cand = ids.join(va, "a").join(vb, "b")
    cos = _dot(F.col("va"), F.col("vb")) / (_norm(F.col("va")) * _norm(F.col("vb")))
    return cand.select("a", "b", cos.alias("cosine")).filter(
        F.col("cosine") >= threshold
    )


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_bits: int = 8,
    n_tables: int = 4,
    seed: int = 42,
    algorithm: str = "propagation",
    max_bucket_size: int | None = 1000,
    log_bucket_drops: bool = False,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication"): rows whose embeddings are near-parallel (cosine ≥
    ``threshold``) collapse to one canonical row per semantic cluster
    (minimum id keeper), removing paraphrases and re-renders that exact
    and shingle dedup cannot see.

    Scale path: SRP-LSH bucketed candidate pairs (``embedding_near_dups``
    — sub-quadratic, near-identical vectors collide in every table so
    recall at high thresholds is ~1) → connected components →
    ``cluster_dedup``'s keeper semi-join."""
    from quality_filter.cluster import cluster_dedup

    pairs = embedding_near_dups(
        df, threshold=threshold, id_col=id_col, vec_col=vec_col,
        dim=dim, n_bits=n_bits, n_tables=n_tables, seed=seed,
        max_bucket_size=max_bucket_size, log_bucket_drops=log_bucket_drops,
    ).select("a", "b")
    return cluster_dedup(df, pairs, id_col=id_col, algorithm=algorithm)


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_bits: int = 8,
    n_tables: int = 4,
    seed: int = 42,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Approximate top-k: candidates = corpus vectors sharing an SRP
    bucket with the query in ANY of ``n_tables`` tables, then exact
    cosine rerank.  Join is an equi-join on (table, bucket) — shuffle
    scales with bucket occupancy, not |corpus|×|queries|.

    ``max_bucket_size`` optionally caps CORPUS-side bucket occupancy
    (``dedup.cap_bucket_occupancy``) — default OFF here, unlike the
    self-join operators: the blowup is bounded by |queries| (broadcast,
    small) × occupancy rather than occupancy², and truncating corpus
    buckets silently lowers recall for queries landing in them.  Enable
    it when indexing corpora that may contain mass-duplicated
    embeddings.

    Shuffle layout: bucketized rows carry ids only — the multi-table
    collision ``distinct`` dedupes narrow (query_id, neighbor_id) pairs;
    vectors re-attach afterwards (query side via broadcast, corpus side
    via one id-equi-join), so no shuffle ships a vector more than once."""
    from quality_filter.dedup import cap_bucket_occupancy

    _check_n_bits(n_bits)
    tables = [
        _hyperplanes(dim, n_bits, seed + 1000 * t) for t in range(n_tables)
    ]

    def bucketize(df, ident):
        renamed = df.select(
            F.col(id_col).alias(ident), F.col(vec_col).alias("_v")
        )
        parts = [
            F.struct(F.lit(t).alias("tbl"), srp_bucket(F.col("_v"), planes).alias("bk"))
            for t, planes in enumerate(tables)
        ]
        return renamed.select(
            ident, F.explode(F.array(*parts)).alias("bd")
        ).select(ident, F.col("bd.tbl").alias("tbl"), F.col("bd.bk").alias("bk"))

    cb = bucketize(corpus, "neighbor_id")
    cb = cap_bucket_occupancy(
        cb, ["tbl", "bk"], "neighbor_id", max_bucket_size, "lsh_ann_topk"
    )
    qb = bucketize(queries, "query_id")
    ids = (
        cb.join(F.broadcast(qb), ["tbl", "bk"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    qv = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    cv = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    cand = ids.join(F.broadcast(qv), "query_id").join(cv, "neighbor_id")
    cos = _dot(F.col("qv"), F.col("cv")) / (_norm(F.col("qv")) * _norm(F.col("cv")))
    scored = cand.select("query_id", "neighbor_id", cos.alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _sqdist(vec_col, center):
    """Squared L2 distance to a centroid (an ``array<double>`` column —
    the callers bind centroids as single ArrayType literals)."""
    return F.aggregate(
        F.zip_with(
            vec_col, center, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _nearest_centroids(vec_col, centers: list[list[float]], n: int):
    """Array of the ``n`` nearest centroid ids (broadcast centroid
    literals, argmin via array_sort of (dist, cid) structs — pure
    Catalyst, no model object on the executors).  Centroids ride as one
    array-of-array-literal with the distance fold as a single nested HOF
    (same per-centroid arithmetic as the former unrolled form, ~nlist×
    smaller plan tree — see srp_bucket)."""
    centers_arr = F.array(*[F.lit(np.asarray(c, dtype="float64")) for c in centers])
    ds = F.transform(
        centers_arr,
        lambda c, i: F.struct(_sqdist(vec_col, c).alias("d"), i.alias("cid")),
    )
    return F.transform(F.slice(F.array_sort(ds), 1, n), lambda s: s["cid"])


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 16,
    nprobe: int = 4,
    seed: int = 42,
    train_fraction: float = 1.0,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: KMeans partitions the corpus
    into ``nlist`` cells; each corpus vector lives in its nearest cell;
    each query probes its ``nprobe`` nearest cells and exact-reranks only
    those candidates.

    Scale design: training sees a driver-side sample (``train_fraction``);
    the fitted centroids (nlist × dim floats) are folded into the plan as
    literals, so assignment is a narrow Catalyst projection — no model
    broadcast, no UDF.  The candidate join is an equi-join on cell id;
    shuffle volume scales with cell occupancy × nprobe, not
    |corpus| × |queries|.  Recall/latency trade via nprobe (nprobe=nlist
    degrades to exact brute force over a partitioned corpus).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = corpus.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
    )
    if train_fraction < 1.0:
        train = train.sample(train_fraction, seed=seed)
    model = KMeans(k=nlist, seed=seed).fit(train)
    centers = [list(map(float, c)) for c in model.clusterCenters()]

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        F.element_at(_nearest_centroids(F.col(vec_col), centers, 1), 1).alias("cid"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.explode(_nearest_centroids(F.col(vec_col), centers, nprobe)).alias("cid"),
    )
    cand = (
        c.join(F.broadcast(q), "cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "qv", "neighbor_id", "cv")
    )
    cos = _dot(F.col("qv"), F.col("cv")) / (_norm(F.col("qv")) * _norm(F.col("cv")))
    scored = cand.select("query_id", "neighbor_id", cos.alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
