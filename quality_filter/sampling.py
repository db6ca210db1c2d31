"""Sampling / splitting / sharding operators (SURVEY.md §2.7).

Two families:

- *Seeded random* (`sample`, `sampleBy`, `rand(seed)`) — statistically
  faithful to the reference's numpy/sklearn sampling
  (``src/sample_data.py:6``, ``src/prep_data_for_training.py:62-128``),
  reproducible per Spark seed but partitioning-sensitive.
- *Deterministic arithmetic* (integer mixing on a key) — bit-stable across
  engines, partitionings and reruns; the scale-safe default.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from quality_filter.guards import bounded_collect

_MIX = 2654435761  # Knuth multiplicative hash constant
SEED = 42  # the seeded-random family's Spark seed


def deterministic_bucket(key, buckets: int = 1000):
    """Arithmetic mixing → [0, buckets); key must be integral.

    The multiply runs in decimal(38,0): ``bigint`` arithmetic would
    overflow for keys ≥ ~3.47e9 (2^63 / 2654435761) and Spark's ``%``
    keeps the dividend's sign, so overflowed-negative products would
    satisfy any ``< thr`` comparison — silently keeping every such row.
    Decimal keeps the product exact up to 10^38 (key ≤ ~9.2e18 × the
    constant ≈ 2.4e28), and ``pmod`` pins the result to [0, buckets)
    for negative keys too."""
    k = F.col(key) if isinstance(key, str) else key
    return F.pmod(k.cast("decimal(38,0)") * F.lit(_MIX), F.lit(buckets)).cast(
        "bigint"
    )


def deterministic_split(df: DataFrame, key: str) -> DataFrame:
    """R2: reproducible 70/15/15 train/val/test split via integer mixing
    (replaces ``train_test_split(stratify=...)``,
    ``src/prep_data_for_training.py:62-120`` — at 10^12 rows
    stratification converges to the weights by LLN)."""
    b = deterministic_bucket(key)
    split = F.when(b < 700, "train").when(b < 850, "val").otherwise("test")
    return df.withColumn("split", split)


def sample_uniform(df: DataFrame, n: int) -> DataFrame:
    """R1: uniform n-row sample (``src/sample_data.py:6``)."""
    return df.orderBy(F.rand(SEED)).limit(n)


def downsample_label(
    df: DataFrame, label_col: str, label: str, fraction: float
) -> DataFrame:
    """R3: keep ``fraction`` of rows with ``label``, all others
    (``src/prep_data_for_training.py:123-128``)."""
    labels = [
        r[label_col]
        for r in bounded_collect(
            df.select(label_col).distinct(), f"label column {label_col!r}"
        )
    ]
    fractions = {l: (fraction if l == label else 1.0) for l in labels}
    return df.sampleBy(label_col, fractions, SEED)


def stratified_split_sampled(
    df: DataFrame, label_col: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """R2 sampled variant: 70/15/15 per-label fractions via sampleBy,
    remainder by anti-join on a row fingerprint.  Label vocabulary must be bounded
    (≤ ``guards.MAX_DRIVER_CARDINALITY``) — the per-label fraction map is driver
    state by construction (``sampleBy`` takes a dict)."""
    labels = [
        r[label_col]
        for r in bounded_collect(
            df.select(label_col).distinct(), f"label column {label_col!r}"
        )
    ]
    key = F.xxhash64(*[F.col(c) for c in df.columns])
    with_key = df.withColumn("_k", key)
    tr = with_key.sampleBy(label_col, {l: 0.7 for l in labels}, SEED)
    rest = with_key.join(tr.select("_k"), "_k", "left_anti")
    va = rest.sampleBy(label_col, {l: 0.15 / (1 - 0.7) for l in labels}, SEED + 1)
    te = rest.join(va.select("_k"), "_k", "left_anti")
    return tr.drop("_k"), va.drop("_k"), te.drop("_k")


def shard(df: DataFrame, key: str, n_shards: int, shard_idx: int) -> DataFrame:
    """R5: 1-of-k shard by hashed key (``src/train_classifier.py:214-215``)."""
    return df.filter(F.pmod(F.xxhash64(F.col(key)), F.lit(n_shards)) == shard_idx)


def seeded_shuffle(df: DataFrame) -> DataFrame:
    """R4: deterministic global shuffle order (``src/train_classifier.py:175``)."""
    return df.orderBy(F.rand(SEED))

