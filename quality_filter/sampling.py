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


# shared guard (quality_filter.guards) re-exported under the historical
# local name — all vocabulary pulls in this module go through it.  The
# cardinality ceiling is the single knob ``guards.MAX_DRIVER_CARDINALITY``
# (read at call time; patch it THERE — a by-value copy here would be dead).
_bounded_collect = bounded_collect


def deterministic_split(
    df: DataFrame, key: str, weights: tuple[float, ...] = (0.7, 0.15, 0.15),
    names: tuple[str, ...] = ("train", "val", "test"),
) -> DataFrame:
    """R2: reproducible train/val/test split via integer mixing (replaces
    ``train_test_split(stratify=...)``, ``src/prep_data_for_training.py:62-120``
    — at 10^12 rows stratification converges to the weights by LLN)."""
    assert len(weights) == len(names) and abs(sum(weights) - 1) < 1e-9
    b = deterministic_bucket(key)
    cases = []
    acc = 0.0
    for w, name in zip(weights[:-1], names[:-1]):
        acc += w * 1000
        cases.append((acc, name))
    expr = F.lit(names[-1])
    for threshold, name in reversed(cases):  # innermost-out ⇒ first-match-wins
        expr = F.when(b < threshold, F.lit(name)).otherwise(expr)
    return df.withColumn("split", expr)


def sample_uniform(df: DataFrame, n: int, seed: int = 42) -> DataFrame:
    """R1: uniform n-row sample (``src/sample_data.py:6``)."""
    return df.orderBy(F.rand(seed)).limit(n)


def downsample_label(
    df: DataFrame, label_col: str, label: str, fraction: float, seed: int = 42
) -> DataFrame:
    """R3: keep ``fraction`` of rows with ``label``, all others
    (``src/prep_data_for_training.py:123-128``)."""
    labels = [
        r[label_col]
        for r in _bounded_collect(
            df.select(label_col).distinct(), f"label column {label_col!r}"
        )
    ]
    fractions = {l: (fraction if l == label else 1.0) for l in labels}
    return df.sampleBy(label_col, fractions, seed)


def stratified_split_sampled(
    df: DataFrame, label_col: str, train: float = 0.7, val: float = 0.15, seed: int = 42
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """R2 sampled variant: per-label fractions via sampleBy, remainder by
    anti-join on a row fingerprint.  Label vocabulary must be bounded
    (≤ ``guards.MAX_DRIVER_CARDINALITY``) — the per-label fraction map is driver
    state by construction (``sampleBy`` takes a dict)."""
    labels = [
        r[label_col]
        for r in _bounded_collect(
            df.select(label_col).distinct(), f"label column {label_col!r}"
        )
    ]
    key = F.xxhash64(*[F.col(c) for c in df.columns])
    with_key = df.withColumn("_k", key)
    tr = with_key.sampleBy(label_col, {l: train for l in labels}, seed)
    rest = with_key.join(tr.select("_k"), "_k", "left_anti")
    va = rest.sampleBy(label_col, {l: val / (1 - train) for l in labels}, seed + 1)
    te = rest.join(va.select("_k"), "_k", "left_anti")
    return tr.drop("_k"), va.drop("_k"), te.drop("_k")


def shard(df: DataFrame, key: str, n_shards: int, shard_idx: int) -> DataFrame:
    """R5: 1-of-k shard by hashed key (``src/train_classifier.py:214-215``)."""
    return df.filter(F.pmod(F.xxhash64(F.col(key)), F.lit(n_shards)) == shard_idx)


def seeded_shuffle(df: DataFrame, seed: int = 42) -> DataFrame:
    """R4: deterministic global shuffle order (``src/train_classifier.py:175``)."""
    return df.orderBy(F.rand(seed))


def mixture_resample(
    df: DataFrame,
    weights: dict[str, int],
    key: str = "doc_id",
    domain_col: str = "source",
    budget_pm: int = 500,
) -> DataFrame:
    """Domain-mixture resampling (The Pile / DoReMi-static style): keep a
    deterministic subset sized ``budget_pm``/1000 of the corpus whose
    domain proportions approach ``weights`` (per-mille integers summing
    to 1000; domains absent from the map are dropped).

    Per-domain keep threshold (0-1000, integer arithmetic so the same
    rows are chosen by any engine):

        thr_d = min(1000, (N_total * budget_pm * w_pm_d) // (1000 * N_d))
        (= 1000 * target_rows_d / N_d, target_rows_d = N_total * budget_pm/1000 * w_pm_d/1000)
        keep  <=> (key * 2654435761) % 1000 < thr_d

    A domain with fewer rows than its target saturates at thr=1000 (keep
    all — deterministic selection cannot oversample; upsampling is a
    repeat-explode concern, not a filter).

    Scale: ONE map-side-combinable count aggregate over the corpus (the
    total is the sum of the per-domain counts — no second corpus scan);
    the per-domain rows come back to the driver (bounded — domains are
    data sources, guarded by ``guards.MAX_DRIVER_CARDINALITY``), thresholds are
    computed with exact arbitrary-precision Python integers (no wrap at
    any corpus size), and selection is a broadcast join + narrow filter —
    no corpus shuffle."""
    counts, total = _domain_counts(df, domain_col)
    rates = [
        (d, min(1000, (total * budget_pm * int(weights[d])) // (1000 * n)))
        for d, n in _eligible_domains(counts, weights)
    ]
    rates_df = df.sparkSession.createDataFrame(
        rates, _rates_schema(df, domain_col, "_thr")
    )
    return (
        df.join(F.broadcast(rates_df), domain_col)
        .filter(deterministic_bucket(key) < F.col("_thr"))
        .drop("_thr")
    )


def _domain_counts(df: DataFrame, domain_col: str) -> tuple[dict, int]:
    """Per-domain row counts + corpus total from a single aggregate pass.
    The total counts EVERY row, including NULL-domain rows (the NULL
    group is a legitimate count key even though it can never be selected
    by the weight map)."""
    rows = _bounded_collect(
        df.groupBy(domain_col).agg(F.count(F.lit(1)).alias("_n")),
        f"domain column {domain_col!r}",
    )
    counts = {r[domain_col]: r["_n"] for r in rows}
    return counts, sum(counts.values())


def _eligible_domains(counts: dict, weights: dict) -> list:
    """Deterministically ordered (domain, count) pairs that participate in
    a mixture: NULL domains are skipped BEFORE sorting (a None key would
    make ``sorted`` raise TypeError against str domains; an inner
    equi-join could never match them anyway), as are domains absent from
    the weight map."""
    return sorted(
        (d, n)
        for d, n in counts.items()
        if d is not None and d in weights
    )


def _rates_schema(df: DataFrame, domain_col: str, extra: str):
    """Schema for the broadcast per-domain rates table: the domain field
    type is taken from ``df`` (not hardcoded string — int/date domain
    keys must round-trip with their own type for the join to hit)."""
    from pyspark.sql.types import LongType, StructField, StructType

    fields = [StructField(domain_col, df.schema[domain_col].dataType)]
    for name in extra.split(","):
        fields.append(StructField(name.strip(), LongType()))
    return StructType(fields)


def quality_weighted_sample(
    df: DataFrame, score_col: str, key: str = "doc_id", scale_pm: int = 1000
) -> DataFrame:
    """Soft quality filtering: keep each row with probability proportional
    to its [0,1] quality score (score 1.0 → always kept at the default
    scale, 0.2 → 20%), selected DETERMINISTICALLY by the same
    engine-portable mix as the split/shard operators:

        keep  ⟺  bucket(key) < floor(score · scale_pm)

    The soft alternative to a hard threshold cut (FineWeb-style pipelines
    use both: hard floors for garbage, proportional sampling to keep some
    mid-quality mass and avoid distribution collapse).  Narrow filter, no
    shuffle, reproducible on reruns and across engines."""
    thr = F.floor(F.col(score_col) * F.lit(scale_pm))
    return df.filter(deterministic_bucket(key, scale_pm) < thr)


def mixture_upsample(
    df: DataFrame,
    weights: dict[str, int],
    key: str = "doc_id",
    domain_col: str = "source",
    budget_pm: int = 1000,
) -> DataFrame:
    """Upsampling counterpart of ``mixture_resample``: domains whose
    target exceeds their row count are REPEATED (multi-epoch mixing for
    small high-value domains).  Each kept row gains a ``copy_idx``
    column (0-based); target_d = N_total * budget_pm/1000 * w_pm_d/1000:

        base_copies_d = target_d // N_d
        one more copy where (key * 2654435761) % 1000 <
        (1000 * (target_d % N_d)) // N_d   (fractional remainder)

    Rows in domains with target < N_d get copies 0 or 1 by the same rule
    (base 0 + fractional) — i.e. downsampling falls out as base_copies=0.
    Scale: ONE count aggregate (total = sum of per-domain counts, no
    second corpus scan; targets computed with exact Python integers) +
    broadcast join + one explode of ``sequence(1, copies)``; output
    volume = requested budget, shuffles nowhere."""
    counts, total = _domain_counts(df, domain_col)
    rates = []
    for d, n in _eligible_domains(counts, weights):
        target = (total * budget_pm * int(weights[d])) // 1_000_000
        base = target // n
        rates.append((d, base, (1000 * (target - base * n)) // n))
    rates_df = df.sparkSession.createDataFrame(
        rates, _rates_schema(df, domain_col, "_base,_fthr")
    )
    copies = F.col("_base") + F.when(
        deterministic_bucket(key) < F.col("_fthr"), 1
    ).otherwise(0)
    return (
        df.join(F.broadcast(rates_df), domain_col)
        .withColumn("_copies", copies)
        .filter(F.col("_copies") > 0)
        .withColumn(
            "copy_idx", F.explode(F.sequence(F.lit(0), F.col("_copies") - 1))
        )
        .drop("_base", "_fthr", "_copies")
    )
