"""KenLM-style byte-trigram perplexity: the language model artifact, its
distributed trainer and persistence, the batch scoring core that
``scoring.with_scores`` runs inside its Arrow UDF, and the ``logppl`` gate.

The reference's doc-quality gate consumes an upstream score
(``doc_scores[0] < 5``, ``src/salvage_low_quality_data.py:246``) it never
computes; here the analogous signal is computed in-engine (BASELINE.json
north_star): an additive-smoothed trigram language model over hashed byte
n-grams, trained deterministically on the multilingual seed corpus,
emitting per-turn ``logppl`` = mean negative log2-probability per byte
(lower = more natural text).  Same vectorized machinery as langid
(quality_filter.ngram), broadcast artifact, Arrow batches.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from quality_filter import ngram
from quality_filter.langid import SEED_CORPORA

SMOOTH_K = 0.1
# logppl for empty text: defined as the model's uniform-byte cost.
LOG2 = float(np.log(2.0))


def build_artifact() -> tuple[np.ndarray, np.ndarray]:
    """(lp3[DIM], lp2[DIM]) over hashed trigram / context-bigram buckets
    of the full multilingual seed corpus."""
    corpus = [s for sents in SEED_CORPORA.values() for s in sents]
    h3, h2, _ = ngram.batch_hashes(pa.array(corpus, type=pa.string()))
    return _smoothed(
        np.bincount(h3, minlength=ngram.DIM).astype(np.float64),
        np.bincount(h2, minlength=ngram.DIM).astype(np.float64),
    )


def _smoothed(c3: np.ndarray, c2: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """The (lp3, lp2) artifact of trigram / context-bigram counts:
    log(c3+k) and log(c2+k*256)."""
    # float32 halves lookup memory traffic; accumulation stays float64
    lp3 = np.log(c3 + SMOOTH_K).astype(np.float32)
    lp2 = np.log(c2 + SMOOTH_K * 256.0).astype(np.float32)
    return lp3, lp2


def _from_count_rows(rows) -> tuple[np.ndarray, np.ndarray]:
    """The artifact of collected ``(bucket, c3, c2)`` count rows (≤ DIM)."""
    c3 = np.zeros(ngram.DIM, dtype=np.float64)
    c2 = np.zeros(ngram.DIM, dtype=np.float64)
    for r in rows:
        c3[r["bucket"]] = r["c3"]
        c2[r["bucket"]] = r["c2"]
    return _smoothed(c3, c2)


def _ppl_hashed(
    h3: np.ndarray,
    h2: np.ndarray,
    offsets: np.ndarray,
    lp3: np.ndarray,
    lp2: np.ndarray,
) -> np.ndarray:
    """``logppl`` per row from a batch's hashes (``ngram.batch_hashes``)."""
    i3 = h3.astype(np.intp, copy=False)  # intp: fast-path fancy index
    i2 = h2.astype(np.intp, copy=False)
    per_pos = lp3[i3] - lp2[i2]  # log P(byte | 2-byte context)
    sums = ngram.segment_sums(per_pos, offsets)
    counts = (offsets[1:] - offsets[:-1]).astype(np.float64)
    # mean -log2 prob per byte; empty rows → uniform-byte cost 8 bits
    logppl = np.where(counts > 0, -(sums / np.maximum(counts, 1.0)) / LOG2, 8.0)
    return np.round(logppl, 3)


def train_artifact(corpus: DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """Train the trigram LM on a DataFrame corpus's ``text`` — the distributed
    counterpart of ``build_artifact`` (which uses the embedded seed
    corpus).  Each Arrow batch bincounts its hashed trigram/context
    buckets locally and emits only NONZERO (bucket, c3, c2) partials, so
    the shuffle carries at most DIM rows per batch and the final
    aggregate is map-side combinable; the driver collects exactly
    DIM-bounded model rows (model-sized, never corpus-sized — the
    guards.py policy).  Training on the embedded seed corpus through
    this path is bit-identical to ``build_artifact`` (pinned by test)."""
    return _from_count_rows(_counts_partials(corpus).collect())  # <= DIM rows


def _counts_partials(corpus: DataFrame) -> DataFrame:
    from quality_filter.shipping import ensure_shipped

    ensure_shipped(corpus.sparkSession)

    def counts(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from quality_filter import ngram as ng

        for pdf in batches:
            h3, h2, _ = ng.batch_hashes(pa.array(pdf["__text"], type=pa.string()))
            c3 = np.bincount(h3, minlength=ng.DIM)
            c2 = np.bincount(h2, minlength=ng.DIM)
            nz = np.flatnonzero(c3 | c2)
            yield pd.DataFrame({"bucket": nz, "c3": c3[nz], "c2": c2[nz]})

    partials = corpus.select(
        F.coalesce(F.col("text"), F.lit("")).alias("__text")
    ).mapInPandas(counts, "bucket int, c3 long, c2 long")
    return partials.groupBy("bucket").agg(
        F.sum("c3").alias("c3"), F.sum("c2").alias("c2")
    )


def write_model(corpus: DataFrame, path: str) -> None:
    """Train and PERSIST the LM as a (bucket, c3, c2) parquet table —
    fully distributed (the training job never collects to the driver;
    raw counts are stored so ``SMOOTH_K`` can change at load time).
    Load with ``read_model``."""
    _counts_partials(corpus).write.mode("overwrite").parquet(path)


def read_model(spark, path: str) -> tuple[np.ndarray, np.ndarray]:
    """Load a ``write_model`` table into the broadcastable (lp3, lp2)
    artifact (one model-sized collect, ≤ DIM rows)."""
    return _from_count_rows(spark.read.parquet(path).collect())


def keep_by_perplexity(threshold: float) -> Column:
    """P1-analog gate: keep iff logppl strictly below threshold (mirrors
    the strict ``doc_scores[0] < 5`` comparison,
    ``src/salvage_low_quality_data.py:246``)."""
    return F.col("logppl") < F.lit(threshold)
