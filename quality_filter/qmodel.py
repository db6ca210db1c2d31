"""Trainable document-quality classifier (the learned counterpart of the
heuristic ``textstats.doc_quality_score``): distributed logistic
regression over the Gopher metric columns via ``pyspark.ml``, with
parquet-backed model persistence.

Large-scale pipelines (CCNet, DataTrove, Dolma) pair rule gates with a
LEARNED quality model — train on a labeled subset (often gate verdicts
or LLM judgments on a sample), then score the whole corpus cheaply.
This module keeps that loop Spark-native end to end:

- features are the already-scan-shaped Gopher metrics
  (``with_gopher_flags`` + ``with_gopher_repetition``): one narrow
  zero-exchange projection, no second tokenization pass;
- training is MLlib L-BFGS logistic regression — map-side gradient
  aggregation, model-sized driver state (one coefficient vector), no
  corpus collect;
- scoring is a pure-JVM transform (one BLAS dot per row inside
  whole-stage-compatible MLlib code) — no Python workers in the path;
- persistence uses the MLlib writer (parquet + JSON metadata, written
  distributed), so a 100-TB scoring job loads the model from shared
  storage exactly like the langid/perplexity artifacts.

New module (not textstats) so the driver-window rotation audit keeps
existing rows' import closures untouched.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_COLS = [
    "word_count", "mean_word_len", "symbol_ratio", "bullet_frac",
    "ellipsis_frac", "alpha_word_frac", "stopword_hits",
    "dup_line_frac", "dup_line_char_frac", "dup_para_frac",
    "dup_para_char_frac",
]

# Internal namespace for the computed feature columns.  A scored table
# that already carries gate metrics (re-scoring an audited corpus is a
# primary use case) must keep its original values: the features are
# therefore computed under ``_qf_``-prefixed names and every input
# column passes through untouched (ADVICE r7 #1 — the unprefixed
# version silently overwrote colliding inputs).
_PFX = "_qf_"
_GATE_FLAG_COLS = ["gopher_keep", "repetition_keep"]


def feature_cols() -> list[str]:
    """The internal (prefixed) feature column names, in assembler order."""
    return [_PFX + c for c in FEATURE_COLS]


def doc_quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append the ``_qf_``-prefixed Gopher quality + repetition metric
    columns (doubles) in one scan-shaped pass.  Input columns — including
    any that share a metric's public name, e.g. ``word_count`` on an
    already-audited table — pass through byte-identical."""
    from quality_filter.textstats import (
        with_gopher_flags,
        with_gopher_repetition,
    )

    reserved = [c for c in df.columns if c.startswith(_PFX)]
    if set(reserved) == set(feature_cols()):
        # Precomputed-feature fast path (r9): the caller already carries
        # the full prefixed feature set (e.g. it materialized them once
        # and checkpointed before iterative training).  Recomputing here
        # would re-run the whole metric projection (a dozen split/filter
        # HOF evaluations per row) on EVERY downstream pass; the values are
        # by construction the ones this function would produce.
        return df
    if reserved:
        raise ValueError(
            f"input columns collide with the {_PFX}* feature namespace: "
            f"{reserved}"
        )
    # Shelve colliding inputs so the metric computation cannot clobber
    # them, compute, move the metrics into the prefixed namespace, then
    # restore the originals (withColumnRenamed keeps column positions).
    shelved = {
        c: f"{_PFX}shelf_{c}"
        for c in FEATURE_COLS + _GATE_FLAG_COLS
        if c in df.columns and c != text_col
    }
    work = df
    for c, tmp in shelved.items():
        work = work.withColumnRenamed(c, tmp)
    work = with_gopher_repetition(with_gopher_flags(work, text_col), text_col)
    for c in FEATURE_COLS:
        work = work.withColumn(_PFX + c, F.col(c).cast("double")).drop(c)
    work = work.drop(*_GATE_FLAG_COLS)
    for c, tmp in shelved.items():
        work = work.withColumnRenamed(tmp, c)
    return work


def train_quality_classifier(
    df: DataFrame,
    label_col: str,
    text_col: str = "text",
    max_iter: int = 50,
    reg_param: float = 0.0,
):
    """Fit logistic regression P(label=1 | gopher metrics).

    ``label_col`` is any 0/1 integer column — gate verdicts for a
    distillation model, or human/LLM judgments on a labeled sample.
    Returns a fitted ``PipelineModel`` (assembler + scaler + LR) whose
    driver-side state is one coefficient vector; training never
    collects rows.  Persist with ``model.write().overwrite().save(path)``
    and reload with ``load_quality_classifier(path)``."""
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import StandardScaler, VectorAssembler

    feats = doc_quality_features(df, text_col).withColumn(
        "_label", F.col(label_col).cast("double")
    )
    pipe = Pipeline(stages=[
        VectorAssembler(inputCols=feature_cols(), outputCol="_raw_features"),
        StandardScaler(
            inputCol="_raw_features", outputCol="_features",
            withMean=True, withStd=True,
        ),
        LogisticRegression(
            featuresCol="_features", labelCol="_label",
            maxIter=max_iter, regParam=reg_param,
        ),
    ])
    model = pipe.fit(feats)
    _strip_training_summary(model)
    return model


def _strip_training_summary(model) -> None:
    """Drop the fitted LR stage's training summary before the model is
    ever used for scoring.

    Spark's ``ProbabilisticClassificationModel.transform`` lambda
    captures the WHOLE model object into the prediction task closure,
    and ``LogisticRegressionModel.trainingSummary`` is a non-transient
    field holding the summary → the SparkSession → the session's
    ``ObservationManager``, which is not java-serializable.  The result:
    scoring works until anything in the session has used
    ``DataFrame.observe`` (materializing the manager), then every
    ``transform`` action dies with ``Task not serializable``.  Loading
    a persisted model never restores summaries, so stripping in-memory
    matches the persistence semantics exactly (pinned by the round-trip
    test)."""
    from pyspark import SparkContext

    jvm = SparkContext._active_spark_context._jvm
    for stage in getattr(model, "stages", [model]):
        jo = getattr(stage, "_java_obj", None)
        if jo is None:
            continue
        try:
            jo.setSummary(jvm.scala.Option.empty())
        except Exception:
            pass  # stages without a summary (assembler, scaler)
    # ADVICE r7 #4: the blanket except above must not be allowed to
    # swallow a failure on the one stage this function exists to fix —
    # if the package-private setSummary call ever breaks (Spark version
    # drift, connect mode without _java_obj), fail loudly at training
    # time instead of reintroducing the Task-not-serializable hazard at
    # scoring time in observe-using sessions.
    for stage in getattr(model, "stages", [model]):
        if getattr(stage, "hasSummary", False):
            raise RuntimeError(
                f"failed to strip the training summary from {stage}: "
                "scoring would capture the SparkSession's "
                "ObservationManager into task closures (see docstring)"
            )


def load_quality_classifier(path: str):
    from pyspark.ml import PipelineModel

    return PipelineModel.load(path)


def score_quality(
    model, df: DataFrame, text_col: str = "text", out_col: str = "quality_prob"
) -> DataFrame:
    """Append ``out_col`` = P(label=1) for every document.  Pure-JVM
    transform (feature projection + one dot product per row); the
    original columns pass through unchanged."""
    from pyspark.ml.functions import vector_to_array

    scored = model.transform(doc_quality_features(df, text_col))
    keep = [c for c in df.columns]
    return scored.select(
        *keep,
        vector_to_array(F.col("probability")).getItem(1).alias(out_col),
    )
