"""Training-eval report operators: per-class precision / recall / F1 +
confusion matrix as DataFrame aggregates — the distributed re-expression
of the reference's sklearn eval step (``src/train_classifier.py:56-96``:
``classification_report`` + ``confusion_matrix`` over (label, prediction)
pairs; accuracy/P/R/F1 logged at ``:69-77``).

Scale design: everything reduces through ONE map-side-combinable
``groupBy(label, prediction).count()`` — the confusion matrix is at most
|classes|² rows regardless of corpus size, and the per-class report is
plain arithmetic over that tiny table (full-outer-joined on class so
never-predicted and never-true classes both appear with zero counts).
No window, no collect, no UDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def confusion_matrix(df: DataFrame) -> DataFrame:
    """Confusion counts: one row per observed (label, prediction) pair
    (``sklearn.confusion_matrix`` in long form,
    ``src/train_classifier.py:93-96``)."""
    return df.groupBy("label", "prediction").agg(F.count(F.lit(1)).alias("n"))


def eval_report(df: DataFrame) -> DataFrame:
    """Per-class eval report over (label, prediction) rows: support (true
    count), predicted count, true positives, precision, recall, F1 —
    ``sklearn.classification_report`` as a DataFrame
    (``src/train_classifier.py:56-91``).

    Division guards are explicit CASE logic (0.0 when the denominator is
    zero): under Spark ANSI mode x/0 raises, and SQL engines disagree
    on it otherwise."""
    cm = confusion_matrix(df)
    per_true = cm.groupBy(F.col("label").alias("class")).agg(
        F.sum("n").alias("support"),
        F.sum(F.when(F.col("prediction") == F.col("label"), F.col("n")).otherwise(0)).alias("tp"),
    )
    per_pred = cm.groupBy(F.col("prediction").alias("class")).agg(
        F.sum("n").alias("predicted")
    )
    j = per_true.join(per_pred, "class", "full_outer").select(
        "class",
        F.coalesce(F.col("support"), F.lit(0)).alias("support"),
        F.coalesce(F.col("predicted"), F.lit(0)).alias("predicted"),
        F.coalesce(F.col("tp"), F.lit(0)).alias("tp"),
    )
    precision = F.when(
        F.col("predicted") > 0, F.col("tp").cast("double") / F.col("predicted")
    ).otherwise(F.lit(0.0))
    recall = F.when(
        F.col("support") > 0, F.col("tp").cast("double") / F.col("support")
    ).otherwise(F.lit(0.0))
    out = j.select(
        "class",
        "support",
        "predicted",
        "tp",
        precision.alias("precision"),
        recall.alias("recall"),
    )
    f1 = F.when(
        F.col("precision") + F.col("recall") > 0,
        2.0 * F.col("precision") * F.col("recall")
        / (F.col("precision") + F.col("recall")),
    ).otherwise(F.lit(0.0))
    return out.withColumn("f1", f1)


def eval_summary(df: DataFrame) -> DataFrame:
    """One-row accuracy + macro-averaged P/R/F1 (the summary block of
    ``classification_report``; accuracy at ``src/train_classifier.py:69``).
    Macro = unweighted mean over the UNION of true and predicted classes
    — the sklearn ``labels=None`` convention the reference relies on
    (``f1_score(average='macro')``, ``src/train_classifier.py:76``): a
    class that is only ever predicted (support 0) still contributes its
    zero recall/F1 to the average.  ``eval_report``'s full outer join
    already materializes exactly that class set, so the macro is the
    plain AVG over its rows.

    The macro averages are rounded to 9 decimals: floating-point AVG is
    summation-order-sensitive and Spark parallelizes the aggregate, so
    raw doubles drift by ±1 ulp run-to-run — rounding makes the
    operator's output deterministic (accuracy is a ratio of two exact
    integer sums and needs no rounding)."""
    rep = eval_report(df)
    return rep.agg(
        (F.sum("tp").cast("double") / F.sum("support")).alias("accuracy"),
        F.bround(F.avg("precision"), 9).alias("macro_precision"),
        F.bround(F.avg("recall"), 9).alias("macro_recall"),
        F.bround(F.avg("f1"), 9).alias("macro_f1"),
    )


def cohen_kappa(df: DataFrame) -> DataFrame:
    """Cohen's kappa over (label, prediction) rows: chance-corrected
    agreement κ = (p_o − p_e) / (1 − p_e), with p_o = accuracy and
    p_e = Σ_c support_c·predicted_c / n² — the standard annotator-vs-
    classifier agreement statistic a labeling pipeline reports alongside
    P/R/F1.  Every input to the final arithmetic is an exact integer sum
    over the ≤|classes|²-row confusion matrix, so the double result is
    bit-deterministic (no order-sensitive float aggregation).

    The marginal products and n² run in decimal(38,0): at the 10^12-pair
    scale this module targets, ``n * n`` and ``Σ support·predicted``
    overflow int64 past n ≈ 3e9 (wrong or negative κ); decimal keeps
    both exact up to n ≈ 9.2e18 (n² ≤ 8.5e37 < 10^38) before the final
    lossless-in-relative-terms cast to double."""
    return kappa_from_report(eval_report(df))


def kappa_from_report(rep: DataFrame) -> DataFrame:
    """κ from a per-class report (class, support, predicted, tp) — the
    arithmetic half of ``cohen_kappa``, split out so the overflow
    treatment is testable at web-scale counts without materializing
    rows."""
    dec = "decimal(38,0)"
    agg = rep.agg(
        F.sum("support").alias("n"),
        F.sum("tp").alias("tp"),
        F.sum(F.col("support").cast(dec) * F.col("predicted").cast(dec)).alias("sp"),
    )
    n_d = F.col("n").cast("double")
    po = F.col("tp").cast("double") / n_d
    pe = F.col("sp").cast("double") / (n_d * n_d)
    return agg.select(
        F.when(pe < 1.0, (po - pe) / (F.lit(1.0) - pe))
        .otherwise(F.lit(0.0))
        .alias("kappa")
    )
