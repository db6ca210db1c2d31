"""Trainable quality classifier: distributed train → persist → reload →
score loop over the Gopher metric features (quality_filter.qmodel)."""

import pytest
from pyspark.sql import functions as F


def _labeled_world(spark, n=3000, seed=17):
    """synth_documents with the composed gate verdict as the label —
    the distillation setup (learn to mimic the rule gate)."""
    from quality_filter.synth import synth_documents
    from quality_filter.textstats import fused_gate_arrow

    docs = synth_documents(spark, n, seed=seed).select("doc_id", "text")
    g = fused_gate_arrow(docs)
    return g.select(
        "doc_id", "text",
        (F.col("c4_keep") & F.col("gopher_keep")).cast("int").alias("keep"),
    )


@pytest.fixture(scope="module")
def holdout_model(spark):
    """(model, holdout): the classifier trained with default params on 4/5
    of the default world, and the held-out fifth.  Shared by the two tests
    that check its quality, so the model is trained once."""
    from quality_filter.qmodel import train_quality_classifier

    world = _labeled_world(spark)
    train = world.filter(F.col("doc_id") % 5 != 0)
    holdout = world.filter(F.col("doc_id") % 5 == 0)
    return train_quality_classifier(train, "keep"), holdout


def test_train_score_separates_gate_classes(spark, holdout_model):
    from pyspark.ml.evaluation import BinaryClassificationEvaluator

    from quality_filter.qmodel import score_quality

    model, test = holdout_model
    n_pos = test.filter(F.col("keep") == 1).count()
    n_neg = test.filter(F.col("keep") == 0).count()
    assert n_pos > 50 and n_neg > 20  # both classes present in holdout

    scored = score_quality(model, test).withColumn(
        "_label", F.col("keep").cast("double")
    )
    # schema passthrough + probability bounds
    assert set(scored.columns) == {"doc_id", "text", "keep", "quality_prob"} | {"_label"}
    bad = scored.filter(
        (F.col("quality_prob") < 0) | (F.col("quality_prob") > 1)
    ).count()
    assert bad == 0
    auc = BinaryClassificationEvaluator(
        rawPredictionCol="quality_prob", labelCol="_label",
        metricName="areaUnderROC",
    ).evaluate(scored.withColumn("quality_prob", F.col("quality_prob")))
    assert auc > 0.85, f"classifier failed to separate gate classes: AUC={auc}"


def test_model_persistence_roundtrip(spark, tmp_path):
    from quality_filter.qmodel import (
        load_quality_classifier,
        score_quality,
        train_quality_classifier,
    )

    world = _labeled_world(spark, n=1200, seed=5)
    model = train_quality_classifier(world, "keep", max_iter=20)
    path = str(tmp_path / "qmodel")
    model.write().overwrite().save(path)
    back = load_quality_classifier(path)

    a = {r["doc_id"]: r["quality_prob"] for r in score_quality(model, world).collect()}
    b = {r["doc_id"]: r["quality_prob"] for r in score_quality(back, world).collect()}
    assert a.keys() == b.keys()
    assert all(abs(a[k] - b[k]) < 1e-12 for k in a)


def test_feature_columns_complete(spark):
    from quality_filter.qmodel import doc_quality_features, feature_cols

    df = spark.createDataFrame(
        [(0, "the be to of and that have with words here fine.\n" * 6)],
        "doc_id long, text string",
    )
    out = doc_quality_features(df)
    assert set(feature_cols()) <= set(out.columns)
    row = out.collect()[0]
    assert all(row[c] is not None for c in feature_cols())


def test_features_never_overwrite_input_metrics(spark):
    """ADVICE r7 #1 regression: re-scoring a table that already carries
    gate metrics (word_count, dup_line_frac, ...) must keep the original
    values — the computed features live in the _qf_ namespace."""
    import pytest

    from quality_filter.qmodel import (
        doc_quality_features,
        score_quality,
        train_quality_classifier,
    )

    world = _labeled_world(spark, n=600, seed=9)
    audited = world.withColumn("word_count", F.lit(-777)).withColumn(
        "dup_line_frac", F.lit(-1.5)
    )
    feats = doc_quality_features(audited)
    got = feats.select("word_count", "dup_line_frac", "_qf_word_count").head()
    assert got["word_count"] == -777  # original audit value intact
    assert got["dup_line_frac"] == -1.5
    assert got["_qf_word_count"] >= 0  # recomputed metric lives prefixed

    model = train_quality_classifier(world, "keep", max_iter=10)
    scored = score_quality(model, audited)
    assert set(scored.columns) == set(audited.columns) | {"quality_prob"}
    kept = scored.select("word_count").distinct().collect()
    assert [r["word_count"] for r in kept] == [-777]

    with pytest.raises(ValueError, match="_qf_"):
        doc_quality_features(world.withColumn("_qf_bogus", F.lit(1)))


def test_model_survives_observe_poisoned_session(spark):
    """Regression: scoring must work in a session where DataFrame.observe
    has materialized the (non-serializable) ObservationManager — Spark's
    prediction lambda serializes the whole LR model, and an un-stripped
    training summary drags the session into the task closure.  The
    corpus tests' observe-based stage accounting made every subsequent
    qmodel transform die with 'Task not serializable' until
    train_quality_classifier stripped the summary."""
    from pyspark.sql import Observation

    from quality_filter.qmodel import score_quality, train_quality_classifier

    world = _labeled_world(spark, n=800, seed=3)
    obs = Observation("qmodel_regression_probe")
    world.observe(obs, F.count(F.lit(1)).alias("n")).count()
    assert obs.get["n"] == 800  # manager is now materialized

    model = train_quality_classifier(world, "keep", max_iter=10)
    assert not model.stages[-1].hasSummary  # summary stripped at train time
    assert score_quality(model, world).count() == 800


def test_eval_report_for_trained_classifier(spark, holdout_model):
    """VERDICT r7 #7: quality numbers for the learned model, not just
    round-trip mechanics — the trained classifier's holdout predictions
    fed through the library's own eval operators (evalreport.eval_report
    / cohen_kappa), with pinned floors."""
    from quality_filter.evalreport import cohen_kappa, eval_report
    from quality_filter.qmodel import score_quality

    model, holdout = holdout_model
    preds = score_quality(model, holdout).select(
        F.col("keep").cast("string").alias("label"),
        (F.col("quality_prob") >= 0.5).cast("int").cast("string").alias(
            "prediction"
        ),
    )
    rep = {r["class"]: r for r in eval_report(preds).collect()}
    assert set(rep) == {"0", "1"}
    total = sum(r["support"] for r in rep.values())
    correct = sum(r["tp"] for r in rep.values())
    accuracy = correct / total
    assert accuracy > 0.85, f"holdout accuracy {accuracy:.3f}"
    assert rep["1"]["f1"] > 0.85, f"keep-class F1 {rep['1']['f1']:.3f}"
    kappa = cohen_kappa(preds).collect()[0]["kappa"]
    assert kappa > 0.5, f"chance-corrected agreement too low: {kappa:.3f}"


def test_cli_quality_score_keeps_the_callers_session(spark, holdout_model, tmp_path):
    """`quality-score` loads a saved classifier and writes the scored
    table, and it leaves running a session that it did not create."""
    from quality_filter.cli import main

    model, holdout = holdout_model
    model.write().overwrite().save(str(tmp_path / "model"))
    holdout.write.parquet(str(tmp_path / "docs"))
    main([
        "quality-score", "--data-path", str(tmp_path / "docs"),
        "--model-path", str(tmp_path / "model"),
        "--save-path", str(tmp_path / "scored"),
    ])
    scored = spark.read.parquet(str(tmp_path / "scored"))
    assert "quality_prob" in scored.columns
    assert scored.count() == holdout.count()
