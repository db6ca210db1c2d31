"""Checkpoint/resume semantics: resume skips the buckets with markers,
partial-run resume completes exactly the remaining buckets, a crash
between a batch's write and its markers redoes that batch, bucket re-run
replaces instead of duplicating, and the final output equals a
single-shot run."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from quality_filter.audit import append_audit, bucket_metrics
from quality_filter.checkpoint import (
    BUCKET_COL,
    completed_buckets,
    run_checkpointed,
    with_bucket,
)
from quality_filter.pipeline import clean_pipeline


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="qf_ckpt_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _pipeline(df):
    return clean_pipeline(df, mode="filter", labels_to_remove="all")


def _collect_keys(spark, path):
    return sorted(
        (r["conv_id"], r["turn_idx"])
        for r in spark.read.parquet(path).select("conv_id", "turn_idx").collect()
    )


def _rows(spark, path):
    df = spark.read.parquet(path)
    return sorted(tuple(r) for r in df.select(*sorted(df.columns)).collect())


def test_resume_skips_completed_and_matches_single_shot(spark, transcripts, tmpdir):
    out, manifest = f"{tmpdir}/out", f"{tmpdir}/manifest"
    n_buckets = 8

    # interrupted first run: process only the first batch (2 buckets)
    first = run_checkpointed(
        spark, transcripts, _pipeline, out, manifest, "run1",
        n_buckets=n_buckets, buckets_per_batch=2,
    )
    # simulate interruption by a manifest of only the first 2 buckets
    done_after_first = completed_buckets(spark, manifest, "run1")
    assert done_after_first == set(range(n_buckets))
    assert first == list(range(n_buckets))

    # fresh run id, interrupt after one batch by limiting todo artificially:
    out2, manifest2 = f"{tmpdir}/out2", f"{tmpdir}/manifest2"
    import quality_filter.checkpoint as ck

    calls = []
    orig = ck._append_manifest

    def crashing_append(spark_, path, run_id, buckets):
        calls.append(buckets)
        orig(spark_, path, run_id, buckets)
        if len(calls) == 2:
            raise RuntimeError("simulated crash after second batch")

    ck._append_manifest = crashing_append
    try:
        with pytest.raises(RuntimeError):
            run_checkpointed(
                spark, transcripts, _pipeline, out2, manifest2, "run2",
                n_buckets=n_buckets, buckets_per_batch=2,
            )
    finally:
        ck._append_manifest = orig

    done = completed_buckets(spark, manifest2, "run2")
    assert done == {0, 1, 2, 3}

    # resume: processes exactly the remaining buckets
    resumed = run_checkpointed(
        spark, transcripts, _pipeline, out2, manifest2, "run2",
        n_buckets=n_buckets, buckets_per_batch=2,
    )
    assert resumed == [4, 5, 6, 7]
    assert completed_buckets(spark, manifest2, "run2") == set(range(n_buckets))

    # resumed output == single-shot output
    assert _collect_keys(spark, out2) == _collect_keys(spark, out)

    # fully-completed run: nothing left to do, output untouched
    again = run_checkpointed(
        spark, transcripts, _pipeline, out2, manifest2, "run2",
        n_buckets=n_buckets, buckets_per_batch=2,
    )
    assert again == []
    assert _collect_keys(spark, out2) == _collect_keys(spark, out)


@pytest.mark.parametrize("scheme", ["", "file://"])
def test_crash_between_write_and_marker_redoes_that_batch(
    spark, transcripts, tmpdir, monkeypatch, scheme
):
    """A batch whose write committed but whose markers were never written
    is redone on resume, and only that batch, on plain paths and on URIs."""
    import quality_filter.checkpoint as ck

    out, manifest = f"{scheme}{tmpdir}/out", f"{scheme}{tmpdir}/manifest"
    orig, calls = ck._append_manifest, []

    def crash_before_second_markers(spark_, path, run_id, buckets):
        calls.append(buckets)
        if len(calls) == 2:
            raise RuntimeError("simulated crash before the markers")
        orig(spark_, path, run_id, buckets)

    monkeypatch.setattr(ck, "_append_manifest", crash_before_second_markers)
    with pytest.raises(RuntimeError, match="before the markers"):
        run_checkpointed(
            spark, transcripts, _pipeline, out, manifest, "r",
            n_buckets=4, buckets_per_batch=2,
        )
    monkeypatch.undo()
    assert calls == [[0, 1], [2, 3]]
    assert completed_buckets(spark, manifest, "r") == {0, 1}

    resumed = run_checkpointed(
        spark, transcripts, _pipeline, out, manifest, "r",
        n_buckets=4, buckets_per_batch=2,
    )
    assert resumed == [2, 3]
    assert completed_buckets(spark, manifest, "r") == {0, 1, 2, 3}

    single = f"{tmpdir}/single"
    run_checkpointed(
        spark, transcripts, _pipeline, single, f"{tmpdir}/m_single", "one",
        n_buckets=4, buckets_per_batch=4,
    )
    assert _rows(spark, out) == _rows(spark, single)


def test_run_leaves_session_overwrite_mode_alone(spark, transcripts, tmpdir):
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        run_checkpointed(
            spark, transcripts, _pipeline, f"{tmpdir}/out", f"{tmpdir}/manifest",
            "s", n_buckets=4, buckets_per_batch=2,
        )
        assert spark.conf.get(key) == "static"
    finally:
        spark.conf.set(key, before)
    # the second batch's overwrite kept the first batch's partitions
    written = spark.read.parquet(f"{tmpdir}/out").select(BUCKET_COL).distinct()
    assert sorted(r[BUCKET_COL] for r in written.collect()) == [0, 1, 2, 3]


@pytest.mark.parametrize(
    "n_buckets, buckets_per_batch, name",
    [(0, 4, "n_buckets"), (-2, 4, "n_buckets"), (16, 0, "buckets_per_batch")],
)
def test_bucket_counts_below_one_raise(
    spark, transcripts, tmpdir, n_buckets, buckets_per_batch, name
):
    """A bucket count below 1 fails loudly before anything is read or
    written (n_buckets <= 0 used to process nothing and return [], and
    buckets_per_batch=0 raised range()'s own error)."""
    import os

    with pytest.raises(ValueError, match=f"^{name} must be >= 1"):
        run_checkpointed(
            spark, transcripts, _pipeline, f"{tmpdir}/out", f"{tmpdir}/manifest",
            "bad", n_buckets=n_buckets, buckets_per_batch=buckets_per_batch,
        )
    assert not os.path.exists(f"{tmpdir}/out")
    assert not os.path.exists(f"{tmpdir}/manifest")


def test_bucket_rerun_replaces_not_duplicates(spark, transcripts, tmpdir):
    out, manifest = f"{tmpdir}/out", f"{tmpdir}/manifest"
    run_checkpointed(
        spark, transcripts, _pipeline, out, manifest, "runA",
        n_buckets=4, buckets_per_batch=4,
    )
    baseline = _collect_keys(spark, out)
    # re-run the same buckets under a new run id (manifest empty for it):
    run_checkpointed(
        spark, transcripts, _pipeline, out, manifest, "runB",
        n_buckets=4, buckets_per_batch=4,
    )
    assert _collect_keys(spark, out) == baseline  # replaced, not appended


def test_empty_rerun_clears_stale_partial_partition(spark, transcripts, tmpdir):
    """A crashed attempt's partial partition must be erased even when the
    re-run's output for that bucket is EMPTY (dynamic partition overwrite
    alone only replaces partitions present in the new result)."""
    import os

    out, manifest = f"{tmpdir}/out", f"{tmpdir}/manifest"
    n_buckets = 4
    # plant stale partial data for every bucket (simulating a crashed run)
    stale = with_bucket(transcripts.limit(50), n_buckets)
    stale.write.partitionBy(BUCKET_COL).parquet(out)
    planted = {d for d in os.listdir(out) if d.startswith(f"{BUCKET_COL}=")}
    assert planted

    # re-run with a pipeline that filters EVERYTHING out
    def empty_pipeline(df):
        return _pipeline(df).filter(F.lit(False))

    run_checkpointed(
        spark, transcripts, empty_pipeline, out, manifest, "runC",
        n_buckets=n_buckets, buckets_per_batch=2,
    )
    leftover = [
        d for d in os.listdir(out)
        if d.startswith(f"{BUCKET_COL}=") and os.listdir(os.path.join(out, d))
    ]
    assert leftover == [], f"stale partitions survived: {leftover}"
    # no parquet data files remain anywhere under the output root
    stray = [
        os.path.join(r, f)
        for r, _, files in os.walk(out)
        for f in files
        if f.endswith(".parquet")
    ]
    assert stray == [], f"stale files survived: {stray}"


def test_conversations_never_straddle_buckets(spark, transcripts):
    b = with_bucket(transcripts, 8)
    n = (
        b.groupBy("conv_id")
        .agg(F.countDistinct(BUCKET_COL).alias("nb"))
        .filter("nb > 1")
        .count()
    )
    assert n == 0


def test_audit_metrics(spark, transcripts, tmpdir):
    from quality_filter.rules import score_turns
    from quality_filter.pipeline import keep_by_label
    from quality_filter.scrub import scrub_turns

    flagged = scrub_turns(
        score_turns(with_bucket(transcripts, 4)).withColumn(
            "keep", keep_by_label("all")
        )
    )
    m = {r[BUCKET_COL]: r for r in bucket_metrics(flagged).collect()}
    assert set(m) == {0, 1, 2, 3}
    total = sum(r["n_turns"] for r in m.values())
    assert total == transcripts.count()
    for r in m.values():
        assert r["n_kept"] + r["n_dropped"] == r["n_turns"]
        assert 0.0 <= r["mean_clean_score"] <= 1.0

    audit_path = f"{tmpdir}/audit"
    append_audit(flagged, audit_path, "runX")
    append_audit(flagged, audit_path, "runY")
    audit = spark.read.parquet(audit_path)
    assert audit.count() == 8
    assert audit.select("run_id").distinct().count() == 2
