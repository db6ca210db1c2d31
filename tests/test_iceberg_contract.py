"""Sealed Iceberg-contract tests for the S5/P5 stand-in.

This sandbox has no Iceberg runtime (no jars, no network), so the
catalog-table surface is a parquet stand-in: partitioned writes with
``partitionOverwriteMode=dynamic`` + per-bucket marker files
(quality_filter/checkpoint.py, io.write_bucketed_table).  These tests pin
the stand-in to the DOCUMENTED semantics of the Iceberg operations it
maps to, clause by clause, so swapping the writer for
``df.writeTo(tbl).overwritePartitions()`` on a real catalog preserves
behavior (each clause below cites the public Iceberg spec/API contract
it mirrors):

C1  ``overwritePartitions()`` is a *dynamic* overwrite: it replaces
    exactly the partitions that appear in the incoming data and leaves
    every other partition untouched (Iceberg API:
    "dynamically overwrite partitions ... that have rows produced by the
    query").
C2  An explicit-predicate ``overwrite(pred)`` with an EMPTY result
    deletes the matching partitions (delete-then-insert semantics) —
    re-running a bucket whose output became empty must erase the stale
    data, not leave it behind.
C3  Writes are atomic at commit granularity: a job that fails BEFORE its
    commit leaves the previous snapshot readable and unchanged (here:
    pipeline failure before the manifest append leaves the manifest —
    the commit record — unchanged, and a re-run converges to exactly the
    single-shot result: snapshot-isolation's practical guarantee for a
    resumable batch).
C4  Re-running a committed unit of work is idempotent: replaying a
    bucket with identical input replaces its partition with identical
    content (row-set equality), never duplicates.
C5  Readers of untouched partitions see identical data across an
    overwrite of other partitions (reads are snapshot-consistent for
    partitions the commit did not touch).

Reference analog for the resume shape: output-line-count resume at
``src/classifier_inference_pipeline.py:133-139,156-169``.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from quality_filter.checkpoint import (
    BUCKET_COL,
    completed_buckets,
    run_checkpointed,
    with_bucket,
)


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="qf_iceberg_contract_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _keys(spark, path, where=None):
    df = spark.read.parquet(path)
    if where is not None:
        df = df.filter(where)
    return sorted(
        (r["conv_id"], r["turn_idx"])
        for r in df.select("conv_id", "turn_idx").collect()
    )


def _identity(df):
    return df


def test_c1_dynamic_overwrite_touches_only_written_partitions(
    spark, transcripts, tmpdir
):
    out = f"{tmpdir}/out"
    n_buckets = 8
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    full = with_bucket(transcripts, n_buckets)
    full.write.mode("overwrite").partitionBy(BUCKET_COL).parquet(out)
    before_untouched = _keys(spark, out, F.col(BUCKET_COL) != 3)

    # overwrite ONLY bucket 3, with a modified payload
    replacement = full.filter(F.col(BUCKET_COL) == 3).withColumn(
        "text", F.lit("REPLACED")
    )
    replacement.write.mode("overwrite").partitionBy(BUCKET_COL).parquet(out)

    # untouched partitions byte-identical in row-set terms (C1 + C5)
    assert _keys(spark, out, F.col(BUCKET_COL) != 3) == before_untouched
    got3 = spark.read.parquet(out).filter(F.col(BUCKET_COL) == 3)
    assert got3.filter(F.col("text") != "REPLACED").count() == 0
    assert got3.count() == replacement.count()


def test_c2_empty_overwrite_erases_partition(spark, transcripts, tmpdir):
    out, manifest = f"{tmpdir}/out", f"{tmpdir}/manifest"
    n_buckets = 4
    run_checkpointed(
        spark, transcripts, _identity, out, manifest, "r1",
        n_buckets=n_buckets, buckets_per_batch=4,
    )
    assert spark.read.parquet(out).filter(F.col(BUCKET_COL) == 2).count() > 0

    # second run whose pipeline drops EVERY row of bucket 2
    out2, manifest2 = f"{tmpdir}/out2", f"{tmpdir}/manifest2"
    run_checkpointed(
        spark, transcripts, _identity, out2, manifest2, "r2",
        n_buckets=n_buckets, buckets_per_batch=4,
    )

    def drop_bucket2(df):
        return df.filter(F.col(BUCKET_COL) != 2)

    # replay all buckets into out2 with the dropping pipeline via a fresh
    # manifest (same output path): bucket 2's partition must vanish
    manifest3 = f"{tmpdir}/manifest3"
    run_checkpointed(
        spark, with_bucket(transcripts, n_buckets).drop(BUCKET_COL),
        drop_bucket2, out2, manifest3, "r3",
        n_buckets=n_buckets, buckets_per_batch=4,
    )
    remaining = spark.read.parquet(out2)
    assert remaining.filter(F.col(BUCKET_COL) == 2).count() == 0


def test_c3_failure_before_commit_leaves_snapshot_then_converges(
    spark, transcripts, tmpdir
):
    out, manifest = f"{tmpdir}/out", f"{tmpdir}/manifest"
    n_buckets = 8
    boom = {"armed": True}

    def flaky(df):
        # fail while processing the third batch (buckets 4-5) on the
        # first attempt — AFTER two successful commits
        if boom["armed"]:
            n = df.agg(F.min(BUCKET_COL)).collect()[0][0]
            if n is not None and n >= 4:
                boom["armed"] = False
                raise RuntimeError("simulated executor failure")
        return df

    with pytest.raises(RuntimeError, match="simulated"):
        run_checkpointed(
            spark, transcripts, flaky, out, manifest, "crash",
            n_buckets=n_buckets, buckets_per_batch=2,
        )
    # the commit record (manifest) reflects only the committed batches
    done = completed_buckets(spark, manifest, "crash")
    assert done == {0, 1, 2, 3}
    committed_before = _keys(spark, out, F.col(BUCKET_COL) < 4)

    # resume: converges to exactly the single-shot result; the committed
    # snapshot of buckets 0-3 is unchanged
    resumed = run_checkpointed(
        spark, transcripts, _identity, out, manifest, "crash",
        n_buckets=n_buckets, buckets_per_batch=2,
    )
    assert resumed == [4, 5, 6, 7]
    assert _keys(spark, out, F.col(BUCKET_COL) < 4) == committed_before

    single = f"{tmpdir}/single"
    run_checkpointed(
        spark, transcripts, _identity, single, f"{tmpdir}/m2", "one",
        n_buckets=n_buckets, buckets_per_batch=8,
    )
    assert _keys(spark, out) == _keys(spark, single)


def test_c4_replay_of_committed_bucket_is_idempotent(spark, transcripts, tmpdir):
    out, manifest = f"{tmpdir}/out", f"{tmpdir}/manifest"
    n_buckets = 4
    run_checkpointed(
        spark, transcripts, _identity, out, manifest, "r",
        n_buckets=n_buckets, buckets_per_batch=4,
    )
    before = _keys(spark, out)

    # wipe the manifest record → the engine believes nothing committed →
    # full replay with identical input must reproduce the identical row
    # set (replace, never append)
    manifest_b = f"{tmpdir}/manifest_b"
    replayed = run_checkpointed(
        spark, transcripts, _identity, out, manifest_b, "r",
        n_buckets=n_buckets, buckets_per_batch=4,
    )
    assert replayed == list(range(n_buckets))
    assert _keys(spark, out) == before

    # and a re-run WITH the commit record is a pure no-op
    assert run_checkpointed(
        spark, transcripts, _identity, out, manifest_b, "r",
        n_buckets=n_buckets, buckets_per_batch=4,
    ) == []
