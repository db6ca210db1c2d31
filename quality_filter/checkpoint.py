"""Checkpointed, idempotently-resumable batch runs over hashed
conversation buckets.

The reference resumes by counting lines already in the output file and
skipping that many input rows (``file_exists_and_line_count`` +
``if idx < start_index: continue`` — ``src/classifier_inference_pipeline.py:133-139,156-169``
and three twins).  That is exactly-once only if every line append was
atomic; a task killed mid-write corrupts the resume point.

Here the unit of work is a *bucket*: ``bucket = pmod(xxhash64(conv_id), B)``
— conversations never straddle buckets, so per-conversation operators
(trim windows, doc gates, reassembly) are complete within one.  Buckets
run in batches of ``buckets_per_batch``.  For each batch the runner
clears the batch's output partitions, writes the batch with a dynamic
partition overwrite, and only after that write has committed creates one
empty marker file per bucket at ``<manifest_path>/run_id=<id>/bucket=<b>``.
A restart lists that directory and skips the marked buckets (the P5
resume skip).  Markers and partition clearing go through the Hadoop
FileSystem API, so neither launches a Spark job and resume works on any
Hadoop scheme (plain paths, ``file://``, ``hdfs://``, ``s3a://``).

A crash between a batch's commit and its markers leaves the batch
unmarked, so the restart redoes it; the clear-then-overwrite write makes
that replay replace the batch's partitions instead of duplicating them.

``buckets_per_batch`` trades resume granularity against scans: a crash
loses at most the batch in flight, so smaller batches keep more progress,
but every batch re-filters and re-scans the whole input.

Storage here is parquet + a per-write ``partitionOverwriteMode=dynamic``
option, since the package bundles no Iceberg runtime.  On an Iceberg
catalog the clear-then-write maps to ``overwrite(bucket IN batch)``, an
explicit-predicate overwrite committed as one snapshot, and the markers
to an audit table appended after that commit.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

BUCKET_COL = "bucket"


def with_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    """Stable work-partitioning key: pmod(xxhash64(conv_id), B)."""
    return df.withColumn(
        BUCKET_COL, F.pmod(F.xxhash64(F.col("conv_id")), F.lit(n_buckets)).cast("int")
    )


def _hadoop_path(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` for ``path`` on whatever scheme it names."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def _marker_dir(manifest_path: str, run_id: str) -> str:
    return f"{manifest_path.rstrip('/')}/run_id={run_id}"


def completed_buckets(spark: SparkSession, manifest_path: str, run_id: str) -> set[int]:
    """Buckets of ``run_id`` whose output has committed: a listing of the
    run's marker directory, no Spark job."""
    fs, run_dir = _hadoop_path(spark, _marker_dir(manifest_path, run_id))
    if not fs.exists(run_dir):
        return set()
    prefix = f"{BUCKET_COL}="
    names = (status.getPath().getName() for status in fs.listStatus(run_dir))
    return {int(n.removeprefix(prefix)) for n in names if n.startswith(prefix)}


def _append_manifest(
    spark: SparkSession, manifest_path: str, run_id: str, buckets: list[int]
) -> None:
    """Mark ``buckets`` complete with one empty file each.  Call only after
    their output has committed."""
    run_dir = _marker_dir(manifest_path, run_id)
    for b in buckets:
        fs, marker = _hadoop_path(spark, f"{run_dir}/{BUCKET_COL}={b}")
        fs.create(marker, True).close()


def run_checkpointed(
    spark: SparkSession,
    source: DataFrame,
    pipeline_fn: Callable[[DataFrame], DataFrame],
    output_path: str,
    manifest_path: str,
    run_id: str,
    n_buckets: int = 16,
    buckets_per_batch: int = 4,
) -> list[int]:
    """Run ``pipeline_fn`` over the source bucket-batch by bucket-batch,
    checkpointing after each batch.  Returns the buckets processed in THIS
    invocation (already-completed ones are skipped via their markers).

    Output layout: parquet partitioned by bucket; a re-run of a bucket
    dynamically overwrites exactly that partition directory.  The
    session's own ``partitionOverwriteMode`` is left as the caller set it.
    """
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    if buckets_per_batch < 1:
        raise ValueError(f"buckets_per_batch must be >= 1, got {buckets_per_batch}")
    done = completed_buckets(spark, manifest_path, run_id)
    todo = [b for b in range(n_buckets) if b not in done]
    bucketed = with_bucket(source, n_buckets)
    processed: list[int] = []
    for i in range(0, len(todo), buckets_per_batch):
        chunk = todo[i : i + buckets_per_batch]
        part = bucketed.filter(F.col(BUCKET_COL).isin(chunk))
        result = pipeline_fn(part)
        if BUCKET_COL not in result.columns:
            result = with_bucket(result, n_buckets)
        # dynamic overwrite only replaces partitions PRESENT in the new
        # result: if a crashed attempt left partial data for a bucket whose
        # re-run output is now empty (everything filtered out), the stale
        # partition would survive and then be marked complete.  Clear the
        # chunk's partition dirs up front so empty results also erase
        # stale data.  (Iceberg mapping: ``overwrite(bucket IN chunk)``,
        # an explicit-predicate overwrite, has the same semantics.)
        _clear_partitions(spark, output_path, chunk)
        (
            result.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(BUCKET_COL)
            .parquet(output_path)
        )
        _append_manifest(spark, manifest_path, run_id, chunk)
        processed.extend(chunk)
    return processed


def _clear_partitions(
    spark: SparkSession, output_path: str, buckets: list[int]
) -> None:
    """Delete the partition dirs for ``buckets`` via the Hadoop FileSystem
    API, so the stale-empty-partition guarantee holds on ANY supported
    scheme (file://, hdfs://, s3a://) — not just local paths."""
    for b in buckets:
        fs, jpath = _hadoop_path(spark, f"{output_path.rstrip('/')}/{BUCKET_COL}={b}")
        if fs.exists(jpath):
            fs.delete(jpath, True)
