"""Per-partition lineage + keep/drop/scrub metrics → audit table.

The G6-shaped per-doc quality aggregates of the reference's analysis
notebook (``notebooks/quality_label_correlation.ipynb``, SURVEY.md §2.5)
promoted to a first-class pipeline output: every run appends one row per
bucket with row counts, keep/drop/scrub tallies and mean clean score, so
a 10^12-turn job's progress and data quality are queryable while it runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from quality_filter.checkpoint import BUCKET_COL


def bucket_metrics(flagged: DataFrame) -> DataFrame:
    """Aggregate a bucketed, keep-flagged, scrub-marked frame to one row
    per bucket.  Map-side combinable; no skew concerns (buckets are the
    aggregation key)."""
    kept = F.col("keep").cast("long")
    return flagged.groupBy(BUCKET_COL).agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.sum(kept).alias("n_kept"),
        (F.count(F.lit(1)) - F.sum(kept)).alias("n_dropped"),
        F.sum(F.col("scrub_applied").cast("long")).alias("n_scrubbed"),
        F.countDistinct("conv_id").alias("n_convs"),
        F.avg("clean_score").alias("mean_clean_score"),
    )


def append_audit(flagged: DataFrame, audit_path: str, run_id: str) -> None:
    (
        bucket_metrics(flagged)
        .withColumn("run_id", F.lit(run_id))
        .withColumn("completed_ts", F.current_timestamp())
        .coalesce(1)
        .write.mode("append")
        .parquet(audit_path)
    )
