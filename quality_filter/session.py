"""SparkSession factory tuned for this engine.

Local-mode settings mirror what the production job would set per executor:
AQE on (runtime coalescing + skew handling), Arrow on (the langid /
perplexity scorer is an Arrow UDF), shuffle partitions sized to cores
rather than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "quality_filter",
    cores: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    shuffle_partitions = max(2 * cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 2500-row Arrow batches keep a text batch plus the scorers'
        # per-batch hash/gather working set L2-resident on typical cores
        # (~200 KB at web-text row sizes) — the r9 32-way probe measured
        # the fused scorer stage at +18 % vs 10k rows and ~2.4× vs 100k
        # (batch table of ``BENCH/BASELINE.md`` at b9e3436).
        # Cache-residency knob, not a cluster-size knob; env-overridable
        # for other row shapes.
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            os.environ.get("SPARK_GRAFT_ARROW_BATCH", "2500"),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Align Spark's whole-stage-codegen fallback with the JVM JIT's
        # actual compile limit (~8 KB bytecode): beyond it, generated
        # methods run *interpreted*, which is slower than no WSCG at all
        # (measured 1.6× on the rule engine's regex cascade).
        .config("spark.sql.codegen.hugeMethodLimit", "8000")
    )
    # Shuffle/spill scratch on tmpfs when available: local-mode shuffles are
    # loopback disk I/O otherwise, which adds variance and serializes on the
    # virtio queue.  (On a real cluster this is the NVMe-backed local dir.)
    # A caller's own choice, in ``extra_conf`` or SPARK_LOCAL_DIRS, wins.
    extra_conf = extra_conf or {}
    caller_dir = "spark.local.dir" in extra_conf or os.environ.get("SPARK_LOCAL_DIRS")
    if not caller_dir and os.path.isdir("/dev/shm"):
        scratch = "/dev/shm/spark_local"
        os.makedirs(scratch, exist_ok=True)
        builder = builder.config("spark.local.dir", scratch)
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
