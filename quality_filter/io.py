"""Sources & sinks (SURVEY.md §2.1): JSONL (plain/zstd), parquet, CSV/TSV,
repair-on-read, compression, and the repartition/coalesce replacements for
the reference's manual file splitting.

Mappings (reference → here):

- S1/S2  ``read_jsonl``        — ``spark.read.schema(S).json`` reads
  ``*.jsonl`` and ``*.jsonl.zst`` natively (blank lines dropped
  automatically, matching the skip at
  ``src/classifier_inference_pipeline.py:32``).
- S13    ``read_jsonl_repair`` — PERMISSIVE parse + ``_corrupt_record``
  capture + recovery of stringified arrays
  (``src/fix_and_validate_json.py:16-36``,
  ``src/filter_by_quality_score.py:21-23``).
- S6     ``write_jsonl``       — ``to_json`` rows to text files; zstd via
  S12's codec option (``scripts/compress_files.sh:53``).
- S8/S9  plain ``df.write.csv`` / ``write_tsv_freq`` — the latter is
  the (label, count) frequency sink
  (``src/label_lines_with_LLM.py:377-379``).
- S10/S11 split/concat         — ``repartition(n)`` / ``coalesce(1)``;
  the reference's 80-line splitter (``src/split_large_files.py:48-127``)
  disappears into the shuffle layer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def read_jsonl(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_jsonl_repair(
    spark: SparkSession, path: str, schema: T.StructType
) -> tuple[DataFrame, DataFrame]:
    """PERMISSIVE read returning (good_rows, corrupt_rows).  Corrupt rows
    carry the raw line in ``_corrupt_record`` for audit — the relational
    form of the reference's log-and-skip repair pass."""
    full = T.StructType(
        list(schema.fields) + [T.StructField("_corrupt_record", T.StringType(), True)]
    )
    df = (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
    df = df.cache()  # required: _corrupt_record queries need the raw pass
    good = df.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    bad = df.filter(F.col("_corrupt_record").isNotNull()).select("_corrupt_record")
    return good, bad


def repair_stringified_array(df: DataFrame, col: str) -> DataFrame:
    """Recover arrays that arrive as their string repr
    ("[0.1, 0.2]" → array<double>) — ``ast.literal_eval`` as ``from_json``
    (``src/filter_by_quality_score.py:21-23``)."""
    from pyspark.sql.types import StringType

    if not isinstance(df.schema[col].dataType, StringType):
        return df  # already a proper array column
    return df.withColumn(col, F.from_json(F.col(col), "array<double>"))


def write_jsonl(df: DataFrame, path: str, compression: str | None = None) -> None:
    """S6: newline-delimited JSON.  ``to_json`` keeps non-ASCII unescaped,
    matching ``json.dumps(ensure_ascii=False)``
    (``src/classifier_inference_pipeline.py:130``)."""
    out = df.select(F.to_json(F.struct(*df.columns)).alias("value"))
    writer = out.write.mode("overwrite")
    if compression:
        writer = writer.option("compression", compression)
    writer.text(path)


def merge_freq_tables(a: DataFrame, b: DataFrame) -> DataFrame:
    """G1 cross-run merge: combine two (label, count) frequency tables
    (``src/label_lines_with_LLM.py:186-195,373-379`` persists and merges
    the vocab Counter across runs)."""
    return (
        a.unionByName(b)
        .groupBy("label")
        .agg(F.sum("count").alias("count"))
    )


def write_tsv_freq(df: DataFrame, path: str, label_col: str = "label") -> None:
    """S9: (label \\t count) sorted by count desc."""
    freq = df.groupBy(label_col).count().orderBy(F.desc("count"), label_col)
    freq.coalesce(1).write.mode("overwrite").option("sep", "\t").csv(path)
