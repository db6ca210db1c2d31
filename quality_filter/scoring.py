"""Combined one-pass UDF scoring: language ID + perplexity in a single
Arrow transfer.

Two chained pandas UDFs each serialize the ``text`` column to the Python
worker; at 10^12-turn scale that doubles the Arrow IPC volume of the hot
path.  This module fuses both scorers into one SCALAR_ITER UDF emitting
``struct<lang, lang_prob, logppl>`` — one serialize, one worker pass,
both broadcast artifacts resident together (the UDF analog of the
reference's single classify pass per batch,
``src/classifier_inference_pipeline.py:37-124``).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf

from quality_filter import langid as L
from quality_filter import perplexity as X


def with_scores(df: DataFrame) -> DataFrame:
    """Append ``lang``, ``lang_prob``, ``logppl`` in a single UDF stage:
    the fused full n-gram langid + perplexity Arrow pass (one serialize,
    both artifacts resident)."""
    spark = df.sparkSession
    from quality_filter.shipping import ensure_shipped

    ensure_shipped(spark)
    bc = spark.sparkContext.broadcast((L.build_artifact(), X.build_artifact()))

    @arrow_udf("struct<lang:string, lang_prob:double, logppl:double>")
    def _score(arr: pa.Array) -> pa.Array:
        from quality_filter import ngram

        (langs, profiles), (lp3, lp2) = bc.value
        # r9: hash straight off the Arrow string buffers — the batch's
        # UTF-8 bytes already sit concatenated in the data buffer, so
        # the former pandas path's str-materialize → re-encode → join
        # round trip (three text copies + one Python object per row)
        # disappears; outputs are bit-identical
        # (ngram._batch_hashes_from_arrow contract, pinned by test).
        # Both scorers consume the same hash arrays.
        h3, h2, offsets = ngram._batch_hashes_from_arrow(arr)
        lang_out, prob_out = L._score_hashed(h3, offsets, len(arr), langs, profiles)
        logppl = X._ppl_hashed(h3, h2, offsets, lp3, lp2)
        return pa.StructArray.from_arrays(
            [
                pa.array(lang_out, type=pa.string()),
                pa.array(prob_out, type=pa.float64()),
                pa.array(logppl, type=pa.float64()),
            ],
            ["lang", "lang_prob", "logppl"],
        )

    out = df.withColumn("_sc", _score(F.col("text")))
    return (
        out.withColumn("lang", F.col("_sc.lang"))
        .withColumn("lang_prob", F.col("_sc.lang_prob"))
        .withColumn("logppl", F.col("_sc.logppl"))
        .drop("_sc")
    )
