"""The package's one scorer UDF: language ID + perplexity in a single
Arrow transfer.

Two chained UDFs would each serialize the ``text`` column to the Python
worker; at 10^12-turn scale that doubles the Arrow IPC volume of the hot
path.  ``with_scores`` runs both scorers in one Arrow UDF emitting
``struct<lang, lang_prob, logppl>`` — one serialize, one worker pass, one
hash pass shared by both models, both broadcast artifacts resident
together (the UDF analog of the reference's single classify pass per
batch, ``src/classifier_inference_pipeline.py:37-124``).  The CLI's
``score`` and ``salvage`` jobs run it.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf

from quality_filter import langid as L
from quality_filter import perplexity as X


def with_scores(df: DataFrame, artifacts: tuple | None = None) -> DataFrame:
    """Append ``lang``, ``lang_prob``, ``logppl`` in a single UDF stage:
    the fused full n-gram langid + perplexity Arrow pass (one serialize,
    both artifacts resident).  ``artifacts`` is a ``(langid, perplexity)``
    pair of trained models — ``langid.train_profiles`` and
    ``perplexity.train_artifact``/``read_model`` — and defaults to the
    embedded multilingual seed models."""
    spark = df.sparkSession
    from quality_filter.shipping import ensure_shipped

    ensure_shipped(spark)
    if artifacts is None:
        artifacts = (L.build_artifact(), X.build_artifact())
    bc = spark.sparkContext.broadcast(artifacts)

    @arrow_udf("struct<lang:string, lang_prob:double, logppl:double>")
    def _score(arr: pa.Array) -> pa.Array:
        from quality_filter import ngram

        (langs, profiles), (lp3, lp2) = bc.value
        # hash straight off the Arrow string buffers; both scorers
        # consume the same hash arrays
        h3, h2, offsets = ngram.batch_hashes(arr)
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
