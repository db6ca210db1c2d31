"""PII / toxicity scrubber as a native ``regexp_replace`` chain.

The reference has no scrub *code* — "Contact & Identification Information"
and "Offensive or Inappropriate Content" exist only as removable labels
(``src/filter_by_quality_label.py:108,113``; prompt guidance
``src/prompts.py:174,182``).  Here scrubbing is a first-class operator:
emails/URLs/IPs/phones/long-IDs/toxic phrases are replaced with placeholder
tokens in a fixed order (``patterns.SCRUB_CHAIN``), entirely JVM-side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from quality_filter.patterns import SCRUB_CHAIN, TOXIC, ci

# Single-scan necessary-condition check: every chain pattern requires one of
# these — '@' (EMAIL), a digit (PHONE/IPV4/LONG_ID), an http/www prefix
# (URL), or a toxic phrase.  Rows failing this test are provably unchanged
# by the chain, so the 6-pattern replace cascade is skipped for them
# (the large majority at scale).
_QUICKCHECK = ci(r"[@0-9]|https?://|www\." + "|" + TOXIC)


def scrub_expr(text: Column) -> Column:
    """The full replacement chain as one nested Catalyst expression, behind
    a one-scan fast path for rows no pattern can touch."""
    out = text
    for pattern, replacement in SCRUB_CHAIN:
        out = F.regexp_replace(out, pattern, replacement)
    return F.when(text.rlike(_QUICKCHECK), out).otherwise(text)


def scrub_turns(df: DataFrame) -> DataFrame:
    """Append ``scrubbed_text`` (``text`` scrubbed) and ``scrub_applied``
    (bool)."""
    scrubbed = scrub_expr(F.coalesce(F.col("text"), F.lit("")))
    return df.withColumn("scrubbed_text", scrubbed).withColumn(
        "scrub_applied", F.col("scrubbed_text") != F.coalesce(F.col("text"), F.lit(""))
    )
