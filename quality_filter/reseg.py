"""A4: sentence-boundary resegmentation + greedy 200-char packing.

The reference splits over-long lines into sentences at ``(?<=[.!?])\\s+``
and greedily packs consecutive sentences into segments of at most ~200
chars (``src/label_lines_with_LLM.py:144-168``,
``split_long_line_into_segments``) before sending them to the labeling
LLM.  Re-expressed as pure Catalyst: a sentinel-split (lookbehind-free,
so it also runs on RE2 engines) followed by an ``aggregate`` HOF fold
that reproduces the reference's packing loop exactly, including its
quirks:

- the accumulator starts as ``""`` and every append goes through
  ``current_segment += " " + sentence`` — so the working segment carries a
  leading space that only the final ``.strip()`` removes, and the length
  check counts it (``len(current) + len(sentence) + 1 > 200``);
- a first sentence longer than 199 chars flushes the EMPTY accumulator,
  emitting an empty segment before it (reference behavior, kept);
- the trailing segment is appended only if non-empty (Python truthiness
  of the unstripped accumulator).

No shuffle: the whole operator is a narrow per-row projection; the
optional explode to segment rows is also narrow.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from quality_filter import patterns as P

MAX_SEGMENT_CHARS = 200  # src/label_lines_with_LLM.py:156
# boundary: sentence-final punctuation followed by whitespace.  The
# reference uses a lookbehind ``(?<=[.!?])\s+``; RE2 has no lookbehind,
# so the split instead KEEPS the punctuation via a capture group and
# splits on a sentinel byte — identical output.
_BOUNDARY = r"([.!?])" + P.WS_CLASS + "+"
_SENTINEL = "\x01"


def sentences_expr(text: Column) -> Column:
    """Split into sentences at ``[.!?]`` + whitespace, punctuation kept."""
    marked = F.regexp_replace(text, _BOUNDARY, "$1" + _SENTINEL)
    return F.split(marked, _SENTINEL, -1)


# Python ``str.strip()`` strips ALL whitespace; Spark's ``trim`` only
# strips spaces — use an anchored regex over the frozen WS class instead.
_STRIP_RE = f"^{P.WS_CLASS}+|{P.WS_CLASS}+$"


def _strip(col: Column) -> Column:
    return F.regexp_replace(col, _STRIP_RE, "")


def segments_expr(text: Column) -> Column:
    """array<string> of greedily packed ~200-char segments (A4)."""
    limit = F.lit(MAX_SEGMENT_CHARS)
    empty = F.array().cast("array<string>")
    acc0 = F.struct(empty.alias("segs"), F.lit("").alias("cur"))

    def merge(acc, s):
        overflow = (F.length(acc["cur"]) + F.length(s) + F.lit(1)) > limit
        return F.struct(
            F.when(overflow, F.concat(acc["segs"], F.array(_strip(acc["cur"]))))
            .otherwise(acc["segs"])
            .alias("segs"),
            F.when(overflow, s)
            .otherwise(F.concat(acc["cur"], F.lit(" "), s))
            .alias("cur"),
        )

    def finish(acc):
        return F.when(
            acc["cur"] != "", F.concat(acc["segs"], F.array(_strip(acc["cur"])))
        ).otherwise(acc["segs"])

    return F.aggregate(sentences_expr(text), acc0, merge, finish)


def resegment(df: DataFrame) -> DataFrame:
    """One row per packed segment of ``text``: (doc_id, seg_idx, segment)."""
    text = F.coalesce(F.col("text"), F.lit(""))
    return df.select(
        "doc_id", F.posexplode(segments_expr(text)).alias("seg_idx", "segment")
    )
