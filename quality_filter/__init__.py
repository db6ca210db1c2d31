"""quality_filter — a PySpark-native turn/line-level quality-filtering engine.

A from-scratch, idiomatic-Spark reimplementation of the data-processing
capabilities of TurkuNLP/linewise_quality_filtering (reference snapshot at
/root/reference, cited per-module as file:line) over tables of multi-turn
conversation/agent transcripts:

    (conv_id: string, turn_idx: int, role: string, text: string,
     tool: string, ts: timestamp)

The reference's "line" of a document maps 1:1 to the "turn" of a
conversation here.  All hot-path operators are pure Catalyst expressions;
the only Python on executors is the vectorized Arrow scorer UDF
(``scoring.with_scores``: language ID and perplexity).
"""

from quality_filter.labels import LABELS, CLEAN, parse_labels
from quality_filter.schema import TRANSCRIPT_SCHEMA, SCORED_SCHEMA

__all__ = [
    "LABELS",
    "CLEAN",
    "parse_labels",
    "TRANSCRIPT_SCHEMA",
    "SCORED_SCHEMA",
]

__version__ = "0.1.0"
