"""M2: the teacher-labeling LOOP (reference
``src/label_lines_with_LLM.py:469-491`` classification_pipeline) as a
distributed composition with a PLUGGABLE generator.

The reference drives a local vLLM Llama-3.3-70B; that model cannot run
here and is explicitly out of scope (SURVEY §2.8) — but everything
AROUND the ``model.generate`` call is deterministic dataflow, and this
module wires those already-verified operators into the reference's loop
shape:

  1. even line batches per document  (``batched``, ref :123-142)
  2. numbered-line prompt rendering  (A8 — ``llmprep.classify_prompt_*``)
  3. the generate call               (``generate_fn``, the ONLY pluggable
                                      seam; a vLLM/HTTP backend slots in
                                      unchanged, and the shipped
                                      deterministic fake exercises every
                                      downstream path in tests/oracles)
  4. wrapper strip + JSON repair + parse  (A7 — ``llmprep.parse_llm_output``,
                                      ref ``.strip(" `\\njson")`` +
                                      ``json_repair.loads``, :96-98)
  5. line-number alignment with the Clean default and invalid-label
     coercion             (``format_results``, ref :341-366)

Scale shape: a per-document position window followed by a
groupBy((id, batch)) — two exchanges, deliberately NOT fused into a
single groupBy(id) + array-slice explode: that shape would materialize
every line of a document in ONE aggregation row (unbounded state on a
10^6-line page), while here the only materialized rows are
batch-bounded (≤ lines_per_batch lines each).  Then a partition-preserving
``mapInPandas`` node for the generate call (the same plan-node pattern
as the fused gate: a model/HTTP client is per-worker state, never
broadcast), and narrow projections: the parse, alignment (posexplode
over the carried arrays — no join back), and coercion are pure
Catalyst.  At 100 TB the expensive resource is the teacher itself; the
loop adds two batch/line-grain exchanges and zero corpus-grain joins.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from quality_filter.labels import LABELS


def _even_batch_index(pos: Column, n: Column, batch_size: int) -> Column:
    """Batch index of 0-based position ``pos`` among ``n`` lines under the
    reference's EVEN split (``batched``, ref :130-132 —
    ``np.array_split(lines, ceil(n/batch_size))``): nb = ceil(n/B)
    batches, the first n % nb of size n//nb + 1, the rest of size n//nb.
    Pinned against np.array_split across sizes in tests/test_teacher.py."""
    nb = F.ceil(n / F.lit(batch_size))
    q = F.floor(n / nb)
    r = n % nb
    cut = r * (q + 1)  # positions below `cut` sit in the size-(q+1) batches
    return F.when(pos < cut, F.floor(pos / (q + 1))).otherwise(
        r + F.floor((pos - cut) / q)
    ).cast("int")


def label_lines_with_teacher(
    lines: DataFrame,
    generate_fn: Callable[[list[str]], Iterable[str]],
    id_col: str = "doc_id",
    idx_col: str = "line_idx",
    text_col: str = "text",
    language: str = "English",
    lines_per_batch: int = 20,
    valid_labels: list[str] | None = None,
    prompt: str = "condensed",
) -> DataFrame:
    """Label a line-grained table with a teacher model.

    ``lines``: (id_col, idx_col, text_col) — one row per line, idx dense
    or sparse (order is what matters).  ``generate_fn`` maps a list of
    prompt strings to the same number of raw model outputs; it is
    pickled to executors, so per-worker clients should lazy-init inside
    it.  ``valid_labels=None`` uses the reference's fixed 9-label
    taxonomy; anything the teacher emits outside it coerces to Clean
    (ref :341-366).  ``prompt`` is 'condensed' (CLASSIFY_TEMPLATE) or
    'verbatim' (byte-compatible replay of src/prompts.py:129).

    Returns (id_col, idx_col, text_col, label)."""
    from quality_filter.llmprep import (
        classify_prompt_expr,
        classify_prompt_verbatim_expr,
        parse_llm_output,
    )
    from quality_filter.shipping import ensure_shipped

    if prompt not in ("condensed", "verbatim"):
        raise ValueError(f"prompt must be 'condensed' or 'verbatim', got {prompt!r}")
    if lines_per_batch < 1:
        raise ValueError(f"lines_per_batch must be >= 1, got {lines_per_batch}")
    valid = list(LABELS) if valid_labels is None else list(valid_labels)
    ensure_shipped(lines.sparkSession)

    # -- 1. EVEN batches per document (ref ``batched``, :130-132:
    # np.array_split(lines, ceil(n/batch_size)) — nb = ceil(n/B) batches,
    # the first n % nb of size n//nb + 1, the rest of size n//nb; a
    # fixed-size chunking would leave a runt last batch instead)
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy(idx_col)
    pos = (F.row_number().over(w) - 1).alias("_pos")
    n = F.count(F.lit(1)).over(Window.partitionBy(id_col)).alias("_n")
    batched = (
        lines.select(F.col(id_col), F.col(idx_col), F.col(text_col), pos, n)
        .withColumn(
            "_batch",
            _even_batch_index(F.col("_pos"), F.col("_n"), lines_per_batch),
        )
        .drop("_n")
    )
    grouped = (
        batched.groupBy(id_col, "_batch")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("_pos"), F.col(idx_col), F.col(text_col)))
            ).alias("_rows")
        )
        .select(
            id_col,
            "_batch",
            F.col(f"_rows.{idx_col}").alias("_idxs"),
            F.col(f"_rows.{text_col}").alias("_texts"),
        )
    )

    # -- 2. prompt rendering (A8)
    render = (
        classify_prompt_verbatim_expr
        if prompt == "verbatim"
        else classify_prompt_expr
    )
    with_prompt = grouped.withColumn(
        "_prompt", render(F.col("_texts"), F.lit(language))
    )

    # -- 3. the generate node (partition-preserving mapInPandas)
    out_schema = (
        ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}"
            for f in grouped.schema.fields
        )
        + ", `_raw` string"
    )

    def run(batches):
        for pdf in batches:
            raw = list(generate_fn(pdf["_prompt"].tolist()))
            if len(raw) != len(pdf):
                raise ValueError(
                    f"generate_fn returned {len(raw)} outputs for "
                    f"{len(pdf)} prompts"
                )
            res = pdf.drop(columns=["_prompt"])
            res["_raw"] = pd.Series(raw, index=pdf.index)
            yield res

    generated = with_prompt.mapInPandas(run, out_schema)

    # -- 4./5. strip + repair + parse (A7), align by line number with the
    # Clean default, coerce out-of-taxonomy labels
    parsed = generated.withColumn(
        "_labels", parse_llm_output(F.col("_raw"), "map<string,string>")
    )
    exploded = parsed.select(
        F.col(id_col),
        F.posexplode(F.arrays_zip(F.col("_idxs"), F.col("_texts"))).alias(
            "_p", "_zl"
        ),
        F.col("_labels"),
    ).select(
        F.col(id_col),
        F.col("_zl._idxs").alias(idx_col),
        F.col("_zl._texts").alias(text_col),
        F.element_at(
            F.col("_labels"), (F.col("_p") + 1).cast("string")
        ).alias("_label_raw"),
    )
    label = F.coalesce(F.col("_label_raw"), F.lit("Clean"))
    coerced = F.when(label.isin(valid), label).otherwise(F.lit("Clean"))
    return exploded.select(
        id_col, idx_col, text_col, coerced.alias("label")
    )


# -- deterministic fake teacher ----------------------------------------------
# The shipped test double: derives each line's label arithmetically from
# the LINE TEXT inside the prompt (so it needs no side channel), and
# wraps the response exactly the way a chatty guided-JSON model does —
# ```json fences + a trailing comma — so the A7 strip/repair path is
# exercised end-to-end, plus a planted INVALID label class to exercise
# the Clean coercion.  Both rules are engine-portable (length arithmetic)
# so a SQL oracle can state the expected output exactly.

_FAKE_INVALID_MOD = 13
_FAKE_INVALID_RESIDUE = 4


def fake_structured_teacher(prompts: list[str]) -> list[str]:
    """label(line) = LABELS[len(line) % 9], except len(line) % 13 == 4
    emits an out-of-taxonomy label (which the loop must coerce to Clean).
    Output is fenced, trailing-comma'd JSON keyed by line number.

    Exact only under ``prompt='condensed'``: the verbatim reference
    template itself contains EXAMPLE "Line N:" blocks in its
    instructions, which this prompt-scraping double cannot tell from the
    payload (a real model can)."""
    import re

    block = re.compile(r"Line (\d+): (.*?)\n------\n", re.S)
    outs = []
    for p in prompts:
        entries = []
        for num, line in block.findall(p):
            n = len(line)
            if n % _FAKE_INVALID_MOD == _FAKE_INVALID_RESIDUE:
                lab = "Absolutely Not A Real Label"
            else:
                lab = LABELS[n % len(LABELS)]
            entries.append(f'"{num}": "{lab}",')
        outs.append("```json\n{" + " ".join(entries) + "}\n```")
    return outs


def fake_teacher_label_expr(text: Column) -> Column:
    """The Catalyst statement of fake_structured_teacher's rule — what the
    loop's output must equal for any input (used by tests)."""
    n = F.length(text)
    return F.when(
        n % _FAKE_INVALID_MOD == _FAKE_INVALID_RESIDUE, F.lit("Clean")
    ).otherwise(
        F.element_at(
            F.array(*[F.lit(l) for l in LABELS]),
            (n % len(LABELS)).cast("int") + 1,
        )
    )
