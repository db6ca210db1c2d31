"""Deterministic, fully-distributed synthetic transcript generator.

Generates the canonical transcript table (``conv_id, turn_idx, role, text,
tool, ts`` per BASELINE.json ``input_hint``) of any size with *zero* driver
data: ``spark.range`` + pure Catalyst expressions, so a 10^9-turn table is
as cheap to declare as a 10^3-turn one and generation parallelises across
all executors.  Same seed → identical bytes (template choice is arithmetic
on ``(conv_index, turn_idx, seed)``, no RNG).

Planted defects cover every label class of the taxonomy (the fixture plan
of FIXTURES.md F1), plus PII for the scrubber and several languages for
language ID.  Conversation lengths are skewed: the first ``skew_convs``
conversations get ``skew_turns`` turns to exercise salting / AQE skew
handling (SURVEY.md §7.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# --- template banks (frozen; index order matters for determinism) ----------

# Long clean prose (>120 chars → clean_score > 0.9) in several languages.
CLEAN_LONG = [
    ("en", "The committee reviewed the proposal in detail and concluded that "
           "the approach was sound, well argued, and ready for implementation "
           "in the coming quarter."),
    ("en", "After comparing the measurement results across all three trials, "
           "the team agreed that the observed differences were small and "
           "consistent with the expected variation."),
    ("de", "Die Arbeitsgruppe hat den Vorschlag ausführlich geprüft und ist "
           "zu dem Ergebnis gekommen, dass das Vorgehen solide begründet und "
           "zur Umsetzung im nächsten Quartal geeignet ist."),
    ("fr", "Le comité a examiné la proposition en détail et a conclu que la "
           "démarche était solide, bien argumentée et prête à être mise en "
           "œuvre au cours du prochain trimestre."),
    ("es", "El comité revisó la propuesta en detalle y concluyó que el "
           "enfoque era sólido, estaba bien argumentado y podía aplicarse "
           "durante el próximo trimestre."),
    ("zh", "委员会详细审查了该提案，认为整体思路严谨，论证充分，可以在下个季度开始实施，"
           "同时建议相关部门提前准备所需的资料和人员安排。"),
]

# Short clean lines (Clean label but clean_score < 0.9 — exercises the
# salvage threshold ``clean_score > 0.9``).
CLEAN_SHORT = [
    ("en", "Thanks, that works for me."),
    ("en", "Sounds good, let me check and get back to you."),
    ("en", "Could you rerun the last step?"),
    ("de", "Danke, das passt so."),
    ("fr", "Merci, cela me convient."),
]

# One template per defect label (label assigned by quality_filter.rules).
DEFECTS = [
    ("en", "Contact us at john.doe@example.com or call +1 (555) 123-4567 for "
           "more information about your account."),
    ("en", "<div class=\"main\">Rendered content</div> served as text/html; "
           "charset=utf-8 with gzip encoding enabled."),
    ("en", "All rights reserved. See our privacy policy and terms of service "
           "for details about how your data is handled."),
    ("en", "Smith et al. 2019, pp. 44-52, vol. 3, doi:10.1000/xyz123 [12]"),
    ("en", "Home page | Log in | Sign up | Next page | Back to top"),
    ("en", "Visit https://example.com/products?page=2 to browse the catalog"),
    ("en", "Buy now!!! Limited time offer with discount code SAVE50 and free "
           "shipping on every order today."),
    ("en", "you are an idiot and a worthless loser, nobody wants this"),
    ("en", "===================="),
    ("en", "$$$ %%% ### @@@ *** ^^^ &&&"),
    ("en", ""),
    ("en", "   "),
    ("en", "010101 110011 0011 10101 0101010 11 001010101"),
    ("en", "Server logs show client at 192.168.10.44 retried 4 times; ticket "
           "reference 9934817265 was opened automatically."),
]

# Filler words appended to vary length/content deterministically.
FILLERS = ["indeed", "however", "meanwhile", "furthermore", "overall",
           "briefly", "notably", "finally"]

CLEAN_WEIGHT = 700  # out of 1000 → ~70 % clean turns

_MIX_A = 1315423911
_MIX_B = 2654435761


def synth_transcripts(
    spark: SparkSession,
    n_convs: int,
    seed: int = 42,
    max_turns: int = 40,
    skew_convs: int = 2,
    skew_turns: int = 5000,
    with_truth: bool = False,
) -> DataFrame:
    """Build a deterministic transcript DataFrame with ``n_convs``
    conversations (Zipf-ish lengths; first ``skew_convs`` are giant)."""
    templates = CLEAN_LONG + CLEAN_SHORT + DEFECTS
    n_clean = len(CLEAN_LONG) + len(CLEAN_SHORT)
    text_arr = F.array(*[F.lit(t[1]) for t in templates])
    lang_arr = F.array(*[F.lit(t[0]) for t in templates])
    filler_arr = F.array(*[F.lit(w) for w in FILLERS])

    convs = spark.range(n_convs).select(
        F.col("id").alias("cidx"),
        F.when(F.col("id") < skew_convs, F.lit(skew_turns))
        .otherwise(
            F.lit(1) + F.pmod(F.col("id") * _MIX_B + F.lit(seed), F.lit(max_turns))
        )
        .alias("n_turns"),
    )
    turns = convs.select(
        "cidx",
        F.explode(F.sequence(F.lit(0), (F.col("n_turns") - 1).cast("int"))).alias(
            "turn_idx"
        ),
    )

    mix = F.pmod(
        F.col("cidx") * _MIX_A + F.col("turn_idx").cast("long") * _MIX_B
        + F.lit(seed).cast("long") * 97,
        F.lit(1000),
    )
    # ~70 % of turns draw from the clean banks, the rest from defects.
    tpl_idx = (
        F.when(mix < CLEAN_WEIGHT, F.pmod(mix, F.lit(n_clean)))
        .otherwise(F.lit(n_clean) + F.pmod(mix - CLEAN_WEIGHT, F.lit(len(DEFECTS))))
        .cast("int")
    )
    base_text = F.element_at(text_arr, tpl_idx + 1)
    filler = F.element_at(
        filler_arr, F.pmod(mix * 31 + F.col("turn_idx"), F.lit(len(FILLERS))).cast("int") + 1
    )
    # Append filler only to non-empty clean-bank turns (keeps defect bytes
    # pristine, varies clean text for dedup realism).
    text = F.when(
        (mix < CLEAN_WEIGHT) & (F.length(base_text) > 0),
        F.concat(base_text, F.lit(" "), filler),
    ).otherwise(base_text)

    role = F.element_at(
        F.array(F.lit("user"), F.lit("assistant"), F.lit("tool")),
        F.pmod(F.col("turn_idx"), F.lit(3)).cast("int") + 1,
    )
    out = turns.select(
        F.format_string("conv_%08d", F.col("cidx")).alias("conv_id"),
        F.col("turn_idx").cast("int").alias("turn_idx"),
        role.alias("role"),
        text.alias("text"),
        F.when(role == "tool", F.lit("search")).otherwise(F.lit(None).cast("string")).alias("tool"),
        F.timestamp_seconds(
            F.lit(1700000000) + F.col("cidx") * 3600 + F.col("turn_idx") * 60
        ).alias("ts"),
        *(
            [
                F.element_at(lang_arr, tpl_idx + 1).alias("true_lang"),
                F.when(mix < CLEAN_WEIGHT, F.lit("clean"))
                .otherwise(F.lit("defect"))
                .alias("true_kind"),
            ]
            if with_truth
            else []
        ),
    )
    return out


# --- synthetic pre-training document corpus --------------------------------

# word pool for synth_documents: the 8 Gopher stopwords (high frequency so
# natural docs clear the stopword gate) + content words; selection is
# arithmetic on xxhash64, so same seed → identical bytes at any
# parallelism.  Hash-mixing per (doc, line, word) position matters: a
# shared-step arithmetic progression would make every document a rotation
# of one cyclic sequence (i.e. the whole corpus one near-dup chain).
_DOC_WORDS = [
    "the", "be", "to", "of", "and", "that", "have", "with",
    "results", "committee", "reviewed", "proposal", "detail", "approach",
    "quarter", "meeting", "schedule", "report", "analysis", "numbers",
    "project", "steps", "data", "sorted", "time", "team", "agreed",
    "measurement", "trials", "observed", "differences", "consistent",
    "implementation", "argued", "ready", "sound", "review", "process",
    "update", "summary", "release", "version", "feature", "pipeline",
    "cluster", "storage", "network", "latency", "throughput", "memory",
]
_DOC_BOILERPLATE = (
    "subscribe to our newsletter for all of the updates and have the "
    "latest news delivered to be read with your morning coffee."
)
# planted page fractions (1 in N) and the generator's partition count
SOUP_EVERY = 16
BRACE_EVERY = 32
BOILER_EVERY = 4
DOC_PARTS = 64


def synth_documents(
    spark: SparkSession,
    n_docs: int,
    seed: int = 42,
    dup_every: int = 23,
) -> DataFrame:
    """Deterministic distributed pre-training document corpus
    (``doc_id, source, text``) for gate/dedup/corpus benchmarks: natural-ish
    multi-line prose with blank-line paragraph breaks, where most pages
    survive the C4/Gopher gates and the planted fractions exercise every
    corpus-build stage — ``dup_every`` exact-duplicate pairs (doc k ≡ doc
    k−1), ``SOUP_EVERY`` stopword-free word-soup pages (Gopher stopword
    rule drops), ``BRACE_EVERY`` pages containing ``{`` (C4 page rule
    drops), ``BOILER_EVERY`` pages ending in a shared boilerplate
    paragraph (paragraph-dedup work).  Pure ``spark.range`` + Catalyst
    expressions: zero driver data, any size, same seed → same bytes."""
    pool = F.array(*[F.lit(w) for w in _DOC_WORDS])
    content_pool = F.array(*[F.lit(w) for w in _DOC_WORDS[8:]])
    ids = spark.range(0, n_docs, 1, DOC_PARTS)
    is_dup = (F.col("id") % dup_every == 0) & (F.col("id") > 0)
    cid = F.when(is_dup, F.col("id") - 1).otherwise(F.col("id"))

    def h(*cols):
        return F.xxhash64(F.lit(seed), cid, *cols)

    is_soup = F.pmod(h(F.lit("soup")), F.lit(SOUP_EVERY)) == 0
    active_pool = F.when(is_soup, content_pool).otherwise(pool)
    pool_n = F.size(active_pool)
    n_lines = (F.pmod(h(F.lit("nl")), F.lit(16)) + 8).cast("int")  # 8..23

    def line_expr(i):
        n_words = (F.pmod(h(F.lit("nw"), i), F.lit(12)) + 5).cast("int")  # 5..16
        words = F.transform(
            F.sequence(F.lit(0), n_words - 1),
            lambda j: F.element_at(
                active_pool, F.pmod(h(i, j), pool_n).cast("int") + 1
            ),
        )
        body = F.array_join(words, " ")
        # ~80% of lines end terminally (C4 keeps them), the rest drop
        terminal = F.when(F.pmod(h(F.lit("t"), i), F.lit(5)) > 0, F.lit("."))\
            .otherwise(F.lit(""))
        # blank-line paragraph break after every 4th line
        sep = F.when(i % 4 == 3, F.lit("\n")).otherwise(F.lit(""))
        return F.concat(body, terminal, sep)

    lines = F.transform(F.sequence(F.lit(0), n_lines - 1), line_expr)
    text = F.array_join(lines, "\n")
    text = F.when(
        F.pmod(h(F.lit("boiler")), F.lit(BOILER_EVERY)) == 0,
        F.concat(text, F.lit("\n\n" + _DOC_BOILERPLATE)),
    ).otherwise(text)
    text = F.when(
        F.pmod(h(F.lit("brace")), F.lit(BRACE_EVERY)) == 0,
        F.concat(text, F.lit("\nconfig = { unparsed }")),
    ).otherwise(text)
    source = F.concat(
        F.lit("crawl-"), F.pmod(h(F.lit("src")), F.lit(5)).cast("string")
    )
    return ids.select(
        F.col("id").alias("doc_id"), source.alias("source"), text.alias("text")
    )
