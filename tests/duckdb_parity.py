"""Per-operator DuckDB parity cases for ``tests/test_entry_contract.py``:
each library operator wrapped as a ``(spark, sf_dir) -> DataFrame`` case,
paired with a DuckDB oracle SQL string over the sf parquet tables
registered as views.

The transcript-shaped queries derive a deterministic turn table from the
``documents`` parquet (8-word chunks — same derivation in Spark and in the
generated DuckDB SQL, see dsql.TURNS_CTE), then run the *real* engine
operators on it.  Where a query needs labels/scores/langs as *inputs*
(filter/trim/salvage semantics), they are derived with engine-agnostic
integer arithmetic (dsql.synth_*) so both sides are bit-identical.

Operator ids in docstrings refer to SURVEY.md §2.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from quality_filter.labels import LABELS
from quality_filter.pipeline import (
    apply_filter_mode,
    apply_min_doc_length,
    apply_trim_mode,
    keep_by_label,
    keep_by_salvage,
    keep_by_score,
    reassemble,
)
from quality_filter.rules import score_turns
from quality_filter.scrub import scrub_expr
from tests import duckdb_sql as dsql

W = dsql.WORDS_PER_TURN


def _spread(df: DataFrame) -> DataFrame:
    """Scale-adaptive scan spread: the testdata parquet is a single file
    with one row group, so Spark's split planning yields 1-2 scan
    partitions and every narrow projection above it runs on one core.
    Round-robin repartition to the session's parallelism ONLY when the
    scan is under it, so the cases also run their operators on more than
    one partition."""
    p = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < p:
        return df.repartition(p)
    return df


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _spread(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def derive_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic doc→turn derivation (C1 analog: explode to line grain,
    ``posexplode(split(...))`` family).

    ``split(text)`` is hoisted into its own projection under the explode:
    Catalyst re-evaluates a transform lambda's CAPTURED expressions once
    per element, so an inline split is O(words²/W) per document (see
    _word_shingles3); the Generate is the barrier that keeps
    CollapseProject from re-inlining it."""
    docs = _docs(spark, sf_dir)
    pre = docs.select(
        F.col("doc_id").cast("string").alias("conv_id"),
        "doc_id",
        F.col("lang").alias("doc_lang"),
        F.split(F.col("text"), " ").alias("_w"),
    )
    w = F.col("_w")
    n = F.ceil(F.size(w) / F.lit(float(W))).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n - 1),
        lambda i: F.struct(
            i.cast("int").alias("turn_idx"),
            F.array_join(F.slice(w, i * W + 1, W), " ").alias("txt"),
        ),
    )
    t = pre.select(
        "conv_id",
        "doc_id",
        "doc_lang",
        F.explode(chunks).alias("ch"),
    )
    return t.select(
        "conv_id",
        "doc_id",
        "doc_lang",
        F.col("ch.turn_idx").alias("turn_idx"),
        F.col("ch.txt").alias("text"),
    )


def _synth_cols(t: DataFrame) -> DataFrame:
    """Engine-agnostic synthetic label / clean_score / lang columns
    (mirrors dsql.synth_*_sql)."""
    mixed = (F.col("doc_id") * 31 + F.col("turn_idx") * 7) % dsql.N_SYNTH_LABELS
    label = F.when(mixed < dsql.SYNTH_CLEAN_BELOW, F.lit("Clean")).otherwise(
        F.element_at(
            F.array(*[F.lit(l) for l in LABELS[1:]]),
            ((mixed - dsql.SYNTH_CLEAN_BELOW).cast("int") % 8) + 1,
        )
    )
    score_k = (F.col("doc_id") * 131 + F.col("turn_idx") * 17) % 1001
    lang = F.element_at(
        F.array(*[F.lit(l) for l in dsql.SYNTH_LANGS]),
        ((F.col("doc_id") + F.col("turn_idx") * 3) % 5).cast("int") + 1,
    )
    return (
        t.withColumn("label", label)
        .withColumn("clean_score", score_k / F.lit(1000.0))
        .withColumn("lang", lang)
    )


_SYNTH_SELECT = (
    f"SELECT conv_id, doc_id, doc_lang, turn_idx, text, "
    f"{dsql.synth_label_sql()} AS label, "
    f"{dsql.synth_score_k_sql()} / 1000.0 AS clean_score, "
    f"{dsql.synth_turn_lang_sql()} AS lang FROM turns"
)


def _with_turns(sql: str) -> str:
    return f"WITH {dsql.TURNS_CTE}, scored AS ({_SYNTH_SELECT}) {sql}"


# ---------------------------------------------------------------------------
# the cases
# ---------------------------------------------------------------------------

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def _register(name: str, sql: str):
    def deco(fn):
        if name in QUERIES:
            # a silent dict overwrite would replace a case with another
            # one under the same test id — fail loudly instead
            raise ValueError(f"duplicate query registration: {name!r}")
        QUERIES[name] = fn
        ORACLES[name] = sql
        return fn

    return deco


# -- C2 analog: real rule engine ------------------------------------------

@_register(
    "rules_score",
    f"WITH {dsql.TURNS_CTE} SELECT doc_id, turn_idx, "
    f"{dsql.label_sql('text')} AS label, "
    f"{dsql.clean_score_sql('text', dsql.label_sql('text'))} AS clean_score "
    f"FROM turns",
)
def q_rules_score(spark, sf_dir):
    """C2: per-turn label + clean_score from the native rule engine."""
    t = derive_turns(spark, sf_dir)
    return score_turns(t).select("doc_id", "turn_idx", "label", "clean_score")


# -- C3 filter / C4 trim ----------------------------------------------------

_REMOVE = [LABELS[6], LABELS[7], LABELS[2]]  # toxic, spam, contact
_REMOVE_IN = ", ".join(f"'{l}'" for l in _REMOVE)


@_register(
    "filter_by_label",
    _with_turns(
        f"SELECT doc_id, turn_idx, text, label FROM scored "
        f"WHERE label NOT IN ({_REMOVE_IN})"
    ),
)
def q_filter_by_label(spark, sf_dir):
    """C3 label variant (src/filter_by_quality_label.py:71-75) with
    shorthand parsing."""
    t = _synth_cols(derive_turns(spark, sf_dir))
    out = apply_filter_mode(t, keep_by_label("toxic,spam,contact"))
    return out.select("doc_id", "turn_idx", "text", "label")


@_register(
    "trim_by_label",
    _with_turns(
        "SELECT doc_id, turn_idx, label FROM ("
        " SELECT doc_id, turn_idx, label,"
        "  min(CASE WHEN label = 'Clean' THEN turn_idx END) OVER (PARTITION BY conv_id) AS fk,"
        "  max(CASE WHEN label = 'Clean' THEN turn_idx END) OVER (PARTITION BY conv_id) AS lk"
        " FROM scored) WHERE turn_idx BETWEEN fk AND lk"
    ),
)
def q_trim_by_label(spark, sf_dir):
    """C4 trim, label predicate (src/filter_by_quality_label.py:77-90):
    remove all non-Clean turns from the edges only."""
    t = _synth_cols(derive_turns(spark, sf_dir))
    out = apply_trim_mode(t, keep_by_label("all"))
    return out.select("doc_id", "turn_idx", "label")


@_register(
    "filter_by_score",
    _with_turns(
        "SELECT doc_id, turn_idx, clean_score FROM scored WHERE clean_score >= 0.5"
    ),
)
def q_filter_by_score(spark, sf_dir):
    """C3 score variant, inclusive >= (src/filter_by_quality_score.py:30)."""
    t = _synth_cols(derive_turns(spark, sf_dir))
    out = apply_filter_mode(t, keep_by_score(0.5))
    return out.select("doc_id", "turn_idx", "clean_score")


@_register(
    "trim_by_score",
    _with_turns(
        "SELECT doc_id, turn_idx, clean_score FROM ("
        " SELECT doc_id, turn_idx, clean_score,"
        "  min(CASE WHEN clean_score >= 0.7 THEN turn_idx END) OVER (PARTITION BY conv_id) AS fk,"
        "  max(CASE WHEN clean_score >= 0.7 THEN turn_idx END) OVER (PARTITION BY conv_id) AS lk"
        " FROM scored) WHERE turn_idx BETWEEN fk AND lk"
    ),
)
def q_trim_by_score(spark, sf_dir):
    """C4 trim, score predicate (src/filter_by_quality_score.py:37-56)."""
    t = _synth_cols(derive_turns(spark, sf_dir))
    out = apply_trim_mode(t, keep_by_score(0.7))
    return out.select("doc_id", "turn_idx", "clean_score")


@_register(
    "salvage_filter",
    _with_turns(
        "SELECT doc_id, turn_idx FROM scored "
        "WHERE label = 'Clean' AND clean_score > 0.9 AND lang = doc_lang"
    ),
)
def q_salvage_filter(spark, sf_dir):
    """C3 salvage composite (src/salvage_low_quality_data.py:183-188):
    Clean ∧ score strictly > 0.9 ∧ turn lang == document lang."""
    t = _synth_cols(derive_turns(spark, sf_dir)).withColumn(
        "document_lang", F.col("doc_lang")
    )
    out = apply_filter_mode(t, keep_by_salvage())
    return out.select("doc_id", "turn_idx")


@_register(
    "min_doc_length",
    _with_turns(
        "SELECT doc_id, turn_idx FROM ("
        " SELECT doc_id, turn_idx,"
        "  sum(length(text)) OVER (PARTITION BY conv_id) + count(*) OVER (PARTITION BY conv_id) - 1 AS dl"
        " FROM scored WHERE label = 'Clean') WHERE dl >= 100"
    ),
)
def q_min_doc_length(spark, sf_dir):
    """P2/P4: drop conversations whose post-filter reassembled text is
    shorter than 100 chars (src/salvage_low_quality_data.py:219)."""
    t = _synth_cols(derive_turns(spark, sf_dir))
    kept = apply_filter_mode(t, keep_by_label("all"))
    out = apply_min_doc_length(kept, 100)
    return out.select("doc_id", "turn_idx")


@_register(
    "reassemble_docs",
    _with_turns(
        "SELECT conv_id, string_agg(text, chr(10) ORDER BY turn_idx) AS text, "
        "count(*) AS n_turns FROM scored WHERE label = 'Clean' GROUP BY conv_id"
    ),
)
def q_reassemble_docs(spark, sf_dir):
    """A3/C3 rebuild: '\\n'.join of kept turns under stable turn order
    (src/filter_by_quality_label.py:35)."""
    t = _synth_cols(derive_turns(spark, sf_dir))
    kept = apply_filter_mode(t, keep_by_label("all"))
    return reassemble(kept).select("conv_id", "text", "n_turns")


# -- M7 scrubber ------------------------------------------------------------

_PII_SUFFIX = (
    " contact a.b@c.de or +1 (555) 123-4567 via https://x.io/y "
    "from 192.168.1.1 ref 9934817265"
)


_PII_TEXT_EXPR = "(text || '" + _PII_SUFFIX + "')"


@_register(
    "scrub_pii",
    f"SELECT doc_id, {dsql.scrub_sql(_PII_TEXT_EXPR)} AS scrubbed_text FROM documents",
)
def q_scrub_pii(spark, sf_dir):
    """M7: regexp_replace PII scrub chain, byte-for-byte."""
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        scrub_expr(F.concat(F.col("text"), F.lit(_PII_SUFFIX))).alias("scrubbed_text"),
    )


@_register(
    "label_freq",
    f"WITH {dsql.TURNS_CTE} SELECT {dsql.label_sql('text')} AS label, "
    f"count(*) AS n FROM turns GROUP BY 1",
)
def q_label_freq(spark, sf_dir):
    """G1/G4/S9: label frequency table over real rule labels."""
    t = derive_turns(spark, sf_dir)
    return score_turns(t).groupBy("label").agg(F.count(F.lit(1)).alias("n"))


@_register(
    "label_top3",
    f"WITH {dsql.TURNS_CTE}, f AS (SELECT {dsql.label_sql('text')} AS label, "
    f"count(*) AS n FROM turns GROUP BY 1) "
    f"SELECT label, n FROM f ORDER BY n DESC, label LIMIT 3",
)
def q_label_top3(spark, sf_dir):
    """G2: top-k most common labels (src/label_lines_with_LLM.py:447),
    deterministic tiebreak."""
    t = derive_turns(spark, sf_dir)
    freq = score_turns(t).groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    return freq.orderBy(F.desc("n"), "label").limit(3)


def _word_shingles3(words_col):
    """3-word shingles from an ALREADY-SPLIT word-array column; empty for
    docs under 3 words (Spark sequence(0, -1) is DESCENDING and would
    crash the slice; DuckDB range(0, n<=0) is already empty — the guard
    keeps the two sides aligned on short docs).

    Callers hoist ``split(text)`` into its own projection under the
    consuming explode and pass the bound attribute: Catalyst re-evaluates
    a transform lambda's CAPTURED expressions once per element, so an
    inline split is O(words²) per document (the library twin is
    dedup.word_grams).  The Generate under the second select is the barrier
    that keeps CollapseProject from re-inlining the split."""
    n_sh = F.size(words_col) - 2
    return F.when(
        n_sh >= 1,
        F.transform(
            F.sequence(F.lit(0), F.greatest(n_sh, F.lit(1)) - 1),
            lambda i: F.array_join(F.slice(words_col, i + 1, 3), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


_MERSENNE61 = (1 << 61) - 1


def _minhash_pair_ctes() -> str:
    # ONE md5 per shingle, split into two 60-bit halves (a, b), then the
    # 8 permutations are h_s = (a + s*b) mod 2^61-1 — the Kirsch-
    # Mitzenmacher universal-hashing construction.  Independent-enough
    # permutations (each s reorders shingles differently) WITHOUT the
    # chunk-min bias an earlier variant had (narrow chunk-mins concentrate
    # near 0 for long docs and blew the candidate join up 3.4×), and
    # without an 8-independent-digests construction (8× md5 string
    # hashing per shingle).  a + 7b < 8*2^60 = 2^63-8: no signed-64 overflow.
    # Ends with a `cand` CTE so the near-dup clustering oracle can reuse
    # the identical pair construction.
    aggs = ", ".join(
        f"min((a + {s}*b) % {_MERSENNE61}) AS h{s}" for s in range(8)
    )
    return (
        "sh AS (SELECT doc_id, unnest(list_transform(range(0, CAST(len(string_split(text,' ')) AS BIGINT) - 2),"
        " i -> array_to_string(string_split(text,' ')[(i+1):(i+3)], ' '))) AS shingle"
        " FROM documents),"
        "ab AS (SELECT doc_id,"
        " CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS a,"
        " CAST(('0x' || substr(md5(shingle), 17, 15)) AS BIGINT) AS b FROM sh),"
        f"sig AS (SELECT doc_id, {aggs} FROM ab GROUP BY doc_id),"
        # exploded-band layout: one row per (doc, band) with the band hash as
        # an equi-join key — mirrors the Spark side so both plan as hash joins
        "bands AS ("
        " SELECT doc_id, 0 AS band, CAST(h0 AS VARCHAR) || '|' || h1 || '|' || h2 || '|' || h3 AS bh FROM sig"
        " UNION ALL"
        " SELECT doc_id, 1 AS band, CAST(h4 AS VARCHAR) || '|' || h5 || '|' || h6 || '|' || h7 AS bh FROM sig),"
        "cand AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b FROM bands a JOIN bands b"
        " ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id)"
    )


def _minhash_pairs_df(docs):
    words = docs.select("doc_id", F.split(F.col("text"), " ").alias("_w"))
    sh = words.select(
        "doc_id", F.explode(_word_shingles3(F.col("_w"))).alias("shingle")
    )
    # materialize (a, b) in a projection so the digest is computed ONCE
    # per shingle, not once per aggregate expression
    ab = sh.select(
        "doc_id", F.md5(F.encode(F.col("shingle"), "UTF-8")).alias("d")
    ).select(
        "doc_id",
        F.conv(F.substring("d", 1, 15), 16, 10).cast("long").alias("a"),
        F.conv(F.substring("d", 17, 15), 16, 10).cast("long").alias("b"),
    )
    aggs = [
        F.min((F.col("a") + F.lit(s) * F.col("b")) % F.lit(_MERSENNE61)).alias(f"h{s}")
        for s in range(8)
    ]
    sig = ab.groupBy("doc_id").agg(*aggs)
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                F.struct(
                    F.lit(0).alias("band"),
                    F.concat_ws("|", "h0", "h1", "h2", "h3").alias("bh"),
                ),
                F.struct(
                    F.lit(1).alias("band"),
                    F.concat_ws("|", "h4", "h5", "h6", "h7").alias("bh"),
                ),
            )
        ).alias("bd"),
    ).select("doc_id", F.col("bd.band").alias("band"), F.col("bd.bh").alias("bh"))
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("a"), F.col("b.doc_id").alias("b"))
        .distinct()
    )


# -- sampling / splits ------------------------------------------------------

@_register(
    "stratified_split",
    "SELECT o_orderkey, CASE WHEN (CAST(o_orderkey AS HUGEINT)*2654435761) % 1000 < 700 THEN 'train' "
    "WHEN (CAST(o_orderkey AS HUGEINT)*2654435761) % 1000 < 850 THEN 'val' ELSE 'test' END AS split "
    "FROM orders",
)
def q_stratified_split(spark, sf_dir):
    """R2: deterministic 70/15/15 split via integer mixing (scale-safe
    replacement for train_test_split, src/prep_data_for_training.py:62-120).
    The mix runs overflow-free (decimal / HUGEINT) on both sides — bigint
    would wrap for keys ≥ ~3.47e9 (sampling.deterministic_bucket)."""
    from quality_filter.sampling import deterministic_bucket

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    bucket = deterministic_bucket("o_orderkey")
    return orders.select(
        "o_orderkey",
        F.when(bucket < 700, "train")
        .when(bucket < 850, "val")
        .otherwise("test")
        .alias("split"),
    )


# -- full pipeline (C2+C3+M7+A3 composed) -----------------------------------

_FULL_SQL = (
    f"WITH {dsql.TURNS_CTE}, lab AS ("
    f" SELECT conv_id, turn_idx, text, {dsql.label_sql('text')} AS label FROM turns) "
    f"SELECT conv_id, string_agg({dsql.scrub_sql('text')}, chr(10) ORDER BY turn_idx) AS text, "
    f"count(*) AS n_turns FROM lab WHERE label = 'Clean' GROUP BY conv_id"
)


@_register("full_clean_reassemble", _FULL_SQL)
def q_full_clean_reassemble(spark, sf_dir):
    """Flagship: real rules → filter 'all' → scrub → ordered reassembly."""
    from quality_filter.rules import barrier_filter

    t = derive_turns(spark, sf_dir)
    scored = score_turns(t)
    # pushdown barrier (same idiom as clean_pipeline): without it the
    # filter on `label` is substituted below the projection and the whole
    # regex cascade runs twice per row
    kept = barrier_filter(scored, keep_by_label("all"))
    scrubbed = kept.withColumn("scrubbed_text", scrub_expr(F.col("text")))
    return reassemble(scrubbed, "scrubbed_text").select("conv_id", "text", "n_turns")


# ---------------------------------------------------------------------------
# dedup / text analysis
# ---------------------------------------------------------------------------

_NORM_SQL = "trim(regexp_replace(lower(text), '[ \\t\\r\\n]+', ' ', 'g'))"


@_register(
    "exact_dedup_docs",
    f"WITH keyed AS (SELECT doc_id, md5({_NORM_SQL}) AS fp FROM documents), "
    "keep AS (SELECT fp, min(doc_id) AS doc_id FROM keyed GROUP BY fp) "
    "SELECT doc_id FROM keep",
)
def q_exact_dedup_docs(spark, sf_dir):
    """Exact dedup (hash-groupBy on normalized text, deterministic keeper)."""
    from quality_filter.dedup import exact_dedup

    return exact_dedup(_docs(spark, sf_dir)).select("doc_id")


@_register(
    "shard_events",
    "SELECT event_id, user_id FROM events "
    "WHERE (CAST(event_id AS HUGEINT) * 2654435761) % 5 = 0",
)
def q_shard_events(spark, sf_dir):
    """R5: deterministic 1-of-5 shard via integer mixing (overflow-free
    decimal/HUGEINT on both sides — see sampling.deterministic_bucket)."""
    from quality_filter.sampling import deterministic_bucket

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    return events.filter(deterministic_bucket("event_id", 5) == 0).select(
        "event_id", "user_id"
    )


@_register(
    "doc_cleanliness_bucket",
    _with_turns(
        "SELECT doc_id, CASE WHEN CAST(sum(CASE WHEN label='Clean' THEN 1 ELSE 0 END) AS DOUBLE)/count(*) >= 2.0/3.0 THEN 'mostly_clean' "
        "WHEN CAST(sum(CASE WHEN label='Clean' THEN 1 ELSE 0 END) AS DOUBLE)/count(*) > 1.0/3.0 THEN 'mixed' "
        "ELSE 'mostly_junk' END AS bucket FROM scored GROUP BY doc_id"
    ),
)
def q_doc_cleanliness_bucket(spark, sf_dir):
    """G7: majority-cleanliness bucket per document
    (quality_label_correlation notebook cell 3)."""
    from quality_filter.taxonomy import doc_cleanliness_bucket

    t = _synth_cols(derive_turns(spark, sf_dir))
    pct = (
        F.sum(F.when(F.col("label") == "Clean", 1).otherwise(0)).cast("double")
        / F.count(F.lit(1))
    )
    return t.groupBy("doc_id").agg(pct.alias("_p")).select(
        "doc_id", doc_cleanliness_bucket(F.col("_p")).alias("bucket")
    )


@_register(
    "class_weights",
    _with_turns(
        "SELECT label, CAST(total AS DOUBLE) / (n_classes * cnt) AS weight "
        "FROM (SELECT label, count(*) AS cnt FROM scored GROUP BY label) per, "
        "(SELECT count(*) AS total, count(DISTINCT label) AS n_classes FROM scored) tot"
    ),
)
def q_class_weights(spark, sf_dir):
    """G5: balanced class weights n/(k*count)
    (src/train_classifier.py:98-106) as a relational computation."""
    t = _synth_cols(derive_turns(spark, sf_dir))
    per = t.groupBy("label").agg(F.count(F.lit(1)).alias("cnt"))
    tot = per.agg(
        F.sum("cnt").alias("total"), F.count(F.lit(1)).alias("n_classes")
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "label",
        (F.col("total").cast("double") / (F.col("n_classes") * F.col("cnt"))).alias(
            "weight"
        ),
    )


# ---------------------------------------------------------------------------
# A4 resegmentation, A9 lang map, oracle-bound UDF scorers, salvage
# end-to-end
# ---------------------------------------------------------------------------


@_register("resegment_docs", dsql.resegment_sql())
def q_resegment_docs(spark, sf_dir):
    """A4: sentence-boundary resegmentation + greedy 200-char packing
    (src/label_lines_with_LLM.py:144-168) — aggregate-HOF fold, narrow."""
    from quality_filter.reseg import resegment

    return resegment(_docs(spark, sf_dir))


def _lang_code_names_sql() -> str:
    from quality_filter.langmap import LANGUAGE_CODES

    codes = LANGUAGE_CODES + ["xxx_Latn"]  # one unknown to exercise fallback
    arr = "[" + ", ".join(f"'{c}'" for c in codes) + "]"
    code = f"({arr}[CAST(doc_id % {len(codes)} AS INT) + 1])"
    return (
        f"SELECT doc_id, {code} AS code, "
        f"{dsql.lang_name_case_sql(code)} AS language FROM documents"
    )


@_register("lang_code_names", _lang_code_names_sql())
def q_lang_code_names(spark, sf_dir):
    """A9: ISO 639-3+script code → language-name broadcast map literal
    (src/label_lines_with_LLM.py:381-438) with 'Unknown' fallback."""
    from quality_filter.langmap import LANGUAGE_CODES, lang_name_expr

    codes = LANGUAGE_CODES + ["xxx_Latn"]
    code = F.element_at(
        F.array(*[F.lit(c) for c in codes]),
        (F.col("doc_id") % len(codes)).cast("int") + 1,
    )
    return _docs(spark, sf_dir).select(
        "doc_id",
        code.alias("code"),
        lang_name_expr(code).alias("language"),
    )


# -- deterministic seed-language text: lets the REAL scorer UDF be
#    oracle-checked (the oracle states the expected prediction; the Spark
#    side must earn it through the actual model) --------------------------

def _seed_langs() -> list[str]:
    from quality_filter.langid import SEED_CORPORA

    return sorted(SEED_CORPORA)


def _seed_text_col():
    """Two same-language seed sentences per doc, language picked by
    doc_id % n_langs, sentences by deterministic integer mixing."""
    from quality_filter.langid import SEED_CORPORA

    langs = _seed_langs()
    sents_arr = F.array(
        *[F.array(*[F.lit(s) for s in SEED_CORPORA[l]]) for l in langs]
    )
    sents = F.element_at(sents_arr, (F.col("doc_id") % len(langs)).cast("int") + 1)
    n = F.size(sents)
    s1 = F.element_at(sents, (F.col("doc_id") % n).cast("int") + 1)
    s2 = F.element_at(sents, ((F.col("doc_id") * 7 + 3) % n).cast("int") + 1)
    return F.concat_ws(" ", s1, s2)


def _local_hashes(texts: list[str]):
    """``ngram.batch_hashes`` of a local list of texts (oracle side)."""
    import pyarrow as pa

    from quality_filter import ngram

    return ngram.batch_hashes(pa.array(texts, type=pa.string()))


def _langid_expected_sql() -> str:
    langs = _seed_langs()
    arr = "[" + ", ".join(f"'{l}'" for l in langs) + "]"
    return (
        f"SELECT doc_id, {arr}[CAST(doc_id % {len(langs)} AS INT) + 1] AS lang, "
        "true AS high_conf FROM documents"
    )


@_register("langid_turns", _langid_expected_sql())
def q_langid_turns(spark, sf_dir):
    """M5: the real n-gram langid (the scorer UDF) over deterministic
    known-language text (two seed sentences per doc).  The oracle states
    the expected language arithmetically; any misprediction or confidence
    collapse by the actual model breaks the match."""
    from quality_filter.scoring import with_scores

    docs = _docs(spark, sf_dir).select("doc_id", _seed_text_col().alias("text"))
    out = with_scores(docs)
    return out.select(
        "doc_id", "lang", (F.col("lang_prob") > 0.5).alias("high_conf")
    )


@_register(
    "perplexity_turns",
    "SELECT doc_id, true AS coherent_lower FROM documents",
)
def q_perplexity_turns(spark, sf_dir):
    """M6: the real trigram-LM perplexity (the scorer UDF), oracle-checked
    as a separation assertion: natural seed text must score strictly lower
    logppl than trigram-alien junk for EVERY doc."""
    from quality_filter.scoring import with_scores

    docs = _docs(spark, sf_dir).select("doc_id", _seed_text_col().alias("text"))
    junk = F.lit("zq xv kj wf pg qz vx jk fw gp qqz vvx kkj wwf ppg")
    d1 = with_scores(docs).select("doc_id", F.col("logppl").alias("ppl_c"))
    d2 = with_scores(d1.withColumn("text", junk)).withColumnRenamed(
        "logppl", "ppl_j"
    )
    return d2.select(
        "doc_id", (F.col("ppl_c") < F.col("ppl_j")).alias("coherent_lower")
    )


def _ppl_expected_sql() -> str:
    """Value-exact perplexity oracle: the seed text is a pure function of
    doc_id mod M (M = lcm(n_langs, per-language sentence counts)), so the
    expected logppl of EVERY residue class can be computed once locally
    with the same frozen artifact the UDF broadcasts, and stated as
    literals — the case is then exact on actual logppl values, not just
    on a separation boolean."""
    import math

    from quality_filter import perplexity
    from quality_filter.langid import SEED_CORPORA

    langs = _seed_langs()
    m = len(langs)
    for n in {len(SEED_CORPORA[lang]) for lang in langs}:
        m = m * n // math.gcd(m, n)
    lp3, lp2 = perplexity.build_artifact()
    texts = []
    for r in range(m):
        sents = SEED_CORPORA[langs[r % len(langs)]]
        n = len(sents)
        texts.append(sents[r % n] + " " + sents[(r * 7 + 3) % n])
    h3, h2, off = _local_hashes(texts)
    vals = perplexity._ppl_hashed(h3, h2, off, lp3, lp2)
    cases = " ".join(
        f"WHEN {r} THEN {float(v)!r}" for r, v in enumerate(vals)
    )
    return (
        f"SELECT doc_id, CAST(CASE CAST(doc_id % {m} AS INT) {cases} END "
        "AS DOUBLE) AS logppl FROM documents"
    )


@_register("perplexity_values", _ppl_expected_sql())
def q_perplexity_values(spark, sf_dir):
    """M6 value parity: the REAL trigram-LM scorer UDF over deterministic
    seed text; the oracle states every expected logppl arithmetically
    (computed from the same frozen artifact), so any drift in hashing,
    smoothing, rounding, or the Arrow path breaks the match."""
    from quality_filter.scoring import with_scores

    docs = _docs(spark, sf_dir).select("doc_id", _seed_text_col().alias("text"))
    return with_scores(docs).select("doc_id", "logppl")


def _salvage_e2e_sql() -> str:
    """Oracle: same seed-sentence turns built arithmetically; every turn's
    lang equals the conversation's (single-language convs), so the salvage
    keep reduces to label='Clean' AND score>0.9 — both generated from the
    frozen rule constants."""
    from quality_filter.langid import SEED_CORPORA

    langs = _seed_langs()

    def esc(s: str) -> str:
        return s.replace("'", "''")

    nested = (
        "["
        + ", ".join(
            "[" + ", ".join(f"'{esc(s)}'" for s in SEED_CORPORA[l]) + "]"
            for l in langs
        )
        + "]"
    )
    larr = "[" + ", ".join(f"'{l}'" for l in langs) + "]"
    lbl = dsql.label_sql("text")
    score = dsql.clean_score_sql("text", lbl)
    return (
        f"WITH sl AS (SELECT doc_id, {nested}[CAST(doc_id % {len(langs)} AS INT) + 1] AS sents, "
        f" {larr}[CAST(doc_id % {len(langs)} AS INT) + 1] AS exp_lang FROM documents), "
        "t AS (SELECT doc_id, exp_lang, unnest(list_transform(range(0, 3), "
        " i -> struct_pack(turn_idx := CAST(i AS INT), "
        "  txt := sents[CAST((doc_id + i*5) % len(sents) AS INT) + 1]))) AS u FROM sl), "
        "turns2 AS (SELECT doc_id, exp_lang, u.turn_idx AS turn_idx, u.txt AS text FROM t) "
        f"SELECT doc_id, turn_idx, exp_lang AS lang FROM turns2 "
        f"WHERE {lbl} = 'Clean' AND {score} > 0.9"
    )


@_register("salvage_langid_e2e", _salvage_e2e_sql())
def q_salvage_langid_e2e(spark, sf_dir):
    """Salvage end-to-end with the REAL scorer UDF: seed-sentence turns →
    rule scoring → with_scores → with_document_lang (skew-safe max_by) →
    composite salvage keep.  Conversations are single-language by
    construction, so the oracle can assert the full composite output."""
    from quality_filter.langid import SEED_CORPORA
    from quality_filter.pipeline import with_document_lang
    from quality_filter.scoring import with_scores

    langs = _seed_langs()
    sents_arr = F.array(
        *[F.array(*[F.lit(s) for s in SEED_CORPORA[l]]) for l in langs]
    )
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.col("doc_id").cast("string").alias("conv_id"),
        F.element_at(sents_arr, (F.col("doc_id") % len(langs)).cast("int") + 1).alias(
            "sents"
        ),
    )
    turns = docs.select(
        "doc_id",
        "conv_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(2)),
                lambda i: F.struct(
                    i.cast("int").alias("turn_idx"),
                    F.element_at(
                        F.col("sents"),
                        ((F.col("doc_id") + i * 5) % F.size(F.col("sents"))).cast(
                            "int"
                        )
                        + 1,
                    ).alias("text"),
                ),
            )
        ).alias("u"),
    ).select(
        "doc_id", "conv_id", F.col("u.turn_idx").alias("turn_idx"), F.col("u.text").alias("text")
    )
    scored = score_turns(turns)
    lid = with_scores(scored)
    docl = with_document_lang(lid)
    out = apply_filter_mode(docl, keep_by_salvage())
    return out.select("doc_id", "turn_idx", "lang")


@_register(
    "llm_output_repair",
    "SELECT doc_id, "
    "CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'Clean' WHEN 1 THEN 'Spam' "
    " WHEN 2 THEN 'Toxic' ELSE 'Clean' END AS label, "
    "CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 3 WHEN 1 THEN 1 "
    " WHEN 2 THEN 2 ELSE 4 END AS score "
    "FROM documents",
)
def q_llm_output_repair(spark, sf_dir):
    """A7: strip LLM output wrappers (code fences / 'json' tags) and
    repair-parse to a typed struct (src/label_lines_with_LLM.py:96-98).
    Four deterministic wrapper variants per doc_id; the oracle states the
    expected parse arithmetically — the Spark side must earn it through
    the actual strip+repair+from_json chain."""
    from quality_filter.llmprep import parse_llm_output

    fence = "```json\n{\"label\": \"Clean\", \"score\": 3}\n```"
    spaced = " {\"label\": \"Spam\", \"score\": 1} "
    single = "{'label': 'Toxic', 'score': 2}"
    trailing = "{\"label\": \"Clean\", \"score\": 4,}\n```"
    raw = (
        F.when(F.col("doc_id") % 4 == 0, F.lit(fence))
        .when(F.col("doc_id") % 4 == 1, F.lit(spaced))
        .when(F.col("doc_id") % 4 == 2, F.lit(single))
        .otherwise(F.lit(trailing))
    )
    parsed = parse_llm_output(raw, "label string, score int")
    return _docs(spark, sf_dir).select(
        "doc_id",
        parsed["label"].alias("label"),
        parsed["score"].alias("score"),
    )


def _classify_prompt_sql() -> str:
    from quality_filter.llmprep import CLASSIFY_TEMPLATE

    pre, rest = CLASSIFY_TEMPLATE.split("%s", 1)
    mid, post = rest.split("%s", 1)

    def lit(s: str) -> str:
        return "'" + s.replace("'", "''").replace("\n", "' || chr(10) || '") + "'"

    lines = (
        "string_agg('Line ' || (turn_idx + 1) || ': ' || text || chr(10) "
        "|| '------' || chr(10), '' ORDER BY turn_idx)"
    )
    return (
        f"WITH {dsql.TURNS_CTE} "
        f"SELECT conv_id, {lit(pre)} || doc_lang || {lit(mid)} || {lines} || {lit(post)} AS prompt "
        f"FROM turns WHERE turn_idx < 3 GROUP BY conv_id, doc_lang"
    )


@_register("classify_prompt_format", _classify_prompt_sql())
def q_classify_prompt_format(spark, sf_dir):
    """A8: numbered-line prompt blocks + template substitution
    (src/label_lines_with_LLM.py:111-117, src/prompts.py:129) over the
    first 3 turns of each conversation — collect_list + array_sort inside
    the group (no window), then one format_string."""
    from quality_filter.llmprep import classify_prompt_expr

    t = derive_turns(spark, sf_dir).filter(F.col("turn_idx") < 3)
    grouped = t.groupBy("conv_id", "doc_lang").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("turn_idx"), F.col("text").alias("t")))
            ),
            lambda s: s["t"],
        ).alias("lines")
    )
    return grouped.select(
        "conv_id",
        classify_prompt_expr(F.col("lines"), F.col("doc_lang")).alias("prompt"),
    )


def _quality_score_sql() -> str:
    from quality_filter.textstats import STOPWORDS

    t = "coalesce(text, '')"
    stop_arr = "[" + ", ".join(f"'{s}'" for s in STOPWORDS) + "]"
    n_chars = f"length({t})"
    words = f"string_split_regex(lower({t}), '\\s+')"
    n_words = f"greatest(1, len({words}))"
    n_stop = f"len(list_filter({words}, w -> list_contains({stop_arr}, w)))"
    stop_ratio = f"(CAST({n_stop} AS DOUBLE) / {n_words})"
    alpha = (
        f"(CAST({n_chars} - length(regexp_replace({t}, '\\p{{L}}', '', 'g')) AS DOUBLE)"
        f" / greatest(1, {n_chars}))"
    )
    rep = f"(CAST(len(list_distinct({words})) AS DOUBLE) / {n_words})"
    len_sat = f"(CAST(least({n_chars}, 500) AS DOUBLE) / 500.0)"
    raw = (
        f"(0.3 * {len_sat} + 0.25 * {alpha} + 0.25 * {rep}"
        f" + 0.2 * least({stop_ratio} * 4.0, 1.0))"
    )
    return f"SELECT doc_id, {dsql.bround3_sql(raw)} AS quality_score FROM documents"


@_register("doc_quality_score", _quality_score_sql())
def q_doc_quality_score(spark, sf_dir):
    """M4 analog: heuristic [0,1] doc-quality score (length saturation,
    stopword presence, alpha density, repetition penalty) — the in-engine
    stand-in for the reference's upstream ``doc_scores`` signal."""
    from quality_filter.textstats import quality_score_expr

    return _docs(spark, sf_dir).select(
        "doc_id",
        quality_score_expr(F.coalesce(F.col("text"), F.lit(""))).alias(
            "quality_score"
        ),
    )


# -- near-dup clustering + decontamination ----------------------------------

def _cluster_sql() -> str:
    # connected components of the minhash candidate graph as a recursive
    # reachability closure: reach(s, d) = "d reachable from s"; the
    # component representative is min(reachable ∪ {self}).  Fine at
    # oracle scale (sf0.01 components are ≤ handfuls of docs); the Spark
    # side is the iterative min-label propagation that scales.
    return (
        f"WITH RECURSIVE {_minhash_pair_ctes()}, "
        "und AS (SELECT a AS s, b AS d FROM cand UNION ALL SELECT b, a FROM cand), "
        "reach(s, d) AS ("
        " SELECT doc_id, doc_id FROM documents"
        " UNION"
        " SELECT r.s, u.d FROM reach r JOIN und u ON r.d = u.s) "
        "SELECT s AS doc_id, MIN(d) AS cluster_rep FROM reach GROUP BY s"
    )


@_register("near_dup_clusters", _cluster_sql())
def q_near_dup_clusters(spark, sf_dir):
    """Near-dup CLUSTERING: MinHash+LSH candidate pairs (same
    construction as minhash_candidates) grouped into connected components
    by iterative min-label propagation (cluster.connected_components) —
    each doc mapped to its component's canonical representative (min id).
    Transitive chains (A~B, B~C) land in one cluster in one pass; the
    oracle computes the same components via a recursive reachability CTE.
    Per-iteration cost: one edge⋈label shuffle join + one map-side-
    combinable min groupBy; iteration count ≤ component diameter (tiny
    for LSH graphs — banding links near-cliques)."""
    from quality_filter.cluster import connected_components

    docs = _docs(spark, sf_dir)
    pairs = _minhash_pairs_df(docs)
    return connected_components(docs.select("doc_id"), pairs)


_NGRAM8 = (
    "list_transform(range(0, CAST(len(string_split(text,' ')) AS BIGINT) - 7),"
    " i -> array_to_string(string_split(text,' ')[(i+1):(i+8)], ' '))"
)


_DECONTAM_SQL = (
    "WITH benchdocs AS ("
    " SELECT text FROM documents WHERE doc_id % 97 = 0"
    " UNION ALL"
    # eval questions quoting training docs: 12-word snippets of every
    # doc_id % 89 = 1 training doc (the planted-leak population)
    " SELECT array_to_string(string_split(text,' ')[1:12], ' ')"
    " FROM documents WHERE doc_id % 97 <> 0 AND doc_id % 89 = 1), "
    "bench AS (SELECT DISTINCT unnest("
    "  list_transform(range(0, CAST(len(string_split(text,' ')) AS BIGINT) - 7),"
    "  i -> array_to_string(string_split(text,' ')[(i+1):(i+8)], ' '))) AS gram"
    "  FROM benchdocs),"
    f"dg AS (SELECT doc_id, unnest({_NGRAM8}) AS gram"
    "  FROM documents WHERE doc_id % 97 <> 0),"
    "hits AS (SELECT doc_id, count(*) AS n_overlap FROM"
    "  (SELECT DISTINCT doc_id, gram FROM dg JOIN bench USING (gram))"
    "  GROUP BY doc_id) "
    "SELECT d.doc_id, COALESCE(h.n_overlap, 0) AS n_overlap,"
    " COALESCE(h.n_overlap, 0) > 0 AS contaminated "
    "FROM documents d LEFT JOIN hits h USING (doc_id) WHERE d.doc_id % 97 <> 0"
)


@_register("decontaminate_docs", _DECONTAM_SQL)
def q_decontaminate_docs(spark, sf_dir):
    """Test-set decontamination (GPT-3 appx. C / Gopher style): flag
    training docs sharing any 8-word gram with a benchmark set — the
    deterministic doc_id % 97 == 0 subset plus planted eval questions
    quoting 12-word snippets of every doc_id % 89 == 1 training doc, so
    the hit path is exercised (those docs MUST come back contaminated
    with ≥5 overlapping grams).  The benchmark gram set is broadcast —
    the corpus-side join is a map-side hash probe; the (doc, gram)
    distinct happens AFTER the probe so only the hit set shuffles."""
    from quality_filter.cluster import decontaminate

    docs = _docs(spark, sf_dir)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    snippets = train.filter(F.col("doc_id") % 89 == 1).select(
        F.array_join(F.slice(F.split(F.col("text"), " "), 1, 12), " ").alias("text")
    )
    bench = docs.filter(F.col("doc_id") % 97 == 0).select("text").unionByName(snippets)
    return decontaminate(train, bench)


def _substr_dedup_sql() -> str:
    # same semantics with gram STRINGS (Spark groups on xxhash64(gram) —
    # identical occurrence classes, see dedup.duplicated_span_marks) and
    # the canonical occurrence encoded as min(doc_id*2^20 + pos), which
    # orders identically to the Spark side's min(struct(doc_id, pos))
    # while positions stay under 2^20 (documents here are <100 words;
    # the library path uses the struct ordering with no bound).
    return (
        "WITH w AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents), "
        "g AS (SELECT doc_id, i AS pos, array_to_string(ws[(i+1):(i+5)],' ') AS gram"
        " FROM w, unnest(range(0, CAST(len(ws) AS BIGINT)-4)) AS t(i)), "
        "info AS (SELECT gram, count(*) AS c, min(doc_id*1048576+pos) AS mn"
        " FROM g GROUP BY gram), "
        "noncanon AS (SELECT g.doc_id, g.pos FROM g JOIN info ON g.gram = info.gram"
        " WHERE info.c > 1 AND g.doc_id*1048576+g.pos <> info.mn), "
        "marked AS (SELECT DISTINCT doc_id, pos+j AS wpos"
        " FROM noncanon, unnest(range(0,5)) AS u(j)), "
        "words AS (SELECT doc_id, i AS wpos, ws[i+1] AS word"
        " FROM w, unnest(range(0, CAST(len(ws) AS BIGINT))) AS t(i)), "
        "kept AS (SELECT words.doc_id, words.wpos, word FROM words"
        " LEFT JOIN marked m ON words.doc_id = m.doc_id AND words.wpos = m.wpos"
        " WHERE m.doc_id IS NULL), "
        "agg AS (SELECT doc_id, string_agg(word, ' ' ORDER BY wpos) AS clean_text,"
        " count(*) AS n_kept FROM kept GROUP BY doc_id) "
        "SELECT d.doc_id, COALESCE(a.clean_text, '') AS clean_text,"
        " CAST(len(string_split(d.text,' ')) AS BIGINT) - COALESCE(a.n_kept, 0) AS n_removed "
        "FROM documents d LEFT JOIN agg a USING (doc_id)"
    )


@_register("substring_dedup_docs", _substr_dedup_sql())
def q_substring_dedup_docs(spark, sf_dir):
    """Exact-substring dedup (Lee et al. 2022, word-grain): 5-word spans
    occurring more than once in the corpus keep only their first
    occurrence (min (doc_id, pos)); every other occurrence is cut out of
    its document.  Canonical selection is a map-side-combinable
    min-struct aggregate (no per-gram window — boilerplate grams with
    millions of occurrences reduce in the combiner); reassembly is
    explode → anti-join → ordered group-concat, all keyed on doc_id.

    grams='hof': the hof marking path skips the window strategy's extra
    shuffle+sort of the word stream, which pays off whenever no document
    approaches segment_size; the window strategy remains the library
    default for corpora with 10⁷-word documents.  Output identical
    (strategy parity pinned by tests/test_round6.py)."""
    from quality_filter.dedup import substring_dedup

    return substring_dedup(_docs(spark, sf_dir), k=5, grams="hof")


def _eval_report_ctes() -> str:
    """The shared (label, prediction) → per-class report CTE chain, ending
    in ``rep`` with columns (class, support, predicted, tp, "precision",
    "recall", f1)."""
    arr = ", ".join(f"'{l}'" for l in LABELS[1:])
    pred = (
        "(CASE WHEN clean_score >= 0.5 THEN 'Clean' "
        f"ELSE [{arr}][CAST((doc_id*13 + turn_idx*5) % 8 AS INT) + 1] END)"
    )
    return (
        f", pairs AS (SELECT label, {pred} AS prediction FROM scored), "
        "cm AS (SELECT label, prediction, count(*) AS n FROM pairs GROUP BY 1, 2), "
        "pt AS (SELECT label AS class, CAST(SUM(n) AS BIGINT) AS support,"
        " CAST(SUM(CASE WHEN prediction = label THEN n ELSE 0 END) AS BIGINT) AS tp"
        " FROM cm GROUP BY 1), "
        "pp AS (SELECT prediction AS class, CAST(SUM(n) AS BIGINT) AS predicted"
        " FROM cm GROUP BY 1), "
        "j AS (SELECT COALESCE(pt.class, pp.class) AS class,"
        " COALESCE(support, 0) AS support, COALESCE(predicted, 0) AS predicted,"
        " COALESCE(tp, 0) AS tp FROM pt FULL OUTER JOIN pp ON pt.class = pp.class), "
        'r AS (SELECT class, support, predicted, tp,'
        ' CASE WHEN predicted > 0 THEN CAST(tp AS DOUBLE)/predicted ELSE 0.0 END AS "precision",'
        ' CASE WHEN support > 0 THEN CAST(tp AS DOUBLE)/support ELSE 0.0 END AS "recall" FROM j), '
        'rep AS (SELECT class, support, predicted, tp, "precision", "recall",'
        ' CASE WHEN "precision" + "recall" > 0'
        ' THEN 2.0*"precision"*"recall"/("precision" + "recall") ELSE 0.0 END AS f1 FROM r)'
    )


def _eval_report_sql() -> str:
    return _with_turns(
        f"{_eval_report_ctes()} "
        'SELECT class, support, predicted, tp, "precision", "recall", f1 FROM rep'
    )


def _eval_summary_sql() -> str:
    # bround-9 (dsql.bround_sql — Spark HALF_EVEN tie rule, NOT DuckDB
    # round which is half-away-from-zero on the raw binary) mirrors
    # evalreport.eval_summary: parallel float AVG is summation-order-
    # sensitive in BOTH engines (±1 ulp run-to-run).  Macro averages over
    # ALL rep rows (true ∪ predicted classes — sklearn labels=None).
    from tests.duckdb_sql import bround_sql

    mp = bround_sql('AVG("precision")', 9)
    mr = bround_sql('AVG("recall")', 9)
    mf = bround_sql("AVG(f1)", 9)
    return _with_turns(
        f"{_eval_report_ctes()} "
        "SELECT CAST(SUM(tp) AS DOUBLE)/SUM(support) AS accuracy,"
        f" {mp} AS macro_precision,"
        f" {mr} AS macro_recall,"
        f" {mf} AS macro_f1 FROM rep"
    )


@_register("eval_report", _eval_report_sql())
def q_eval_report(spark, sf_dir):
    """Training-eval report (src/train_classifier.py:56-96): per-class
    support / predicted / tp / precision / recall / F1 over (label,
    prediction) pairs.  Truth = the synthetic rule label; prediction = a
    deterministic score-threshold classifier (Clean iff clean_score ≥
    0.5, else an arithmetic non-Clean label) so the confusion matrix has
    real off-diagonal mass.  One map-side-combinable groupBy over
    |classes|² rows — corpus-size-independent (evalreport.eval_report)."""
    from quality_filter.evalreport import eval_report

    t = _synth_cols(derive_turns(spark, sf_dir))
    pred = F.when(F.col("clean_score") >= 0.5, F.lit("Clean")).otherwise(
        F.element_at(
            F.array(*[F.lit(l) for l in LABELS[1:]]),
            ((F.col("doc_id") * 13 + F.col("turn_idx") * 5) % 8).cast("int") + 1,
        )
    )
    pairs = t.withColumn("prediction", pred)
    return eval_report(pairs)


@_register("eval_summary", _eval_summary_sql())
def q_eval_summary(spark, sf_dir):
    """One-row accuracy + macro P/R/F1 over the same synthetic (label,
    prediction) pairs (the summary block of the reference's
    classification_report, src/train_classifier.py:69-77)."""
    from quality_filter.evalreport import eval_summary

    t = _synth_cols(derive_turns(spark, sf_dir))
    pred = F.when(F.col("clean_score") >= 0.5, F.lit("Clean")).otherwise(
        F.element_at(
            F.array(*[F.lit(l) for l in LABELS[1:]]),
            ((F.col("doc_id") * 13 + F.col("turn_idx") * 5) % 8).cast("int") + 1,
        )
    )
    pairs = t.withColumn("prediction", pred)
    return eval_summary(pairs)


@_register("cohen_kappa", None)  # oracle attached below via _register_kappa
def q_cohen_kappa(spark, sf_dir):
    """Cohen's kappa: chance-corrected classifier-vs-truth agreement over
    the synthetic (label, prediction) pairs — the agreement statistic a
    labeling pipeline reports alongside P/R/F1 (evalreport.cohen_kappa).
    All inputs to the final arithmetic are exact integer sums, so the
    double is bit-deterministic."""
    from quality_filter.evalreport import cohen_kappa

    t = _synth_cols(derive_turns(spark, sf_dir))
    pred = F.when(F.col("clean_score") >= 0.5, F.lit("Clean")).otherwise(
        F.element_at(
            F.array(*[F.lit(l) for l in LABELS[1:]]),
            ((F.col("doc_id") * 13 + F.col("turn_idx") * 5) % 8).cast("int") + 1,
        )
    )
    return cohen_kappa(t.withColumn("prediction", pred))


ORACLES["cohen_kappa"] = _with_turns(
    # HUGEINT marginal products mirror the Spark side's decimal(38,0):
    # support·predicted and n² overflow int64 past n ≈ 3e9 pairs
    f"{_eval_report_ctes()}, "
    "t AS (SELECT CAST(SUM(support) AS BIGINT) AS n, CAST(SUM(tp) AS BIGINT) AS tp,"
    " CAST(SUM(CAST(support AS HUGEINT) * predicted) AS HUGEINT) AS sp FROM rep) "
    "SELECT CASE WHEN CAST(sp AS DOUBLE)/(CAST(n AS DOUBLE)*CAST(n AS DOUBLE)) < 1.0"
    " THEN (CAST(tp AS DOUBLE)/CAST(n AS DOUBLE)"
    "       - CAST(sp AS DOUBLE)/(CAST(n AS DOUBLE)*CAST(n AS DOUBLE)))"
    " / (1.0 - CAST(sp AS DOUBLE)/(CAST(n AS DOUBLE)*CAST(n AS DOUBLE)))"
    " ELSE 0.0 END AS kappa FROM t"
)


@_register(
    "near_dup_dedup_docs",
    f"WITH RECURSIVE {_minhash_pair_ctes()}, "
    "und AS (SELECT a AS s, b AS d FROM cand UNION ALL SELECT b, a FROM cand), "
    "reach(s, d) AS ("
    " SELECT doc_id, doc_id FROM documents"
    " UNION"
    " SELECT r.s, u.d FROM reach r JOIN und u ON r.d = u.s), "
    "comp AS (SELECT s AS doc_id, MIN(d) AS rep FROM reach GROUP BY s) "
    "SELECT doc_id FROM comp WHERE doc_id = rep",
)
def q_near_dup_dedup_docs(spark, sf_dir):
    """End-to-end near-dup dedup: MinHash+LSH pairs → connected
    components → keep ONE canonical doc per cluster (cluster.cluster_dedup
    — transitive chains collapse in a single pass, unlike one-hop
    pair dedup).  Output: surviving doc_ids."""
    from quality_filter.cluster import cluster_dedup

    docs = _docs(spark, sf_dir)
    pairs = _minhash_pairs_df(docs)
    return cluster_dedup(docs, pairs).select("doc_id")


# ---------------------------------------------------------------------------
# Gopher quality rules + C4 line filter (textstats.with_gopher_flags /
# textstats.c4_line_filter).  The synthetic documents table is a
# punctuation-free single-line word stream, so — as with the planted
# near-dup worlds above — each query first derives a deterministic
# line-structured world from it (8-word lines; terminal '.', '...'-endings,
# and '- ' bullets keyed off (doc_id + line); stopword suffix on even
# doc_ids; '{ config }' / 'lorem ipsum' pages planted on doc_id % 97 / 89),
# IDENTICALLY in Spark and in the DuckDB oracle, then applies the library
# operator on top.
# ---------------------------------------------------------------------------

_W_WORDS = "filter(split(coalesce(text, ''), '\\\\s+'), w -> w != '')"
_STOP_SUFFIX = "array('the','of','and','that','have','with')"


def _structured_docs(spark, sf_dir):
    # The world-builder below is interpreted-HOF scaffolding; _docs
    # already spreads the single-row-group scan across cores (an explicit
    # repartition here would be a second, redundant exchange).
    d = _docs(spark, sf_dir)
    words = (
        f"CASE WHEN doc_id % 2 = 0 THEN concat({_W_WORDS}, {_STOP_SUFFIX}) "
        f"ELSE {_W_WORDS} END"
    )
    step = d.selectExpr("doc_id", f"{words} AS words")
    body = (
        "concat("
        " CASE WHEN (doc_id + i) % 5 = 0 THEN '- ' ELSE '' END,"
        " array_join(slice(words, cast(i * 8 + 1 AS int), 8), ' '),"
        " CASE WHEN (doc_id + i) % 11 = 0 THEN '...'"
        "      WHEN (doc_id + i) % 3 = 0 THEN ''"
        "      ELSE '.' END)"
    )
    # `words` is deliberately referenced TWICE in this one projection
    # (sequence bound + the lambda body): CollapseProject leaves a
    # non-cheap alias materialized only when it is multiply referenced,
    # and the former single-reference `nlines` column let the whole
    # filter(split(text)) tree be inlined INTO the transform lambda —
    # captured lambda expressions re-evaluate per element, making the
    # world-builder O(words²/8) per document.
    joined = (
        "array_join(transform("
        " sequence(0, greatest(1, cast(ceil(size(words) / 8.0) AS int)) - 1),"
        f" i -> {body}), '\\n')"
    )
    out = step.selectExpr("doc_id", f"{joined} AS t").selectExpr(
        "doc_id",
        "CASE WHEN doc_id % 97 = 0 THEN concat(t, '\\n', '{ config }')"
        "     WHEN doc_id % 89 = 0 THEN concat(t, '\\n', 'lorem ipsum dolor sit amet.')"
        "     ELSE t END AS text",
    )
    # localCheckpoint = pushdown/collapse BARRIER, not a cache: the
    # consumers of this world filter on columns derived from `text`
    # (C4/Gopher gates, the qmodel margin band), and Catalyst's
    # PushDownPredicates substitutes aliases into pushed predicates with
    # no reference-count guard — each pushed predicate re-ran this whole
    # interpreted HOF world-builder 3+ times per row.  Materializing
    # ~doc-table-sized rows once per invocation keeps every downstream
    # operator reading attributes instead.  The
    # world is still recomputed from the parquet input on every query
    # invocation — nothing persists across runs.
    return out.localCheckpoint()


# NOTE: DuckDB/RE2's \s here is [\t\n\f\r ] (no \x0b), while the Spark
# kernels split on [ \t\n\x0b\f\r]+.  A vertical tab INSIDE a line would
# diverge the two sides; \x0b does not occur in the planted worlds (the
# deterministic world-builders emit none), so the check is sound with
# \x0b explicitly excluded from its domain.
_D_WORDS = "list_filter(regexp_split_to_array(coalesce(text, ''), '\\s+'), w -> w <> '')"

_C4WORLD_CTE = (
    "c4base AS ("
    " SELECT doc_id,"
    f"  CASE WHEN doc_id % 2 = 0"
    f"   THEN list_concat({_D_WORDS}, ['the','of','and','that','have','with'])"
    f"   ELSE {_D_WORDS} END AS words"
    " FROM documents), "
    "c4lines AS ("
    " SELECT doc_id, words,"
    "  greatest(1, CAST(ceil(len(words) / 8.0) AS INT)) AS nlines"
    " FROM c4base), "
    "c4world AS ("
    " SELECT doc_id,"
    "  CASE WHEN doc_id % 97 = 0 THEN t || chr(10) || '{ config }'"
    "       WHEN doc_id % 89 = 0 THEN t || chr(10) || 'lorem ipsum dolor sit amet.'"
    "       ELSE t END AS text"
    " FROM ("
    "  SELECT doc_id,"
    "   array_to_string(list_transform(range(0, nlines), i ->"
    "    (CASE WHEN (doc_id + i) % 5 = 0 THEN '- ' ELSE '' END) ||"
    "    array_to_string(list_slice(words, CAST(i * 8 + 1 AS INT), CAST(i * 8 + 8 AS INT)), ' ') ||"
    "    (CASE WHEN (doc_id + i) % 11 = 0 THEN '...'"
    "          WHEN (doc_id + i) % 3 = 0 THEN ''"
    "          ELSE '.' END)"
    "   ), chr(10)) AS t"
    "  FROM c4lines))"
)


def _gopher_sql() -> str:
    from quality_filter import textstats as ts

    stop_list = ", ".join(f"'{s}'" for s in ts.GOPHER_STOPWORDS)
    words = "list_filter(regexp_split_to_array(text, '\\s+'), w -> w <> '')"
    lns = "string_split(text, chr(10))"
    return (
        f"WITH {_C4WORLD_CTE}, "
        f"gw AS (SELECT doc_id, text, {words} AS words, {lns} AS lns FROM c4world), "
        "gm AS (SELECT doc_id,"
        " CAST(len(words) AS INT) AS word_count,"
        " CAST(coalesce(list_sum(list_transform(words, w -> length(w))), 0) AS DOUBLE)"
        "  / greatest(1, len(words)) AS mean_word_len,"
        " CAST(len(regexp_extract_all(text, '#|\\.\\.\\.|…')) AS DOUBLE)"
        "  / greatest(1, len(words)) AS symbol_ratio,"
        " CAST(len(list_filter(lns, ln -> regexp_matches(ltrim(ln), '^[-*•]'))) AS DOUBLE)"
        "  / greatest(1, len(lns)) AS bullet_frac,"
        " CAST(len(list_filter(lns, ln -> regexp_matches(rtrim(ln), '(\\.\\.\\.|…)$'))) AS DOUBLE)"
        "  / greatest(1, len(lns)) AS ellipsis_frac,"
        " CAST(len(list_filter(words, w -> regexp_matches(w, '\\p{L}'))) AS DOUBLE)"
        "  / greatest(1, len(words)) AS alpha_word_frac,"
        f" CAST(len(list_filter([{stop_list}],"
        "   s -> list_contains(list_transform(words, w -> lower(w)), s))) AS INT)"
        "  AS stopword_hits"
        " FROM gw) "
        "SELECT doc_id, word_count, mean_word_len, symbol_ratio, bullet_frac,"
        " ellipsis_frac, alpha_word_frac, stopword_hits,"
        f" (word_count BETWEEN {ts.GOPHER_MIN_WORDS} AND {ts.GOPHER_MAX_WORDS})"
        f" AND (mean_word_len BETWEEN {ts.GOPHER_MIN_MEAN_WORD_LEN} AND {ts.GOPHER_MAX_MEAN_WORD_LEN})"
        f" AND symbol_ratio <= {ts.GOPHER_MAX_SYMBOL_RATIO}"
        f" AND bullet_frac <= {ts.GOPHER_MAX_BULLET_FRAC}"
        f" AND ellipsis_frac <= {ts.GOPHER_MAX_ELLIPSIS_FRAC}"
        f" AND alpha_word_frac >= {ts.GOPHER_MIN_ALPHA_WORD_FRAC}"
        f" AND stopword_hits >= {ts.GOPHER_MIN_STOPWORD_HITS} AS gopher_keep "
        "FROM gm"
    )


@_register("gopher_quality_flags", _gopher_sql())
def q_gopher_quality_flags(spark, sf_dir):
    """Gopher quality-rule metrics + keep decision (Rae et al. 2021
    A1.1) over the line-structured world — one narrow per-row projection,
    no shuffle; the oracle is generated from the same frozen thresholds
    (textstats.GOPHER_*)."""
    from quality_filter.textstats import with_gopher_flags

    flagged = with_gopher_flags(_structured_docs(spark, sf_dir))
    return flagged.select(
        "doc_id",
        F.col("word_count").cast("int"),
        "mean_word_len",
        "symbol_ratio",
        "bullet_frac",
        "ellipsis_frac",
        "alpha_word_frac",
        F.col("stopword_hits").cast("int"),
        "gopher_keep",
    )


def _c4_sql() -> str:
    from quality_filter import textstats as ts

    kept = (
        "list_filter(string_split(text, chr(10)), ln ->"
        " regexp_matches(rtrim(ln), '[.!?\"]$')"
        " AND len(list_filter(regexp_split_to_array(ln, '\\s+'), w -> w <> ''))"
        f"  >= {ts.C4_MIN_WORDS_PER_LINE})"
    )
    return (
        f"WITH {_C4WORLD_CTE}, "
        f"ck AS (SELECT doc_id, text, {kept} AS kept,"
        " CAST(len(string_split(text, chr(10))) AS INT) AS n_lines_total"
        " FROM c4world) "
        "SELECT doc_id, array_to_string(kept, chr(10)) AS clean_text,"
        " CAST(len(kept) AS INT) AS n_lines_kept, n_lines_total "
        f"FROM ck WHERE len(kept) >= {ts.C4_MIN_LINES}"
        " AND NOT contains(lower(text), 'lorem ipsum')"
        " AND NOT contains(text, '{')"
    )


@_register("c4_line_filter", _c4_sql())
def q_c4_line_filter(spark, sf_dir):
    """C4 line/page cleaning (Raffel et al. 2020 §2.2) over the
    line-structured world via textstats.c4_line_filter — scan-shaped
    (array HOFs, zero exchanges); pages planted with '{ config }' /
    'lorem ipsum' lines exercise the page gates."""
    from quality_filter.textstats import c4_line_filter

    return c4_line_filter(_structured_docs(spark, sf_dir)).select(
        "doc_id",
        "clean_text",
        F.col("n_lines_kept").cast("int"),
        F.col("n_lines_total").cast("int"),
    )


def _rep_world_spark(spark, sf_dir):
    """Duplicate-planting layer on the structured world: every
    (doc_id + i) % 4 == 0 line becomes a fixed filler line, and a blank
    line follows every (doc_id + i) % 6 == 2 line (paragraph breaks)."""
    return _structured_docs(spark, sf_dir).selectExpr(
        "doc_id",
        "array_join(transform(split(text, '\\n'), (ln, i) -> concat("
        " CASE WHEN (doc_id + i) % 4 = 0 OR doc_id % 13 = 0"
        "        OR (doc_id % 7 = 0 AND i % 2 = 1)"
        "      THEN 'repeated filler line here.'"
        "      ELSE ln END,"
        " CASE WHEN (doc_id + i) % 6 = 2 THEN '\\n' ELSE '' END"
        ")), '\\n') AS text",
    )


_REPWORLD_CTE = (
    "repworld AS ("
    " SELECT doc_id,"
    "  array_to_string(list_transform(range(0, len(lns)), i ->"
    "   (CASE WHEN (doc_id + i) % 4 = 0 OR doc_id % 13 = 0"
    "          OR (doc_id % 7 = 0 AND i % 2 = 1)"
    "         THEN 'repeated filler line here.'"
    "         ELSE lns[i + 1] END) ||"
    "   (CASE WHEN (doc_id + i) % 6 = 2 THEN chr(10) ELSE '' END)"
    "  ), chr(10)) AS text"
    " FROM (SELECT doc_id, string_split(text, chr(10)) AS lns FROM c4world))"
)


def _gopher_rep_sql() -> str:
    from quality_filter import textstats as ts

    lines = "list_filter(string_split(text, chr(10)), ln -> ln <> '')"
    paras = "list_filter(regexp_split_to_array(text, '\\n{2,}'), p -> p <> '')"

    def fracs(units, prefix):
        return (
            f" CAST(len({units}) - len(list_distinct({units})) AS DOUBLE)"
            f"  / greatest(1, len({units})) AS {prefix}_frac,"
            f" CAST(coalesce(list_sum(list_transform({units}, u -> length(u))), 0)"
            f"      - coalesce(list_sum(list_transform(list_distinct({units}),"
            f"        u -> length(u))), 0) AS DOUBLE)"
            f"  / greatest(1, coalesce(list_sum(list_transform({units},"
            f"    u -> length(u))), 0)) AS {prefix}_char_frac,"
        )

    return (
        f"WITH {_C4WORLD_CTE}, {_REPWORLD_CTE}, "
        f"gm AS (SELECT doc_id,{fracs(lines, 'dup_line')}{fracs(paras, 'dup_para')}"
        " 1 AS _x FROM repworld) "
        "SELECT doc_id, dup_line_frac, dup_line_char_frac, dup_para_frac,"
        " dup_para_char_frac,"
        f" dup_line_frac <= {ts.GOPHER_MAX_DUP_LINE_FRAC}"
        f" AND dup_line_char_frac <= {ts.GOPHER_MAX_DUP_LINE_CHAR_FRAC}"
        f" AND dup_para_frac <= {ts.GOPHER_MAX_DUP_PARA_FRAC}"
        f" AND dup_para_char_frac <= {ts.GOPHER_MAX_DUP_PARA_CHAR_FRAC}"
        " AS repetition_keep "
        "FROM gm"
    )


@_register("gopher_repetition", _gopher_rep_sql())
def q_gopher_repetition(spark, sf_dir):
    """Gopher duplicate-line/paragraph repetition gate (Rae et al. 2021
    A1.1) via textstats.with_gopher_repetition over a duplicate-planted
    structured world; complements the top-n-gram rules in
    `repetition_stats`.  Thresholds frozen in textstats.GOPHER_MAX_* and
    mirrored into this oracle."""
    from quality_filter.textstats import with_gopher_repetition

    return with_gopher_repetition(_rep_world_spark(spark, sf_dir)).select(
        "doc_id",
        "dup_line_frac",
        "dup_line_char_frac",
        "dup_para_frac",
        "dup_para_char_frac",
        "repetition_keep",
    )


def _para_dedup_sql() -> str:
    paras = "list_filter(regexp_split_to_array(text, '\\n{2,}'), p -> p <> '')"
    return (
        f"WITH {_C4WORLD_CTE}, {_REPWORLD_CTE}, "
        f"pbase AS (SELECT doc_id, {paras} AS ps FROM repworld), "
        "ex AS (SELECT doc_id, i AS para_idx, ps[i + 1] AS para"
        " FROM pbase, unnest(range(0, len(ps))) AS t(i)), "
        "marked AS (SELECT *, row_number() OVER ("
        " PARTITION BY para ORDER BY doc_id, para_idx) AS rn FROM ex), "
        "kept AS (SELECT doc_id,"
        " string_agg(para, chr(10) || chr(10) ORDER BY para_idx) AS clean_text,"
        " count(*) AS n_kept FROM marked WHERE rn = 1 GROUP BY doc_id) "
        "SELECT p.doc_id, coalesce(k.clean_text, '') AS clean_text,"
        " CAST(coalesce(k.n_kept, 0) AS INT) AS n_paras_kept,"
        " CAST(len(p.ps) AS INT) AS n_paras_total "
        "FROM pbase p LEFT JOIN kept k ON p.doc_id = k.doc_id"
    )


@_register("paragraph_dedup_docs", _para_dedup_sql())
def q_paragraph_dedup_docs(spark, sf_dir):
    """Corpus-wide exact paragraph dedup (dedup.paragraph_dedup — the
    Dolma-style pass between document dedup and word-gram span dedup)
    over the duplicate-planted structured world: all-filler docs share
    identical 6-line filler paragraphs across the corpus, so only the
    lowest (doc_id, para_idx) occurrence survives.  The oracle uses a
    row_number window keyed on the paragraph text (exactness only); the
    Spark side is the skew-safe min(struct) aggregate + equi-join keyed
    on a 128-bit paragraph fingerprint, so equal outputs also show the
    fingerprint separates every distinct paragraph of this world."""
    from quality_filter.dedup import paragraph_dedup

    return paragraph_dedup(_rep_world_spark(spark, sf_dir)).select(
        "doc_id", "clean_text", "n_paras_kept", "n_paras_total"
    )


# -- trained-artifact round trips (train → persist → reload → score) -----
#
# The planted labeled training world is one row per residue class
# r ∈ [0, M): lang = langs[r % |langs|], text = the same two-seed-sentence
# construction as _seed_text_col.  Deriving it from DISTINCT doc_id % M
# makes the corpus independent of sf (every sf's documents table covers all
# M residues), so the oracle can state the trained model's outputs as
# literals computed from an INDEPENDENT local numpy replication of
# the training math — the distributed trainer must reproduce the exact
# counts → profile → score chain to match.


def _train_world_m() -> int:
    import math

    from quality_filter.langid import SEED_CORPORA

    langs = _seed_langs()
    m = len(langs)
    for n in {len(SEED_CORPORA[lang]) for lang in langs}:
        m = m * n // math.gcd(m, n)
    return m


def _train_world_rows() -> list[tuple[int, str, str]]:
    """(residue, lang, text) for every residue class of the planted world."""
    from quality_filter.langid import SEED_CORPORA

    langs = _seed_langs()
    out = []
    for r in range(_train_world_m()):
        lang = langs[r % len(langs)]
        sents = SEED_CORPORA[lang]
        n = len(sents)
        out.append((r, lang, sents[r % n] + " " + sents[(r * 7 + 3) % n]))
    return out


def _train_corpus_spark(spark, sf_dir) -> DataFrame:
    """The planted world as a DataFrame: DISTINCT doc_id % M → (doc_id=r,
    lang_label, text).  The label column is deliberately NOT named 'lang'
    so the case also regression-covers train_profiles' support for
    arbitrary label column names."""
    langs = _seed_langs()
    m = _train_world_m()
    lang = F.element_at(
        F.array(*[F.lit(l) for l in langs]),
        (F.col("doc_id") % len(langs)).cast("int") + 1,
    )
    return (
        _docs(spark, sf_dir)
        .select((F.col("doc_id") % m).alias("doc_id"))
        .distinct()
        .select("doc_id", lang.alias("lang_label"), _seed_text_col().alias("text"))
    )


def _trained_langid_sql() -> str:
    import numpy as np

    from quality_filter import langid, ngram

    rows = _train_world_rows()
    langs = _seed_langs()
    li = {l: i for i, l in enumerate(langs)}
    cmat = np.zeros((len(langs), ngram.DIM), dtype=np.float64)
    for _, lang, text in rows:
        h, _, _off = _local_hashes([text])
        cmat[li[lang]] += np.bincount(h, minlength=ngram.DIM)
    profiles = np.ascontiguousarray(
        np.stack([ngram.log_profile(cmat[i]) for i in range(len(langs))]),
        dtype=np.float32,
    )
    h3, _, off = _local_hashes([t for _, _, t in rows])
    pred_lang, pred_prob = langid._score_hashed(h3, off, len(rows), langs, profiles)
    m = len(rows)
    lang_cases = " ".join(
        f"WHEN {r} THEN '{pred_lang[r]}'" for r in range(m)
    )
    prob_cases = " ".join(
        f"WHEN {r} THEN {float(pred_prob[r])!r}" for r in range(m)
    )
    return (
        f"SELECT doc_id, CASE CAST(doc_id % {m} AS INT) {lang_cases} END AS lang, "
        f"CAST(CASE CAST(doc_id % {m} AS INT) {prob_cases} END AS DOUBLE) "
        "AS lang_prob FROM documents"
    )


@_register("langid_train_score", _trained_langid_sql())
def q_langid_train_score(spark, sf_dir):
    """M5 training round trip: train the langid profile matrix ON-CLUSTER
    (langid.train_profiles — mapInPandas nonzero partials → map-side
    combinable sum → model-sized guarded collect) over the planted labeled
    world, then score the documents table with the trained artifact
    through the production scorer UDF.  Uses a non-default label
    column name (lang_label) on purpose."""
    from quality_filter import perplexity
    from quality_filter.langid import train_profiles
    from quality_filter.scoring import with_scores

    corpus = _train_corpus_spark(spark, sf_dir)
    artifact = train_profiles(corpus, lang_col="lang_label")
    docs = _docs(spark, sf_dir).select("doc_id", _seed_text_col().alias("text"))
    artifacts = (artifact, perplexity.build_artifact())
    return with_scores(docs, artifacts=artifacts).select(
        "doc_id", "lang", "lang_prob"
    )


def _trained_ppl_sql() -> str:
    import numpy as np

    from quality_filter import ngram, perplexity

    texts = [t for _, _, t in _train_world_rows()]
    h3, h2, off = _local_hashes(texts)
    c3 = np.zeros(ngram.DIM, dtype=np.float64)
    c2 = np.zeros(ngram.DIM, dtype=np.float64)
    c3 += np.bincount(h3, minlength=ngram.DIM)
    c2 += np.bincount(h2, minlength=ngram.DIM)
    lp3 = np.log(c3 + perplexity.SMOOTH_K).astype(np.float32)
    lp2 = np.log(c2 + perplexity.SMOOTH_K * 256.0).astype(np.float32)
    vals = perplexity._ppl_hashed(h3, h2, off, lp3, lp2)
    m = len(texts)
    cases = " ".join(f"WHEN {r} THEN {float(v)!r}" for r, v in enumerate(vals))
    return (
        f"SELECT doc_id, CAST(CASE CAST(doc_id % {m} AS INT) {cases} END "
        "AS DOUBLE) AS logppl FROM documents"
    )


@_register("perplexity_lm_roundtrip", _trained_ppl_sql())
def q_perplexity_lm_roundtrip(spark, sf_dir):
    """M6 train→persist→reload→score round trip: perplexity.write_model
    trains the trigram LM fully distributed and persists raw
    (bucket, c3, c2) counts as parquet; read_model reloads + smooths;
    the production scorer UDF scores the documents table with the
    reloaded artifact.  The oracle is an independent local numpy
    replication, so any drift in training, persistence, smoothing, or
    the Arrow scoring path breaks the match."""
    import shutil
    import tempfile

    from quality_filter import langid
    from quality_filter.perplexity import read_model, write_model
    from quality_filter.scoring import with_scores

    corpus = _train_corpus_spark(spark, sf_dir).select("text")
    path = tempfile.mkdtemp(prefix="qf_r7_lm_")
    try:
        write_model(corpus, path)
        artifact = read_model(spark, path)
    finally:
        shutil.rmtree(path, ignore_errors=True)
    docs = _docs(spark, sf_dir).select("doc_id", _seed_text_col().alias("text"))
    artifacts = (langid.build_artifact(), artifact)
    return with_scores(docs, artifacts=artifacts).select("doc_id", "logppl")


# ---------------------------------------------------------------------------
# the fused Arrow gate, the composed corpus build and the trainable
# quality classifier
# ---------------------------------------------------------------------------


def _fused_gate_ctes(src: str, pfx: str) -> str:
    """DuckDB mirror of ``textstats.fused_gate_arrow`` over the ``src``
    CTE (doc_id, text): emits ``{pfx}ck``/``{pfx}cc``/``{pfx}gm`` and a
    final ``{pfx}gate`` CTE with (doc_id, clean_text, c4_keep,
    gopher_keep) — C4 line keep → page gates → Gopher quality +
    repetition rules over the C4-CLEANED text, generated from the same
    frozen thresholds (textstats.C4_*/GOPHER_*) as the Spark side so the
    two cannot drift.  clean_text is '' when the page fails C4 (the
    fused row returns ("", False, False)); the gopher conjunction is
    ANDed with c4_keep exactly as the fused short-circuit does."""
    from quality_filter import textstats as ts

    stop_list = ", ".join(f"'{s}'" for s in ts.GOPHER_STOPWORDS)
    kept = (
        "list_filter(string_split(text, chr(10)), ln ->"
        " regexp_matches(rtrim(ln), '[.!?\"]$')"
        " AND len(list_filter(regexp_split_to_array(ln, '\\s+'), w -> w <> ''))"
        f"  >= {ts.C4_MIN_WORDS_PER_LINE})"
    )
    c4k = (
        f"len(kept) >= {ts.C4_MIN_LINES}"
        " AND NOT contains(lower(text), 'lorem ipsum')"
        " AND NOT contains(text, '{')"
    )
    words = "list_filter(regexp_split_to_array(clean_text, '\\s+'), w -> w <> '')"
    lns = "string_split(clean_text, chr(10))"
    nz = "list_filter(string_split(clean_text, chr(10)), ln -> ln <> '')"
    paras = (
        "list_filter(regexp_split_to_array(clean_text, '\\n{2,}'), p -> p <> '')"
    )

    def dup(units: str, prefix: str) -> str:
        return (
            f" CAST(len({units}) - len(list_distinct({units})) AS DOUBLE)"
            f"  / greatest(1, len({units})) AS {prefix}_frac,"
            f" CAST(coalesce(list_sum(list_transform({units}, u -> length(u))), 0)"
            f"      - coalesce(list_sum(list_transform(list_distinct({units}),"
            f"        u -> length(u))), 0) AS DOUBLE)"
            f"  / greatest(1, coalesce(list_sum(list_transform({units},"
            f"    u -> length(u))), 0)) AS {prefix}_char_frac,"
        )

    return (
        f"{pfx}ck AS (SELECT doc_id, text, {kept} AS kept FROM {src}), "
        f"{pfx}cc AS (SELECT doc_id, ({c4k}) AS c4_keep,"
        f" CASE WHEN {c4k} THEN array_to_string(kept, chr(10)) ELSE '' END"
        f" AS clean_text FROM {pfx}ck), "
        f"{pfx}gm AS (SELECT doc_id, c4_keep, clean_text,"
        f" CAST(len({words}) AS INT) AS word_count,"
        f" CAST(coalesce(list_sum(list_transform({words}, w -> length(w))), 0) AS DOUBLE)"
        f"  / greatest(1, len({words})) AS mean_word_len,"
        f" CAST(len(regexp_extract_all(clean_text, '#|\\.\\.\\.|…')) AS DOUBLE)"
        f"  / greatest(1, len({words})) AS symbol_ratio,"
        f" CAST(len(list_filter({lns}, ln -> regexp_matches(ltrim(ln), '^[-*•]'))) AS DOUBLE)"
        f"  / greatest(1, len({lns})) AS bullet_frac,"
        f" CAST(len(list_filter({lns}, ln -> regexp_matches(rtrim(ln), '(\\.\\.\\.|…)$'))) AS DOUBLE)"
        f"  / greatest(1, len({lns})) AS ellipsis_frac,"
        f" CAST(len(list_filter({words}, w -> regexp_matches(w, '\\p{{L}}'))) AS DOUBLE)"
        f"  / greatest(1, len({words})) AS alpha_word_frac,"
        f" CAST(len(list_filter([{stop_list}],"
        f"  s -> list_contains(list_transform({words}, w -> lower(w)), s))) AS INT)"
        f"  AS stopword_hits,"
        f"{dup(nz, 'dup_line')}{dup(paras, 'dup_para')}"
        f" 1 AS _x FROM {pfx}cc), "
        f"{pfx}gate AS (SELECT doc_id, clean_text, c4_keep, c4_keep"
        f" AND (word_count BETWEEN {ts.GOPHER_MIN_WORDS} AND {ts.GOPHER_MAX_WORDS})"
        f" AND (mean_word_len BETWEEN {ts.GOPHER_MIN_MEAN_WORD_LEN}"
        f"      AND {ts.GOPHER_MAX_MEAN_WORD_LEN})"
        f" AND symbol_ratio <= {ts.GOPHER_MAX_SYMBOL_RATIO}"
        f" AND bullet_frac <= {ts.GOPHER_MAX_BULLET_FRAC}"
        f" AND ellipsis_frac <= {ts.GOPHER_MAX_ELLIPSIS_FRAC}"
        f" AND alpha_word_frac >= {ts.GOPHER_MIN_ALPHA_WORD_FRAC}"
        f" AND stopword_hits >= {ts.GOPHER_MIN_STOPWORD_HITS}"
        f" AND dup_line_frac <= {ts.GOPHER_MAX_DUP_LINE_FRAC}"
        f" AND dup_line_char_frac <= {ts.GOPHER_MAX_DUP_LINE_CHAR_FRAC}"
        f" AND dup_para_frac <= {ts.GOPHER_MAX_DUP_PARA_FRAC}"
        f" AND dup_para_char_frac <= {ts.GOPHER_MAX_DUP_PARA_CHAR_FRAC}"
        f" AS gopher_keep FROM {pfx}gm)"
    )


def _fused_gate_sql() -> str:
    return (
        f"WITH {_C4WORLD_CTE}, {_fused_gate_ctes('c4world', 'fg')} "
        "SELECT doc_id, clean_text, c4_keep, gopher_keep FROM fggate"
    )


@_register("fused_gate_docs", _fused_gate_sql())
def q_fused_gate_docs(spark, sf_dir):
    """The fused Arrow corpus gate (textstats.fused_gate_arrow) over the
    line-structured world: ONE mapInPandas plan node computes the C4
    line clean + both Gopher gate verdicts as columns.  This case checks
    the fused composition itself against an independent DuckDB mirror of
    C4→quality→repetition over the cleaned text; the component gates are
    checked separately by c4_line_filter / gopher_quality_flags /
    gopher_repetition."""
    from quality_filter.textstats import fused_gate_arrow

    return fused_gate_arrow(_structured_docs(spark, sf_dir)).select(
        "doc_id", "clean_text", "c4_keep", "gopher_keep"
    )


def _corpus_build_sql() -> str:
    return (
        "WITH "
        + _C4WORLD_CTE
        + ", cbworld AS (SELECT doc_id, text FROM c4world"
        "   UNION ALL SELECT doc_id + 100000 AS doc_id, text FROM c4world"
        "   WHERE doc_id % 7 = 3), "
        + _fused_gate_ctes("cbworld", "cb")
        + ", gatepass AS (SELECT doc_id, clean_text AS text FROM cbgate"
        "   WHERE gopher_keep), "
        "norm AS (SELECT doc_id, text,"
        "  trim(regexp_replace(lower(text), '[ \\t\\r\\n]+', ' ', 'g')) AS fp"
        "  FROM gatepass), "
        "keepers AS (SELECT min(doc_id) AS doc_id FROM norm GROUP BY fp), "
        "uniq AS (SELECT n.doc_id, n.text FROM norm n"
        "  JOIN keepers k ON n.doc_id = k.doc_id), "
        "cbbench AS (SELECT clean_text AS text FROM cbgate"
        "  WHERE doc_id % 17 = 3 AND doc_id < 100000 AND c4_keep), "
        f"bgr AS (SELECT DISTINCT gram FROM (SELECT unnest({_NGRAM8}) AS gram"
        "  FROM cbbench)), "
        f"dgr AS (SELECT doc_id, unnest({_NGRAM8}) AS gram FROM uniq), "
        "flagged AS (SELECT DISTINCT doc_id FROM dgr JOIN bgr USING (gram)) "
        "SELECT doc_id, text FROM uniq"
        " WHERE doc_id NOT IN (SELECT doc_id FROM flagged)"
    )


@_register("corpus_build_docs", _corpus_build_sql())
def q_corpus_build_docs(spark, sf_dir):
    """The COMPOSED pre-training corpus build (corpus.build_pretrain_corpus,
    arrow gate path): fused C4+Gopher gates → exact dedup (planted +100000
    copies of every doc_id % 7 == 3 page must die, keeper = min id) →
    MinHash-LSH near-dup stage with verify_exact=True (runs for real; the
    oracle states the TRUE semantics — no non-identical pair in this world
    reaches Jaccard 0.9, so estimated-Jaccard candidates that fail the
    exact verify must remove nothing) → exact decontamination against the
    C4-cleaned doc_id % 17 == 3 pages (a leak class chosen to contain
    gate survivors, so the stage provably removes documents).
    One case checking the whole composition end to end."""
    from quality_filter.corpus import build_pretrain_corpus
    from quality_filter.textstats import c4_line_filter

    structured = _structured_docs(spark, sf_dir)
    dups = structured.filter(F.col("doc_id") % 7 == 3).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    world = structured.unionByName(dups)
    bench = c4_line_filter(
        structured.filter(F.col("doc_id") % 17 == 3)
    ).select(F.col("clean_text").alias("text"))
    return build_pretrain_corpus(
        world,
        benchmark=bench,
        jaccard_threshold=0.9,
        verify_exact=True,
    ).select("doc_id", "text")


# Planted MARGIN-separated linear rule over the deterministic Gopher
# metrics: label = [s > _QM_C] where s is exactly computable (and
# bit-identical) in both engines; rows within _QM_EPS of the boundary are
# excluded on BOTH sides, so the trained classifier's 0.5-thresholded
# prediction must reproduce the rule exactly while staying robust to
# float-summation-order noise in distributed training.
_QM_C = 2.5
_QM_EPS = 0.3
_QM_RULE = "0.02 * word_count + 0.6 * stopword_hits - 8 * symbol_ratio"


def _qmodel_sql() -> str:
    return (
        f"SELECT doc_id, CAST(({_QM_RULE}) > {_QM_C} AS INT) AS pred "
        f"FROM ({_gopher_sql()}) g "
        f"WHERE abs(({_QM_RULE}) - {_QM_C}) > {_QM_EPS}"
    )


@_register("qmodel_train_score", _qmodel_sql())
def q_qmodel_train_score(spark, sf_dir):
    """M4 trainable counterpart, train→score check: MLlib L-BFGS
    logistic regression (qmodel.train_quality_classifier — map-side
    gradients, model-sized collected state, training-summary stripped) over
    the scan-shaped Gopher metric features, trained on the planted
    margin-separated linear rule and scored through the pure-JVM
    transform path (qmodel.score_quality).  The compared output is the
    0.5-thresholded PREDICTION, not the probability, so the check requires
    the learned boundary to land inside the planted margin band."""
    from quality_filter.qmodel import (
        doc_quality_features,
        feature_cols,
        score_quality,
        train_quality_classifier,
    )

    # materialize the FULL prefixed feature set once and checkpoint
    # THAT (doc_id + 11 doubles + keep — no text), so neither the scaler
    # fit, the L-BFGS instance build nor the scoring pass ever re-runs
    # the metric projection (a dozen interpreted split/filter HOF
    # evaluations per row); train/score take the precomputed-feature
    # fast path in qmodel.doc_quality_features.  _qf_word_count /
    # _qf_stopword_hits are integers cast to double, and int→double
    # promotion is exact in this range, so the margin rule below equals
    # its integer statement in the oracle.
    feats = doc_quality_features(_structured_docs(spark, sf_dir))
    s = (
        F.lit(0.02) * F.col("_qf_word_count")
        + F.lit(0.6) * F.col("_qf_stopword_hits")
        - F.lit(8.0) * F.col("_qf_symbol_ratio")
    )
    labeled = (
        feats.withColumn("_s", s)
        .filter(F.abs(F.col("_s") - F.lit(_QM_C)) > _QM_EPS)
        .select(
            "doc_id", *feature_cols(),
            (F.col("_s") > _QM_C).cast("int").alias("keep"),
        )
        .localCheckpoint()
    )
    # 40 L-BFGS iterations suffice for the margin-separated world (each
    # iteration is a whole Spark job — fixed job overhead dominates on a
    # table this small, so the cap is the row's wall-time knob)
    model = train_quality_classifier(
        labeled, "keep", max_iter=40, reg_param=0.001
    )
    return score_quality(model, labeled).select(
        "doc_id", (F.col("quality_prob") >= 0.5).cast("int").alias("pred")
    )


def _teacher_sql() -> str:
    from quality_filter import teacher as _t

    labs = ", ".join(f"'{l}'" for l in LABELS)
    return (
        f"WITH {dsql.TURNS_CTE} "
        f"SELECT doc_id, turn_idx, text, "
        f"CASE WHEN length(text) % {_t._FAKE_INVALID_MOD} = "
        f"{_t._FAKE_INVALID_RESIDUE} THEN 'Clean' "
        f"ELSE [{labs}][CAST(length(text) % {len(LABELS)} AS INT) + 1] END"
        " AS label FROM turns"
    )


@_register("teacher_label_loop", _teacher_sql())
def q_teacher_label_loop(spark, sf_dir):
    """M2: the reference's teacher-labeling classification loop
    (src/label_lines_with_LLM.py:469-491) with the deterministic fake
    backend — even per-doc batching → numbered-line prompt rendering (A8)
    → one mapInPandas generate node → wrapper strip + JSON repair + parse
    (A7) → line-number alignment with the Clean default → out-of-taxonomy
    coercion.  The fake derives labels arithmetically from each line's
    text INSIDE the prompt and answers in fenced, trailing-comma'd JSON,
    so this case checks every deterministic stage of the loop end-to-end;
    the real vLLM backend is the one pluggable seam (out of sandbox)."""
    from quality_filter.teacher import (
        fake_structured_teacher,
        label_lines_with_teacher,
    )

    t = derive_turns(spark, sf_dir).select("doc_id", "turn_idx", "text")
    return label_lines_with_teacher(
        t, fake_structured_teacher, idx_col="turn_idx"
    )
