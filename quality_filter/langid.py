"""fastText-style character/byte n-gram language ID: the model artifact,
its distributed trainer and the batch scoring core that
``scoring.with_scores`` runs inside its Arrow UDF.

The reference *consumes* per-line language codes (``seg_langs`` /
``lang``+``prob``, read at ``src/classifier_inference_pipeline.py:111,115``,
used as the salvage filter at ``src/salvage_low_quality_data.py:186``) that
upstream HPLT computed; here we compute them (BASELINE.json north_star):
a hashed byte-trigram log-probability profile per language, built
deterministically from small seed corpora embedded below, evaluated
batch-vectorized in numpy (quality_filter.ngram) — no per-row Python in
the scoring math, Arrow-batched transfer, artifact broadcast once.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from quality_filter import ngram

UNKNOWN = "und"
MIN_BYTES = 3  # shorter than one trigram context → und
SHARPNESS = 8.0  # softmax temperature over mean log-probs

# Deterministic seed corpora (original sentences, a few per language).
SEED_CORPORA: dict[str, list[str]] = {
    "en": [
        "the quick brown fox jumps over the lazy dog near the river bank",
        "we reviewed the results together and agreed on the next steps for the project",
        "please let me know when the report is ready so we can schedule the meeting",
        "this approach works well because the data is already sorted by time",
        "thanks for your help with the analysis, the numbers look consistent now",
        "could you rerun the last step and check whether the totals still match",
    ],
    "de": [
        "der schnelle braune fuchs springt über den faulen hund am flussufer",
        "wir haben die ergebnisse gemeinsam geprüft und die nächsten schritte vereinbart",
        "bitte sag mir bescheid, wenn der bericht fertig ist, damit wir das treffen planen können",
        "dieser ansatz funktioniert gut, weil die daten bereits nach zeit sortiert sind",
        "danke für deine hilfe bei der auswertung, die zahlen sehen jetzt stimmig aus",
        "die arbeitsgruppe hat den vorschlag ausführlich geprüft und zugestimmt",
    ],
    "fr": [
        "le rapide renard brun saute par dessus le chien paresseux près de la rivière",
        "nous avons examiné les résultats ensemble et convenu des prochaines étapes",
        "merci de me prévenir quand le rapport sera prêt pour planifier la réunion",
        "cette approche fonctionne bien parce que les données sont déjà triées",
        "merci pour ton aide avec l'analyse, les chiffres semblent cohérents maintenant",
        "le comité a examiné la proposition en détail et a donné son accord",
    ],
    "es": [
        "el rápido zorro marrón salta sobre el perro perezoso cerca del río",
        "revisamos los resultados juntos y acordamos los próximos pasos del proyecto",
        "avísame cuando el informe esté listo para programar la reunión",
        "este enfoque funciona bien porque los datos ya están ordenados por tiempo",
        "gracias por tu ayuda con el análisis, los números se ven consistentes ahora",
        "el comité revisó la propuesta en detalle y dio su aprobación",
    ],
    "it": [
        "la veloce volpe marrone salta sopra il cane pigro vicino al fiume",
        "abbiamo esaminato i risultati insieme e concordato i prossimi passi",
        "fammi sapere quando il rapporto sarà pronto così fissiamo la riunione",
        "questo approccio funziona bene perché i dati sono già ordinati per tempo",
        "grazie per il tuo aiuto con l'analisi, i numeri ora sembrano coerenti",
    ],
    "pt": [
        "a rápida raposa marrom pula sobre o cão preguiçoso perto do rio",
        "revisamos os resultados juntos e combinamos os próximos passos do projeto",
        "avise quando o relatório estiver pronto para marcarmos a reunião",
        "esta abordagem funciona bem porque os dados já estão ordenados por tempo",
        "obrigado pela ajuda com a análise, os números parecem consistentes agora",
    ],
    "fi": [
        "nopea ruskea kettu hyppää laiskan koiran yli joen rannalla",
        "kävimme tulokset yhdessä läpi ja sovimme projektin seuraavista askelista",
        "kerro kun raportti on valmis, niin sovitaan kokouksen ajankohta",
        "tämä lähestymistapa toimii hyvin koska aineisto on jo järjestetty ajan mukaan",
        "kiitos avusta analyysin kanssa, luvut näyttävät nyt johdonmukaisilta",
    ],
    "ru": [
        "быстрая коричневая лиса прыгает через ленивую собаку у реки",
        "мы вместе просмотрели результаты и согласовали следующие шаги проекта",
        "сообщите когда отчет будет готов чтобы назначить встречу",
        "этот подход работает хорошо потому что данные уже отсортированы по времени",
        "спасибо за помощь с анализом, цифры теперь выглядят согласованно",
    ],
    "zh": [
        "敏捷的棕色狐狸跳过了河边那只懒狗",
        "我们一起审查了结果并商定了项目的后续步骤",
        "报告准备好后请告诉我以便安排会议时间",
        "这种方法效果很好因为数据已经按时间排序",
        "谢谢你帮忙分析这些数字现在看起来一致了",
        "委员会详细审查了该提案并表示同意下个季度开始实施",
    ],
}


def build_artifact() -> tuple[list[str], np.ndarray]:
    """(langs, profiles[L, DIM]) — smoothed log-prob profile per language,
    language-major/C-contiguous: scoring gathers one language row at a
    time, and a 128 KiB float32 row stays cache-resident under the 1-D
    fancy-index + 1-D reduceat fast paths (numpy's axis-0 reduceat over
    an (N, L) block is a generic slow loop and was the measured scoring
    bottleneck — 148 ms of a 318 ms batch)."""
    langs = sorted(SEED_CORPORA)
    profiles = np.stack(
        [ngram.log_profile(ngram.train_counts(SEED_CORPORA[lang])) for lang in langs]
    )
    # float32 halves gather memory traffic (the scorer is
    # bandwidth-bound); scoring accumulates in float64 for stability.
    return langs, np.ascontiguousarray(profiles, dtype=np.float32)


def train_profiles(
    corpus: DataFrame, lang_col: str = "lang"
) -> tuple[list[str], np.ndarray]:
    """Train the langid profile matrix on a LABELED DataFrame corpus —
    the distributed counterpart of ``build_artifact`` (embedded seed
    corpus).  Per Arrow batch: bincount hashed trigrams per language and
    emit only nonzero (lang, bucket, c) partials (≤ |langs|·DIM rows per
    batch on the wire), map-side-combinable sum, model-sized driver
    collect — same guards-compliant shape as
    ``perplexity.train_artifact``.  Training on the embedded seed corpus
    through this path is bit-identical to ``build_artifact`` (pinned by
    test).  Score with ``scoring.with_scores(artifacts=…)``."""
    spark = corpus.sparkSession
    from quality_filter.guards import bounded_collect
    from quality_filter.shipping import ensure_shipped

    ensure_shipped(spark)

    labeled = corpus.filter(F.col(lang_col).isNotNull())  # unlabeled rows train nothing
    # Cardinality guard BEFORE the model-sized collect: the final pull is
    # |langs|*DIM rows, so a garbage/high-cardinality label column would
    # make it corpus-cardinality-sized.  This probe is a narrow
    # column-pruned scan (no Arrow stage), nearly free next to training.
    bounded_collect(
        labeled.select(F.col(lang_col)).distinct(),
        f"langid training label vocabulary ({lang_col})",
    )

    def counts(batches):
        from quality_filter import ngram as ng

        for pdf in batches:
            for lang, grp in pdf.groupby("__lang", sort=True):
                hashes, _, _ = ng.batch_hashes(
                    pa.array(grp["__text"], type=pa.string())
                )
                c = np.bincount(hashes, minlength=ng.DIM)
                nz = np.flatnonzero(c)
                yield pd.DataFrame(
                    {"__lang": lang, "bucket": nz, "c": c[nz]}
                )

    partials = labeled.select(
        F.col(lang_col).alias("__lang"),  # fixed internal name: any lang_col works
        F.coalesce(F.col("text"), F.lit("")).alias("__text"),
    ).mapInPandas(counts, "__lang string, bucket int, c long")
    rows = (
        partials.groupBy("__lang", "bucket")
        .agg(F.sum("c").alias("c"))
        .collect()  # <= |langs| * DIM rows by construction (guarded above)
    )
    langs = sorted({r["__lang"] for r in rows})
    li = {l: i for i, l in enumerate(langs)}
    cmat = np.zeros((len(langs), ngram.DIM), dtype=np.float64)
    for r in rows:
        cmat[li[r["__lang"]], r["bucket"]] = r["c"]
    profiles = np.stack([ngram.log_profile(cmat[i]) for i in range(len(langs))])
    return langs, np.ascontiguousarray(profiles, dtype=np.float32)


def _score_hashed(
    hashes: np.ndarray,
    offsets: np.ndarray,
    n_rows: int,
    langs: list[str],
    profiles: np.ndarray,
) -> tuple[np.ndarray, np.ndarray]:
    """(lang, lang_prob) per row from a batch's trigram hashes
    (``ngram.batch_hashes``)."""
    counts = (offsets[1:] - offsets[:-1]).astype(np.float64)
    n_langs = profiles.shape[0]
    # Per-language 1-D gather (from an L2-resident 128 KiB profile row)
    # + 1-D reduceat per-row sums.  reduceat is sequential per segment
    # and accumulates in float64, so each row's sums are bit-identical
    # regardless of batch composition — and identical to the former
    # (N, L) axis-0 reduceat, which added the same values in the same
    # order (pinned by test_scorers determinism tests).
    # one intp cast shared by all 9 gathers (numpy re-casts a non-intp
    # fancy index per gather — measured 3× the gather cost)
    idx = hashes.astype(np.intp, copy=False)
    per_row = np.empty((n_rows, n_langs), dtype=np.float64)
    for li in range(n_langs):
        per_row[:, li] = ngram.segment_sums(profiles[li][idx], offsets)
    mean_lp = per_row / np.maximum(counts, 1.0)[:, None]
    z = mean_lp * SHARPNESS
    z -= z.max(axis=1, keepdims=True)
    ez = np.exp(z)
    probs = ez / ez.sum(axis=1, keepdims=True)
    best = probs.argmax(axis=1)
    lang_out = np.array(langs, dtype=object)[best]
    prob_out = probs[np.arange(n_rows), best]
    short = counts < MIN_BYTES
    lang_out[short] = UNKNOWN
    prob_out = np.where(short, 0.0, np.round(prob_out, 3))
    return lang_out, prob_out
