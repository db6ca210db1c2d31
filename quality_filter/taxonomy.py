"""Open-vocabulary label consolidation and label-table utilities.

The reference's teacher-labeling path generates free-form labels and
consolidates synonyms by embedding → agglomerative clustering → medoid →
LLM review → replacement map (``src/label_lines_with_LLM.py:197-339``,
embedder ``src/embed.py:6-46``).  Hot-path labels here are the frozen
9-label taxonomy, but the consolidation machinery itself is reimplemented
Spark-native for users running open-vocab labeling:

- ``consolidate_labels`` — hashed char-trigram embeddings (the same
  deterministic machinery as the langid scorer), MLlib BisectingKMeans,
  medoid per cluster (the label closest to its center), replacement map.
  The reference's LLM-review step (``:234-271``) plugs in through
  ``review_fn`` / ``review_synonym_groups`` (r8) — the reviewer may
  rename, split or merge medoid groups; the model call itself is the one
  pluggable seam, exactly as in ``teacher.label_lines_with_teacher``.
  The retroactive-rewrite pattern (``:326-339``) still does not exist
  here: the map is applied forward, never mutating past results.
- ``apply_label_map`` — J3 broadcast lookup replacement
  (``src/label_lines_with_LLM.py:311-324``).
- ``class_weights`` — G5 balanced weights
  (``src/train_classifier.py:98-106``).
- ``doc_cleanliness_bucket`` — G7 majority-cleanliness bucketing
  (quality_label_correlation notebook cell 3).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from quality_filter import ngram


def _label_vectors(labels: list[str]) -> np.ndarray:
    """L2-normalized hashed char-trigram count vector per label string."""
    vecs = []
    for lab in labels:
        counts = ngram.train_counts([lab.lower()])
        n = np.linalg.norm(counts)
        vecs.append(counts / n if n else counts)
    return np.stack(vecs)


def consolidate_labels(
    spark: SparkSession,
    labels: list[str],
    n_clusters: int,
    seed: int = 42,
    review_fn=None,
) -> dict[str, str]:
    """Cluster synonym-ish labels; return {label: replacement}.

    Without ``review_fn`` the replacement is the cluster medoid (the
    r6 behavior).  With it, the medoid-keyed groups additionally go
    through the reference's LLM-review step
    (``evaluate_synonym_candidates``, src/label_lines_with_LLM.py:234-271)
    via ``review_synonym_groups`` — the reviewer may rename, split or
    merge groups, and labels land on their reviewed group name."""
    from pyspark.ml.clustering import BisectingKMeans
    from pyspark.ml.linalg import Vectors

    vecs = _label_vectors(labels)
    # project to a dense low-dim space for MLlib (hash dim is 32k-sparse)
    rng = np.random.RandomState(seed)
    proj = rng.randn(vecs.shape[1], 32)
    dense = vecs @ proj
    df = spark.createDataFrame(
        [(lab, Vectors.dense(dense[i])) for i, lab in enumerate(labels)],
        ["label", "features"],
    )
    km = BisectingKMeans(k=n_clusters, seed=seed, featuresCol="features")
    model = km.fit(df)
    pred = model.transform(df).select("label", "prediction").collect()
    centers = model.clusterCenters()
    by_cluster: dict[int, list[str]] = {}
    for r in pred:
        by_cluster.setdefault(r["prediction"], []).append(r["label"])
    idx = {lab: i for i, lab in enumerate(labels)}
    groups: dict[str, list[str]] = {}
    for c, members in by_cluster.items():
        center = np.asarray(centers[c])
        # medoid = member closest to the center; ties → lexicographic
        medoid = min(
            members,
            key=lambda lab: (float(np.linalg.norm(dense[idx[lab]] - center)), lab),
        )
        groups[medoid] = members
    if review_fn is not None:
        groups = review_synonym_groups(groups, review_fn)
    # identity fallback for labels the (reviewed) groups no longer cover
    mapping: dict[str, str] = {lab: lab for lab in labels}
    for name, members in groups.items():
        for lab in members:
            mapping[lab] = name
    return mapping


def review_synonym_groups(
    groups: dict[str, list[str]],
    review_fn,
) -> dict[str, list[str]]:
    """M3's review step (``evaluate_synonym_candidates``, reference
    src/label_lines_with_LLM.py:234-271) with a PLUGGABLE reviewer —
    same seam pattern as teacher.label_lines_with_teacher:

    - single-member groups skip review entirely (ref :238-241);
    - each multi-member group renders the verbatim synonyms prompt
      (Name/Words anchors, ``str(list)`` formatting — byte-compatible
      with ``prompts.synonyms`` + ``format_input(task='synonyms')``);
    - ``review_fn(prompts)`` returns one raw model output per group,
      parsed through the Python A7 twin (strip + repair + loads,
      ``llmprep.parse_llm_output_py``) — the reviewer may rename, split
      or merge groups by returning ``{group_name: [members...]}``;
    - outputs dict-merge with extend (ref :254-263), then single-member
      groups fold in with set-dedup (ref :266-273).

    Driver-side by design: the group table is label-vocabulary sized
    (bounded by the same guard policy as every vocab collect), never
    corpus sized.  Unparseable reviewer output drops that group's
    reassignments — its labels fall back to identity, the conservative
    direction."""
    from quality_filter.llmprep import load_verbatim_template, parse_llm_output_py

    single = {k: v for k, v in groups.items() if len(v) == 1}
    multi = {k: v for k, v in groups.items() if len(v) > 1}
    generated: dict[str, list[str]] = {}
    if multi:
        tmpl = load_verbatim_template("synonyms")
        names = list(multi)
        prompts = [
            tmpl.replace("__GROUP_NAME__", str(k)).replace(
                "__SYNONYMS__", str(multi[k])
            )
            for k in names
        ]
        raw = list(review_fn(prompts))
        if len(raw) != len(prompts):
            raise ValueError(
                f"review_fn returned {len(raw)} outputs for "
                f"{len(prompts)} groups"
            )
        for out in raw:
            parsed = parse_llm_output_py(out)
            if not isinstance(parsed, dict):
                continue  # unparseable → group falls back to identity
            for key, value in parsed.items():
                if not isinstance(value, list):
                    continue
                members = [str(v) for v in value]
                if key in generated:
                    generated[key].extend(members)
                else:
                    generated[key] = members
    # Ported reference quirk, kept deliberately (ADVICE r8 #3): in
    # ``{**generated, **single}`` a single-member group whose medoid name
    # collides with a reviewer-returned group name OVERWRITES it (the
    # reviewer's member assignments fall back to identity), exactly as
    # the reference's dict merge does (label_lines_with_LLM.py:265-271).
    # The ``key in final`` branch below is therefore unreachable — dict
    # keys are unique — and exists only to make the intended set-merge
    # visible if the merge order is ever changed.
    final: dict[str, list[str]] = {}
    for key, value in {**generated, **single}.items():
        if key in final:
            final[key] = sorted(set(final[key] + value))
        else:
            final[key] = value
    return final


def fake_accepting_reviewer(prompts: list[str]) -> list[str]:
    """Deterministic review backend: accepts every candidate group as-is
    (scrapes the Name/Words anchors back out of the prompt), answering in
    the same fenced JSON a chatty guided-decode model produces.  The
    shipped default for tests and replays; a vLLM/HTTP reviewer slots in
    with the same signature."""
    import ast as _ast
    import json
    import re

    anchor = re.compile(r"Name: (.*)\nWords:\n(\[.*?\])<\|eot_id\|>", re.S)
    outs = []
    for p in prompts:
        m = anchor.findall(p)[-1]  # last occurrence = the payload block
        name, members = m[0], _ast.literal_eval(m[1])
        outs.append(
            "```json\n" + json.dumps({name: members}, ensure_ascii=False) + "\n```"
        )
    return outs


def apply_label_map(
    df: DataFrame, mapping: dict[str, str], label_col: str = "label"
) -> DataFrame:
    """J3: broadcast replacement-map lookup with identity fallback.
    None keys are skipped (None breaks the deterministic sort, and
    ``element_at(map, NULL)`` could never match them anyway — NULL
    labels fall through to the identity fallback)."""
    pairs = []
    for k, v in sorted((k, v) for k, v in mapping.items() if k is not None):
        pairs += [F.lit(k), F.lit(v)]
    m = F.create_map(*pairs) if pairs else F.create_map()
    return df.withColumn(
        label_col,
        F.coalesce(F.element_at(m, F.col(label_col)), F.col(label_col)),
    )


def class_weights(df: DataFrame, label_col: str = "label") -> dict[str, float]:
    """G5: n_samples / (n_classes * count_per_class)
    (``src/train_classifier.py:98-106``).  The per-class counts are a
    vocabulary-style driver pull — bounded by the label taxonomy — so the
    collect goes through the shared cardinality guard."""
    from quality_filter.guards import bounded_collect

    counts = {r[label_col]: r["n"] for r in bounded_collect(
        df.groupBy(label_col).agg(F.count(F.lit(1)).alias("n")),
        f"label column {label_col!r}",
    )}
    n_samples = sum(counts.values())
    n_classes = len(counts)
    return {lab: n_samples / (n_classes * c) for lab, c in counts.items()}


def doc_cleanliness_bucket(pct_clean: Column) -> Column:
    """G7: ≥2/3 clean → 'mostly_clean', >1/3 → 'mixed', else 'mostly_junk'."""
    return (
        F.when(pct_clean >= 2.0 / 3.0, F.lit("mostly_clean"))
        .when(pct_clean > 1.0 / 3.0, F.lit("mixed"))
        .otherwise(F.lit("mostly_junk"))
    )
