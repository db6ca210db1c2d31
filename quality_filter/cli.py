"""Command-line entry points mirroring the reference's argparse CLIs.

Flag names follow the reference scripts so a user of
``filter_by_quality_label.py`` / ``filter_by_quality_score.py`` /
``salvage_low_quality_data.py`` / ``classifier_inference_pipeline.py``
can run the same jobs here:

    python -m quality_filter.cli score   --data-path IN --save-path OUT
    python -m quality_filter.cli filter  --data-path IN --save-path OUT \
        --quality-labels toxic,spam [--filter | --trim]
    python -m quality_filter.cli filter-score --data-path IN --save-path OUT \
        --quality-threshold 0.9 [--filter | --trim]
    python -m quality_filter.cli salvage --data-path IN --save-path OUT \
        [--filter | --trim] [--min-doc-length 250]
    python -m quality_filter.cli corpus  --data-path DOCS --save-path OUT \
        [--benchmark-path BENCH] [--no-c4] [--no-gopher] \
        [--paragraph-dedup] [--substring-k K] [--jaccard-threshold 0.8] \
        [--verify-exact]          # document tables, prints stage counts
    python -m quality_filter.cli label   --data-path LINES --save-path OUT \
        [--teacher module:generate_fn] [--prompt verbatim|condensed] \
        [--lines-per-batch 20] [--vocab-path TSV]   # M2 teacher loop

``--data-path`` accepts parquet dirs or ``*.jsonl[.zst]``
(``src/classifier_inference_pipeline.py:144-151`` polymorphism);
``--save-path`` is written as parquet unless it ends in ``.jsonl``.
Resume is bucket based: pass ``--manifest-path`` (the root of the
per-bucket marker files, any Hadoop path or URI) and ``--run-id`` to run in
hashed conversation buckets.  Each bucket gets a marker once its output has
committed; a re-run with the same run id lists the markers, skips those
buckets and overwrites the rest idempotently (replaces the output-line-count
resume of ``src/classifier_inference_pipeline.py:133-139``).
"""

from __future__ import annotations

import argparse

from pyspark.sql import DataFrame, SparkSession

from quality_filter.session import get_spark


def _read(spark: SparkSession, path: str) -> DataFrame:
    from quality_filter.io import read_jsonl
    from quality_filter.schema import TRANSCRIPT_SCHEMA

    if path.endswith((".jsonl", ".jsonl.zst", ".json")):
        return read_jsonl(spark, path, TRANSCRIPT_SCHEMA)
    return spark.read.parquet(path)


def _write(df: DataFrame, path: str) -> None:
    from quality_filter.io import write_jsonl

    if path.endswith(".jsonl"):
        write_jsonl(df.orderBy("conv_id", "turn_idx"), path)
    else:
        df.write.mode("overwrite").parquet(path)


def _mode(args) -> str:
    if args.filter and args.trim:
        raise ValueError("Only one of 'trim' or 'filter' can be provided, not both.")
    if args.trim:
        return "trim"
    return "filter"


def main(argv: list[str] | None = None) -> None:
    parser = argparse.ArgumentParser(prog="quality_filter")
    sub = parser.add_subparsers(dest="cmd", required=True)

    def common(p):
        p.add_argument("--data-path", type=str, required=True)
        p.add_argument("--save-path", type=str, required=True)
        p.add_argument("--filter", action="store_true")
        p.add_argument("--trim", action="store_true")
        p.add_argument("--min-doc-length", type=int, default=1)
        p.add_argument("--manifest-path", type=str, default=None)
        p.add_argument("--run-id", type=str, default="default")
        p.add_argument("--cores", type=int, default=None)

    p_score = sub.add_parser("score", help="per-turn label+score+lang+ppl")
    common(p_score)

    p_filter = sub.add_parser("filter", help="filter/trim by label set")
    common(p_filter)
    p_filter.add_argument("--quality-labels", type=str, required=True)

    p_fscore = sub.add_parser("filter-score", help="filter/trim by score")
    common(p_fscore)
    p_fscore.add_argument("--quality-threshold", type=float, default=0.9)

    p_salv = sub.add_parser("salvage", help="salvage composite filter")
    common(p_salv)
    # salvage's reference default is 250 (src/salvage_low_quality_data.py:274);
    # an explicit --min-doc-length 0/1 must pass through unchanged (it
    # disables the gate), so the default lives here, not in a > 1 remap
    p_salv.set_defaults(min_doc_length=250)

    p_corpus = sub.add_parser(
        "corpus", help="document-table corpus build: C4+Gopher gates, dedup, decontamination"
    )
    p_corpus.add_argument("--data-path", type=str, required=True)
    p_corpus.add_argument("--save-path", type=str, required=True)
    p_corpus.add_argument("--benchmark-path", type=str, default=None)
    p_corpus.add_argument("--no-c4", action="store_true")
    p_corpus.add_argument("--no-gopher", action="store_true")
    p_corpus.add_argument("--paragraph-dedup", action="store_true")
    p_corpus.add_argument("--substring-k", type=int, default=None)
    p_corpus.add_argument("--jaccard-threshold", type=float, default=0.8)
    p_corpus.add_argument("--verify-exact", action="store_true")
    p_corpus.add_argument("--cores", type=int, default=None)

    p_qt = sub.add_parser(
        "quality-train",
        help="fit the learned quality classifier on a labeled document table",
    )
    p_qt.add_argument("--data-path", type=str, required=True)
    p_qt.add_argument("--model-path", type=str, required=True)
    p_qt.add_argument("--label-col", type=str, default="keep")
    p_qt.add_argument("--cores", type=int, default=None)

    p_lab = sub.add_parser(
        "label",
        help="teacher-label a line table (M2 loop; --teacher mod:fn "
        "plugs in the model backend, default = the deterministic fake)",
    )
    p_lab.add_argument("--data-path", type=str, required=True)
    p_lab.add_argument("--save-path", type=str, required=True)
    p_lab.add_argument("--id-col", type=str, default="doc_id")
    p_lab.add_argument("--idx-col", type=str, default="line_idx")
    p_lab.add_argument("--text-col", type=str, default="text")
    p_lab.add_argument("--language", type=str, default="English")
    p_lab.add_argument("--lines-per-batch", type=int, default=20)
    p_lab.add_argument(
        "--prompt", type=str, default="verbatim",
        choices=("verbatim", "condensed"),
    )
    p_lab.add_argument(
        "--teacher", type=str, default="quality_filter.teacher:fake_structured_teacher",
        help="import path 'module:function' of the generate backend",
    )
    p_lab.add_argument(
        "--vocab-path", type=str, default=None,
        help="also write the label-frequency TSV side table (S9)",
    )
    p_lab.add_argument("--cores", type=int, default=None)

    p_qs = sub.add_parser(
        "quality-score",
        help="score documents with a saved quality classifier",
    )
    p_qs.add_argument("--data-path", type=str, required=True)
    p_qs.add_argument("--model-path", type=str, required=True)
    p_qs.add_argument("--save-path", type=str, required=True)
    p_qs.add_argument("--cores", type=int, default=None)

    args = parser.parse_args(argv)
    mode = None
    if args.cmd in ("score", "filter", "filter-score", "salvage"):
        mode = _mode(args)  # validate filter/trim exclusivity before any IO
        if args.cmd == "filter":
            from quality_filter.labels import parse_labels

            parse_labels(args.quality_labels)  # fail fast on unknown labels

    preexisting = SparkSession.getActiveSession() is not None
    spark = get_spark("quality_filter_cli", cores=args.cores)
    try:
        if args.cmd in ("quality-train", "quality-score"):
            _quality(spark, args)
        elif args.cmd == "label":
            _label(spark, args)
        elif args.cmd == "corpus":
            _corpus(spark, args)
        else:
            _turns(spark, args, mode)
    finally:
        if not preexisting:
            # only stop a session this CLI created — embedding callers
            # (tests, notebooks) keep theirs
            spark.stop()


def _quality(spark: SparkSession, args) -> None:
    from quality_filter import qmodel

    docs = spark.read.parquet(args.data_path)
    if args.cmd == "quality-train":
        model = qmodel.train_quality_classifier(docs, args.label_col)
        model.write().overwrite().save(args.model_path)
        print(f"model: {args.model_path}")
    else:
        model = qmodel.load_quality_classifier(args.model_path)
        qmodel.score_quality(model, docs).write.mode("overwrite").parquet(
            args.save_path
        )
        print(f"scored: {args.save_path}")


def _label(spark: SparkSession, args) -> None:
    from importlib import import_module

    from quality_filter.teacher import label_lines_with_teacher

    mod_name, _, fn_name = args.teacher.partition(":")
    generate_fn = getattr(import_module(mod_name), fn_name)
    lines = spark.read.parquet(args.data_path)
    labeled = label_lines_with_teacher(
        lines,
        generate_fn,
        id_col=args.id_col,
        idx_col=args.idx_col,
        text_col=args.text_col,
        language=args.language,
        lines_per_batch=args.lines_per_batch,
        prompt=args.prompt,
    )
    labeled.write.mode("overwrite").parquet(args.save_path)
    print(f"labeled: {args.save_path}")
    if args.vocab_path:
        from quality_filter.io import write_tsv_freq

        write_tsv_freq(
            spark.read.parquet(args.save_path), args.vocab_path,
            label_col="label",
        )
        print(f"vocab: {args.vocab_path}")


def _corpus(spark: SparkSession, args) -> None:
    from quality_filter.corpus import build_pretrain_corpus

    docs = spark.read.parquet(args.data_path)
    bench = (
        spark.read.parquet(args.benchmark_path)
        if args.benchmark_path else None
    )
    out, resolve_counts = build_pretrain_corpus(
        docs,
        benchmark=bench,
        c4=not args.no_c4,
        gopher=not args.no_gopher,
        paragraph_dedup=args.paragraph_dedup,
        substring_k=args.substring_k,
        jaccard_threshold=args.jaccard_threshold,
        verify_exact=args.verify_exact,
        with_counts=True,
    )
    out.write.mode("overwrite").parquet(args.save_path)
    # counts were observed as a side effect of the write — zero
    # extra scans (resolve AFTER the action, per the corpus contract)
    for r in resolve_counts().collect():
        print(f"{r['stage']}: {r['n_docs']}")


def _turns(spark: SparkSession, args, mode: str) -> None:
    from quality_filter.pipeline import clean_pipeline, salvage_pipeline
    from quality_filter.rules import score_turns
    from quality_filter.scoring import with_scores

    # shared by both paths: checkpointed runs re-derive the pipeline
    # per bucket batch
    def pipeline(part: DataFrame) -> DataFrame:
        if args.cmd == "score":
            return with_scores(score_turns(part))
        if args.cmd == "filter":
            return clean_pipeline(
                part, mode=mode, labels_to_remove=args.quality_labels,
                min_doc_length=args.min_doc_length,
            )
        if args.cmd == "filter-score":
            return clean_pipeline(
                part, mode=mode, labels_to_remove=None,
                score_threshold=args.quality_threshold,
                min_doc_length=args.min_doc_length,
            )
        return salvage_pipeline(
            part, mode=mode, min_doc_length=args.min_doc_length
        )

    df = _read(spark, args.data_path)
    if args.manifest_path:
        from quality_filter.checkpoint import run_checkpointed

        done = run_checkpointed(
            spark, df, pipeline, args.save_path, args.manifest_path, args.run_id
        )
        print(f"processed buckets: {done}")
    else:
        _write(pipeline(df), args.save_path)


if __name__ == "__main__":
    main()
