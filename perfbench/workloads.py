"""The benchmark workloads.  Each one generates its input from the seed
(outside the timed region), runs one batch job per iteration through
``quality_filter``'s public functions, checks the job's output, and, for
the traced pass, splits the job into per-layer metrics.  Three workloads
exercise disjoint layer sets; ``trim_resume_corpus`` runs two of them as
one (see ``Composite``).

Layer times come from cumulative prefixes of the workload's plan, each run
to a ``noop`` sink: scan, scan->layer1, scan->layer1->layer2, ...; a
layer's time is the difference between consecutive prefixes (medians over
``PREFIX_REPS`` repetitions).  The prefix chains mirror the compositions
inside ``pipeline.clean_pipeline`` and ``corpus.build_pretrain_corpus``;
each traced run checks that its last prefix returns as many rows as the
real job, so a chain that drifts from the library shows up as an error.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from collections import defaultdict
from pathlib import Path

from pyspark.sql import functions as F

from harness import job_group, stage_totals

# Input sizes (per workload below): each iteration is a ~3-7 s batch job
# on a 4-core host.  Trim and corpus job times are nearly flat in input
# size (fixed per-job costs dominate), so their inputs are kept small.
SKEW_CONVS = 2                 # giant conversations (window-skew path)
# deterministic oracle sample: this many ordinary conversations plus the
# first giant one
SAMPLE_CONVS = 150
N_BUCKETS, BUCKETS_PER_BATCH = 4, 2
PREFIX_REPS = 2
# synth_documents(dup_every=23): doc k is an exact copy of doc k-1
DUP_EVERY = 23
LOGPPL_MAX = 64.0              # bits per byte: a loose cap (a uniform byte model costs 8)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def wall(fn) -> float:
    t = time.perf_counter()
    fn()
    return time.perf_counter() - t


def dir_stats(path: Path) -> tuple[int, int]:
    """(bytes, files) of every regular file under ``path``."""
    n_bytes = n_files = 0
    for root, _, files in os.walk(path):
        for name in files:
            n_bytes += os.path.getsize(os.path.join(root, name))
            n_files += 1
    return n_bytes, n_files


def rm(path: Path) -> None:
    shutil.rmtree(path, ignore_errors=True)


def prefix_times(tracer, prefixes: list[tuple[str, object]]) -> dict[str, float]:
    """Median noop-sink time of each cumulative prefix, then the difference
    to the previous prefix, keyed by the prefix's layer name."""
    samples: dict[str, list[float]] = defaultdict(list)
    for rep in range(PREFIX_REPS):
        for name, df in prefixes:
            with tracer.span(f"prefix.{name}", rep=rep):
                samples[name].append(wall(lambda: noop(df)))
    med = {name: statistics.median(v) for name, v in samples.items()}
    out, prev = {}, 0.0
    for name, _ in prefixes:
        out[name] = med[name] - prev
        prev = med[name]
    return out


class Inputs:
    """Generated input of one run and the facts the checks need."""

    def __init__(self, path: Path, n_rows: int):
        self.path = str(path)
        self.n_rows = n_rows
        self.expected: dict = {}
        self.sample: dict = {}


# --------------------------------------------------------------------------
# transcript workloads
# --------------------------------------------------------------------------

class _Transcripts:
    unit = "turns"
    mode = ""

    def generate(self, spark, seed: int, work: Path) -> Inputs:
        """Write the seeded transcripts, then derive the oracle's expected
        survivors from one collect of the input: exact totals over every
        conversation (oracle keep decisions, memoised per distinct text --
        synthetic turns come from a small template bank), and the full
        oracle pipeline output for a deterministic conversation sample."""
        from itertools import groupby

        from quality_filter.synth import synth_transcripts
        from tests import oracle

        path = work / "input"
        synth_transcripts(
            spark, self.convs, seed=seed,
            skew_convs=SKEW_CONVS, skew_turns=self.skew_turns,
        ).write.mode("overwrite").parquet(str(path))
        pdf = (
            spark.read.parquet(str(path)).select("conv_id", "turn_idx", "text")
            .toPandas().sort_values(["conv_id", "turn_idx"])
        )
        inp = Inputs(path, len(pdf))
        label = {t: oracle.label_of(t or "") for t in pdf["text"].unique()}
        select = oracle.filter_mode if self.mode == "filter" else oracle.trim_mode
        step = max(self.convs // SAMPLE_CONVS, 1)
        sample_ids = {"conv_00000000"} | {
            f"conv_{i:08d}" for i in range(SKEW_CONVS, self.convs, step)
        }
        convs = turns = 0
        sample = {}
        rows = zip(pdf["conv_id"], pdf["turn_idx"], pdf["text"])
        for cid, group in groupby(rows, key=lambda r: r[0]):
            conv = [
                oracle.Turn(conv_id=cid, turn_idx=int(i), text=t, label=label[t])
                for _, i, t in group
            ]
            keep = oracle.keep_flags(conv, labels_to_remove="all")
            survivors = oracle.drop_empty(select(conv, keep))
            convs += bool(survivors)
            turns += len(survivors)
            if cid in sample_ids:
                sample[cid] = conv
        inp.expected.update(convs=convs, turns=turns)
        inp.sample = {
            "ids": sorted(sample),
            "expect": oracle.clean_pipeline(
                sample, mode=self.mode, labels_to_remove="all", scrub=True
            ),
        }
        return inp


class TranscriptsFilter(_Transcripts):
    """Headline hot path: remove-all filter (rules fast path), scrub, the
    fused langid + perplexity Arrow UDF, parquet sink.  No shuffle."""

    name = "transcripts_filter"
    mode = "filter"
    # conversations (giants included), giant length: ≈68k turns, enough
    # that per-row work, not per-job planning, sets most of a job's cost
    convs, skew_turns = 3000, 4000
    scales = True   # the traced pass also measures 1-core vs N-core throughput
    # on a fresh JVM a job's cost levels off from the third job (JIT)
    warmup_iters = 2

    def job(self, spark, inp: Inputs):
        from quality_filter.pipeline import clean_pipeline
        from quality_filter.scoring import with_scores

        src = spark.read.parquet(inp.path)
        return with_scores(
            clean_pipeline(src, mode="filter", labels_to_remove="all", scrub=True)
        )

    def iterate(self, spark, inp: Inputs, out: Path):
        self.job(spark, inp).write.mode("overwrite").parquet(str(out / "data"))

    def check_iteration(self, spark, inp: Inputs, out: Path, _) -> list[str]:
        n = spark.read.parquet(str(out / "data")).count()
        want = inp.expected["turns"]
        return [] if n == want else [f"survivor turns {n} != oracle {want}"]

    def check_output(self, spark, inp: Inputs, out: Path) -> list[str]:
        from quality_filter import langid

        errors = []
        data = spark.read.parquet(str(out / "data"))
        langs = langid.build_artifact()[0]
        bad = data.filter(
            F.col("lang").isNull() | ~F.col("lang").isin(list(langs))
            | F.col("lang_prob").isNull() | F.isnan("lang_prob")
            | (F.col("lang_prob") < 0) | (F.col("lang_prob") > 1)
            | F.col("logppl").isNull() | F.isnan("logppl")
            | (F.col("logppl") < 0) | (F.col("logppl") > LOGPPL_MAX)
        ).count()
        if bad:
            errors.append(f"{bad} rows with lang/lang_prob/logppl null or out of range")
        got = defaultdict(list)
        for r in data.filter(F.col("conv_id").isin(inp.sample["ids"])).select(
            "conv_id", "turn_idx", "label", "clean_score", "scrubbed_text"
        ).collect():
            got[r["conv_id"]].append(r)
        expect = inp.sample["expect"]
        if set(got) != set(expect):
            errors.append(f"sample conversations differ: {sorted(set(got) ^ set(expect))[:5]}")
        for cid, turns in expect.items():
            rows = sorted(got.get(cid, []), key=lambda r: r["turn_idx"])
            want = [(t.turn_idx, t.label, t.clean_score, t.scrubbed_text) for t in turns]
            have = [(r["turn_idx"], r["label"], r["clean_score"], r["scrubbed_text"]) for r in rows]
            if have != want:
                errors.append(f"{cid}: output turns differ from oracle")
        return errors

    def trace(self, spark, inp: Inputs, tracer, work: Path) -> dict[str, float]:
        from quality_filter.rules import clean_fastpath_scored
        from quality_filter.scoring import with_scores
        from quality_filter.scrub import scrub_turns

        src = spark.read.parquet(inp.path)
        rules = clean_fastpath_scored(src)
        scrubbed = scrub_turns(rules)
        scored = with_scores(scrubbed)
        t = prefix_times(tracer, [
            ("scan", src), ("rules", rules), ("scrub", scrubbed), ("scoring", scored),
        ])
        with tracer.span("counts"):
            survivors = rules.count()
            if scored.count() != self.job(spark, inp).count():
                raise RuntimeError("filter prefix chain no longer matches clean_pipeline")
        return {
            "scan.read_s": t["scan"],
            "rules.clean_fastpath_scored_s": t["rules"],
            "rules.keep_ratio": survivors / inp.n_rows,
            "scrub.scrub_turns_s": t["scrub"],
            "scoring.with_scores_s": t["scoring"],
            "scoring.rows_scored": survivors,
        }


class TranscriptsTrimResume(_Transcripts):
    """Trim mode + reassembly through the checkpointed bucket runner: full
    regex cascade, per-conversation window shuffles over skewed
    conversations, partitioned overwrite + manifest; no scoring UDF."""

    name = "transcripts_trim_resume"
    mode = "trim"
    convs, skew_turns = 600, 1500

    @staticmethod
    def pipeline_fn(df):
        from quality_filter.pipeline import clean_pipeline, reassemble

        return reassemble(
            clean_pipeline(df, mode="trim", labels_to_remove="all", scrub=True),
            "scrubbed_text",
        )

    def run(self, spark, inp: Inputs, out: Path) -> list[int]:
        from quality_filter.checkpoint import run_checkpointed

        return run_checkpointed(
            spark, spark.read.parquet(inp.path), self.pipeline_fn,
            str(out / "data"), str(out / "manifest"), "perfbench",
            n_buckets=N_BUCKETS, buckets_per_batch=BUCKETS_PER_BATCH,
        )

    def iterate(self, spark, inp: Inputs, out: Path):
        done = self.run(spark, inp, out)
        if len(done) != N_BUCKETS:
            raise RuntimeError(f"checkpointed run processed {len(done)} of {N_BUCKETS} buckets")

    def check_iteration(self, spark, inp: Inputs, out: Path, _) -> list[str]:
        row = spark.read.parquet(str(out / "data")).agg(
            F.count(F.lit(1)).alias("convs"), F.sum("n_turns").alias("turns")
        ).first()
        got = (row["convs"], row["turns"])
        want = (inp.expected["convs"], inp.expected["turns"])
        return [] if got == want else [f"survivor (convs, turns) {got} != oracle {want}"]

    def check_output(self, spark, inp: Inputs, out: Path) -> list[str]:
        errors = []
        got = {
            r["conv_id"]: r
            for r in spark.read.parquet(str(out / "data"))
            .filter(F.col("conv_id").isin(inp.sample["ids"]))
            .select("conv_id", "text", "n_turns")
            .collect()
        }
        expect = inp.sample["expect"]
        if set(got) != set(expect):
            errors.append(f"sample conversations differ: {sorted(set(got) ^ set(expect))[:5]}")
        for cid, turns in expect.items():
            r = got.get(cid)
            want = ("\n".join(t.scrubbed_text for t in turns), len(turns))
            if r is None or (r["text"], r["n_turns"]) != want:
                errors.append(f"{cid}: reassembled text differs from oracle")
        return errors

    def trace(self, spark, inp: Inputs, tracer, work: Path) -> dict[str, float]:
        from quality_filter.pipeline import (
            apply_trim_mode, drop_empty_convs, keep_by_label, reassemble,
        )
        from quality_filter.rules import score_turns
        from quality_filter.scrub import scrub_turns

        src = spark.read.parquet(inp.path)
        rules = score_turns(src)
        trimmed = apply_trim_mode(rules, keep_by_label("all"))
        nonempty = drop_empty_convs(trimmed)
        scrubbed = scrub_turns(nonempty)
        reassembled = reassemble(scrubbed, "scrubbed_text")
        t = prefix_times(tracer, [
            ("scan", src), ("rules", rules), ("trim", trimmed),
            ("drop_empty", nonempty), ("scrub", scrubbed), ("reassemble", reassembled),
        ])
        out = work / "trace_out"
        rm(out)
        with tracer.span("plain_write"):
            with job_group(spark, "perfbench-plain"):
                plain_s = wall(lambda: self.pipeline_fn(src).write.parquet(str(out / "plain")))
        with tracer.span("checkpointed_write"):
            with job_group(spark, "perfbench-ckpt"):
                ckpt_s = wall(lambda: self.run(spark, inp, out))
        with tracer.span("resume_noop"):
            resume_s = wall(lambda: self.run(spark, inp, out))
        with tracer.span("counts"):
            plain = stage_totals(spark, "perfbench-plain")
            ckpt = stage_totals(spark, "perfbench-ckpt")
            n_bytes, n_files = dir_stats(out / "data")
            m_bytes, m_files = dir_stats(out / "manifest")
            kept = rules.filter(keep_by_label("all")).count()
            if reassembled.count() != inp.expected["convs"]:
                raise RuntimeError("trim prefix chain no longer matches clean_pipeline")
        rm(out)
        return {
            "scan.read_s": t["scan"],
            "rules.score_turns_s": t["rules"],
            "rules.keep_ratio": kept / inp.n_rows,
            "scrub.scrub_turns_s": t["scrub"],
            "pipeline.apply_trim_mode_s": t["trim"],
            "pipeline.drop_empty_convs_s": t["drop_empty"],
            "pipeline.reassemble_s": t["reassemble"],
            "pipeline.shuffle_write_bytes": ckpt["shuffle_write_bytes"],
            "pipeline.spill_bytes": ckpt["memory_spill_bytes"] + ckpt["disk_spill_bytes"],
            "checkpoint.run_checkpointed_s": ckpt_s,
            "checkpoint.overhead_s": ckpt_s - plain_s,
            "checkpoint.input_scans": ckpt["input_bytes"] / max(plain["input_bytes"], 1),
            "checkpoint.bytes_written": n_bytes + m_bytes,
            "checkpoint.files_written": n_files + m_files,
            "checkpoint.resume_noop_s": resume_s,
        }


# --------------------------------------------------------------------------
# corpus build
# --------------------------------------------------------------------------

class CorpusBuild:
    """Pre-training corpus build: fused C4+Gopher Arrow gate, exact dedup,
    MinHash-LSH and iterative connected components."""

    name = "corpus_build"
    unit = "docs"
    docs = 2000

    def generate(self, spark, seed: int, work: Path) -> Inputs:
        from quality_filter.synth import synth_documents

        path = work / "input"
        synth_documents(spark, self.docs, seed=seed, dup_every=DUP_EVERY).write.mode(
            "overwrite"
        ).parquet(str(path))
        # one row per spark.range id; each job's first stage count checks it
        inp = Inputs(path, self.docs)
        inp.expected["dup_pairs"] = [(k - 1, k) for k in range(DUP_EVERY, inp.n_rows, DUP_EVERY)]
        return inp

    def iterate(self, spark, inp: Inputs, out: Path):
        from quality_filter.corpus import build_pretrain_corpus

        docs = spark.read.parquet(inp.path)
        kept, resolve_counts = build_pretrain_corpus(docs, with_counts=True)
        kept.write.mode("overwrite").parquet(str(out / "data"))
        return resolve_counts

    def check_iteration(self, spark, inp: Inputs, out: Path, resolve_counts) -> list[str]:
        errors = []
        stages = [(r["stage"], r["n_docs"]) for r in resolve_counts().collect()]
        counts = [n for _, n in stages]
        if counts[0] != inp.n_rows:
            errors.append(f"input stage saw {counts[0]} docs, generated {inp.n_rows}")
        if any(b > a for a, b in zip(counts, counts[1:])):
            errors.append(f"stage counts increase: {stages}")
        n = spark.read.parquet(str(out / "data")).count()
        if n != counts[-1]:
            errors.append(f"sink holds {n} docs, last stage counted {counts[-1]}")
        # a deterministic job: every iteration must commit the same corpus
        first = inp.expected.setdefault("survivors", n)
        if n != first:
            errors.append(f"survivors {n} != first iteration's {first}")
        return errors

    def check_output(self, spark, inp: Inputs, out: Path) -> list[str]:
        errors = []
        data = spark.read.parquet(str(out / "data"))
        ids = {r["doc_id"] for r in data.select("doc_id").collect()}
        if not ids:
            errors.append("empty corpus")
        both = [p for p in inp.expected["dup_pairs"] if p[0] in ids and p[1] in ids]
        if both:
            errors.append(f"{len(both)} planted exact-duplicate pairs both survive, e.g. {both[:3]}")
        norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
        shared = data.groupBy(norm.alias("_n")).count().filter(F.col("count") > 1).count()
        if shared:
            errors.append(f"{shared} normalized texts shared by several survivors")
        return errors

    def trace(self, spark, inp: Inputs, tracer, work: Path) -> dict[str, float]:
        from quality_filter.cluster import connected_components, dedup_pipeline
        from quality_filter.dedup import (
            exact_dedup, lsh_candidates, minhash_jaccard, minhash_signatures,
        )
        from quality_filter.textstats import fused_gate_arrow

        docs = spark.read.parquet(inp.path)
        cols = docs.columns
        gated = (
            fused_gate_arrow(docs, "text", with_repetition=True)
            .filter(F.col("c4_keep"))
            .withColumn("text", F.col("clean_text"))
            .select(*cols, "gopher_keep")
            .filter(F.col("gopher_keep"))
            .select(*cols)
        )
        t = prefix_times(tracer, [("scan", docs), ("gate", gated)])
        # dedup_pipeline runs its connected-components jobs eagerly, so the
        # scan->gate->dedup prefix is the call itself plus a noop sink of
        # its (lazy) remainder
        dedup_s = []
        for rep in range(PREFIX_REPS):
            with tracer.span("prefix.dedup", rep=rep):
                dedup_s.append(wall(lambda: noop(dedup_pipeline(gated))))
        with tracer.span("counts"):
            n_gated = gated.count()
            uniq = exact_dedup(gated).localCheckpoint()
            n_uniq = uniq.count()
            sig = minhash_signatures(uniq).localCheckpoint()
            cand = lsh_candidates(sig).localCheckpoint()
            n_cand = cand.count()
            pairs = minhash_jaccard(sig, cand).filter(F.col("est_jaccard") >= 0.8)
            n_pairs = pairs.count()
            stats: dict = {}
            connected_components(uniq.select("doc_id"), pairs, stats=stats)
            for df in (cand, sig, uniq):
                df.unpersist()
        return {
            "scan.read_s": t["scan"],
            "textstats.fused_gate_arrow_s": t["gate"],
            "cluster.dedup_pipeline_s": statistics.median(dedup_s) - t["scan"] - t["gate"],
            "dedup.exact_dup_ratio": 1 - n_uniq / max(n_gated, 1),
            "dedup.lsh_candidate_pairs": n_cand,
            "dedup.candidate_precision": n_pairs / max(n_cand, 1),
            "cluster.cc_iterations": stats.get("iterations", 0),
        }

    @staticmethod
    def stage_ratios(resolve_counts) -> dict[str, float]:
        n = dict((r["stage"], r["n_docs"]) for r in resolve_counts().collect())
        return {
            "textstats.c4_keep_ratio": n["after_c4"] / max(n["input"], 1),
            "textstats.gopher_keep_ratio": n["after_gopher"] / max(n["after_c4"], 1),
        }


# --------------------------------------------------------------------------
# composite
# --------------------------------------------------------------------------

class Composite:
    """Several workloads as one: each iteration runs the parts' batch jobs
    back to back on the same session, each into its own output dir.  The
    inputs, checks and per-layer traces are the parts'; the input rows are
    the sum of the parts' (turns + documents)."""

    scales = False
    # each part warms its own code paths (JIT): the first trim + corpus job
    # on a fresh JVM takes about twice as long as the third
    warmup_iters = 2

    def __init__(self, name: str, *parts):
        self.name, self.parts = name, parts
        self.unit = " + ".join(p.unit for p in parts)

    def generate(self, spark, seed: int, work: Path) -> Inputs:
        subs = [p.generate(spark, seed, work / p.name) for p in self.parts]
        inp = Inputs(work, sum(s.n_rows for s in subs))
        inp.parts = subs
        inp.part_walls = []     # per job: each part's wall time, in order
        return inp

    def iterate(self, spark, inp: Inputs, out: Path):
        posts, walls = [], []
        for p, sub in zip(self.parts, inp.parts):
            t = time.perf_counter()
            posts.append(p.iterate(spark, sub, out / p.name))
            walls.append(time.perf_counter() - t)
        inp.part_walls.append(walls)
        return posts

    def check_iteration(self, spark, inp: Inputs, out: Path, posts) -> list[str]:
        return [
            f"{p.name}: {e}"
            for p, sub, post in zip(self.parts, inp.parts, posts)
            for e in p.check_iteration(spark, sub, out / p.name, post)
        ]

    def check_output(self, spark, inp: Inputs, out: Path) -> list[str]:
        return [
            f"{p.name}: {e}"
            for p, sub in zip(self.parts, inp.parts)
            for e in p.check_output(spark, sub, out / p.name)
        ]

    def trace(self, spark, inp: Inputs, tracer, work: Path) -> dict[str, float]:
        """The parts' layer metrics; a time both parts report (the scan) is
        summed, any other shared name is an error."""
        layer: dict[str, float] = {}
        for p, sub in zip(self.parts, inp.parts):
            with tracer.span(p.name):
                for name, value in p.trace(spark, sub, tracer, work / p.name).items():
                    if name in layer and not name.endswith("_s"):
                        raise RuntimeError(f"{name} reported by two parts")
                    layer[name] = layer.get(name, 0.0) + value
        return layer

    def stage_ratios(self, posts) -> dict[str, float]:
        out: dict[str, float] = {}
        for p, post in zip(self.parts, posts):
            if hasattr(p, "stage_ratios"):
                out.update(p.stage_ratios(post))
        return out


_filter, _trim, _corpus = TranscriptsFilter(), TranscriptsTrimResume(), CorpusBuild()
WORKLOADS = {
    w.name: w
    for w in (_filter, _trim, _corpus, Composite("trim_resume_corpus", _trim, _corpus))
}
# what ``--workload all`` runs: each layer once
ALL = (_filter.name, _trim.name, _corpus.name)
