"""Benchmark driver for the quality_filter engine.

    python3 perfbench/run.py --workload transcripts_filter --seed 1 --seconds 6 --trace 0

Run from the repository root.  One process: it starts a Spark session on a
fresh JVM (``local[N]``, N = min(2, usable cores)), generates the
workload's input from ``--seed``, runs the workload's batch job back to
back for ``--seconds`` of timed work (a closed loop: the next job starts
when the previous one has committed its output), checks every job's
output, and prints the metrics.  ``--trace 1`` runs the per-layer pass
instead.  ``--workload all`` runs transcripts_filter,
transcripts_trim_resume and corpus_build in turn.

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
Every run also appends a record (run order, host load average, iteration
times, metrics, errors) to ``.perfbench_out/runs.jsonl`` and, when traced,
writes its spans to ``.perfbench_out/``.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()   # setup_s counts from here

import argparse
import json
import os
import shutil
import statistics
import sys
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
OUT = ROOT / ".perfbench_out"

# Spark's own default driver heap.  session.get_spark defaults to 12g
# (SPARK_GRAFT_DRIVER_MEM), more than a shared 15 GB host should hand one
# benchmark; memory figures are therefore for a 1g heap.
DRIVER_MEM = "1g"
# Jobs run on 2 cores: on a shared 4-core host a 4-core job's speed follows
# the other tenants' load (see README.md).
CORES = 2
# synth folds the seed into 32-bit arithmetic (seed * 97 overflows past
# ~2.2e7), so the input seed is --seed reduced into this range
SEED_RANGE = 1 << 20
WARMUP_ITERS = 1         # untimed jobs before the timed loop, unless the workload sets warmup_iters
MIN_ITERS = 2
ITER_TIMEOUT_S = 60.0    # a job slower than this is cancelled and counted failed
RUN_BUDGET_S = 120.0     # start no timed job after a run is this old
HARD_LIMIT_S = 170.0     # cancel every Spark job still running when a run is this old

END_TO_END = {
    "rows_per_s": "rows/s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "scan.read_s": "s",
    "rules.clean_fastpath_scored_s": "s",
    "rules.score_turns_s": "s",
    "rules.keep_ratio": "ratio",
    "scrub.scrub_turns_s": "s",
    "scoring.with_scores_s": "s",
    "scoring.rows_scored": "count",
    "pipeline.apply_trim_mode_s": "s",
    "pipeline.drop_empty_convs_s": "s",
    "pipeline.reassemble_s": "s",
    "pipeline.shuffle_write_bytes": "B",
    "pipeline.spill_bytes": "B",
    "checkpoint.run_checkpointed_s": "s",
    "checkpoint.overhead_s": "s",
    "checkpoint.input_scans": "ratio",
    "checkpoint.bytes_written": "B",
    "checkpoint.files_written": "count",
    "checkpoint.resume_noop_s": "s",
    "textstats.fused_gate_arrow_s": "s",
    "textstats.c4_keep_ratio": "ratio",
    "textstats.gopher_keep_ratio": "ratio",
    "dedup.exact_dup_ratio": "ratio",
    "dedup.lsh_candidate_pairs": "count",
    "dedup.candidate_precision": "ratio",
    "cluster.dedup_pipeline_s": "s",
    "cluster.cc_iterations": "count",
    "spark.executor_run_s": "s",
    "spark.gc_s": "s",
    "spark.tasks": "count",
    "spark.core_busy_ratio": "ratio",
    "scaling.eff_1_to_2": "ratio",
    "trace.overhead_s": "s",
}


def usable_cores(n: int) -> int:
    return min(n, len(os.sched_getaffinity(0)))


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


class Run:
    """One workload run in this process: its Spark session, the monitor
    thread, the attempted/failed tally and every error seen."""

    def __init__(self, wl, args, cores: int, work: Path, monitor, t_start: float):
        self.wl, self.args, self.cores, self.work = wl, args, cores, work
        self.t_start = t_start
        self.monitor = monitor
        self.spark = None
        self.inp = None           # workloads.Inputs, once generated
        self.untraced_s = 0.0     # mean untraced job wall time (traced pass)
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.last_post = None

    def age_s(self) -> float:
        return time.perf_counter() - self.t_start

    def remaining_s(self) -> float:
        return HARD_LIMIT_S - self.age_s()

    def fail(self, errs: list[str]) -> None:
        self.failed += 1
        self.errors.extend(e[:500] for e in errs)

    def iteration(self, timed: bool = False, group: str | None = None,
                  check: bool = True) -> float | None:
        """One batch job into a fresh output dir, then (unless ``check`` is
        false) its per-job checks, untimed.  Returns the job's wall time, or
        None if it failed."""
        from harness import job_group

        out = self.work / "out"
        shutil.rmtree(out, ignore_errors=True)
        self.attempted += 1
        mon = self.monitor
        mon.arm(self.spark.sparkContext, min(ITER_TIMEOUT_S, self.remaining_s()))
        mon.recording = timed
        try:
            t = time.perf_counter()
            if group is None:
                self.last_post = self.wl.iterate(self.spark, self.inp, out)
            else:
                with job_group(self.spark, group):
                    self.last_post = self.wl.iterate(self.spark, self.inp, out)
            dt = time.perf_counter() - t
        except Exception as e:  # a failed job is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            self.fail([f"iteration {self.attempted}: "
                       + ("timed out" if mon.timed_out else f"{type(e).__name__}: {e}")])
            return None
        finally:
            mon.recording = False
            mon.disarm()
        if not check:
            return dt
        errs = self.wl.check_iteration(self.spark, self.inp, out, self.last_post)
        if errs:
            self.fail([f"iteration {self.attempted}: {e}" for e in errs])
            return None
        return dt

    def timed_loop(self) -> list[float]:
        """Closed loop of back-to-back jobs until ``--seconds`` of timed
        work (at least MIN_ITERS jobs) or the process budget is spent."""
        walls: list[float] = []
        while True:
            dt = self.iteration(timed=True)
            if dt is not None:
                walls.append(dt)
            if self.age_s() > RUN_BUDGET_S:
                break
            if sum(walls) >= self.args.seconds and len(walls) >= MIN_ITERS:
                break
            if self.failed > 2 * MIN_ITERS:
                break
        return walls


def run_workload(wl, args, t_start: float, import_s: float, tracer) -> dict:
    """One run of ``wl``.  Its clock starts at ``t_start``; ``setup_s``
    counts the process's import time ``import_s`` plus the session start."""
    import tempfile

    from harness import Monitor, start_session, stop_session

    cores = usable_cores(CORES)
    work = WORK / wl.name
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # temp files of Python, the scorer package zip, and every JVM (the
    # launcher's too) land in the work dir
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    tempfile.tempdir = None
    # the caller's Spark overrides would change what is measured
    for var in [v for v in os.environ if v.startswith("SPARK_GRAFT_")] + ["SPARK_LOCAL_DIRS"]:
        os.environ.pop(var, None)

    monitor = Monitor()
    monitor.start()
    run = Run(wl, args, cores, work, monitor, t_start)
    load_start = os.getloadavg()[0]
    metrics: dict[str, float] = {}
    extra: dict = {"cores": cores}
    try:
        phases = extra["phase_s"] = {}
        t0 = time.perf_counter()
        run.spark, get_spark_s = start_session(cores, work, DRIVER_MEM)
        setup_s = import_s + time.perf_counter() - t0
        phases["setup"] = setup_s
        t0 = time.perf_counter()
        extra["input_seed"] = args.seed % SEED_RANGE
        run.inp = wl.generate(run.spark, extra["input_seed"], work)
        extra["input_rows"] = run.inp.n_rows
        if hasattr(run.inp, "parts"):
            extra["input_rows_by_part"] = {
                p.name: sub.n_rows for p, sub in zip(wl.parts, run.inp.parts)
            }
        phases["generate"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        # the traced pass's prefix chain and reference jobs warm up as well;
        # warm-up jobs are checked by the timed jobs' checks that follow
        warmup = WARMUP_ITERS if args.trace else getattr(wl, "warmup_iters", WARMUP_ITERS)
        for _ in range(warmup):
            run.iteration(check=False)
        phases["warmup"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        if args.trace:
            metrics = trace_pass(run, tracer, get_spark_s)
        else:
            walls = run.timed_loop()
            extra["iteration_walls_s"] = walls
            if walls:
                q1, med, q3 = quartiles([run.inp.n_rows / w for w in walls])
                extra["rows_per_s_q1_median_q3"] = [q1, med, q3]
                metrics = {
                    "rows_per_s": med,
                    "setup_s": setup_s,
                    "peak_rss_mb": monitor.peak_bytes / 2**20,
                }
                extra["peak_mb_by_process"] = {
                    k: v / 2**20 for k, v in monitor.peak_breakdown.items()
                }
        phases["measure"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        if (work / "out").exists():
            errs = wl.check_output(run.spark, run.inp, work / "out")
            if errs:
                run.fail(errs)
        phases["check_output"] = time.perf_counter() - t0
        if hasattr(run.inp, "part_walls"):
            extra["part_walls_s"] = run.inp.part_walls
        if args.trace and getattr(wl, "scales", False):
            metrics["scaling.eff_1_to_2"] = scaling_efficiency(run, tracer)
    except Exception as e:  # report the failed run instead of crashing
        traceback.print_exc(file=sys.stderr)
        run.attempted = max(run.attempted, 1)
        run.fail([f"{type(e).__name__}: {e}"])
    finally:
        if run.spark is not None:
            try:
                stop_session(run.spark)
            except Exception as e:
                traceback.print_exc(file=sys.stderr)
                run.fail([f"stopping the session: {type(e).__name__}: {e}"])
        monitor.close()
        shutil.rmtree(work, ignore_errors=True)
        if WORK.is_dir() and not any(WORK.iterdir()):
            WORK.rmdir()
    extra.update(
        load_avg_1m_start=load_start,
        load_avg_1m_end=os.getloadavg()[0],
        run_s=run.age_s(),
    )
    return {
        "workload": wl.name,
        "unit": wl.unit,
        "attempted": run.attempted,
        "failed": run.failed,
        "errors": run.errors,
        "metrics": metrics,
        "extra": extra,
    }


def trace_pass(run: Run, tracer, get_spark_s: float) -> dict[str, float]:
    """Per-layer pass: the workload's prefix chain and counters, then one
    instrumented job between two untraced reference jobs, for status-store
    totals and the tracing overhead (instrumented job plus the status-store
    harvest, minus the mean untraced job; checks are outside both).  Layers
    the workload bypasses report 0."""
    from harness import stage_totals

    wl = run.wl
    layer = {name: 0.0 for name in PER_LAYER}
    layer["session.get_spark_s"] = get_spark_s
    with tracer.span(f"{wl.name}.layers"):
        run.monitor.arm(run.spark.sparkContext, run.remaining_s())
        try:
            layer.update(wl.trace(run.spark, run.inp, tracer, run.work))
        finally:
            run.monitor.disarm()
    # untraced reference jobs flank the instrumented one, so JIT warm-up
    # still under way does not read as tracing overhead
    before = run.iteration()
    with tracer.span(f"{wl.name}.job"):
        # dt covers the job only (job group set and cleared included);
        # the job's checks run after it, outside dt
        dt = run.iteration(group="perfbench-job")
        if dt is None:
            raise RuntimeError("instrumented job failed")
        with tracer.span("stage_totals"):
            t = time.perf_counter()
            totals = stage_totals(run.spark, "perfbench-job")
            harvest_s = time.perf_counter() - t
    after = run.iteration()
    untraced = [x for x in (before, after) if x is not None]
    if not untraced:
        raise RuntimeError("no untraced reference job succeeded")
    run.untraced_s = statistics.mean(untraced)
    if hasattr(wl, "stage_ratios"):
        layer.update(wl.stage_ratios(run.last_post))
    executor_s = totals["executor_run_ms"] / 1000
    layer.update({
        "spark.executor_run_s": executor_s,
        "spark.gc_s": totals["gc_ms"] / 1000,
        "spark.tasks": totals["tasks"],
        "spark.core_busy_ratio": executor_s / (dt * run.cores),
        # instrumented job + status-store harvest, minus the untraced jobs
        "trace.overhead_s": dt + harvest_s - run.untraced_s,
    })
    return layer


def scaling_efficiency(run: Run, tracer) -> float:
    """(rows/s at local[N] / rows/s at local[1]) / N, N = ``run.cores``: the
    same job rerun on a fresh 1-core session after a warm-up job."""
    from harness import start_session, stop_session

    with tracer.span("scaling.local_1"):
        stop_session(run.spark)
        run.spark = None
        run.spark, _ = start_session(1, run.work, DRIVER_MEM)
        run.iteration(check=False)
        dt = run.iteration()
    if dt is None:
        raise RuntimeError("1-core scaling job failed")
    return dt / run.untraced_s / run.cores


def record(result: dict, args) -> None:
    """Append the run to .perfbench_out/runs.jsonl, numbered in run order."""
    OUT.mkdir(exist_ok=True)
    log = OUT / "runs.jsonl"
    order = 1 + (sum(1 for _ in log.open()) if log.exists() else 0)
    rec = {
        "order": order,
        "time_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        **result,
    }
    with log.open("a") as f:
        f.write(json.dumps(rec) + "\n")
    result["order"] = order


def report(result: dict, args) -> None:
    """Human-readable lines, one metric per line, with units."""
    wl, ex = result["workload"], result["extra"]
    units = PER_LAYER if args.trace else END_TO_END
    print(f"{wl}: input {ex.get('input_rows', 0)} {result['unit']}, local[{ex['cores']}], "
          f"run #{result.get('order')}, load avg 1m {ex['load_avg_1m_start']:.2f} -> "
          f"{ex['load_avg_1m_end']:.2f}")
    for name, value in result["metrics"].items():
        line = f"{wl} {name}: {value:.6g} {units[name]}"
        if name == "rows_per_s":
            q1, _, q3 = ex["rows_per_s_q1_median_q3"]
            line += (f" (median of {len(ex['iteration_walls_s'])} jobs; "
                     f"q1 {q1:.6g}, q3 {q3:.6g})")
        print(line)
    error_rate = result["failed"] / max(result["attempted"], 1)
    print(f"{wl} error_rate: {error_rate:.4g} ratio "
          f"({result['failed']} failed of {result['attempted']} attempted)")
    for e in result["errors"]:
        print(f"{wl} error: {e}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    ap.add_argument("--workload", default="all")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    try:
        import quality_filter  # noqa: F401
        from tests import oracle  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine and its oracle from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    from harness import Tracer
    from workloads import ALL, WORKLOADS

    names = list(ALL) if args.workload == "all" else [args.workload]
    if any(n not in WORKLOADS for n in names):
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {', '.join(WORKLOADS)} or all", file=sys.stderr)
        return 2
    import_s = time.perf_counter() - T_START

    units = PER_LAYER if args.trace else END_TO_END
    results = []
    for i, name in enumerate(names):
        tracer = Tracer(f"{name}-seed{args.seed}-{os.getpid()}")
        t_start = T_START if i == 0 else time.perf_counter()
        result = run_workload(WORKLOADS[name], args, t_start, import_s, tracer)
        missing = sorted(set(units) - set(result["metrics"]))
        if missing:
            result["failed"] = max(result["failed"], 1)
            result["errors"].append(f"no value for {', '.join(missing)}")
        record(result, args)
        if args.trace:
            (OUT / f"spans_{name}_run{result['order']}.json").write_text(
                json.dumps(tracer.with_self_time(), indent=1)
            )
        report(result, args)
        results.append(result)

    def key(r, m):
        return m if len(results) == 1 else f"{r['workload']}.{m}"

    summary = {
        "correct": all(r["failed"] == 0 for r in results),
        "attempted": sum(r["attempted"] for r in results),
        "failed": sum(r["failed"] for r in results),
        "metrics": {
            key(r, m): {"value": v, "unit": units[m]}
            for r in results
            for m, v in r["metrics"].items()
        },
    }
    print(json.dumps(summary))
    return 0 if summary["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
