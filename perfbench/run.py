#!/usr/bin/env python3
"""The repository's benchmark: one command, three workloads.

Run from the repository root:

    python3 perfbench/run.py --workload llm_curation --seed 1 --seconds 10 --trace 0

Workloads (BENCHMARK.json says why each was chosen):
  llm_curation  registered curation queries over fixed synthetic tables
  audio_ingest  audio.pipeline.run_pipeline over a synthetic WAV corpus
  etl_commits   CDC rounds against a versioned table

Each run is one fresh process with a cold JVM. It synthesizes its inputs
from --seed inside the checkout, sets up once (session, registry or
seeding), warms up with one or two passes of every operation kind
(the workload's warmup()), then repeats identical timed passes until
--seconds have passed and the workload's PASSES passes have run. It checks every result
and prints, as its last stdout line, one JSON object with `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics with
--trace 0, the per-layer metrics from spans and Spark counters with
--trace 1. The line before it is a `perfbench detail` JSON with the
per-pass times and per-kind latency samples. Exit code 0 only when every
operation ran and every check passed; --smoke runs the tiny inputs the
benchmark's own test uses.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import statistics
import sys
import time

from common import Ctx, OperationFailed, summary
from proctree import (
    RSS_INTERVAL_S,
    RssSampler,
    descendants,
    host_cpu_ticks,
    ticks_to_seconds,
    seconds_since_process_start,
    tree_cpu_seconds,
)
from spans import Tracer

WORKLOADS = {
    "llm_curation": ("llm_curation", "LlmCuration"),
    "audio_ingest": ("audio_ingest", "AudioIngest"),
    "etl_commits": ("etl_commits", "EtlCommits"),
}
MAX_CPUS = 4  # local[n] with n = min(MAX_CPUS, cores this process may use)
JVM_HEAP = "2g"

END_TO_END = {"setup_s": "s", "run_s": "s", "peak_rss_mb": "MB"}

# per-layer metrics: name -> unit. A workload that does not use a layer
# reports 0 for it.
COMMON_LAYERS = {
    "cpu_s": "s",
    "session.start_s": "s",
    "registry.load_s": "s",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.shuffle_mb": "MB",
    "exec.scan_mb": "MB",
    "trace.run_s": "s",
    "trace.overhead_s": "s",
}


def _layer_units() -> dict[str, str]:
    import audio_ingest
    import etl_commits
    import llm_curation

    units = dict(COMMON_LAYERS)
    units["operators.construct_s"] = "s"
    units["operators.eager_jobs"] = "count"
    for q in llm_curation.QUERIES:
        units[f"query.{q}_s"] = "s"
        units[f"query.{q}.jobs"] = "count"
    units.update(audio_ingest.LAYERS)
    units.update(etl_commits.LAYERS)
    return units


def spark_cpus() -> int:
    return max(1, min(MAX_CPUS, len(os.sched_getaffinity(0))))


def _environment(root: str, work: str) -> None:
    """Keep every file Spark and its workers write inside `work`, and let
    the Python workers import the package from the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = JVM_HEAP
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "pyspark-shell",
        ]
    )


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM (it exits when its stdin closes), and
    wait until every process started under this one has ended."""
    from pyspark import SparkContext

    started = set(descendants())
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while started and time.monotonic() < deadline:
        started = {pid for pid in started if os.path.exists(f"/proc/{pid}")}
        time.sleep(0.1)
    for pid in started:  # still running after 30 s
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for the benchmark's own test")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "tts_etl_pipeline_spark")):
        print("perfbench: run from the repository root: no tts_etl_pipeline_spark/ here", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _environment(root, work)
    try:
        return _run(args, root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, root: str, work: str) -> int:
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    tracer = Tracer(run_id, enabled=bool(args.trace))
    ctx = Ctx(work, args.seed, args.smoke, tracer)
    module, cls = WORKLOADS[args.workload]
    wl = getattr(importlib.import_module(module), cls)(ctx)

    host0 = host_cpu_ticks()
    t0 = time.perf_counter()
    wl.synthesize()
    synth_s = time.perf_counter() - t0

    from tts_etl_pipeline_spark.session import get_spark

    cpus = spark_cpus()
    setup_s = setup_wall = setup_steal = 0.0
    spark = None
    walls: list[float] = []
    cpu: list[float] = []
    steal: list[float] = []  # steal share of the CPUs' runnable time, per pass
    steal_s: list[float] = []  # steal seconds over all CPUs, per pass
    peak = 0
    warmup_s = 0.0
    window = (0.0, 0.0)
    try:
        with tracer.span("setup"):
            with tracer.span("session.start"):
                spark = get_spark("perfbench", cpus=cpus)
            wl.setup(spark)
        # set-up counts from process start: JVM launch, session, registry load
        # or seeding; the benchmark's own input synthesis is not set-up
        setup_wall = seconds_since_process_start() - synth_s
        b1, s1 = host_cpu_ticks()
        setup_steal = (s1 - host0[1]) / max(b1 - host0[0] + s1 - host0[1], 1)
        setup_s = _steal_free([setup_wall], [setup_steal])[0]
        if args.trace:
            from sparkstats import SparkStats

            ctx.stats = SparkStats(spark)

        t0 = time.perf_counter()
        with tracer.span("warmup"):
            wl.warmup(spark)
        warmup_s = time.perf_counter() - t0

        ctx.timed = True
        if ctx.stats:
            ctx.stats.totals.clear()
            ctx.stats.hook_s = 0.0
        if hasattr(wl, "start_timed"):
            wl.start_timed()
        sampler = RssSampler().start()
        start = time.perf_counter()
        try:
            while len(walls) < wl.PASSES or time.perf_counter() - start < args.seconds:
                c0 = tree_cpu_seconds()
                b0, s0 = host_cpu_ticks()
                t0 = time.perf_counter()
                with tracer.span("pass"):
                    wl.run_pass(spark)
                walls.append(time.perf_counter() - t0)
                cpu.append(tree_cpu_seconds() - c0)
                b1, s1 = host_cpu_ticks()
                steal.append((s1 - s0) / max(b1 - b0 + s1 - s0, 1))
                steal_s.append(ticks_to_seconds(s1 - s0))
                if hasattr(wl, "after_pass"):
                    wl.after_pass(spark)
        finally:
            peak = sampler.stop()
            ctx.timed = False
            window = (start, time.perf_counter())
        timed_totals = dict(ctx.stats.totals) if ctx.stats else {}
        hook_s = ctx.stats.hook_s if ctx.stats else 0.0

        try:
            wl.check(spark)
        except Exception as e:  # a check that cannot run is a failed check
            ctx.fail(f"check: {type(e).__name__}: {e}")

        run_s = statistics.median(_steal_free(walls, steal))
        cpu_s = statistics.median(_steal_charged(cpu, steal_s))
        if args.trace:
            metrics = _layer_metrics(ctx, wl, spark, window, len(walls), timed_totals)
            metrics["cpu_s"] = cpu_s
            metrics["trace.run_s"] = run_s
            metrics["trace.overhead_s"] = hook_s / len(walls)
        else:
            metrics = {
                "setup_s": setup_s,
                "run_s": run_s,
                "peak_rss_mb": peak / 2**20,
            }
    except OperationFailed:
        metrics = {}
    finally:
        if spark is not None:
            _stop_spark(spark)

    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "spark_cpus": cpus,
        "sizes": wl.sizes(),
        "synth_s": synth_s,
        "setup_wall_s": setup_wall,
        "setup_steal_share": setup_steal,
        "warmup_s": warmup_s,
        "pass_wall_s": walls,
        "pass_cpu_s": cpu,
        "pass_steal_share": steal,
        "pass_steal_s": steal_s,
        "pass_run_s": _steal_free(walls, steal),
        "pass_cpu_charged_s": _steal_charged(cpu, steal_s),
        "rss_interval_s": RSS_INTERVAL_S,
        "latency": {k: summary(v) for k, v in sorted(ctx.latency.items())},
        "errors": ctx.errors[:20],
    }
    if args.trace:
        out = os.path.join(root, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        detail["spans"] = os.path.join(out, f"{run_id}.json")
        tracer.dump(detail["spans"])
    print("perfbench detail " + json.dumps(detail), flush=True)

    units = _layer_units() if args.trace else END_TO_END
    correct = ctx.failed == 0 and bool(metrics)
    result = {
        "correct": correct,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units if k in metrics},
    }
    print(json.dumps(result), flush=True)
    return 0 if correct else 1


def _steal_free(walls: list[float], steal: list[float]) -> list[float]:
    """Wall times of passes, or of the set-up, less the host's share of
    them. On a shared virtual machine the host takes 1-33% of the time the
    CPUs are ready to run (measured on a 4-vCPU guest), and that share
    changes from run to run: one seed and one commit gave 3.1 s and 4.1 s
    passes at 2% and 33% steal. Scaling the wall by the share the CPUs
    actually ran removes it."""
    return [w * (1.0 - s) for w, s in zip(walls, steal)]


def _steal_charged(cpu: list[float], steal_s: list[float]) -> list[float]:
    """Pass CPU times with the steal the kernel deducted from them added
    back. A tick that follows stolen time charges the running task its
    length less the steal accrued (kernel/sched/cputime.c), so a process
    that was preempted by the host is charged less than it ran; while the
    benchmark runs, its process tree is what the guest's CPUs run."""
    return [c + s for c, s in zip(cpu, steal_s)]


def _layer_metrics(ctx, wl, spark, window, passes: int, totals: dict) -> dict:
    """Per-layer metrics of a traced run, per timed pass."""
    durations = ctx.tracer.durations
    everything = (float("-inf"), float("inf"))

    def per_pass(suffix: str) -> float:
        return sum(v for k, v in totals.items() if k.endswith(suffix)) / passes

    out = {k: 0.0 for k in _layer_units()}
    out.update(
        {
            "session.start_s": durations("session.start", everything)[0],
            "registry.load_s": (durations("registry.load", everything) or [0.0])[0],
            "catalyst.analysis_s": per_pass("plan.analysis_s"),
            "catalyst.optimization_s": per_pass("plan.optimization_s"),
            "catalyst.planning_s": per_pass("plan.planning_s"),
            "exec.jobs": per_pass(".jobs"),
            "exec.stages": per_pass(".stages"),
            "exec.tasks": per_pass(".tasks"),
            "exec.shuffle_mb": per_pass("plan.shuffle_bytes") / 2**20,
            "exec.scan_mb": per_pass("plan.scan_bytes") / 2**20,
        }
    )
    out.update(wl.layer_metrics(spark, window, passes, totals))
    return out


if __name__ == "__main__":
    sys.exit(main())
