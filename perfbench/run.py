"""Extraction benchmark for paddle_spark.

    python3 perfbench/run.py --workload crawl_mix --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. Generates (or reuses) the workload's seeded
corpus, sets up the Spark session, runs the workload's timed unit for
``--seconds``, checks the program's output and prints, as the last
line, one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``. With ``--trace 0`` the metrics are the end-to-end ones of
BENCHMARK.json; with ``--trace 1`` they are the per-layer ones, and the spans
and event-log table go to ``.bench_work/trace/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DEADLINE_S = 170  # a run must end within 180 s; past this it kills itself

END_TO_END = [("docs_per_s", "docs/s"), ("setup_s", "s")]


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["crawl_mix", "pdf_layout", "job_resume", "curate_funnel"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="corpus size relative to the default (tests use a tiny one)")
    ap.add_argument("--plant-digest-mismatch", action="store_true",
                    help="corrupt one output digest before the check (tests the check)")
    return ap.parse_args(argv)


def start_watchdog() -> threading.Timer:
    """Stop every process the run started and exit if it overstays its deadline."""

    def fire():
        from perfbench.host import stop_descendants

        print(f"perfbench: run exceeded {DEADLINE_S} s, aborting", file=sys.stderr)
        stop_descendants(grace=2)
        os._exit(3)

    timer = threading.Timer(DEADLINE_S, fire)
    timer.daemon = True
    timer.start()
    return timer


def setup(wl, conf: dict, app: str, state: dict):
    """Build the session and warm it up: start the Python workers and run
    the extraction kernels once. Returns (spark, session_s, warmup_s)."""
    from pyspark import SparkContext
    from pyspark.sql import functions as F

    from paddle_spark.operators.extract_job import extract_pages
    from paddle_spark.plans import build_session
    from perfbench.host import nproc
    from perfbench.workloads import noop

    t0 = time.perf_counter()
    spark = build_session(app, cores=nproc(), shuffle_partitions=nproc(), extra_conf=conf)
    t1 = time.perf_counter()
    state["gateway_proc"] = SparkContext._gateway.proc
    # ~64 docs spread over every scan partition, so each task slot starts
    # its Python worker; a limit() would funnel them into one partition
    every = max(1, wl.corpus.n_rows // 64)
    sample = wl.pages(spark).where(F.abs(F.xxhash64("url")) % every == 0)
    noop(extract_pages(sample, wl.cfg, shuffle=False))
    return spark, t1 - t0, time.perf_counter() - t1


def shutdown(spark, state: dict) -> None:
    """Stop the session, then the JVM gateway process, and wait for it."""
    import subprocess

    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = state.pop("gateway_proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)


def fmt(name: str, value, unit: str) -> str:
    return f"{name}={value:.6g} {unit}"


def run(args, work: str, state: dict) -> tuple[dict, list[str]]:
    from perfbench import corpus as corpora
    from perfbench import host
    from perfbench.layers import (
        PER_LAYER, assemble, boundary_probes, collect_live, extract_probe,
    )
    from perfbench.trace import Shims, Tracer, read_event_log, time_kernels
    from perfbench.workloads import WORKLOADS, Outcome

    name = args.workload
    t_start = time.perf_counter()
    phases: dict[str, float] = {}
    corpus = corpora.ensure_corpus(
        os.path.join(ROOT, ".bench_cache"), name,
        corpora.n_rows_for(name, args.scale), args.seed, host.nproc(),
    )
    tracer = Tracer(bool(args.trace), f"{name}-seed{args.seed}")
    wl = WORKLOADS[name](corpus, os.path.join(work, "job"), tracer,
                         args.plant_digest_mismatch)
    phases["corpus_s"] = time.perf_counter() - t_start
    sampler = host.Sampler()
    sampler.start()
    lines: list[str] = []
    try:
        conf = host.session_conf(work, None)
        spark, session_s, warmup_s = setup(wl, conf, "perfbench", state)
        java = spark._jvm.System.getProperty("java.version")
        phases["setup_s"] = session_s + warmup_s
        outcome = Outcome()
        if not args.trace:
            wl.prepare(spark)
            t = time.perf_counter()
            wl.timed(spark, args.seconds, outcome, min_units=wl.MIN_UNITS,
                     warmup=wl.WARMUP_UNITS)
            phases["timed_s"] = time.perf_counter() - t
            wl.check(spark, outcome)
            phases["check_s"] = time.perf_counter() - t - phases["timed_s"]
            shutdown(spark, state)
        else:
            # trace.overhead_ratio: each extraction probe runs right after a
            # fresh session in the now warm JVM, in the order untraced,
            # traced, traced, untraced, so neither JVM warmth nor session
            # state favours one side. The second traced session also runs
            # the workload, and its event log is the one read.
            untraced_conf = host.session_conf(work, None)
            log_dir = os.path.join(work, "eventlog")
            probe_log = os.path.join(work, "eventlog-probe")
            os.makedirs(log_dir)
            os.makedirs(probe_log)
            probe_s = {False: 0.0, True: 0.0}
            for traced, probe_conf in ((False, untraced_conf),
                                       (True, host.session_conf(work, probe_log)),
                                       (True, host.session_conf(work, log_dir))):
                spark.stop()
                spark, _, _ = setup(wl, probe_conf, "perfbench-trace", state)
                tracer.enabled = traced
                probe_s[traced] += extract_probe(wl, spark, tracer)
            shims = Shims(tracer)
            shims.install(type(spark.range(1)))
            try:
                wl.prepare(spark)
                wl.timed(spark, args.seconds / 2, outcome, min_units=2)
                probes = boundary_probes(wl.pages(spark), tracer)
                wl.check(spark, outcome)
                live = collect_live(name, shims, outcome, corpus.files)
            finally:
                shims.remove()
            spark.stop()
            spark, _, _ = setup(wl, untraced_conf, "perfbench-trace", state)
            tracer.enabled = False
            probe_s[False] += extract_probe(wl, spark, tracer)
            shutdown(spark, state)
            overhead = probe_s[True] / probe_s[False]
            ev = read_event_log(log_dir)
            kernels = time_kernels(corpora.sample_rows(corpus, 300), wl.cfg)
    finally:
        sampler.stop()

    ctx = host.context(sampler, java)
    lines.append("perfbench host: " + json.dumps(ctx))
    phases["total_s"] = time.perf_counter() - t_start
    lines.append("perfbench phases: " + "  ".join(fmt(k, v, "s") for k, v in phases.items())
                 + "  units_s=" + ",".join(f"{u:.3f}" for u in outcome.unit_s))
    failed_ratio = outcome.failed / outcome.attempted
    if not args.trace:
        metrics = {
            "docs_per_s": corpus.n_rows / statistics.median(outcome.unit_s),
            "setup_s": session_s + warmup_s,
        }
        units = dict(END_TO_END)
        e2e = [fmt(k, v, units[k]) for k, v in metrics.items()]
        e2e.append(fmt("peak_rss_mb", sampler.peak_total / (1024 * 1024), "MB"))
        e2e.append(fmt("failed_ratio", failed_ratio, "ratio"))
        e2e += [fmt(k, v, u) for k, (v, u) in outcome.extra.items()]
        lines.append(f"perfbench e2e {name}: " + "  ".join(e2e))
        out_metrics = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
    else:
        values, absent = assemble(
            workload=name, cold=(session_s, warmup_s), probes=probes, ev=ev,
            tracer=tracer, live=live, kernels=kernels, outcome=outcome,
            overhead=overhead, sampler=sampler, near_pairs=corpus.near_pairs,
        )
        units = dict(PER_LAYER)
        lines.append(f"perfbench layers {name}: " + "  ".join(
            fmt(k, values[k], units[k]) for k, _ in PER_LAYER if k not in absent))
        lines.append(f"perfbench absent {name}: " + json.dumps(absent))
        trace_dir = os.path.join(ROOT, ".bench_work", "trace")
        os.makedirs(trace_dir, exist_ok=True)
        trace_path = os.path.join(trace_dir, f"{tracer.trace_id}.json")
        tracer.write(trace_path, {
            "host": ctx, "layers": values, "absent": absent,
            "stages": [vars(s) for s in ev.stages], "sql": ev.sql,
        })
        lines.append(f"perfbench trace written: {os.path.relpath(trace_path, ROOT)}")
        out_metrics = {k: {"value": values[k], "unit": u} for k, u in PER_LAYER}
    for v in outcome.violations:
        lines.append(f"perfbench violation: {v}")
    result = {
        "correct": outcome.failed == 0 and not outcome.violations,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": out_metrics,
    }
    return result, lines


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "paddle_spark")):
        print(f"perfbench: no paddle_spark package in {ROOT}; run it from the root "
              "of a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # every JVM the run starts (the spark-submit launcher and the driver)
    # keeps its temp files, and writes no perf-data file, outside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        [os.environ.get("JAVA_TOOL_OPTIONS", ""), "-XX:-UsePerfData",
         f"-Djava.io.tmpdir={tmp}"]).strip()
    # it would override spark.local.dir, which keeps shuffle files in `work`
    os.environ.pop("SPARK_LOCAL_DIRS", None)
    from perfbench.host import adopt_orphans, stop_descendants

    adopt_orphans()
    state: dict = {}
    timer = start_watchdog()
    try:
        result, lines = run(args, work, state)
    finally:
        timer.cancel()
        proc = state.pop("gateway_proc", None)
        if proc is not None:  # the run failed before shutdown()
            proc.stdin.close()
        # the JVM, the Python workers under it and anything they left
        left = stop_descendants(grace=30)
        shutil.rmtree(work, ignore_errors=True)
    if left:
        print("perfbench: stopped processes still running at the end: "
              + ", ".join(sorted(left)), file=sys.stderr)
    for line in lines:
        print(line)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
