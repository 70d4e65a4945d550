"""Per-layer metrics of a traced run.

Each metric belongs to one module of the program and names the end-to-end
metric it should move (README.md). A metric whose layer a workload does not
exercise reads 0 and gets a reason in ``absent``.
"""

from __future__ import annotations

import re
import statistics
import time

import pyarrow.parquet as pq

from perfbench.trace import EventLog, Shims, Tracer, stage_summary
from perfbench.workloads import Outcome, noop

MB = 1024 * 1024

# (name, unit) in print order
PER_LAYER = [
    ("plans.session_s", "s"),
    ("plans.warmup_s", "s"),
    ("extract_job.scan_s", "s"),
    ("extract_job.scan_bytes", "bytes"),
    ("extract_job.shuffle_taken", "count"),
    ("extract_job.shuffle_write_bytes", "bytes"),
    ("extract_job.shuffle_read_bytes", "bytes"),
    ("extract_job.boundary_pandas_s", "s"),
    ("extract_job.boundary_arrow_s", "s"),
    ("extract_job.to_python_bytes", "bytes"),
    ("extract_job.from_python_bytes", "bytes"),
    ("extract_job.stage_run_s", "s"),
    ("extract_job.stage_cpu_s", "s"),
    ("extract_job.stage_gc_s", "s"),
    ("extract_job.task_p50_s", "s"),
    ("extract_job.task_max_s", "s"),
    ("extract_job.kernel_share", "ratio"),
    ("kernels.html.extract_html.us_per_doc", "us"),
    ("kernels.html.segment_blocks.us_per_doc", "us"),
    ("kernels.layout.extract_layout.us_per_doc", "us"),
    ("kernels.layout.pdf_pages.us_per_doc", "us"),
    ("kernels.layout.process_page.us_per_page", "us"),
    ("kernels.classify.us_per_doc", "us"),
    ("kernels.extract.sha256.us_per_doc", "us"),
    ("kernels.docs.html", "count"),
    ("kernels.docs.layout", "count"),
    ("kernels.docs.none", "count"),
    ("kernels.parse_fail", "count"),
    ("kernels.blocks_kept_ratio", "ratio"),
    ("checkpoint.completed_buckets_s", "s"),
    ("checkpoint.write_extracted_s", "s"),
    ("checkpoint.append_checkpoint_s", "s"),
    ("checkpoint.metrics_read_s", "s"),
    ("checkpoint.files_written", "count"),
    ("checkpoint.buckets_skipped", "count"),
    ("checkpoint.resume_useful_ratio", "ratio"),
    ("curate.extract_persist_s", "s"),
    ("curate.lang_gate_s", "s"),
    ("curate.quality_gate_s", "s"),
    ("curate.exact_dedup_s", "s"),
    ("curate.near_dedup_s", "s"),
    ("curate.output_s", "s"),
    ("curate.spark_jobs", "count"),
    ("curate.shuffle_write_bytes", "bytes"),
    ("curate.spill_bytes", "bytes"),
    ("curate.leaked_persists", "count"),
    ("dedup.minhash.candidate_pairs", "count"),
    ("dedup.minhash.useful_ratio", "ratio"),
    ("proc.jvm_rss_mb", "MB"),
    ("proc.python_rss_mb", "MB"),
    ("proc.python_workers", "count"),
    ("trace.overhead_ratio", "ratio"),
]

# funnel key whose count ends each curate stage, in funnel order
_CURATE_STAGES = [
    ("extracted_ok", "curate.extract_persist_s"),
    ("after_lang", "curate.lang_gate_s"),
    ("after_quality", "curate.quality_gate_s"),
    ("after_exact_dedup", "curate.exact_dedup_s"),
    ("after_near_dedup", "curate.near_dedup_s"),
]


def identity(batches):
    """The boundary probes' UDF body: hand every batch straight back."""
    yield from batches


def boundary_probes(pages, tracer: Tracer, reps: int = 3) -> dict:
    """Median wall time of a scan of the columns extract_pages reads, and of
    the same scan through an identity ``mapInPandas`` and ``mapInArrow``.
    The scan alone hashes every value, so each column is really read."""
    from pyspark.sql import functions as F

    cols = pages.select("url", "warc_ts", "html", "lang")
    plans = {
        "scan": lambda: cols.select(F.xxhash64(*cols.columns).alias("h")),
        "pandas": lambda: cols.mapInPandas(identity, cols.schema),
        "arrow": lambda: cols.mapInArrow(identity, cols.schema),
    }
    times: dict[str, list[float]] = {k: [] for k in plans}
    for _ in range(reps):
        for name, plan in plans.items():
            t = time.perf_counter()
            with tracer.span(f"probe.{name}"):
                noop(plan())
            times[name].append(time.perf_counter() - t)
    return {k: statistics.median(v) for k, v in times.items()}


def extract_probe(wl, spark, tracer: Tracer, reps: int = 3) -> float:
    """Fastest of ``reps`` ``extract_pages`` -> noop passes over the corpus."""
    from paddle_spark.operators.extract_job import extract_pages

    best = float("inf")
    for _ in range(reps):
        t = time.perf_counter()
        with tracer.span("probe.extract"):
            noop(extract_pages(wl.pages(spark), wl.cfg))
        best = min(best, time.perf_counter() - t)
    return best


def collect_live(workload: str, shims: Shims, outcome: Outcome, corpus_files) -> dict:
    """The layer facts that need the live session, read before it stops:
    whether the timed extraction planned a shuffle, what its scan reads,
    the per-branch rows of curate's extraction, and the MinHash candidate
    pairs."""
    frames = [df for df, where in shims.extract_frames if "unit" in where]
    plan = _plan(frames[0])
    live = {
        "shuffle_taken": int("Exchange" in plan),
        "scan_bytes": _read_schema_bytes(plan, corpus_files),
        "pairs": set(),
    }
    if workload == "curate_funnel":
        outcome.rows = [
            tuple(r) for r in frames[0].select(
                "branch", "parse_ok", "n_blocks_kept", "n_blocks_dropped"
            ).collect()
        ]
        live["pairs"] = {tuple(sorted(r)) for r in shims.pair_frames[-1][0].collect()}
    return live


def _median_summary(ev: EventLog, spans) -> dict:
    sums = [stage_summary(ev.stages_in(s)) for s in spans]
    return {k: statistics.median(d[k] for d in sums) for k in sums[0]}


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


_READ_SCHEMA = re.compile(r"ReadSchema: struct<([^>]*)>")


def _read_schema_bytes(plan: str, files) -> int:
    """Compressed parquet bytes of the columns the plan's scan reads.
    (Spark's task input metrics do not count local parquet reads here.)"""
    m = _READ_SCHEMA.search(plan)
    if not m:
        return 0
    cols = {f.split(":", 1)[0] for f in m.group(1).split(",")}
    total = 0
    for path in files:
        meta = pq.ParquetFile(path).metadata
        for rg in range(meta.num_row_groups):
            group = meta.row_group(rg)
            for c in range(group.num_columns):
                chunk = group.column(c)
                if chunk.path_in_schema in cols:
                    total += chunk.total_compressed_size
    return total


def assemble(
    *, workload: str, cold: tuple[float, float], probes: dict, ev: EventLog,
    tracer: Tracer, live: dict, kernels: dict, outcome: Outcome,
    overhead: float, sampler, near_pairs,
) -> tuple[dict, dict]:
    """Return ({name: value}, {name: reason absent})."""
    m: dict[str, float] = dict.fromkeys((n for n, _ in PER_LAYER), 0)
    absent: dict[str, str] = {}
    units = tracer.named("unit")

    m["plans.session_s"], m["plans.warmup_s"] = cold

    m["extract_job.scan_s"] = probes["scan"]
    m["extract_job.scan_bytes"] = live["scan_bytes"]
    m["extract_job.boundary_pandas_s"] = probes["pandas"] - probes["scan"]
    m["extract_job.boundary_arrow_s"] = probes["arrow"] - probes["scan"]
    m["extract_job.shuffle_taken"] = live["shuffle_taken"]
    unit_stats = _median_summary(ev, units)
    for key in ("shuffle_write_bytes", "shuffle_read_bytes", "to_python_bytes",
                "from_python_bytes", "stage_run_s", "stage_cpu_s", "stage_gc_s",
                "task_p50_s", "task_max_s"):
        m[f"extract_job.{key}"] = unit_stats[key]

    sec, cnt = kernels["seconds"], kernels["counts"]
    kernel_s = sec["extract_document"] / cnt["docs"] * outcome.docs_per_unit
    m["extract_job.kernel_share"] = kernel_s / unit_stats["stage_run_s"]
    per = {
        "kernels.html.extract_html.us_per_doc": ("extract_html", "html"),
        "kernels.html.segment_blocks.us_per_doc": ("segment_blocks", "html"),
        "kernels.layout.extract_layout.us_per_doc": ("extract_layout", "pdf"),
        "kernels.layout.pdf_pages.us_per_doc": ("pdf_pages", "pdf"),
        "kernels.layout.process_page.us_per_page": ("process_page", "pages"),
        "kernels.classify.us_per_doc": ("classify", "docs"),
        "kernels.extract.sha256.us_per_doc": ("sha256", "docs"),
    }
    for name, (k, c) in per.items():
        if cnt[c]:
            m[name] = sec[k] / cnt[c] * 1e6
        else:
            absent[name] = f"the kernel sample holds no {c} docs"
    rows = outcome.rows
    for branch in ("html", "layout", "none"):
        m[f"kernels.docs.{branch}"] = sum(1 for r in rows if r[0] == branch)
    m["kernels.parse_fail"] = sum(1 for r in rows if not r[1])
    kept = sum(r[2] for r in rows)
    total = kept + sum(r[3] for r in rows)
    m["kernels.blocks_kept_ratio"] = kept / total if total else 0.0

    if workload == "job_resume":
        _checkpoint(m, tracer, outcome)
    else:
        for name, _ in PER_LAYER:
            if name.startswith("checkpoint."):
                absent[name] = "only job_resume runs operators.checkpoint"

    if workload == "curate_funnel":
        _curate(m, absent, tracer, ev, live["pairs"], outcome, near_pairs)
    else:
        for name, _ in PER_LAYER:
            if name.startswith(("curate.", "dedup.")):
                absent[name] = "only curate_funnel runs operators.curate"

    m["proc.jvm_rss_mb"] = sampler.peak_jvm / MB
    m["proc.python_rss_mb"] = sampler.peak_python / MB
    m["proc.python_workers"] = sampler.max_workers
    m["trace.overhead_ratio"] = overhead
    return m, absent


def _checkpoint(m: dict, tracer: Tracer, outcome: Outcome) -> None:
    """Seconds in each phase of the clean ``run_extract_job`` (the timed
    unit), medians over units: the resume check until the write starts, the
    partitioned write, the metrics read between write and checkpoint append,
    and the append."""
    phases = []
    for unit in tracer.named("unit"):
        run = tracer.children(unit, "checkpoint.run_extract_job")[0]
        write = tracer.children(run, "checkpoint.write_extracted")[0]
        append = tracer.children(run, "checkpoint.append_checkpoint")[0]
        phases.append({
            "checkpoint.completed_buckets_s": write.start - run.start,
            "checkpoint.write_extracted_s": write.seconds,
            "checkpoint.metrics_read_s": append.start - write.end,
            "checkpoint.append_checkpoint_s": append.seconds,
        })
    for name in phases[0]:
        m[name] = statistics.median(p[name] for p in phases)
    for key in ("files_written", "buckets_skipped", "resume_useful_ratio"):
        m[f"checkpoint.{key}"] = outcome.layer[key]


def _curate(m, absent, tracer, ev, pairs, outcome, near_pairs) -> None:
    """Funnel stage seconds: the wall time from the end of one stage's
    count to the end of the next, per timed unit, medians over units.
    A stage whose bounding counts left no span (``curate.py`` no longer
    calls ``counts[key] = ....count()`` on one line) is put in ``absent``."""
    per_unit: list[dict] = []
    for unit in tracer.named("unit"):
        ends = {
            s.name.rsplit(".", 1)[1]: s.end
            for s in tracer.spans
            if s.parent == unit.id and s.name.startswith("curate.count.")
        }
        prev = "docs_in"
        row = {}
        for key, name in _CURATE_STAGES:
            if prev in ends and key in ends:
                row[name] = ends[key] - ends[prev]
            else:
                lost = key if key not in ends else prev
                absent[name] = (f"no span for the funnel count {lost!r}: its call "
                                "site in operators/curate.py was not recognised")
            prev = key
        row["curate.output_s"] = tracer.children(unit, "curate.output")[0].seconds
        stats = stage_summary(ev.stages_in(unit))
        row["curate.spark_jobs"] = ev.jobs_in(unit)
        row["curate.shuffle_write_bytes"] = stats["shuffle_write_bytes"]
        row["curate.spill_bytes"] = stats["spill_bytes"]
        per_unit.append(row)
    for name in per_unit[0]:
        if name not in absent:
            m[name] = statistics.median(r[name] for r in per_unit if name in r)
    m["curate.leaked_persists"] = outcome.layer["leaked_persists"]
    planted = {tuple(sorted(p)) for p in near_pairs}
    m["dedup.minhash.candidate_pairs"] = len(pairs)
    m["dedup.minhash.useful_ratio"] = len(pairs & planted) / len(pairs) if pairs else 0.0
