"""The four workloads: what each times and how each checks its output.

A workload's timed unit runs through the program's public entry points
only. ``timed`` repeats the unit until the measuring window closes and
returns the unit's wall times; ``check`` compares the program's output with
the in-process reference extractor and with the planted ground truth.
"""

from __future__ import annotations

import collections
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field, replace

import pyarrow.parquet as pq

from perfbench.corpus import Corpus, read_column, sample_rows
from perfbench.trace import Tracer

CHECK_SAMPLE = 256
clock = time.perf_counter


@dataclass
class Outcome:
    """What a workload measured and what its checks found."""

    unit_s: list = field(default_factory=list)  # wall time of each timed unit
    docs_per_unit: int = 0
    failed_units: int = 0
    failed_docs: int = 0  # missing, duplicated or digest-mismatched
    violations: list = field(default_factory=list)
    extra: dict = field(default_factory=dict)  # workload-only e2e metrics
    layer: dict = field(default_factory=dict)  # workload-only layer numbers
    rows: list = field(default_factory=list)  # (branch, parse_ok, kept, dropped)

    @property
    def attempted(self) -> int:
        return self.docs_per_unit * (len(self.unit_s) + self.failed_units)

    @property
    def failed(self) -> int:
        return self.failed_docs + self.docs_per_unit * self.failed_units


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def repeat(seconds: float, min_units: int, unit, outcome: Outcome, warmup: int = 0,
           max_units: int = 64):
    """Run ``unit`` ``warmup`` times untimed, then at least ``min_units``
    times, and more while another unit as long as the last one still fits
    in ``seconds``. A unit that raises counts as a failed pass."""
    for _ in range(warmup):
        try:
            unit()
        except Exception as exc:  # noqa: BLE001 - a failed pass is a result
            outcome.failed_units += 1
            outcome.violations.append(f"warm-up pass failed: {type(exc).__name__}: {exc}")
    end = clock() + seconds
    last = 0.0
    while (len(outcome.unit_s) < min_units or clock() + last <= end) and (
        len(outcome.unit_s) + outcome.failed_units < max_units
    ):
        t = clock()
        try:
            outcome.unit_s.append(unit())
        except Exception as exc:  # noqa: BLE001 - a failed pass is a result
            outcome.failed_units += 1
            outcome.violations.append(f"pass failed: {type(exc).__name__}: {exc}")
        last = clock() - t
    if not outcome.unit_s:
        raise RuntimeError("no timed pass succeeded: " + "; ".join(outcome.violations))


def check_rows(corpus: Corpus, rows: list, outcome: Outcome, plant_mismatch: bool,
               expected_urls: list | None = None) -> int:
    """Exactly-once per url, and the reference digest on the check sample.

    ``rows`` are (url, text_sha256, parse_ok) from the program's output.
    Returns how many sample docs the output held, so were compared.
    """
    from paddle_spark.config import DEFAULT_CONFIG
    from paddle_spark.kernels.extract import extract_document

    expected = set(
        expected_urls if expected_urls is not None else read_column(corpus, "url")
    )
    seen = collections.Counter(r[0] for r in rows)
    missing = sum(1 for u in expected if u not in seen)
    dups = sum(c - 1 for c in seen.values() if c > 1)
    unknown = sum(1 for u in seen if u not in expected)
    by_url = {r[0]: (r[1], r[2]) for r in rows}
    mismatched = hits = 0
    for k, (url, payload) in enumerate(sample_rows(corpus, CHECK_SAMPLE)):
        if url not in by_url:
            continue  # counted as missing above, or curated away
        hits += 1
        got = by_url[url]
        if plant_mismatch and k == 0:
            got = ("0" * 64, got[1])
        ref = extract_document(payload, DEFAULT_CONFIG)
        if got != (ref.text_sha256, ref.parse_ok):
            mismatched += 1
    for what, n in (("missing", missing), ("duplicated", dups),
                    ("unexpected", unknown), ("digest-mismatched", mismatched)):
        if n:
            outcome.violations.append(f"{n} docs {what}")
    outcome.failed_docs += missing + dups + unknown + mismatched
    return hits


# ---------------------------------------------------------------------------


class Workload:
    name = ""
    MIN_UNITS = 1  # timed units a run makes even when the window is shorter
    # untimed units before the window: the first passes of a query shape in
    # a fresh JVM compile its code and are slower than the rest
    WARMUP_UNITS = 0

    def __init__(self, corpus: Corpus, work_dir: str, tracer: Tracer,
                 plant_mismatch: bool = False):
        from paddle_spark.config import DEFAULT_CONFIG

        self.corpus = corpus
        self.work_dir = work_dir
        self.tracer = tracer
        self.plant_mismatch = plant_mismatch
        self.cfg = DEFAULT_CONFIG

    def pages(self, spark):
        return spark.read.parquet(self.corpus.path)

    def prepare(self, spark) -> None:
        """Untimed per-session preparation."""

    def timed(self, spark, seconds: float, outcome: Outcome, min_units: int,
              warmup: int = 0) -> None:
        raise NotImplementedError

    def check(self, spark, outcome: Outcome) -> None:
        raise NotImplementedError


class ExtractNoop(Workload):
    """``extract_pages`` -> noop sink over the whole corpus."""

    MIN_UNITS = 3
    WARMUP_UNITS = 1

    def unit(self, spark):
        from paddle_spark.operators.extract_job import extract_pages

        t = clock()
        with self.tracer.span("unit"):
            noop(extract_pages(self.pages(spark), self.cfg))
        return clock() - t

    def timed(self, spark, seconds, outcome, min_units, warmup=0):
        outcome.docs_per_unit = self.corpus.n_rows
        repeat(seconds, min_units, lambda: self.unit(spark), outcome, warmup)

    def check(self, spark, outcome):
        from paddle_spark.operators.extract_job import extract_pages

        out = extract_pages(self.pages(spark), self.cfg).select(
            "url", "text_sha256", "parse_ok", "branch", "n_blocks_kept",
            "n_blocks_dropped",
        ).collect()
        check_rows(self.corpus, [(r[0], r[1], r[2]) for r in out], outcome,
                   self.plant_mismatch)
        outcome.rows = [(r[3], r[2], r[4], r[5]) for r in out]


class CrawlMix(ExtractNoop):
    """The production mix. Each timed unit is one 4-task pass over the
    corpus. After the units, a 1-task pass over one part file (a quarter
    of the corpus) gives the scaling efficiency."""

    name = "crawl_mix"
    MIN_UNITS = 4

    def single_task_pass(self, spark):
        from paddle_spark.operators.extract_job import extract_pages

        quarter = spark.read.parquet(self.corpus.files[0]).coalesce(1)
        t = clock()
        with self.tracer.span("unit.single_task"):
            noop(extract_pages(quarter, self.cfg, shuffle=False))
        return clock() - t

    def timed(self, spark, seconds, outcome, min_units, warmup=0):
        super().timed(spark, seconds, outcome, min_units, warmup)
        n_quarter = pq.ParquetFile(self.corpus.files[0]).metadata.num_rows
        rate4 = self.corpus.n_rows / statistics.median(outcome.unit_s)
        rate1 = n_quarter / self.single_task_pass(spark)
        outcome.extra["scaling_eff"] = (rate4 / (4 * rate1), "ratio")


class PdfLayout(ExtractNoop):
    name = "pdf_layout"


class JobResume(Workload):
    """Once per window, a grouped run crashed by ``fail_batch_marker`` in
    the last bucket group and its resume with the same run id; then an
    untimed warm-up and the timed unit, a clean ``run_extract_job`` to
    partitioned parquet plus checkpoint. The crash and resume go first because they also compile
    the write path, which the clean units would otherwise pay for."""

    name = "job_resume"
    MIN_UNITS = 3
    WARMUP_UNITS = 1
    N_BUCKETS = 8
    N_GROUPS = 2

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        from paddle_spark.config import ExtractConfig

        self.cfg = ExtractConfig(n_buckets=self.N_BUCKETS)
        self.victim = None
        self.cycles = 0
        self.clean = self.resumed = None

    def prepare(self, spark):
        from pyspark.sql import functions as F

        from paddle_spark.functions import url_bucket_col

        b = url_bucket_col(F.col("url"), self.cfg.n_buckets, self.cfg.salt)
        self.victim = (
            self.pages(spark).withColumn("b", b)
            .filter(F.col("b") % self.N_GROUPS == self.N_GROUPS - 1)
            .agg(F.min("url")).first()[0]
        )

    def _dirs(self, name: str) -> tuple[str, str]:
        base = os.path.join(self.work_dir, name)
        return os.path.join(base, "out"), os.path.join(base, "cp")

    def clean_unit(self, spark) -> float:
        """One clean job into fresh directories; earlier ones are dropped."""
        from paddle_spark.operators import checkpoint

        k = self.cycles
        self.cycles += 1
        shutil.rmtree(os.path.join(self.work_dir, f"clean{k - 1}"), ignore_errors=True)
        out, cp = self._dirs(f"clean{k}")
        t = clock()
        with self.tracer.span("unit"):
            s = checkpoint.run_extract_job(
                spark, self.pages(spark), out, cp, run_id=f"clean{k}", cfg=self.cfg
            )
        dt = clock() - t
        if s["n_docs"] != self.corpus.n_rows:
            raise RuntimeError(f"clean run extracted {s['n_docs']} docs")
        return dt

    def crash_and_resume(self, spark, outcome: Outcome) -> None:
        from paddle_spark.operators import checkpoint

        name = f"resume{self.cycles}"
        shutil.rmtree(os.path.join(self.work_dir, name), ignore_errors=True)
        out, cp = self._dirs(name)
        crashed = False
        try:
            with self.tracer.span("job.crash"):
                checkpoint.run_extract_job_grouped(
                    spark, self.pages(spark), out, cp, run_id=name,
                    cfg=replace(self.cfg, fail_batch_marker=self.victim),
                    n_groups=self.N_GROUPS,
                )
        except Exception:  # noqa: BLE001 - the injected crash
            crashed = True
        if not crashed:
            outcome.violations.append("injected crash did not fail the run")
            outcome.failed_docs += self.corpus.n_rows
        committed = _checkpoint_docs(cp, name)
        t = clock()
        with self.tracer.span("job.resume"):
            s = checkpoint.run_extract_job_grouped(
                spark, self.pages(spark), out, cp, run_id=name, cfg=self.cfg,
                n_groups=self.N_GROUPS,
            )
        outcome.extra["resume_s"] = (clock() - t, "s")
        # the crash hit the last group, so the resume must skip exactly the
        # buckets of the groups before it and extract only the rest
        if s["buckets_skipped"] != self.N_BUCKETS // self.N_GROUPS:
            outcome.violations.append(
                f"resume skipped {s['buckets_skipped']} buckets, expected "
                f"{self.N_BUCKETS // self.N_GROUPS}")
            outcome.failed_docs += max(1, committed)
        if s["n_docs"] != self.corpus.n_rows - committed:
            outcome.violations.append(
                f"resume extracted {s['n_docs']} docs, expected "
                f"{self.corpus.n_rows - committed} not yet committed")
            outcome.failed_docs += max(1, abs(s["n_docs"] - (self.corpus.n_rows - committed)))
        outcome.layer["buckets_skipped"] = s["buckets_skipped"]
        outcome.layer["resume_useful_ratio"] = (
            (self.corpus.n_rows - committed) / s["n_docs"] if s["n_docs"] else 0.0
        )
        self.resumed = out

    def timed(self, spark, seconds, outcome, min_units, warmup=0):
        outcome.docs_per_unit = self.corpus.n_rows
        self.crash_and_resume(spark, outcome)
        repeat(seconds, min_units, lambda: self.clean_unit(spark), outcome, warmup)
        self.clean = self._dirs(f"clean{self.cycles - 1}")[0]
        files = [
            os.path.join(d, f)
            for d, _, fs in os.walk(self.clean) for f in fs if f.endswith(".parquet")
        ]
        outcome.extra["out_bytes_per_doc"] = (
            sum(map(os.path.getsize, files)) / self.corpus.n_rows, "bytes")
        outcome.layer["files_written"] = len(files)

    def check(self, spark, outcome):
        cols = ["url", "text_sha256", "parse_ok", "branch", "n_blocks_kept",
                "n_blocks_dropped"]
        clean = pq.read_table(self.clean, columns=cols).to_pylist()
        resumed = pq.read_table(self.resumed, columns=cols).to_pylist()
        key = lambda r: (r["url"], r["text_sha256"], r["parse_ok"])  # noqa: E731
        check_rows(self.corpus, [key(r) for r in clean], outcome, self.plant_mismatch)
        differ = collections.Counter(map(key, clean))
        differ.subtract(collections.Counter(map(key, resumed)))
        n_diff = sum(abs(v) for v in differ.values())
        if n_diff:
            outcome.violations.append(f"{n_diff} rows differ between clean and resumed output")
            outcome.failed_docs += n_diff
        outcome.rows = [(r["branch"], r["parse_ok"], r["n_blocks_kept"],
                         r["n_blocks_dropped"]) for r in clean]


def _checkpoint_docs(cp_dir: str, run_id: str) -> int:
    """Docs the checkpoint table records as committed for ``run_id``."""
    if not os.path.isdir(cp_dir):
        return 0
    t = pq.read_table(cp_dir, columns=["run_id", "n_docs", "status"]).to_pylist()
    return sum(r["n_docs"] for r in t if r["run_id"] == run_id and r["status"] == "success")


class CurateFunnel(Workload):
    """``curate()`` -> noop over the crawl mix with planted duplicates."""

    name = "curate_funnel"
    WARMUP_UNITS = 2

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.last = None

    def unit(self, spark, outcome):
        from paddle_spark.operators.curate import curate

        persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
        t = clock()
        with self.tracer.span("unit"):
            curated, counts = curate(self.pages(spark), self.cfg)
            with self.tracer.span("curate.output"):
                noop(curated)
        dt = clock() - t
        self.last = (curated, counts)
        leaked = spark.sparkContext._jsc.getPersistentRDDs().size() - persisted
        outcome.layer["leaked_persists"] = max(leaked, outcome.layer.get("leaked_persists", 0))
        return dt

    def timed(self, spark, seconds, outcome, min_units, warmup=0):
        outcome.docs_per_unit = self.corpus.n_rows
        repeat(seconds, min_units, lambda: self.unit(spark, outcome), outcome, warmup)
        outcome.layer["funnel"] = self.last[1]

    def check(self, spark, outcome):
        curated_df, counts = self.last
        curated = curated_df.select("url", "text_sha256").collect()
        urls = [r[0] for r in curated]
        survivors = set(urls)
        if not survivors:
            outcome.violations.append("curate returned no docs")
            outcome.failed_docs += self.corpus.n_rows
            return
        kept_copies = sum(1 for _, copy in self.corpus.exact_pairs if copy in survivors)
        if kept_copies:
            outcome.violations.append(f"{kept_copies} planted exact copies survived curate")
            outcome.failed_docs += kept_copies
        # every planted source passes the gates and sorts before its copies
        # (corpus.curate_plan), so a source that is gone was lost
        sources = {src for src, _ in self.corpus.exact_pairs + self.corpus.near_pairs}
        lost = sum(1 for src in sources if src not in survivors)
        if lost:
            outcome.violations.append(f"{lost} planted duplicate sources lost by curate")
            outcome.failed_docs += lost
        # every curated url once, each a corpus url; digests on the sample
        hits = check_rows(self.corpus, [(r[0], r[1], True) for r in curated], outcome,
                          self.plant_mismatch, expected_urls=urls)
        if not hits:
            outcome.violations.append("no sample doc survived curate: digests unchecked")
            outcome.failed_docs += 1
        all_urls = set(read_column(self.corpus, "url"))
        strangers = sum(1 for u in survivors if u not in all_urls)
        if strangers:
            outcome.violations.append(f"{strangers} curated urls not in the corpus")
            outcome.failed_docs += strangers
        # the funnel counts curate reports agree with its input and output
        funnel = [counts[k] for k in ("docs_in", "extracted_ok", "after_lang",
                                      "after_quality", "after_exact_dedup",
                                      "after_near_dedup")]
        if (funnel[0] != self.corpus.n_rows or funnel[-1] != len(urls)
                or funnel != sorted(funnel, reverse=True)):
            outcome.violations.append(f"funnel counts {funnel} disagree with "
                                      f"{self.corpus.n_rows} docs in, {len(urls)} out")
            outcome.failed_docs += 1


WORKLOADS = {w.name: w for w in (CrawlMix, PdfLayout, JobResume, CurateFunnel)}
