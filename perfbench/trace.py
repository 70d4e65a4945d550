"""Spans, the Spark event-log table and the in-process layer shims.

Everything here runs in the benchmark's own process, around calls into the
program's public functions. No program file is edited: the checkpoint and
curate shims replace module attributes for the length of a traced run and
put the originals back afterwards.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float  # epoch seconds, the clock the Spark event log uses
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Keeps spans in memory; ``write`` dumps them when the run ends.
    A disabled tracer records nothing."""

    def __init__(self, enabled: bool, trace_id: str):
        self.enabled = enabled
        self.trace_id = trace_id
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        s = Span(len(self.spans), name, self._stack[-1] if self._stack else None,
                 time.time())
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def open_names(self) -> tuple[str, ...]:
        """Names of the open spans, outermost first."""
        return tuple(self.spans[i].name for i in self._stack)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def children(self, parent: Span, name: str) -> list[Span]:
        return [s for s in self.spans if s.parent == parent.id and s.name == name]

    def write(self, path: str, extra: dict) -> None:
        doc = {
            "trace_id": self.trace_id,
            "spans": [vars(s) for s in self.spans],
            **extra,
        }
        with open(path, "w") as f:
            json.dump(doc, f, indent=1, default=str)


# ---------------------------------------------------------------------------
# Spark event log -> one record per stage and per SQL execution
# ---------------------------------------------------------------------------

_PY_SENT = "data sent to Python workers"
_PY_RETURNED = "data returned from Python workers"


@dataclass
class StageRecord:
    stage_id: int
    submit_ms: int
    complete_ms: int
    n_tasks: int
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    to_python_bytes: int = 0
    from_python_bytes: int = 0
    task_ms: list = field(default_factory=list)


@dataclass
class EventLog:
    stages: list[StageRecord]
    jobs: list[tuple[int, int, int]]  # (job id, submit ms, end ms)
    sql: list[dict]  # {"id", "description", "start_ms", "end_ms"}

    def stages_in(self, span: Span) -> list[StageRecord]:
        a, b = span.start * 1000 - 1, span.end * 1000 + 1
        return [s for s in self.stages if a <= s.submit_ms <= b]

    def jobs_in(self, span: Span) -> int:
        a, b = span.start * 1000 - 1, span.end * 1000 + 1
        return sum(1 for _, t0, _ in self.jobs if a <= t0 <= b)


def read_event_log(log_dir: str) -> EventLog:
    """Parse the (uncompressed, non-rolling) event log the benchmark's own
    session wrote into ``log_dir``."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    stages: dict[tuple[int, int], StageRecord] = {}
    tasks: dict[tuple[int, int], list[dict]] = {}
    jobs: dict[int, list[int]] = {}
    sql: dict[int, dict] = {}
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerTaskEnd":
                key = (ev["Stage ID"], ev["Stage Attempt ID"])
                tasks.setdefault(key, []).append(ev)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                key = (info["Stage ID"], info["Stage Attempt ID"])
                stages[key] = StageRecord(
                    info["Stage ID"], info.get("Submission Time", 0),
                    info.get("Completion Time", 0), info["Number of Tasks"],
                )
            elif kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = [ev["Submission Time"], 0]
            elif kind == "SparkListenerJobEnd":
                jobs.setdefault(ev["Job ID"], [0, 0])[1] = ev["Completion Time"]
            elif kind.endswith("SQLExecutionStart"):
                sql[ev["executionId"]] = {
                    "id": ev["executionId"], "description": ev["description"],
                    "start_ms": ev["time"], "end_ms": 0,
                }
            elif kind.endswith("SQLExecutionEnd"):
                if ev["executionId"] in sql:
                    sql[ev["executionId"]]["end_ms"] = ev["time"]
    for key, rec in stages.items():
        for t in tasks.get(key, []):
            m = t.get("Task Metrics") or {}
            info = t["Task Info"]
            rec.task_ms.append(info["Finish Time"] - info["Launch Time"])
            rec.run_ms += m.get("Executor Run Time", 0)
            rec.cpu_ns += m.get("Executor CPU Time", 0)
            rec.gc_ms += m.get("JVM GC Time", 0)
            rec.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            sw = m.get("Shuffle Write Metrics") or {}
            rec.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            rec.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            for acc in info.get("Accumulables", []):
                if acc.get("Name") == _PY_SENT:
                    rec.to_python_bytes += int(acc.get("Update", 0))
                elif acc.get("Name") == _PY_RETURNED:
                    rec.from_python_bytes += int(acc.get("Update", 0))
    return EventLog(
        stages=sorted(stages.values(), key=lambda s: s.submit_ms),
        jobs=sorted((j, t[0], t[1]) for j, t in jobs.items()),
        sql=sorted(sql.values(), key=lambda r: r["start_ms"]),
    )


def stage_summary(records: list[StageRecord]) -> dict:
    """Totals over the stages of one timed pass."""
    task_ms = [t for r in records for t in r.task_ms] or [0]
    return {
        "stage_run_s": sum(r.run_ms for r in records) / 1000,
        "stage_cpu_s": sum(r.cpu_ns for r in records) / 1e9,
        "stage_gc_s": sum(r.gc_ms for r in records) / 1000,
        "task_p50_s": statistics.median(task_ms) / 1000,
        "task_max_s": max(task_ms) / 1000,
        "shuffle_write_bytes": sum(r.shuffle_write_bytes for r in records),
        "shuffle_read_bytes": sum(r.shuffle_read_bytes for r in records),
        "spill_bytes": sum(r.spill_bytes for r in records),
        "to_python_bytes": sum(r.to_python_bytes for r in records),
        "from_python_bytes": sum(r.from_python_bytes for r in records),
    }


# ---------------------------------------------------------------------------
# In-process shims (traced runs only)
# ---------------------------------------------------------------------------


class Shims:
    """Time-and-forward wrappers around the public functions of
    ``operators.checkpoint`` and the calls ``operators.curate`` makes, each
    recording a span. ``install`` swaps them in, ``remove`` restores the
    originals."""

    CHECKPOINT_FNS = ("run_extract_job", "write_extracted", "append_checkpoint")

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.extract_frames: list = []
        self.pair_frames: list = []
        self._saved: list[tuple[object, str, object]] = []

    def _swap(self, owner, name: str, new) -> None:
        self._saved.append((owner, name, getattr(owner, name)))
        setattr(owner, name, new)

    def _timed(self, fn, span_name: str):
        tracer = self.tracer

        def wrapper(*args, **kwargs):
            with tracer.span(span_name):
                return fn(*args, **kwargs)

        return wrapper

    def _capture(self, fn, into: list):
        """Forward the call; keep what it returned and the spans it ran in."""
        tracer = self.tracer

        def wrapper(*args, **kwargs):
            out = fn(*args, **kwargs)
            into.append((out, tracer.open_names()))
            return out

        return wrapper

    def install(self, dataframe_cls) -> None:
        from paddle_spark.operators import checkpoint, curate, extract_job

        for name in self.CHECKPOINT_FNS:
            self._swap(
                checkpoint, name,
                self._timed(getattr(checkpoint, name), f"checkpoint.{name}"),
            )
        for mod in (extract_job, checkpoint, curate):
            self._swap(
                mod, "extract_pages",
                self._capture(mod.extract_pages, self.extract_frames),
            )
        self._swap(
            curate, "minhash_dedup_candidates",
            self._capture(curate.minhash_dedup_candidates, self.pair_frames),
        )
        self._swap(dataframe_cls, "count", self._curate_count(dataframe_cls.count))

    def remove(self) -> None:
        while self._saved:
            owner, name, old = self._saved.pop()
            setattr(owner, name, old)

    def _curate_count(self, count):
        """``DataFrame.count`` that records a span named after the funnel
        stage when ``operators/curate.py`` is the caller."""
        from paddle_spark.operators import curate

        stage_at = _curate_count_lines(curate.__file__)
        tracer = self.tracer

        def wrapper(df):
            caller = sys._getframe(1)
            key = None
            if caller.f_code.co_filename == curate.__file__:
                key = stage_at.get(caller.f_lineno)
            if key is None:
                return count(df)
            with tracer.span(f"curate.count.{key}"):
                return count(df)

        return wrapper


_COUNT_LINE = re.compile(r'counts\["(\w+)"\]\s*=.*\.count\(\)')


def _curate_count_lines(path: str) -> dict[int, str]:
    """Line number -> funnel key for each ``counts[key] = ....count()``."""
    out = {}
    with open(path) as f:
        for no, line in enumerate(f, start=1):
            m = _COUNT_LINE.search(line)
            if m:
                out[no] = m.group(1)
    return out


# ---------------------------------------------------------------------------
# Kernels, timed in-process on one core
# ---------------------------------------------------------------------------


def time_kernels(rows: list[tuple[str, bytes]], cfg, repeats: int = 3) -> dict:
    """Per-call cost of the public kernel functions over a fixed sample of
    the workload's own payloads. Each kernel's total is the fastest of
    ``repeats`` sweeps; counts are per sweep."""
    from paddle_spark.kernels.classify import KIND_HTML, KIND_PDF, classify_payload
    from paddle_spark.kernels.extract import extract_document, sha256_text
    from paddle_spark.kernels.html import extract_html, segment_blocks
    from paddle_spark.kernels.layout import extract_layout, pdf_pages, process_page

    clock = time.perf_counter
    best: dict[str, float] = {}
    counts: dict[str, int] = {}
    for _ in range(repeats):
        tot = dict.fromkeys(
            ("classify", "extract_document", "sha256", "extract_html",
             "segment_blocks", "extract_layout", "pdf_pages", "process_page"),
            0.0,
        )
        cnt = dict.fromkeys(("docs", "html", "pdf", "pages"), 0)
        for _, payload in rows:
            cnt["docs"] += 1
            t = clock()
            kind = classify_payload(payload)
            tot["classify"] += clock() - t
            t = clock()
            res = extract_document(payload, cfg)
            tot["extract_document"] += clock() - t
            t = clock()
            sha256_text(res.text)
            tot["sha256"] += clock() - t
            if kind == KIND_HTML:
                cnt["html"] += 1
                t = clock()
                extract_html(payload, cfg)
                tot["extract_html"] += clock() - t
                t = clock()
                segment_blocks(payload, cfg)
                tot["segment_blocks"] += clock() - t
            elif kind == KIND_PDF and res.parse_ok:
                cnt["pdf"] += 1
                t = clock()
                extract_layout(payload, cfg)
                tot["extract_layout"] += clock() - t
                t = clock()
                pages = pdf_pages(payload)
                tot["pdf_pages"] += clock() - t
                for page in pages:
                    cnt["pages"] += 1
                    t = clock()
                    process_page(page, cfg)
                    tot["process_page"] += clock() - t
        for k, v in tot.items():
            best[k] = min(best.get(k, v), v)
        counts = cnt
    return {"seconds": best, "counts": counts}
