"""Tiny-size smoke of every workload, run through the command line.

Run with ``python3 -m pytest perfbench/tests -q`` from the checkout root.
Each case starts a JVM, so the file takes a few minutes.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench.host import adopt_orphans, descendants  # noqa: E402
from perfbench.layers import PER_LAYER  # noqa: E402
from perfbench.run import END_TO_END  # noqa: E402

# a process a run leaves behind is re-parented to this one, where
# descendants() sees it
adopt_orphans()

TINY = "0.02"
PRINTED = {"peak_rss_mb": "MB", "failed_ratio": "ratio"}
EXTRA = {
    "crawl_mix": {**PRINTED, "scaling_eff": "ratio"},
    "pdf_layout": PRINTED,
    "job_resume": {**PRINTED, "resume_s": "s", "out_bytes_per_doc": "bytes"},
    "curate_funnel": PRINTED,
}


def bench(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=180,
    )


def run_json(*args: str) -> tuple[dict, list[str]]:
    p = bench(*args)
    assert p.returncode == 0, p.stderr[-3000:]
    assert descendants() == [], "the run left processes running"
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-1]), lines


def printed(lines: list[str], prefix: str) -> dict[str, str]:
    """name -> unit from a ``perfbench <prefix> ...: name=value unit`` line."""
    line = next(ln for ln in lines if ln.startswith(prefix))
    return dict(re.findall(r"(\S+)=\S+ (\S+)", line.split(": ", 1)[1]))


@pytest.mark.parametrize("workload", sorted(EXTRA))
def test_untraced_prints_every_metric_with_unit(workload):
    result, lines = run_json("--workload", workload, "--seed", "7", "--seconds", "1",
                             "--trace", "0", "--scale", TINY)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert {k: v["unit"] for k, v in result["metrics"].items()} == dict(END_TO_END)
    assert all(v["value"] > 0 for v in result["metrics"].values())
    e2e = printed(lines, f"perfbench e2e {workload}")
    assert e2e == {**dict(END_TO_END), **EXTRA[workload]}


def test_traced_prints_every_layer_metric_with_unit():
    result, lines = run_json("--workload", "crawl_mix", "--seed", "7", "--seconds", "1",
                             "--trace", "1", "--scale", TINY)
    assert result["correct"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == dict(PER_LAYER)
    absent = json.loads(next(ln for ln in lines if ln.startswith("perfbench absent"))
                        .split(": ", 1)[1])
    layers = printed(lines, "perfbench layers crawl_mix")
    assert set(layers) | set(absent) == set(dict(PER_LAYER))
    assert all(name.startswith(("checkpoint.", "curate.", "dedup.")) for name in absent)
    values = {k: v["value"] for k, v in result["metrics"].items()}
    assert values["kernels.docs.html"] > 0 and values["extract_job.stage_run_s"] > 0


def test_planted_digest_mismatch_fails_the_run():
    result, lines = run_json("--workload", "crawl_mix", "--seed", "7", "--seconds", "1",
                             "--trace", "0", "--scale", TINY, "--plant-digest-mismatch")
    assert not result["correct"]
    assert result["failed"] >= 1
    assert printed(lines, "perfbench e2e crawl_mix")["failed_ratio"] == "ratio"
    ratio = re.search(r"failed_ratio=(\S+)", next(
        ln for ln in lines if ln.startswith("perfbench e2e"))).group(1)
    assert float(ratio) > 0
    assert any("digest-mismatched" in ln for ln in lines)


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = bench("--workload", "crawl_mix", "--seed", "1", "--seconds", "1", "--trace", "0",
              cwd=str(tmp_path))
    assert p.returncode != 0
    assert p.stdout.strip() == ""
