"""Seeded corpora for the four workloads.

Every row is a pure function of ``(workload, seed, row index)``, so the same
seed gives byte-identical parquet on any host. A corpus is written once, in
parallel worker processes, before anything is timed, and cached under
``.bench_cache/`` keyed by workload, size, seed, the program's
``sources.synth.GEN_VERSION`` and this module's ``CORPUS_VERSION``. The
program under test only ever reads the parquet files.
"""

from __future__ import annotations

import datetime as dt
import json
import multiprocessing
import os
import random
import shutil
from dataclasses import dataclass
from multiprocessing import resource_tracker

import pyarrow as pa
import pyarrow.parquet as pq

# Bump when a rule below changes, so cached corpora regenerate.
CORPUS_VERSION = 2

# Rows per workload at --scale 1, sized for a 4-core host (README.md).
BASE_ROWS = {
    "crawl_mix": 16000,
    "pdf_layout": 2400,
    "job_resume": 6000,
    "curate_funnel": 1500,
}

# The corpus is split into this many equal part files. Four files of one
# size give the scan four balanced partitions, which is what lets
# extract_pages skip its shuffle, and one file is the quarter corpus of the
# 1-task scaling pass.
N_PARTS = 4

EXACT_DUP_SHARE = 0.20
NEAR_DUP_SHARE = 0.10

PAGES_SCHEMA = pa.schema(
    [
        pa.field("url", pa.string()),
        pa.field("warc_ts", pa.timestamp("us")),
        pa.field("html", pa.binary()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
    ]
)

_EPOCH = dt.datetime(2024, 1, 1)
_VOCAB = (
    "annual report revenue growth margin quarter outlook segment customer "
    "market product service region operating cost capital risk board review "
    "strategy result period balance cash flow asset liability equity note"
).split()
_LANGS = ("en", "en", "en", "de", "hi", "es")


@dataclass(frozen=True)
class Corpus:
    workload: str
    seed: int
    path: str
    files: tuple[str, ...]
    n_rows: int
    # planted (source url, copy url) pairs; curate_funnel only
    exact_pairs: tuple[tuple[str, str], ...] = ()
    near_pairs: tuple[tuple[str, str], ...] = ()


def n_rows_for(workload: str, scale: float) -> int:
    return max(N_PARTS * 8, int(BASE_ROWS[workload] * scale))


def _sentence(rng: random.Random) -> str:
    words = [rng.choice(_VOCAB) for _ in range(rng.randint(4, 9))]
    return " ".join(words).capitalize() + "."


def crawl_row(i: int, seed: int) -> tuple:
    """The production mix: 87% utf-8 HTML, 3% latin-1, 5% detector-box
    layout docs, 3% born-digital PDFs, 2% garbage."""
    from paddle_spark.sources.synth import gen_page_row

    return gen_page_row(i, seed)


def pdf_row(i: int, seed: int) -> tuple:
    """PDF only: ~60% multi-page detector-box docs, ~40% born-digital
    PDFs, half of those Flate-compressed."""
    from paddle_spark.sources.synth import make_pdf, make_real_pdf

    rng = random.Random(f"pdf_layout:{seed}:{i}")
    url = f"https://docs{rng.randint(0, 19)}.example/pdf/{i:08d}"
    if rng.random() < 0.6:
        payload = make_pdf(rng, i)
    else:
        pages = [
            [_sentence(rng) for _ in range(rng.randint(3, 8))]
            for _ in range(rng.randint(1, 4))
        ]
        payload = make_real_pdf(pages, compress=rng.random() < 0.5)
    ts = _EPOCH + dt.timedelta(seconds=i * 137)
    return (url, ts, payload, None, rng.choice(_LANGS))


def _is_english_article(payload: bytes) -> bool:
    """A utf-8 ``make_html`` article that curate's language gate keeps.

    The generator's lorem-ipsum vocabulary holds no stopword of any
    language ``textstats.langid`` knows, so the only English stopword in an
    article body is the "for" of its "See <a ...>...</a> for more."
    sentences. An article with one is guessed English; one without is
    undetermined and gated out.
    """
    if not payload.startswith(b"<!DOCTYPE html>"):
        return False
    body = payload.split(b"<article>", 1)[1].split(b"</article>", 1)[0]
    return b"</a> for more." in body


def curate_plan(n_rows: int, seed: int) -> list[tuple[int, str, int]]:
    """Row specs ``(index, kind, source)`` for the planted-duplicate mix.

    The first 70% are crawl-mix base rows. The rest copy an English utf-8
    article among them: 20% byte-exact, 10% with one word added to the
    article's title. Every source passes the language and quality gates,
    and a copy's url is its source url plus a query string, so it sorts
    after the source: both dedup stages keep the source and drop the copy.
    """
    n_exact = int(n_rows * EXACT_DUP_SHARE)
    n_near = int(n_rows * NEAR_DUP_SHARE)
    n_base = n_rows - n_exact - n_near
    rng = random.Random(f"curate_funnel:{seed}")
    articles = [
        i for i in range(n_base) if _is_english_article(crawl_row(i, seed)[2])
    ]
    specs = [(i, "base", i) for i in range(n_base)]
    for j in range(n_base, n_rows):
        kind = "exact" if j < n_base + n_exact else "near"
        specs.append((j, kind, rng.choice(articles)))
    rng.shuffle(specs)
    return specs


def curate_row(spec: tuple[int, str, int], seed: int) -> tuple:
    j, kind, src = spec
    url, ts, payload, text, lang = crawl_row(src, seed)
    if kind == "exact":
        return (f"{url}?copy={j}", ts, payload, text, lang)
    if kind == "near":
        near = payload.replace(b"<article><h1>", b"<article><h1>Revised ", 1)
        return (f"{url}?near={j}", ts, near, text, lang)
    return (url, ts, payload, text, lang)


def _write_part(args: tuple) -> int:
    """Pool worker: generate one part file's rows and write them."""
    workload, seed, specs, path, row_group = args
    if workload == "curate_funnel":
        rows = [curate_row(s, seed) for s in specs]
    elif workload == "pdf_layout":
        rows = [pdf_row(i, seed) for i in specs]
    else:
        rows = [crawl_row(i, seed) for i in specs]
    cols = list(zip(*rows))
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, PAGES_SCHEMA)],
        schema=PAGES_SCHEMA,
    )
    pq.write_table(table, path, row_group_size=row_group)
    _fsync(path)
    return len(rows)


def _fsync(path: str) -> None:
    """Flush a file to disk now, so the write-back does not land in the
    timed part of the run."""
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def _cache_key(workload: str, n_rows: int, seed: int) -> str:
    from paddle_spark.sources.synth import GEN_VERSION

    return f"{workload}-n{n_rows}-s{seed}-g{GEN_VERSION}-c{CORPUS_VERSION}"


def _load(path: str) -> Corpus:
    with open(os.path.join(path, "_manifest.json")) as f:
        m = json.load(f)
    return Corpus(
        workload=m["workload"],
        seed=m["seed"],
        path=path,
        files=tuple(os.path.join(path, f) for f in m["files"]),
        n_rows=m["n_rows"],
        exact_pairs=tuple(tuple(p) for p in m["exact_pairs"]),
        near_pairs=tuple(tuple(p) for p in m["near_pairs"]),
    )


def _prune(cache_dir: str, workload: str, keep: int) -> None:
    """Keep the ``keep`` most recently used corpora of one workload."""
    entries = [
        os.path.join(cache_dir, d)
        for d in os.listdir(cache_dir)
        if d.startswith(workload + "-")
    ]
    entries.sort(key=os.path.getmtime, reverse=True)
    for stale in entries[keep:]:
        shutil.rmtree(stale, ignore_errors=True)


def ensure_corpus(
    cache_dir: str, workload: str, n_rows: int, seed: int, workers: int
) -> Corpus:
    """Return the cached corpus, generating it first on a miss."""
    path = os.path.join(cache_dir, _cache_key(workload, n_rows, seed))
    if os.path.exists(os.path.join(path, "_manifest.json")):
        os.utime(path)
        return _load(path)

    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    if workload == "curate_funnel":
        specs: list = curate_plan(n_rows, seed)
    else:
        specs = list(range(n_rows))
    per = -(-n_rows // N_PARTS)
    names = [f"part-{k:05d}.parquet" for k in range(N_PARTS)]
    tasks = [
        (workload, seed, specs[k * per:(k + 1) * per],
         os.path.join(path, names[k]), max(1, per // 4))
        for k in range(N_PARTS)
    ]
    ctx = multiprocessing.get_context("spawn")
    pool = ctx.Pool(max(1, min(workers, N_PARTS)))
    try:
        written = pool.map(_write_part, tasks)
    finally:
        pool.close()
        pool.join()
        # the pool's semaphores started a resource-tracker process, which
        # would otherwise outlive the run; closing its pipe ends it
        resource_tracker._resource_tracker._stop()

    exact, near = [], []
    if workload == "curate_funnel":
        for spec in specs:
            if spec[1] != "base":
                src_url = crawl_row(spec[2], seed)[0]
                pair = [src_url, curate_row(spec, seed)[0]]
                (exact if spec[1] == "exact" else near).append(pair)
    manifest = {
        "workload": workload,
        "seed": seed,
        "n_rows": sum(written),
        "files": names,
        "exact_pairs": exact,
        "near_pairs": near,
    }
    tmp = os.path.join(path, "_manifest.json.tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, os.path.join(path, "_manifest.json"))
    _fsync(path)
    _prune(cache_dir, workload, keep=12)
    return _load(path)


def read_column(corpus: Corpus, name: str) -> list:
    """One column of the whole corpus, in file order."""
    out: list = []
    for f in corpus.files:
        out.extend(pq.read_table(f, columns=[name]).column(name).to_pylist())
    return out


def sample_rows(corpus: Corpus, k: int) -> list[tuple[str, bytes]]:
    """A fixed, evenly spaced sample of ``k`` (url, payload) rows."""
    rows: list[tuple[str, bytes]] = []
    per_file = max(1, k // len(corpus.files))
    for f in corpus.files:
        t = pq.read_table(f, columns=["url", "html"])
        step = max(1, t.num_rows // per_file)
        idx = list(range(0, t.num_rows, step))[:per_file]
        sub = t.take(idx)
        rows.extend(zip(sub.column("url").to_pylist(), sub.column("html").to_pylist()))
    return rows
