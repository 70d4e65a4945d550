"""Curation funnel: composed operators, planted dups removed end-to-end."""

import pytest
from pyspark.sql import functions as F

from paddle_spark.operators import curate as curate_mod
from paddle_spark.operators.curate import curate
from paddle_spark.operators.dedup import (
    dedup_transitive,
    drop_exact_dups,
    drop_near_dup_candidates,
    minhash_dedup_candidates,
)
from paddle_spark.operators.extract_job import extract_pages
from paddle_spark.operators.textstats import (
    langid,
    quality_features,
    repetition_features,
)

OUT_COLS = ["url", "lang_guess", "n_tokens", "quality_score", "text", "text_sha256"]


DONOR_TEXT = (
    "The quick brown fox jumps over the lazy dog and it runs on for a "
    "while in the sun with a friend on the hill for fun and the day is "
    "long and the grass is green on the wide open field of the valley."
)


@pytest.fixture(scope="module")
def pages_with_dups(spark, tiny_pages):
    """tiny corpus + three pages with IDENTICAL crafted English content
    (guaranteed to pass the lang + quality gates) under distinct urls."""
    payload = (
        f"<html><body><article><p>{DONOR_TEXT}</p></article></body></html>"
    ).encode()
    rows = [
        (f"https://dup{k}.example/copy", None, payload, None, "en")
        for k in ("A", "B", "C")
    ]
    extra = spark.createDataFrame(rows, tiny_pages.schema)
    return tiny_pages.unionByName(extra)


def test_curation_funnel(spark, pages_with_dups):
    curated, counts = curate(
        pages_with_dups, langs=("en",), min_quality=0.2, min_tokens=10
    )
    rows = curated.collect()
    urls = {r["url"] for r in rows}

    # funnel is monotone and non-empty
    assert (
        counts["docs_in"]
        >= counts["extracted_ok"]
        >= counts["after_lang"]
        >= counts["after_quality"]
        >= counts["after_exact_dedup"]
        >= counts["after_near_dedup"]
        > 0
    )
    # the three identical copies collapsed to one representative (min url)
    survivors = {u for u in urls if u.startswith("https://dup")}
    assert survivors == {"https://dupA.example/copy"}
    # exact dedup removed at least the two planted copies
    assert counts["after_exact_dedup"] <= counts["after_quality"] - 2

    # every curated row satisfies the gates
    for r in rows:
        assert r["lang_guess"] == "en"
        assert r["quality_score"] >= 0.2
        assert r["n_tokens"] >= 10
        assert r["text"]


def test_curation_no_text_dups(spark, pages_with_dups):
    curated, _ = curate(pages_with_dups, langs=("en",), min_quality=0.2)
    n = curated.count()
    assert curated.select("text_sha256").distinct().count() == n


def test_repetition_gate(spark, tiny_pages):
    """The optional Gopher-repetition gate removes docs without changing
    any other stage (off by default = identical funnel)."""
    from paddle_spark.operators.curate import curate

    base, c0 = curate(tiny_pages, n_partitions=4)
    gated, c1 = curate(
        tiny_pages, n_partitions=4, max_dup_line_frac=0.05,
        max_top_bigram_frac=0.5,
    )
    assert "after_repetition" in c1 and "after_repetition" not in c0
    assert c1["after_repetition"] <= c1["after_quality"]
    assert gated.count() <= base.count()


def test_transitive_near_dedup_collapses_chains(spark):
    """transitive_near_dedup=True keeps exactly one doc per near-dup
    COMPONENT: planted A~B~C chains (B shares shingles with both A and C,
    which share none with each other) collapse to one canonical, where
    greedy pair-drop would also work here but the component semantics
    are pinned via the cluster operator directly."""
    from paddle_spark.operators.dedup import (
        dedup_transitive,
        minhash_dedup_candidates,
    )

    base_a = "alpha beta gamma delta epsilon zeta eta theta " * 6
    base_c = "omicron pi rho sigma tau upsilon phi chi " * 6
    rows = [
        ("u/a", base_a),
        ("u/b", base_a[: len(base_a) // 2] + " " + base_c[: len(base_c) // 2]),
        ("u/c", base_c),
        ("u/solo", "completely different text with its own words " * 6),
    ]
    df = spark.createDataFrame(rows, "url string, text string")
    pairs = minhash_dedup_candidates(df, id_col="url", num_perm=64, bands=32)
    got_pairs = {(r["a"], r["b"]) for r in pairs.collect()}
    # the fixture is only valid if LSH found the two chain links and NOT a~c
    assert ("u/a", "u/b") in got_pairs and ("u/b", "u/c") in got_pairs
    assert ("u/a", "u/c") not in got_pairs
    out = dedup_transitive(df, pairs, id_col="url", a_col="a", b_col="b")
    rows_out = {r["doc_id"]: (r["cluster_id"], r["is_canonical"])
                for r in out.collect()}
    assert rows_out["u/a"] == ("u/a", True)
    assert rows_out["u/b"] == ("u/a", False)
    assert rows_out["u/c"] == ("u/a", False)   # transitive: c joins via b
    assert rows_out["u/solo"] == ("u/solo", True)


def test_domain_stats_and_gate(spark):
    """Closed-form domain aggregates + gate semantics on three hosts:
    integer aggregates, exact keep_frac, min_docs and min_keep_frac both
    enforced, www./port/case-normalized host keying."""
    from pyspark.sql import functions as F

    from paddle_spark.operators.curate import domain_gate, domain_stats

    rows = [
        # good.com: 3 docs, 2 kept
        (0, "https://good.com/a", 10, True),
        (1, "https://WWW.Good.COM:443/b", 20, True),
        (2, "https://good.com/c", 30, False),
        # spam.net: 2 docs, 0 kept
        (3, "http://spam.net/x", 5, False),
        (4, "http://spam.net/y", 7, False),
        # tiny.org: 1 doc, 1 kept (fails min_docs=2)
        (5, "https://tiny.org/only", 9, True),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, url string, n_tokens long, keep boolean"
    )
    stats = {r["host"]: r for r in domain_stats(df).collect()}
    assert set(stats) == {"good.com", "spam.net", "tiny.org"}
    g = stats["good.com"]
    assert (g["n_docs"], g["total_tokens"], g["n_kept"]) == (3, 60, 2)
    assert g["keep_frac"] == round(2 / 3, 6)
    assert stats["spam.net"]["keep_frac"] == 0.0
    assert stats["tiny.org"]["keep_frac"] == 1.0

    kept = domain_gate(df, domain_stats(df), min_docs=2, min_keep_frac=0.5)
    assert sorted(r["doc_id"] for r in kept.collect()) == [0, 1, 2]
    # schema passes through unchanged (no helper column leaks)
    assert kept.columns == df.columns
    # relaxed thresholds admit the singleton host
    kept2 = domain_gate(df, domain_stats(df), min_docs=1, min_keep_frac=0.6)
    assert sorted(r["doc_id"] for r in kept2.collect()) == [0, 1, 2, 5]


def _joined_curate(pages, langs=("en",), min_quality=0.3, min_tokens=10,
                   max_dup_line_frac=None, max_top_bigram_frac=None,
                   transitive_near_dedup=False):
    """Reference funnel in the joined form: ``langid``, ``quality_features``
    and ``repetition_features`` joined back to the extracted pages on url,
    one count per stage. Returns (sorted output rows, counts). Persisting
    changes no result; it only keeps the slow repetition signals from
    being recomputed by every later action."""
    counts = {"docs_in": pages.count()}
    extracted = extract_pages(pages).filter(
        F.col("parse_ok") & (F.length("text") > 0)
    ).persist()
    counts["extracted_ok"] = extracted.count()
    lang_tbl = langid(extracted, "url", "text").select("url", "lang_guess")
    quality_tbl = quality_features(extracted, "url", "text").select(
        "url", "n_tokens", "quality_score"
    )
    gated = (
        extracted.join(lang_tbl, "url").join(quality_tbl, "url")
        .filter(F.col("lang_guess").isin(*langs))
    )
    counts["after_lang"] = gated.count()
    gated = gated.filter(
        (F.col("quality_score") >= min_quality) & (F.col("n_tokens") >= min_tokens)
    )
    counts["after_quality"] = gated.count()
    if max_dup_line_frac is not None or max_top_bigram_frac is not None:
        gated = gated.join(repetition_features(gated, "url", "text"), "url")
        if max_dup_line_frac is not None:
            gated = gated.filter(F.col("dup_line_frac") <= max_dup_line_frac)
        if max_top_bigram_frac is not None:
            gated = gated.filter(F.col("top_bigram_frac") <= max_top_bigram_frac)
        gated = gated.drop("dup_line_frac", "dup_word_frac", "top_bigram_frac")
        counts["after_repetition"] = gated.count()
    exact = drop_exact_dups(gated, id_col="url", key=F.col("text")).persist()
    counts["after_exact_dedup"] = exact.count()
    pairs = minhash_dedup_candidates(exact, id_col="url", text_col="text")
    if transitive_near_dedup:
        keep = dedup_transitive(
            exact, pairs, id_col="url", a_col="a", b_col="b"
        ).filter(F.col("is_canonical")).select(F.col("doc_id").alias("url"))
        curated = exact.join(keep, "url", "left_semi")
    else:
        curated = drop_near_dup_candidates(exact, pairs, id_col="url")
    counts["after_near_dedup"] = curated.count()
    rows = sorted(tuple(r) for r in curated.select(OUT_COLS).collect())
    extracted.unpersist()
    exact.unpersist()
    return rows, counts


@pytest.mark.parametrize("mode", [
    {"min_quality": 0.2},
    {"min_quality": 0.2, "transitive_near_dedup": True},
    {"max_dup_line_frac": 0.05, "max_top_bigram_frac": 0.5},
], ids=["default", "transitive", "repetition_gate"])
def test_curate_matches_joined_reference(spark, pages_with_dups, mode):
    """The scored single-pass funnel gives the joined form's counts and
    rows on a corpus with unique urls."""
    curated, counts = curate(pages_with_dups, **mode)
    rows = sorted(tuple(r) for r in curated.collect())
    want_rows, want_counts = _joined_curate(pages_with_dups, **mode)
    assert counts == want_counts
    assert curated.columns == OUT_COLS
    assert rows == want_rows
    assert counts["after_near_dedup"] == len(rows) > 0


def test_duplicate_urls_do_not_inflate_funnel(spark, tiny_pages):
    """Pages sharing a url keep one row each: the funnel never grows."""
    other = (
        "A small garden is a good place to rest and to read for an hour in "
        "the shade of an old tree on a warm day in the middle of the summer."
    )
    rows = [
        ("https://same.example/page", None,
         f"<html><body><article><p>{t}</p></article></body></html>".encode(),
         None, "en")
        for t in (DONOR_TEXT, other)
    ]
    pages = spark.createDataFrame(rows, tiny_pages.schema)
    curated, counts = curate(pages, min_quality=0.2)
    assert counts["extracted_ok"] == 2
    assert (
        counts["docs_in"]
        >= counts["extracted_ok"]
        >= counts["after_lang"]
        >= counts["after_quality"]
        >= counts["after_exact_dedup"]
        >= counts["after_near_dedup"]
    )
    assert curated.count() == counts["after_near_dedup"]


def _persisted_ids(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_curate_releases_persisted_frames(spark, pages_with_dups, monkeypatch):
    """After curate returns, only the LSH bucket checkpoint stays
    persisted; when a later stage raises, nothing curate persisted stays."""
    before = _persisted_ids(spark)
    curate(pages_with_dups, min_quality=0.2)
    assert len(_persisted_ids(spark) - before) <= 1

    before = _persisted_ids(spark)
    held = []

    def boom(*args, **kwargs):
        held.append(_persisted_ids(spark) - before)
        raise RuntimeError("minhash failed")

    monkeypatch.setattr(curate_mod, "minhash_dedup_candidates", boom)
    with pytest.raises(RuntimeError, match="minhash failed"):
        curate(pages_with_dups, min_quality=0.2)
    # the scored and the exact-dedup frames were held when the stage failed
    assert len(held[0]) == 2
    assert _persisted_ids(spark) - before == set()


def test_curate_empty_input(spark, tiny_pages):
    curated, counts = curate(spark.createDataFrame([], tiny_pages.schema))
    assert counts == dict.fromkeys(
        ["docs_in", "extracted_ok", "after_lang", "after_quality",
         "after_exact_dedup", "after_near_dedup"], 0
    )
    assert all(type(v) is int for v in counts.values())
    assert curated.columns == OUT_COLS
    assert curated.count() == 0
