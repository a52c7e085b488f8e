"""Phrase-query semantics (engine/positional.py over engine/phrase.py's
candidate scorer, SURVEY.md §2.B18): adjacency under the engine analyzer,
token-boundary exactness, BM25-sum ranking consistency with the brute scorer
and with the pure-Python reference in tests/phrase_reference.py, and
degenerate inputs; plus facet-filtered top-k. The exact-values gate vs ANSI
SQL is tests/test_oracle_parity.py::bm25_phrase."""

from __future__ import annotations

import datetime
import tempfile

import pytest

from tests.phrase_reference import PhraseReference, assert_same_topk


def _wp_rows():
    ts = datetime.datetime(2024, 1, 1)
    mk = lambda i, text: (  # noqa: E731
        f"https://t.example.com/doc/{i}", ts, None, text, "en"
    )
    return [
        mk(0, "alpha data table beta"),        # phrase hit
        mk(1, "data x table"),                  # both terms, not adjacent
        mk(2, "data tables here"),              # substring, not a token match
        mk(3, "table data"),                    # reversed order
        mk(4, "data table data table data"),   # hit, highest tf
        mk(5, "alpha beta gamma"),              # neither term
        mk(6, "Data TABLE upper"),              # analyzer lowercases → hit
    ]


@pytest.fixture(scope="module")
def tiny_index(spark, index_cfg):
    from engine.build import build_index

    wp = spark.createDataFrame(
        _wp_rows(),
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    h = build_index(spark, wp, tempfile.mkdtemp(prefix="idx_phrase_"),
                    index_cfg)
    ref = PhraseReference([(r[0], r[3]) for r in _wp_rows()],
                          P=index_cfg.n_build_partitions)
    return h, ref


def _phrase(spark, h, phrase, k):
    from engine.positional import phrase_topk_positional

    return phrase_topk_positional(spark, h, h.postings_path, phrase, k=k)


def test_phrase_adjacency_and_token_boundaries(spark, tiny_index):
    h, ref = tiny_index
    out = _phrase(spark, h, "data table", 10).collect()
    urls = {r["url"] for r in out}
    assert urls == {
        "https://t.example.com/doc/0",
        "https://t.example.com/doc/4",
        "https://t.example.com/doc/6",
    }
    assert_same_topk(out, ref.topk("data table", 10))


def test_phrase_scores_match_conjunctive_brute(spark, tiny_index):
    """Phrase ranking = conjunctive BM25 sum restricted to phrase hits."""
    from engine.query import query_topk

    h, _ = tiny_index
    phrase = {r["url"]: r["score"]
              for r in _phrase(spark, h, "data table", 10).collect()}
    brute = {r["url"]: r["score"]
             for r in query_topk(spark, h, "data table", k=10, mode="brute",
                                 conjunctive=True).collect()}
    for url, s in phrase.items():
        assert brute[url] == pytest.approx(s, abs=1e-9)


def test_phrase_degenerate_inputs(spark, tiny_index):
    h, ref = tiny_index
    assert _phrase(spark, h, "", 5).count() == 0
    assert _phrase(spark, h, "data zzznope", 5).count() == 0
    # single-term "phrase" degenerates to plain conjunctive top-k
    one = _phrase(spark, h, "alpha", 5).collect()
    assert {r["url"] for r in one} == {
        "https://t.example.com/doc/0", "https://t.example.com/doc/5"
    }
    assert_same_topk(one, ref.topk("alpha", 5))


def test_phrase_on_fixture_counts(spark, built_index, index_cfg):
    """sf0.001: the top 10 of "sort merge" equal the pure-Python reference
    (every returned doc's token stream contains the phrase, scores
    descending with url tiebreak), and k caps the result."""
    from engine.webpages import load_webpages

    wp = load_webpages(spark, "/root/testdata/sf0.001")
    ref = PhraseReference(
        [(r["url"], r["text"]) for r in wp.select("url", "text").collect()],
        P=index_cfg.n_build_partitions,
    )
    out = _phrase(spark, built_index, "sort merge", 10).collect()
    assert len(out) == 10  # 39 matching docs at sf0.001 (duckdb probe)
    for r in out:
        assert ref.contains(r["url"], ["sort", "merge"])
    pairs = [(r["score"], r["url"]) for r in out]
    assert pairs == sorted(pairs, key=lambda p: (-p[0], p[1]))
    assert_same_topk(out, ref.topk("sort merge", 10))


@pytest.fixture(scope="module")
def lang_index(spark, index_cfg):
    """Corpus where post-filtering a plain top-k would miss every 'fr' doc:
    12 high-tf 'en' docs dominate any unfiltered top-10."""
    from engine.build import build_index

    ts = datetime.datetime(2024, 1, 1)
    rows = []
    for i in range(12):  # en: "spark" repeated → top unfiltered scores
        rows.append((f"https://en.example.com/doc/{i}", ts, None,
                     "spark " * 5 + "filler", "en"))
    for i in range(6):  # fr: single occurrence each
        rows.append((f"https://fr.example.com/doc/{i}", ts, None,
                     "spark mention ici", "fr"))
    wp = spark.createDataFrame(
        rows,
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    h = build_index(spark, wp, tempfile.mkdtemp(prefix="idx_lang_"),
                    index_cfg)
    return h, wp


def test_filtered_topk_filters_before_cut(spark, lang_index):
    """filtered_topk returns the fr docs a naive top-k-then-filter drops."""
    import pyspark.sql.functions as F

    from engine.phrase import filtered_topk
    from engine.query import query_topk

    h, wp = lang_index
    out = filtered_topk(spark, h, wp, "spark", F.col("lang") == "fr",
                        k=10).collect()
    assert len(out) == 6
    assert all(r["url"].startswith("https://fr.") for r in out)
    # the naive plan: unfiltered top-10 then post-filter → zero fr docs
    naive = query_topk(spark, h, "spark", k=10, mode="brute").collect()
    assert all(r["url"].startswith("https://en.") for r in naive)


def test_filtered_topk_scores_match_unfiltered_brute(spark, lang_index):
    """Scores are the plain BM25 scores — filtering changes the candidate
    set, never the scoring (df/avgdl stay corpus-wide, as in ES/Lucene)."""
    import pyspark.sql.functions as F

    from engine.phrase import filtered_topk
    from engine.query import query_topk

    h, wp = lang_index
    filt = {r["url"]: r["score"]
            for r in filtered_topk(spark, h, wp, "spark",
                                   F.col("lang") == "fr", k=10).collect()}
    full = {r["url"]: r["score"]
            for r in query_topk(spark, h, "spark", k=100,
                                mode="brute").collect()}
    for url, s in filt.items():
        assert full[url] == pytest.approx(s, abs=1e-9)
