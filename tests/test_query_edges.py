"""Edge inputs and result schemas of the public top-k entry points
(engine/query.py, engine/phrase.py, engine/positional.py).

Every query_topk mode must return the same rows on degenerate inputs —
k=0, k beyond the match count, zero-hit, empty, punctuation-only, repeated
and non-ASCII terms, mixed hit + zero-hit queries — under both tie-breaks;
unknown modes and tie-breaks, and k < 0 on every entry point, are rejected
up front; k=0 returns no rows without a Spark job; every entry point
returns the one result schema, also on its early-return paths; and
filtered_topk's predicate probe sends only unresolved columns to the
corpus path."""

from __future__ import annotations

import tempfile

import pytest
import pyspark.sql.functions as F

from engine.query import query_topk

MODES = ("brute", "wand", "local", "auto")

# (query, k, conjunctive); "dup" matches 25 of the fixture's 500 docs, and
# the duplicated texts behind it give exact score ties
EDGE_INPUTS = [
    ("spark join", 0, False),
    ("dup", 100, False),
    ("zzzqqq", 10, False),
    ("", 10, False),
    ("!!! ,,, ...", 10, False),
    ("spark spark", 10, False),
    ("données", 10, False),
    ("dup données", 10, False),
    ("dup données", 10, True),
]

RESULT = [("doc_id", "bigint"), ("url", "string"), ("score", "double")]
RESULT_NO_URL = [("doc_id", "bigint"), ("score", "double")]


def _fields(df):
    return [(f.name, f.dataType.simpleString()) for f in df.schema.fields]


@pytest.mark.parametrize("tiebreak", ["doc_id", "url"])
def test_edge_inputs_all_modes_agree(spark, built_index, tiebreak):
    for query, k, conj in EDGE_INPUTS:
        got = {
            mode: [
                (r["doc_id"], r["score"])
                for r in query_topk(
                    spark, built_index, query, k=k, mode=mode,
                    conjunctive=conj, with_url=False, tiebreak=tiebreak,
                ).collect()
            ]
            for mode in MODES
        }
        ref = got["brute"]
        assert len(ref) <= k
        for mode in MODES[1:]:
            rows = got[mode]
            assert [d for d, _ in rows] == [d for d, _ in ref], (
                query, k, conj, mode, rows, ref)
            for (_, s), (_, rs) in zip(rows, ref):
                assert abs(s - rs) < 1e-9, (query, k, conj, mode)
    dup = query_topk(spark, built_index, "dup", k=100, mode="brute",
                     with_url=False, tiebreak=tiebreak).collect()
    assert 0 < len(dup) < 100
    # a repeated term counts once
    assert (
        query_topk(spark, built_index, "spark spark", mode="local",
                   tiebreak=tiebreak).collect()
        == query_topk(spark, built_index, "spark", mode="local",
                      tiebreak=tiebreak).collect()
    )


def test_bad_arguments_rejected(spark, built_index, webpages):
    from engine.phrase import filtered_topk
    from engine.positional import phrase_topk_positional

    for kw in ({"mode": "bogus"}, {"mode": "WAND"}, {"tiebreak": "URL"},
               {"k": -1}):
        with pytest.raises(ValueError):
            query_topk(spark, built_index, "spark", **kw)
    with pytest.raises(ValueError, match="brute.*wand"):
        filtered_topk(spark, built_index, None, "spark", None, mode="WAND")
    pos_dir = built_index.postings_path
    with pytest.raises(ValueError, match="k must be"):
        phrase_topk_positional(spark, built_index, pos_dir, "the data", k=-1)
    # the positions live on the postings blocks: any other dir is refused
    for bad in (built_index.docs_path, built_index.version_dir):
        with pytest.raises(ValueError, match="postings_path"):
            phrase_topk_positional(spark, built_index, bad, "the data", k=5)
    # "zz" resolves to an empty allowed set: k is checked before the
    # empty-set early return
    for mode in ("brute", "wand"):
        for lang in ("en", "zz"):
            with pytest.raises(ValueError, match="k must be"):
                filtered_topk(spark, built_index, webpages, "spark join",
                              F.col("lang") == lang, k=-1, mode=mode)


@pytest.fixture(scope="module")
def webpages(spark):
    from conftest import SF_DIR_001
    from engine.webpages import load_webpages

    return load_webpages(spark, SF_DIR_001)


@pytest.mark.parametrize("mode", MODES)
@pytest.mark.parametrize("with_url", [True, False])
def test_query_topk_result_schema(spark, built_index, mode, with_url):
    want = RESULT if with_url else RESULT_NO_URL
    for query in ("spark join", "zzzqqq"):
        for tiebreak in ("doc_id", "url"):
            df = query_topk(spark, built_index, query, mode=mode,
                            with_url=with_url, tiebreak=tiebreak)
            assert _fields(df) == want, (query, tiebreak)


@pytest.mark.parametrize("mode", ["brute", "wand"])
def test_filtered_topk_result_schema(spark, built_index, webpages, mode):
    from engine.phrase import filtered_topk

    for lang in ("en", "zz"):  # "zz" resolves to an empty allowed set
        df = filtered_topk(spark, built_index, webpages, "spark join",
                           F.col("lang") == lang, k=5, mode=mode)
        assert _fields(df) == RESULT, lang


def test_phrase_result_schemas(spark, built_index):
    from engine.positional import phrase_topk_positional

    pos_dir = built_index.postings_path
    for phrase in ("the data", "spark", "", "zzzqqq data"):
        assert _fields(phrase_topk_positional(spark, built_index, pos_dir,
                                              phrase, k=5)) == RESULT, phrase


def _no_spark_job(spark, fn):
    """fn's result, asserting that calling it launched no Spark job."""
    sc = spark.sparkContext
    sc.setJobGroup("no-spark-job", "k=0 early return")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("no-spark-job")) == []
    return out


def test_k0_returns_empty_without_spark_job(spark, built_index, webpages):
    from engine.phrase import filtered_topk
    from engine.positional import phrase_topk_positional

    calls = [
        lambda: phrase_topk_positional(
            spark, built_index, built_index.postings_path, "the data", k=0),
    ] + [
        lambda m=m: filtered_topk(spark, built_index, webpages, "spark join",
                                  F.col("lang") == "en", k=0, mode=m)
        for m in ("brute", "wand")
    ]
    for call in calls:
        df = _no_spark_job(spark, call)
        assert _fields(df) == RESULT
        assert df.collect() == []


@pytest.fixture(scope="module")
def text_pred_index(spark, index_cfg):
    """A fresh index with its corpus: the text predicate below matches
    docs across languages."""
    import datetime

    from engine.build import build_index

    ts = datetime.datetime(2024, 1, 1)
    rows = [
        (f"https://p.example.com/doc/{i}", ts, None,
         f"spark join {'window ' * (i % 4)}{'needle' if i % 3 == 0 else ''}",
         "en" if i % 2 else "fr")
        for i in range(60)
    ]
    wp = spark.createDataFrame(
        rows,
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    h = build_index(spark, wp, tempfile.mkdtemp(prefix="idx_textpred_"),
                    index_cfg)
    return h, wp, rows


def test_filtered_text_predicate_takes_corpus_path(spark, text_pred_index):
    """A predicate on a corpus-only column (text) fails the docs-table
    probe with an unresolved column and resolves through the corpus: both
    modes return the same rows, which are exactly the matching docs."""
    from engine.phrase import filtered_topk

    h, wp, rows = text_pred_index
    pred = F.col("text").contains("needle")
    out = {}
    for mode in ("brute", "wand"):
        df = filtered_topk(spark, h, wp, "spark window", pred, k=100,
                           mode=mode)
        out[mode] = [(r["url"], r["score"]) for r in df.collect()]
    plan = filtered_topk(spark, h, wp, "spark window", pred, k=100)._jdf \
        .queryExecution().executedPlan().toString()
    assert "text#" in plan  # the brute plan scans the corpus's text
    assert out["wand"] == out["brute"]
    assert {u for u, _ in out["brute"]} == {
        u for u, _, _, t, _ in rows if "needle" in t
    }


def test_filtered_probe_errors_propagate(spark, built_index, webpages):
    """Only an unresolved-column AnalysisException sends the predicate to
    the corpus path; any other error in the probe propagates from it, and
    the corpus is never touched."""
    from engine.phrase import filtered_topk

    class Corpus:
        columns = webpages.columns

        def filter(self, predicate):
            raise AssertionError("corpus path taken")

    for mode in ("brute", "wand"):
        with pytest.raises(TypeError):
            filtered_topk(spark, built_index, Corpus(), "spark", 42,
                          mode=mode)


def test_unreadable_index_store_raises_without_spark_job(
    spark, built_index, monkeypatch
):
    """query_topk reads term stats and urls on the driver with pyarrow. When
    that read fails, the error propagates — no Spark job is started as a
    silent fallback."""
    import engine.query as Q

    def unreadable(*args, **kwargs):
        raise OSError("index store unreadable")

    monkeypatch.setattr(Q, "_pa_dataset", unreadable)
    sc = spark.sparkContext
    sc.setJobGroup("unreadable-store", "pyarrow read fails")
    try:
        with pytest.raises(OSError, match="unreadable"):
            query_topk(spark, built_index, "spark join", mode="auto")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("unreadable-store")) == []
