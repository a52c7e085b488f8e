"""Edge inputs and result schemas of the public top-k entry points
(engine/query.py, engine/phrase.py, engine/positional.py).

Every query_topk mode must return the same rows on degenerate inputs —
k=0, k beyond the match count, zero-hit, empty, punctuation-only, repeated
and non-ASCII terms, mixed hit + zero-hit queries — under both tie-breaks;
unknown modes and tie-breaks, and k < 0 on every entry point, are rejected
up front; an empty answer (k=0, zero hits, an empty allowed set) starts
no Spark job, also when collected; every entry point
returns the one result schema, also on its early-return paths;
filtered_topk takes query_topk's modes, resolves its predicate in one
Spark job, and its predicate probe sends only unresolved columns to the
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
                    conjunctive=conj, tiebreak=tiebreak,
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
                     tiebreak=tiebreak).collect()
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
    for mode in MODES:
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
def test_query_topk_result_schema(spark, built_index, mode):
    for query in ("spark join", "zzzqqq"):
        for tiebreak in ("doc_id", "url"):
            df = query_topk(spark, built_index, query, mode=mode,
                            tiebreak=tiebreak)
            assert _fields(df) == RESULT, (query, tiebreak)


@pytest.mark.parametrize("mode", MODES)
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


def _spark_jobs(spark, fn, group):
    """(fn's result, the number of Spark jobs calling it launched); each
    call needs its own job `group`."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _no_spark_job(spark, fn):
    """fn's result, asserting that calling it launched no Spark job."""
    out, n_jobs = _spark_jobs(spark, fn, "no-spark-job")
    assert n_jobs == 0
    return out


def test_k0_returns_empty_without_spark_job(spark, built_index, webpages):
    """An empty answer — k=0, a zero-hit query, an empty allowed set —
    starts no Spark job, neither to build the frame nor to collect it."""
    import numpy as np

    from engine.phrase import filtered_topk
    from engine.positional import phrase_topk_positional

    calls = [
        lambda: phrase_topk_positional(
            spark, built_index, built_index.postings_path, "the data", k=0),
    ] + [
        call
        for m in MODES
        for call in (
            lambda m=m: filtered_topk(spark, built_index, webpages,
                                      "spark join", F.col("lang") == "en",
                                      k=0, mode=m),
            lambda m=m: query_topk(spark, built_index, "spark join", k=0,
                                   mode=m),
            lambda m=m: query_topk(spark, built_index, "zzzqqq", mode=m),
            lambda m=m: query_topk(spark, built_index, "spark zzzqqq",
                                   mode=m, conjunctive=True),
            lambda m=m: query_topk(spark, built_index, "spark join", mode=m,
                                   doc_filter=np.empty(0, np.int64)),
        )
    ]

    def fields_and_rows(call):
        df = call()
        return _fields(df), df.collect()

    for call in calls:
        fields, rows = _no_spark_job(spark, lambda: fields_and_rows(call))
        assert fields == RESULT
        assert rows == []


def test_filtered_spark_jobs(spark, built_index, webpages):
    """filtered_topk resolves its predicate in one Spark job. auto and
    local then score on the driver; WAND adds one job, the sweep."""
    from engine.phrase import filtered_topk

    for mode, want in (("auto", 1), ("local", 1), ("wand", 2)):
        df, n_jobs = _spark_jobs(
            spark,
            lambda: filtered_topk(spark, built_index, webpages, "spark join",
                                  F.col("lang") == "en", k=10, mode=mode),
            f"filtered-{mode}",
        )
        assert n_jobs == want, mode
        assert len(df.collect()) == 10, mode


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
    probe with an unresolved column and resolves through the corpus: every
    mode filters the corpus once and returns the same rows, which are
    exactly the matching docs."""
    from engine.phrase import filtered_topk

    h, wp, rows = text_pred_index
    pred = F.col("text").contains("needle")
    calls = []

    class Corpus:
        columns = wp.columns

        def filter(self, predicate):
            calls.append(predicate)
            return wp.filter(predicate)

    out = {}
    for mode in MODES:
        calls.clear()
        df = filtered_topk(spark, h, Corpus(), "spark window", pred, k=100,
                           mode=mode)
        assert len(calls) == 1, mode  # the corpus path was taken
        out[mode] = [(r["url"], r["score"]) for r in df.collect()]
    assert {u for u, _ in out["brute"]} == {
        u for u, _, _, t, _ in rows if "needle" in t
    }
    for mode in MODES[1:]:
        assert out[mode] == out["brute"], mode


def test_filtered_probe_errors_propagate(spark, built_index, webpages):
    """Only an unresolved-column AnalysisException sends the predicate to
    the corpus path; any other error in the probe propagates from it, and
    the corpus is never touched."""
    from engine.phrase import filtered_topk

    class Corpus:
        columns = webpages.columns

        def filter(self, predicate):
            raise AssertionError("corpus path taken")

    for mode in MODES:
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


def _top_df_terms(handle, n):
    """The index's n highest-df terms (ties by term)."""
    import pyarrow.dataset as ds

    tbl = ds.dataset(handle.terms_path, format="parquet").to_table(
        columns=["term", "df"]).to_pandas()
    return tbl.sort_values(["df", "term"], ascending=[False, True])[
        "term"].head(n).tolist()


@pytest.mark.parametrize("tiebreak", ["doc_id", "url"])
def test_stopword_queries_all_modes_equal_brute(spark, built_index,
                                                monkeypatch, tiebreak):
    """The analyzer keeps stopwords, so a query of the highest-df terms
    matches most docs and has the largest kth-score tie groups. OR and
    AND, at k=10 and at the first k that cuts a tie group, local, auto and
    WAND — on one shard and at maximum fan-out — return exactly brute's
    rows."""
    import engine.query as eq

    terms = _top_df_terms(built_index, 2)

    def rows(query, conj, k, mode):
        return [tuple(r) for r in query_topk(
            spark, built_index, query, k=k, mode=mode, conjunctive=conj,
            tiebreak=tiebreak).collect()]

    cases = []
    for query in (terms[0], " ".join(terms)):
        for conj in (False, True):
            scores = [s for _, _, s in rows(query, conj, 500, "brute")]
            k_tie = next(k for k in range(10, len(scores))
                         if scores[k - 1] == scores[k])
            cases += [(query, conj, 10), (query, conj, k_tie)]
    ref = {c: rows(*c, "brute") for c in cases}
    assert all(len(r) == c[2] for c, r in ref.items())
    for mode in ("local", "auto", "wand"):
        for c in cases:
            assert rows(*c, mode) == ref[c], (c, mode)
    monkeypatch.setattr(eq, "WAND_SHARD_TARGET", 1)
    for c in cases:
        assert rows(*c, "wand") == ref[c], (c, "wand fan-out")
