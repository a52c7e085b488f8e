"""Edge inputs and result schemas of the public top-k entry points
(engine/query.py, engine/phrase.py, engine/positional.py).

Every query_topk mode must return the same rows on degenerate inputs —
k=0, k beyond the match count, zero-hit, empty, punctuation-only, repeated
and non-ASCII terms, mixed hit + zero-hit queries — under both tie-breaks;
unknown modes and tie-breaks are rejected up front; and every entry point
returns the one result schema, also on its early-return paths."""

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


def test_bad_arguments_rejected(spark, built_index):
    from engine.phrase import filtered_topk

    for kw in ({"mode": "bogus"}, {"mode": "WAND"}, {"tiebreak": "URL"},
               {"k": -1}):
        with pytest.raises(ValueError):
            query_topk(spark, built_index, "spark", **kw)
    with pytest.raises(ValueError, match="brute.*wand"):
        filtered_topk(spark, built_index, None, "spark", None, mode="WAND")


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


def test_phrase_result_schemas(spark, built_index, webpages):
    from engine.phrase import phrase_topk
    from engine.positional import build_positions, phrase_topk_positional

    pos_dir = build_positions(spark, built_index, webpages,
                              out_dir=tempfile.mkdtemp(prefix="pos_edges_"))
    for phrase in ("the data", "spark", "", "zzzqqq data"):
        assert _fields(phrase_topk(spark, built_index, webpages, phrase,
                                   k=5)) == RESULT, phrase
        assert _fields(phrase_topk_positional(spark, built_index, pos_dir,
                                              phrase, k=5)) == RESULT, phrase
