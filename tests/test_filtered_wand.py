"""Facet-filtered top-k (B19): the allowed doc-id set is a predicate of
query_topk's one top-k path — exactness of the local, auto and
filter-aware WAND modes vs explicit distributed brute, and the pruning
property (allowed-empty intervals are skipped without decoding their
blocks)."""

from __future__ import annotations

import datetime
import tempfile

import numpy as np
import pandas as pd
import pytest
import pyspark.sql.functions as F

# the modes checked against an explicit mode="brute"
FAST_MODES = ("local", "auto", "wand")


@pytest.fixture(scope="module")
def lang_corpus(spark, index_cfg):
    """12 dominant en docs + 6 fr docs (post-filtering a plain top-10 would
    return zero fr docs), plus bulk filler so terms span several blocks."""
    from engine.build import build_index

    ts = datetime.datetime(2024, 1, 1)
    rows = []
    for i in range(12):
        rows.append((f"https://en.example.com/doc/{i}", ts, None,
                     "spark " * 5 + "filler", "en"))
    for i in range(6):
        rows.append((f"https://fr.example.com/doc/{i}", ts, None,
                     "spark mention ici", "fr"))
    for i in range(400):  # bulk: forces multi-block posting lists for spark
        rows.append((f"https://bulk.example.com/doc/{i}", ts, None,
                     "spark bulk filler words here", "en"))
    wp = spark.createDataFrame(
        rows,
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    h = build_index(spark, wp, tempfile.mkdtemp(prefix="idx_fw_"), index_cfg)
    return h, wp


def test_filtered_wand_matches_brute(spark, lang_corpus):
    from engine.phrase import filtered_topk

    h, wp = lang_corpus
    pred = F.col("lang") == "fr"
    brute = [(r["url"], round(r["score"], 9)) for r in
             filtered_topk(spark, h, wp, "spark", pred, k=10,
                           mode="brute").collect()]
    assert len(brute) == 6
    assert all(u.startswith("https://fr.") for u, _ in brute)
    for mode in FAST_MODES:
        got = [(r["url"], round(r["score"], 9)) for r in
               filtered_topk(spark, h, wp, "spark", pred, k=10,
                             mode=mode).collect()]
        assert got == brute, mode


def test_filtered_wand_multi_shard_and_k_cut(spark, lang_corpus):
    """Filter keeping more docs than k, across doc ranges: every mode
    still returns exactly the brute top-k in (score desc, url) order."""
    from engine.phrase import filtered_topk

    h, wp = lang_corpus
    pred = F.col("url").startswith("https://bulk.")
    brute = [(r["url"], round(r["score"], 9)) for r in
             filtered_topk(spark, h, wp, "spark bulk", pred, k=7,
                           mode="brute").collect()]
    assert len(brute) == 7
    for mode in FAST_MODES:
        got = [(r["url"], round(r["score"], 9)) for r in
               filtered_topk(spark, h, wp, "spark bulk", pred, k=7,
                             mode=mode).collect()]
        assert got == brute, mode


def test_filtered_wand_empty_filter(spark, lang_corpus):
    from engine.phrase import filtered_topk

    h, wp = lang_corpus
    out = filtered_topk(spark, h, wp, "spark", F.col("lang") == "zz",
                        k=5, mode="wand")
    assert out.count() == 0


def test_filtered_unselective_filter_exact(spark, lang_corpus):
    """A predicate keeping every doc returns exactly the unfiltered url
    tie-break top-k, in every mode: the allowed set changes the candidate
    set, never the plan's answer."""
    from engine.phrase import filtered_topk
    from engine.query import query_topk

    h, wp = lang_corpus
    pred = F.col("url").isNotNull()
    for mode in ("brute", *FAST_MODES):
        want = query_topk(spark, h, "spark", k=10, mode=mode,
                          tiebreak="url").collect()
        got = filtered_topk(spark, h, wp, "spark", pred, k=10,
                            mode=mode).collect()
        assert len(want) == 10
        assert [tuple(r) for r in got] == [tuple(r) for r in want], mode


def test_filtered_wand_prunes_blocks(spark, lang_corpus, monkeypatch):
    """Under a selective filter, intervals containing no allowed doc are
    skipped before any block decode: decoded blocks < total blocks."""
    import pyarrow.dataset as ds

    import engine.query as Q

    h, _ = lang_corpus
    # all blocks of the query term, as the scorer's input pdf
    tbl = ds.dataset(h.postings_path, format="parquet",
                     partitioning="hive").to_table()
    pdf = tbl.to_pandas()
    pdf = pdf[pdf["term"] == "spark"].reset_index(drop=True)
    assert len(pdf) > 1, "need a multi-block posting list for this test"
    st = Q._local_term_stats(h, ["spark"])
    k1, b = h.stats["k1"], h.stats["b"]
    avgdl = h.stats["avgdl"]

    calls = {"n": 0}  # blocks decoded
    real = Q._decode_blocks

    def counting(cols):
        calls["n"] += len(cols["n"])
        return real(cols)

    monkeypatch.setattr(Q, "_decode_blocks", counting)

    # allowed = exactly one doc id → at most a couple of intervals overlap
    docs = spark.read.parquet(h.docs_path).filter(
        F.col("url") == "https://fr.example.com/doc/0"
    ).collect()
    allowed = np.asarray([docs[0]["doc_id"]], dtype=np.int64)
    scorer = Q._wand_shard_scorer(st, k1, b, avgdl, 10, False, 1,
                                  allowed=allowed)
    out = scorer(pdf)
    assert calls["n"] < len(pdf)  # blocks skipped > 0
    assert set(out["doc_id"]) == {int(allowed[0])}

    calls["n"] = 0
    unfiltered = Q._wand_shard_scorer(st, k1, b, avgdl, 10, False, 1)
    unfiltered(pdf)
    assert calls["n"] >= 1
