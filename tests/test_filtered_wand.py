"""Filter-aware WAND (round-4 verdict "Next round #5"): facet-filtered
top-k with a doc-id filter intersected during the shard sweep — exactness
vs the brute semi-join path, and the pruning property (allowed-empty
intervals are skipped without decoding their blocks)."""

from __future__ import annotations

import datetime
import tempfile

import numpy as np
import pandas as pd
import pytest
import pyspark.sql.functions as F


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
             filtered_topk(spark, h, wp, "spark", pred, k=10).collect()]
    wand = [(r["url"], round(r["score"], 9)) for r in
            filtered_topk(spark, h, wp, "spark", pred, k=10,
                          mode="wand").collect()]
    assert wand == brute
    assert len(wand) == 6 and all(u.startswith("https://fr.") for u, _ in wand)


def test_filtered_wand_multi_shard_and_k_cut(spark, lang_corpus):
    """Filter keeping more docs than k, across doc ranges: the wand path
    still returns exactly the brute top-k in (score desc, url) order."""
    from engine.phrase import filtered_topk

    h, wp = lang_corpus
    pred = F.col("url").startswith("https://bulk.")
    brute = [(r["url"], round(r["score"], 9)) for r in
             filtered_topk(spark, h, wp, "spark bulk", pred, k=7).collect()]
    wand = [(r["url"], round(r["score"], 9)) for r in
            filtered_topk(spark, h, wp, "spark bulk", pred, k=7,
                          mode="wand").collect()]
    assert wand == brute and len(wand) == 7


def test_filtered_wand_empty_filter(spark, lang_corpus):
    from engine.phrase import filtered_topk

    h, wp = lang_corpus
    out = filtered_topk(spark, h, wp, "spark", F.col("lang") == "zz",
                        k=5, mode="wand")
    assert out.count() == 0


def test_filtered_wand_cap_falls_back_to_brute(spark, lang_corpus,
                                               monkeypatch):
    """An unselective filter (resolved id set beyond MAX_FILTER_IDS) must
    fall back to the brute score-all plan and still return the exact
    result — the cap moves the plan, never the answer."""
    import engine.phrase
    from engine.phrase import filtered_topk

    h, wp = lang_corpus
    pred = F.col("lang") == "fr"  # 6 docs > cap of 2
    brute = [(r["url"], round(r["score"], 9)) for r in
             filtered_topk(spark, h, wp, "spark", pred, k=10).collect()]
    monkeypatch.setattr(engine.phrase, "MAX_FILTER_IDS", 2)
    capped = [(r["url"], round(r["score"], 9)) for r in
              filtered_topk(spark, h, wp, "spark", pred, k=10,
                            mode="wand").collect()]
    assert capped == brute and len(capped) == 6


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
    pdf["shard"] = 0
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
    scorer = Q._wand_shard_scorer(
        st, k1, b, avgdl, 10, False, 1, 1 << 62, allowed=allowed
    )
    out = scorer(pdf)
    assert calls["n"] < len(pdf)  # blocks skipped > 0
    assert set(out["doc_id"]) == {int(allowed[0])}

    calls["n"] = 0
    unfiltered = Q._wand_shard_scorer(st, k1, b, avgdl, 10, False, 1, 1 << 62)
    unfiltered(pdf)
    assert calls["n"] >= 1
