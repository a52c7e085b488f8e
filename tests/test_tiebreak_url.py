"""tiebreak="url" exactness under pathological score ties (round-3 advice,
engine/query.py): every doc scores identically, and urls sort OPPOSITE to
doc_ids, so any path that truncates the kth-score tie group by doc_id before
the url re-sort returns the wrong top-k. Covers the driver-local path, the
single-shard wand path, and the multi-shard wand path (forced by shrinking
WAND_SHARD_TARGET), all against the brute oracle ordering, and checks that
the WAND path needs no second job to do it."""

from __future__ import annotations

import tempfile

import pytest

import engine.query as eq
from engine.build import build_index
from engine.config import IndexConfig
from engine.query import query_topk
from tests.test_query_edges import _spark_jobs


@pytest.fixture(scope="module")
def tied_index(spark):
    # urls descend as doc order ascends: url rank is anti-correlated with
    # insertion order, and doc_ids (partition-offset scheme) differ from
    # url order too
    rows = [
        (f"https://site-{999 - i:03d}.example.com/tie", "tie breaker corpus")
        for i in range(64)
    ]
    wp = spark.createDataFrame(rows, "url string, text string")
    cfg = IndexConfig(
        n_build_partitions=4, n_doc_ranges=4, min_hot_df=8, n_term_buckets=4
    )
    return build_index(
        spark, wp, tempfile.mkdtemp(prefix="idx_ties_"), cfg
    )


def _urls(df):
    return [r["url"] for r in df.collect()]


def test_url_tiebreak_exact_under_total_ties(spark, tied_index):
    k = 5
    expected = sorted(
        f"https://site-{999 - i:03d}.example.com/tie" for i in range(64)
    )[:k]
    brute = _urls(
        query_topk(spark, tied_index, "tie", k=k, mode="brute", tiebreak="url")
    )
    assert brute == expected
    local = _urls(
        query_topk(spark, tied_index, "tie", k=k, mode="local", tiebreak="url")
    )
    assert local == expected
    wand_single = _urls(
        query_topk(spark, tied_index, "tie", k=k, mode="wand", tiebreak="url")
    )
    assert wand_single == expected


def test_url_tiebreak_exact_multi_shard(spark, tied_index, monkeypatch):
    # force the sharded wand path on the tiny corpus: 64 postings / 8 per
    # shard -> 4 shards, each returning its whole kth-score tie group
    monkeypatch.setattr(eq, "WAND_SHARD_TARGET", 8)
    k = 5
    expected = sorted(
        f"https://site-{999 - i:03d}.example.com/tie" for i in range(64)
    )[:k]
    got = _urls(
        query_topk(spark, tied_index, "tie", k=k, mode="wand", tiebreak="url")
    )
    assert got == expected
    # the doc_id tie-break cuts the same tie group at the k lowest doc ids
    ids = [
        r["doc_id"]
        for r in query_topk(
            spark, tied_index, "tie", k=k, mode="wand", tiebreak="doc_id"
        ).collect()
    ]
    assert ids == sorted(ids)


def test_url_tiebreak_partial_tie_at_boundary(spark, tied_index):
    """k lands inside the tie group but above-floor docs exist too: docs
    containing 'tie' twice outscore the single-occurrence group."""
    import pyspark.sql.functions as F  # noqa: F401

    rows = [("https://aaa-top.example.com/", "tie tie strong doc")] + [
        (f"https://site-{999 - i:03d}.example.com/tie", "tie breaker corpus")
        for i in range(32)
    ]
    wp = spark.createDataFrame(rows, "url string, text string")
    cfg = IndexConfig(
        n_build_partitions=4, n_doc_ranges=4, min_hot_df=8, n_term_buckets=4
    )
    h = build_index(spark, wp, tempfile.mkdtemp(prefix="idx_ties2_"), cfg)
    expected = ["https://aaa-top.example.com/"] + sorted(
        f"https://site-{999 - i:03d}.example.com/tie" for i in range(32)
    )[:3]
    for mode in ("brute", "local", "wand"):
        got = _urls(query_topk(spark, h, "tie", k=4, mode=mode, tiebreak="url"))
        assert got == expected, mode


def test_url_tiebreak_one_sweep_job(spark, tied_index, monkeypatch):
    """Every shard keeps its whole kth-score tie group, so a url tie-break
    whose tie group crosses the cut (64 ties, k=5) runs the one WAND sweep
    and no second pass; every shard is a task of that one job, so the
    query runs exactly one Spark job, collect included, on one shard and
    at forced fan-out, under either tie-break."""

    def jobs(tiebreak, group):
        return _spark_jobs(spark, lambda: query_topk(
            spark, tied_index, "tie", k=5, mode="wand", tiebreak=tiebreak,
        ).collect(), group)[1]

    assert jobs("url", "one-sweep-single") == 1
    monkeypatch.setattr(eq, "WAND_SHARD_TARGET", 8)
    assert jobs("url", "one-sweep-fanout-url") == 1
    assert jobs("doc_id", "one-sweep-fanout-doc-id") == 1
