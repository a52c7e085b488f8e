"""Golden BM25 verification (SURVEY.md §2.B17, §5.2): engine top-10 docIDs
AND scores rank-identical (1e-6) to the independent brute-force goldens, on
both physical strategies (brute / block-max WAND)."""

from __future__ import annotations

import pytest

from engine.query import query_topk


def _collect(spark, built_index, q, mode, conjunctive=False):
    df = query_topk(spark, built_index, q, k=10, mode=mode,
                    conjunctive=conjunctive)
    rows = df.orderBy(df.score.desc(), df.doc_id.asc()).collect()
    return [(r["doc_id"], r["score"]) for r in rows]


@pytest.mark.parametrize("mode", ["brute", "wand", "local"])
def test_golden_rank_identity(spark, built_index, goldens, mode):
    for entry in goldens["queries"]:
        got = _collect(spark, built_index, entry["query"], mode)
        want = entry["top"]
        assert [d for d, _ in got] == [d for d, _ in want], (
            f"{mode} docID mismatch for {entry['query']!r}:\n{got}\nvs\n{want}"
        )
        for (gd, gs), (wd, ws) in zip(got, want):
            assert abs(gs - ws) < 1e-6, (entry["query"], gd, gs, ws)


@pytest.mark.parametrize("mode", ["brute", "wand", "local"])
def test_golden_conjunctive(spark, built_index, goldens, mode):
    for entry in goldens["queries"]:
        got = _collect(spark, built_index, entry["query"], mode, conjunctive=True)
        want = entry["top_conj"]
        assert [d for d, _ in got] == [d for d, _ in want], (
            f"conj {mode} mismatch for {entry['query']!r}"
        )
        for (gd, gs), (wd, ws) in zip(got, want):
            assert abs(gs - ws) < 1e-6


def test_stats_match_goldens(built_index, goldens):
    assert built_index.stats["n_docs"] == goldens["n_docs"]
    assert abs(built_index.stats["avgdl"] - goldens["avgdl"]) < 1e-9
    assert built_index.stats["k1"] == goldens["k1"]
    assert built_index.stats["b"] == goldens["b"]


def test_hot_term_salted(spark, built_index):
    """The stopword-grade term 'the' (df≈N) must be split across doc-range
    salts (skew handling, BASELINE.json:14)."""
    import pyspark.sql.functions as F

    posts = spark.read.parquet(built_index.postings_path)
    salts = (
        posts.filter(F.col("term") == "the").select("salt").distinct().count()
    )
    assert salts > 1, "hot term was not salted"
    # cold term stays unsalted (salt=0 path)
    df_by_term = (
        spark.read.parquet(built_index.terms_path)
        .filter(F.col("df") < built_index.stats["hot_threshold"])
        .limit(1)
        .collect()
    )
    if df_by_term:
        cold = df_by_term[0]["term"]
        assert (
            posts.filter(F.col("term") == cold)
            .select("salt")
            .distinct()
            .count()
            == 1
        )


def test_postings_partition_pruned_scan(spark, built_index):
    """Query-path scan must prune to the query terms' bucket directories
    (SURVEY.md §4.2: partition pruning on the postings layout)."""
    import zlib

    import pyspark.sql.functions as F

    nb = built_index.stats["n_term_buckets"]
    b = zlib.crc32(b"spark") % nb
    scan = spark.read.parquet(built_index.postings_path).filter(
        (F.col("bucket") == b) & (F.col("term") == "spark")
    )
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "bucket" in plan
