"""Plan-shape assertions (SURVEY.md §4.2): predicate pushdown, column
pruning, broadcast joins, no-html scans — the things that must hold for the
100 TB plan to be the right plan."""

from __future__ import annotations

import os
import tempfile
import zlib

import pyarrow.dataset as ds
import pyspark.sql.functions as F

from engine.build import build_index
from engine.relops import QUERIES
from engine.webpages import load_webpages, with_recrawl
from tests.conftest import SF_DIR_001, SF_DIR_01


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _file_scans(df) -> list[tuple[str, str]]:
    """(scan line, its output columns) per parquet scan in df's plan. The
    output list is the read schema plus partition columns and, unlike
    ReadSchema, is never abbreviated in the plan string."""
    out = []
    for ln in _plan(df).splitlines():
        if "FileScan parquet" in ln:
            out.append((ln, ln[ln.index("[") + 1 : ln.index("]")]))
    return out


def test_filter_and_projection_pushdown(spark):
    df = QUERIES["scan_project_filter"](spark, SF_DIR_01)
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity" in plan
    # column pruning: the scan must not read unprojected columns
    assert "l_comment" not in plan and "l_shipdate" not in plan


def test_broadcast_join_strategy(spark):
    df = QUERIES["join_broadcast_dims"](spark, SF_DIR_01)
    assert "BroadcastHashJoin" in _plan(df)


def test_build_without_html_scan(spark, index_cfg):
    """use_html_fallback=False must prune the html binary column out of the
    whole build lineage (SURVEY.md §4.2 'never read html when text
    suffices')."""
    wp = load_webpages(spark, SF_DIR_001)
    d = tempfile.mkdtemp(prefix="idx_nohtml_")
    h = build_index(spark, wp, d, index_cfg, use_html_fallback=False)
    assert h.stats["n_docs"] == 500


def test_fused_dedup_in_build(spark, index_cfg, built_index):
    """The fused build path must dedup recrawls exactly like the batch
    latest_crawl operator: 550 input rows → 500 docs, and the kept (newer)
    crawl has one extra token (' dup' suffix) vs the clean index."""
    wp = with_recrawl(load_webpages(spark, SF_DIR_001))
    d = tempfile.mkdtemp(prefix="idx_recrawl_")
    h = build_index(spark, wp, d, index_cfg)
    assert h.stats["n_docs"] == 500
    clean_dl = {
        r["url"]: r["dl"]
        for r in spark.read.parquet(built_index.docs_path).collect()
    }
    re_dl = {
        r["url"]: r["dl"] for r in spark.read.parquet(h.docs_path).collect()
    }
    assert set(clean_dl) == set(re_dl)
    for url, dl in re_dl.items():
        doc_no = int(url.rsplit("/", 1)[1])
        assert dl == clean_dl[url] + (1 if doc_no % 10 == 0 else 0), url


def test_minhash_verify_bounded_by_candidates(spark):
    """dedup_minhash_lsh's exact-verify stage must run the shingle self-join
    over the candidate subcorpus only: both self-join inputs must carry the
    candidate-doc semi-join BELOW them (the sketch bounds the expensive join
    — the 100 TB claim)."""
    import engine.textops  # noqa: F401 — populates the registry

    df = QUERIES["dedup_minhash_lsh"](spark, SF_DIR_01)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    lines = plan.splitlines()
    # locate the shingle self-join: the inner join whose condition equates
    # the two shingle columns
    self_join_depth = None
    for i, ln in enumerate(lines):
        if "Join Inner" in ln and "shingle" in ln:
            self_join_depth = len(ln) - len(ln.lstrip(":+- "))
            start = i
            break
    assert self_join_depth is not None, plan
    # every LeftSemi join on doc_id must appear nested UNDER the self-join
    semis_below = [
        ln
        for ln in lines[start + 1 :]
        if "LeftSemi" in ln and "doc_id" in ln
    ]
    assert len(semis_below) >= 2, (
        "expected candidate semi-joins below the shingle self-join:\n" + plan
    )


def test_ann_index_probe_scan_pruned(spark, tmp_path):
    """ANN queries must read only the probed buckets of the PERSISTED
    signature index: partition pruning on table=, sig pushed to row groups —
    never a full-corpus signature recompute per query."""
    import numpy as np

    from engine.simsearch import _probe_filter, build_ann_index, t

    e = t(spark, SF_DIR_01, "embeddings")
    path = build_ann_index(spark, e, str(tmp_path / "ann"))
    qv = np.asarray(
        e.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0],
        dtype=np.float64,
    )
    scan = spark.read.parquet(path).filter(_probe_filter(qv))
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "table" in plan
    assert "PushedFilters" in plan and "sig" in plan


def _wand_reads(monkeypatch, run) -> list[tuple]:
    """The driver-side arguments (dset, buckets, terms, columns) of the
    block read of every WAND shard task that `run` dispatches."""
    import engine.query as q

    reads = []
    wand_shards = q._wand_shards

    def spy(dset, buckets, terms, columns, *args):
        reads.append((dset, buckets, terms, columns))
        return wand_shards(dset, buckets, terms, columns, *args)

    monkeypatch.setattr(q, "_wand_shards", spy)
    run()
    assert reads
    return reads


def _assert_shard_read(handle, terms, read, phrase):
    """A WAND shard task reads the postings table's files of only the
    query terms' `bucket=` partitions, the rows of only those terms, the
    column tfs_enc, pos_enc only for a phrase, and no corpus column."""
    dset, buckets, read_terms, columns = read
    n = int(handle.stats["n_term_buckets"])
    want = {zlib.crc32(t.encode("utf-8")) % n for t in terms}
    root = os.path.normpath(handle.postings_path)
    assert sorted(read_terms) == sorted(terms)
    assert all(f.startswith(root + os.sep) for f in dset.files)
    files = [f.path for f in dset.get_fragments(
        filter=ds.field("bucket").isin(buckets))]
    assert files and len(files) < len(dset.files)
    assert {os.path.basename(os.path.dirname(f)) for f in files} \
        == {f"bucket={b}" for b in want}
    assert "tfs_enc" in columns and ("pos_enc" in columns) == phrase
    assert not {"url", "text", "html", "warc_ts", "lang"} & set(columns)


def test_query_scan_prunes_term_buckets(spark, built_index, monkeypatch):
    """The scoring reads (brute's Spark scan and every WAND shard task's
    pyarrow read) must hit only the query terms' bucket directories
    (partition pruning), not the full postings table, and read only the
    columns the scoring kernel decodes: never the blocks' positions
    (pos_enc), which only phrase search reads."""
    import engine.query as q

    terms = ["spark", "join"]

    def run():
        for target in (q.WAND_SHARD_TARGET, 1):  # one shard, max fan-out
            monkeypatch.setattr(q, "WAND_SHARD_TARGET", target)
            q.query_topk(spark, built_index, "spark join",
                         mode="wand").collect()

    reads = _wand_reads(monkeypatch, run)
    assert len(reads) == 2
    for read in reads:
        _assert_shard_read(built_index, terms, read, phrase=False)
    brute = q._score_all(spark, built_index, terms,
                         q._local_term_stats(built_index, terms), False)
    scans = _file_scans(brute)
    assert scans
    for ln, cols in scans:
        assert "PartitionFilters" in ln and "bucket" in ln
        assert "tfs_enc" in cols and "pos_enc" not in cols
