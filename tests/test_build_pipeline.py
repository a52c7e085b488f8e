"""Build-pipeline semantics: latest-crawl dedup (A9), extraction invariant,
doc-id determinism, resume-from-checkpoint (B15), atomic publish (A15),
lineage metrics."""

from __future__ import annotations

import json
import os
import tempfile

import pyspark.sql.functions as F
import pytest

from engine.build import build_index, latest_crawl, open_index
from engine.query import query_topk
from engine.webpages import load_webpages, with_recrawl
from tests.conftest import SF_DIR_001
from tests.golden_scorer import assign_ids


def test_latest_crawl_dedup(spark):
    """FIXTURES.md §1.1: recrawl fixture keeps only the newer row per url."""
    wp = load_webpages(spark, SF_DIR_001)
    re_wp = with_recrawl(wp)
    assert re_wp.count() == 550  # 500 + 50 dups (doc_id % 10 == 0)
    dd = latest_crawl(re_wp)
    assert dd.count() == 500
    kept = dd.filter(F.col("url").rlike("/doc/\\d*0$")).select("text").collect()
    assert kept and all(r["text"].endswith(" dup") for r in kept)


def test_doc_id_assignment_matches_independent_scheme(spark, built_index,
                                                     index_cfg):
    """The fused SPIMI pass's doc ids, as the docs table stores them, are
    the independent scheme's over every url of the corpus."""
    docs = spark.read.parquet(built_index.docs_path).select("url", "doc_id")
    got = {r["url"]: r["doc_id"] for r in docs.collect()}
    urls = [r["url"] for r in
            load_webpages(spark, SF_DIR_001).select("url").collect()]
    assert sorted(got) == sorted(set(urls))
    assert got == assign_ids(list(got), index_cfg.n_build_partitions)


def test_extraction_invariant_on_fixture(spark):
    """BASELINE.json:15: extracted text byte-identical per url — with the
    text column nulled, the html fallback must reproduce it exactly."""
    from engine.analyzer import extract_series

    wp = load_webpages(spark, SF_DIR_001).limit(50)
    pdf = wp.select("url", "html", "text").toPandas()
    via_html = extract_series(
        pdf["url"], pdf["html"], pdf["text"].map(lambda _: None)
    )
    assert (via_html == pdf["text"]).all()


def test_incremental_reindex_recomputes_only_changed_pids(spark, index_cfg):
    """A3 [R] generalized to the build: reusing a checkpoint dir after the
    corpus changed must re-run SPIMI only for pids whose input fingerprint
    moved, and the result must equal a clean build of the new corpus."""
    import pyspark.sql.functions as F

    wp_v1 = load_webpages(spark, SF_DIR_001)
    # v2 = v1 plus ONE newer crawl of a single url → exactly one pid changes
    one = (
        wp_v1.orderBy("url").limit(1)
        .withColumn("warc_ts", F.col("warc_ts") + F.expr("interval 1 day"))
        .withColumn("text", F.concat(F.col("text"), F.lit(" freshdup")))
    )
    wp_v2 = wp_v1.unionByName(one)

    ck = tempfile.mkdtemp(prefix="ckpt_inc_")
    build_index(spark, wp_v1, tempfile.mkdtemp(prefix="idx_v1_"),
                index_cfg, checkpoint_dir=ck)
    mpath = os.path.join(ck, "_partials_manifest.json")
    with open(mpath) as f:
        fps_v1 = json.load(f)["pid_fingerprints"]

    # mtimes of the per-pid partials before the incremental rebuild
    pdir = os.path.join(ck, "partials")
    mtime_v1 = {
        d: os.path.getmtime(os.path.join(pdir, d))
        for d in os.listdir(pdir) if d.startswith("pid=")
    }

    h2 = build_index(spark, wp_v2, tempfile.mkdtemp(prefix="idx_v2_"),
                     index_cfg, checkpoint_dir=ck)
    with open(mpath) as f:
        fps_v2 = json.load(f)["pid_fingerprints"]
    changed = {p for p in fps_v2 if fps_v1.get(p) != fps_v2[p]}
    assert len(changed) == 1, f"exactly one pid must change, got {changed}"
    unchanged = set(fps_v1) - changed
    assert unchanged, "the single-url change must leave other pids untouched"
    for d, m in mtime_v1.items():
        pid = d.split("=")[1]
        if pid in unchanged:
            assert os.path.getmtime(os.path.join(pdir, d)) == m, (
                f"unchanged {d} was recomputed"
            )
        if pid in changed:
            assert os.path.getmtime(os.path.join(pdir, d)) > m, (
                f"changed {d} was not recomputed"
            )

    clean = build_index(spark, wp_v2, tempfile.mkdtemp(prefix="idx_v2c_"),
                        index_cfg)
    assert h2.stats["n_docs"] == clean.stats["n_docs"]
    assert abs(h2.stats["avgdl"] - clean.stats["avgdl"]) < 1e-12
    for q in ("freshdup", "spark join"):
        a = query_topk(spark, clean, q, mode="brute").collect()
        b_ = query_topk(spark, h2, q, mode="brute").collect()
        assert [(r["doc_id"], round(r["score"], 9)) for r in a] == [
            (r["doc_id"], round(r["score"], 9)) for r in b_
        ]


def test_resume_from_partial_checkpoint(spark, index_cfg):
    """Simulate a killed build: checkpoint manifest says only some pids
    completed; the resumed build recomputes the rest and the final index
    answers queries identically to a clean build (SURVEY.md §5.2)."""
    wp = load_webpages(spark, SF_DIR_001)
    clean_dir = tempfile.mkdtemp(prefix="idx_clean_")
    clean = build_index(spark, wp, clean_dir, index_cfg)

    ck = tempfile.mkdtemp(prefix="ckpt_")
    idx1 = tempfile.mkdtemp(prefix="idx_ck1_")
    h1 = build_index(spark, wp, idx1, index_cfg, checkpoint_dir=ck)

    # damage the manifest: pretend pids 5.. never completed
    mpath = os.path.join(ck, "_partials_manifest.json")
    with open(mpath) as f:
        manifest = json.load(f)
    assert manifest["completed_pids"] == list(range(index_cfg.n_build_partitions))
    manifest["completed_pids"] = [0, 1, 2]
    with open(mpath, "w") as f:
        json.dump(manifest, f)
    # drop the non-"completed" pid files to simulate the partial write
    import shutil

    pdir = os.path.join(ck, "partials")
    for d in os.listdir(pdir):
        if d.startswith("pid=") and int(d.split("=")[1]) > 2:
            shutil.rmtree(os.path.join(pdir, d))

    idx2 = tempfile.mkdtemp(prefix="idx_ck2_")
    h2 = build_index(spark, wp, idx2, index_cfg, checkpoint_dir=ck)
    assert h2.stats["n_docs"] == clean.stats["n_docs"]
    assert abs(h2.stats["avgdl"] - clean.stats["avgdl"]) < 1e-12

    for q in ("spark join", "the data", "vector"):
        a = query_topk(spark, clean, q, mode="brute").collect()
        b_ = query_topk(spark, h2, q, mode="brute").collect()
        assert [(r["doc_id"], round(r["score"], 9)) for r in a] == [
            (r["doc_id"], round(r["score"], 9)) for r in b_
        ]
    want = _positions_hash(spark, clean)
    for h in (h1, h2):
        assert _positions_hash(spark, h) == want
        assert h.stats["pid_metrics"] == clean.stats["pid_metrics"]


def test_checkpoint_of_older_partials_layout_is_rebuilt(spark, index_cfg):
    """A checkpoint written before the partials carried positions (no
    pos_enc column, no partials_fields in its manifest) is discarded and
    rebuilt, not read with a missing column."""
    import shutil

    wp = load_webpages(spark, SF_DIR_001)
    ck = tempfile.mkdtemp(prefix="ckpt_old_")
    h1 = build_index(spark, wp, tempfile.mkdtemp(prefix="idx_old1_"),
                     index_cfg, checkpoint_dir=ck)
    pdir = os.path.join(ck, "partials")
    old = tempfile.mkdtemp(prefix="partials_old_")
    spark.read.parquet(pdir).drop("pos_enc").write.partitionBy("pid") \
        .mode("overwrite").parquet(old)
    shutil.rmtree(pdir)
    shutil.copytree(old, pdir)
    mpath = os.path.join(ck, "_partials_manifest.json")
    with open(mpath) as f:
        manifest = json.load(f)
    del manifest["partials_fields"]
    with open(mpath, "w") as f:
        json.dump(manifest, f)

    h2 = build_index(spark, wp, tempfile.mkdtemp(prefix="idx_old2_"),
                     index_cfg, checkpoint_dir=ck)
    assert _postings_hash(spark, h2) == _postings_hash(spark, h1)
    assert _positions_hash(spark, h2) == _positions_hash(spark, h1)


def test_atomic_publish_versions(spark, index_cfg):
    """Two builds into the same root → v_0 then v_1; manifest repoints and
    readers always see a complete version (A15 analog)."""
    wp = load_webpages(spark, SF_DIR_001).limit(100)
    root = tempfile.mkdtemp(prefix="idx_pub_")
    build_index(spark, wp, root, index_cfg)
    m1 = json.load(open(os.path.join(root, "_manifest.json")))
    build_index(spark, wp, root, index_cfg)
    m2 = json.load(open(os.path.join(root, "_manifest.json")))
    assert m1["version"] == "v_0" and m2["version"] == "v_1"
    h = open_index(root)
    assert h.version_dir.endswith("v_1")


@pytest.mark.parametrize("sink", ["postings", "terms", "docs"])
def test_sink_failure_publishes_nothing(spark, index_cfg, monkeypatch, sink):
    """Fault injection: one sink (postings, which also writes the
    positions, terms or docs) raises inside build_index. The manifest stays
    on the previous version and open_index shows no new one."""
    from pyspark.sql.readwriter import DataFrameWriter

    from engine.publish import list_snapshots, read_manifest

    wp = load_webpages(spark, SF_DIR_001).limit(100)
    root = tempfile.mkdtemp(prefix="idx_fault_")
    build_index(spark, wp, root, index_cfg)
    parquet = DataFrameWriter.parquet

    def crash(self, path, *args, **kwargs):
        if os.path.basename(path) == sink:
            raise RuntimeError(f"{sink} sink crashed")
        return parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", crash)
    with pytest.raises(RuntimeError, match=f"{sink} sink crashed"):
        build_index(spark, wp, root, index_cfg)
    assert read_manifest(root)["version"] == "v_0"
    assert [s["version"] for s in list_snapshots(root)] == ["v_0"]
    assert open_index(root).version_dir.endswith("v_0")
    with pytest.raises(KeyError):
        open_index(root, version="v_1")


def test_killed_checkpointed_build_resumes_byte_identical(
    spark, index_cfg, built_index, monkeypatch
):
    """A checkpointed build killed in its postings sink publishes nothing;
    re-run with the same checkpoint_dir, it recomputes no pid (every
    partial and the checkpoint manifest keep their mtimes) and publishes
    postings and positions byte-identical to a clean build's."""
    from pyspark.sql.readwriter import DataFrameWriter

    wp = load_webpages(spark, SF_DIR_001)
    root = tempfile.mkdtemp(prefix="idx_killed_")
    ck = tempfile.mkdtemp(prefix="ckpt_killed_")
    parquet = DataFrameWriter.parquet

    def crash(self, path, *args, **kwargs):
        if os.path.basename(path) == "postings":
            raise RuntimeError("postings sink crashed")
        return parquet(self, path, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(DataFrameWriter, "parquet", crash)
        with pytest.raises(RuntimeError, match="postings sink crashed"):
            build_index(spark, wp, root, index_cfg, checkpoint_dir=ck)
    assert not os.path.exists(os.path.join(root, "_manifest.json"))
    with pytest.raises(FileNotFoundError):
        open_index(root)

    pdir = os.path.join(ck, "partials")
    mpath = os.path.join(ck, "_partials_manifest.json")
    mtimes = {d: os.path.getmtime(os.path.join(pdir, d))
              for d in os.listdir(pdir) if d.startswith("pid=")}
    assert len(mtimes) == index_cfg.n_build_partitions
    manifest_mtime = os.path.getmtime(mpath)

    h = build_index(spark, wp, root, index_cfg, checkpoint_dir=ck)
    assert {d: os.path.getmtime(os.path.join(pdir, d)) for d in mtimes} \
        == mtimes, "a checkpointed pid was recomputed"
    assert os.path.getmtime(mpath) == manifest_mtime
    assert open_index(root).version_dir == h.version_dir
    assert _postings_hash(spark, h) == _postings_hash(spark, built_index)
    assert _positions_hash(spark, h) == _positions_hash(spark, built_index)


def test_build_shape_and_job_group(spark, index_cfg):
    """A version dir holds exactly postings/, terms/, docs/ and stats.json.
    Every Spark job a build starts, including those of its sink threads,
    runs in the caller's job group, and an sf0.001 build launches at most
    11 jobs, so a metric or sink cannot return as its own job unnoticed."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def in_group(group, fn):
        sc.setJobGroup(group, group)
        try:
            return fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def last_job_id(group):
        in_group(group, lambda: spark.range(1).collect())
        return max(tracker.getJobIdsForGroup(group))

    wp = load_webpages(spark, SF_DIR_001)
    first = last_job_id("before-build")
    h = in_group("build", lambda: build_index(
        spark, wp, tempfile.mkdtemp(prefix="idx_shape_"), index_cfg
    ))
    started = set(range(first + 1, last_job_id("after-build")))
    assert set(tracker.getJobIdsForGroup("build")) == started
    assert 0 < len(started) <= 11
    assert sorted(os.listdir(h.version_dir)) == [
        "docs", "postings", "stats.json", "terms"
    ]


def test_lineage_metrics_per_partition(spark, built_index, index_cfg):
    """B15: the per-pid lineage in stats.json adds up to the published
    tables: docs and tokens per pid match the docs table, and the postings
    and tokens over all pids match the terms table's df and cf."""
    stats = open_index(built_index.path).stats
    rows = stats["pid_metrics"]
    assert 0 < len(rows) <= index_cfg.n_build_partitions
    assert sum(r["n_docs"] for r in rows) == stats["n_docs"]
    docs = spark.read.parquet(built_index.docs_path).groupBy("pid").agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("n_tokens")
    )
    assert {r["pid"]: (r["n_docs"], r["n_tokens"]) for r in rows} == {
        r["pid"]: (r["n_docs"], r["n_tokens"]) for r in docs.collect()
    }
    df, cf = spark.read.parquet(built_index.terms_path).agg(
        F.sum("df"), F.sum("cf")
    ).collect()[0]
    assert sum(r["n_postings"] for r in rows) == df
    assert sum(r["n_tokens"] for r in rows) == cf


def test_facet_counts(spark, built_index):
    """B16: facet counts by lang over the docs table."""
    docs = spark.read.parquet(built_index.docs_path)
    facets = {
        r["lang"]: r["cnt"]
        for r in docs.groupBy("lang").agg(F.count("*").alias("cnt")).collect()
    }
    assert sum(facets.values()) == 500
    assert set(facets) == {"de", "en", "es", "fr", "zh"}


def test_docs_table_content_pinned(spark, built_index):
    """The whole docs table of the sf0.001 index: its schema, and a sha256
    over its (doc_id, url, dl, lang, text_fp, pid) rows sorted by doc_id."""
    import hashlib

    docs = spark.read.parquet(built_index.docs_path)
    assert [(f.name, f.dataType.simpleString()) for f in docs.schema] == [
        ("pid", "int"), ("doc_id", "bigint"), ("dl", "int"),
        ("url", "string"), ("lang", "string"), ("text_fp", "bigint"),
    ]
    rows = sorted(
        tuple(r) for r in docs.select(
            "doc_id", "url", "dl", "lang", "text_fp", "pid"
        ).collect()
    )
    assert len(rows) == 500
    assert hashlib.sha256(json.dumps(rows).encode()).hexdigest() == (
        "3a5316de25d002672f761a45c0f57c6117c2c533e0123519299783922d36fe04"
    )


def test_bucket_byte_metrics(spark, built_index, index_cfg):
    """B15: per-write-task byte metrics in stats.json, one row per term
    bucket, equal what the written postings/bucket=b partition holds: its
    block count, the df of the bucket's terms, and the ids/tfs/dls bytes."""
    got = {
        r["bucket"]: (r["n_blocks"], r["n_postings"], r["encoded_bytes"])
        for r in open_index(built_index.path).stats["bucket_metrics"]
    }
    blocks = {
        r["bucket"]: (r["n_blocks"], r["encoded_bytes"])
        for r in spark.read.parquet(built_index.postings_path)
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_blocks"),
            F.sum(
                F.octet_length("ids_enc")
                + F.octet_length("tfs_enc")
                + F.octet_length("dls_enc")
            ).alias("encoded_bytes"),
        )
        .collect()
    }
    term_bucket = F.crc32(F.encode("term", "utf-8")) % index_cfg.n_term_buckets
    dfs = {
        r["bucket"]: r["df"]
        for r in spark.read.parquet(built_index.terms_path)
        .groupBy(term_bucket.cast("int").alias("bucket"))
        .agg(F.sum("df").alias("df"))
        .collect()
    }
    assert len(got) > 1
    assert got == {b: (nb, dfs[b], eb) for b, (nb, eb) in blocks.items()}


def test_pid_fingerprint_sees_content_changes(spark):
    """Round-3 advice (engine/build.py _pid_fingerprints): the incremental
    fingerprint must move for every change that can change the pid's build
    output — same-length text edits, html edits on html-fallback rows, lang
    changes, and duplicated rows — and must be invariant to row order and
    partitioning."""
    from datetime import datetime

    from engine.build import _pid_fingerprints

    rows = [
        (0, "u://a", "alpha text", datetime(2024, 1, 1), None, "en"),
        (0, "u://b", None, datetime(2024, 1, 2), b"<p>hb</p>", "en"),
        (1, "u://c", "gamma", datetime(2024, 1, 3), None, "de"),
    ]
    schema = "pid int, url string, text string, warc_ts timestamp, html binary, lang string"

    def fp(rs, n=4):
        return _pid_fingerprints(spark.createDataFrame(rs, schema).repartition(n))

    base = fp(rows)
    # order/partitioning invariance
    assert fp(list(reversed(rows)), n=2) == base
    # same-byte-length text edit (the case length-only hashing missed)
    assert fp([(0, "u://a", "alpha tex7", *rows[0][3:]), rows[1], rows[2]]) != base
    # html edit on a text-null (fallback) row
    assert fp([rows[0], (0, "u://b", None, rows[1][3], b"<p>hc</p>", "en"), rows[2]]) != base
    # lang change
    assert fp([rows[0], rows[1], (1, "u://c", "gamma", rows[2][3], None, "fr")]) != base
    # duplicated row must not cancel (sum combine, not xor)
    assert fp(rows + [rows[0]]) != base
    # unrelated pid untouched
    moved = fp([(0, "u://a", "ALPHA", *rows[0][3:]), rows[1], rows[2]])
    assert moved[1] == base[1] and moved[0] != base[0]


def test_keep_snapshots_retention_from_build(spark, index_cfg):
    """cfg.keep_snapshots wires Iceberg-style retention into the publish
    path: three builds with keep_snapshots=2 leave exactly the two newest
    versions readable (older dirs gone, pinning them raises)."""
    import dataclasses

    from engine.publish import list_snapshots, read_manifest

    cfg = dataclasses.replace(index_cfg, keep_snapshots=2)
    wp = load_webpages(spark, SF_DIR_001).limit(80)
    root = tempfile.mkdtemp(prefix="idx_keep_")
    for _ in range(3):
        build_index(spark, wp, root, cfg)
    assert [s["version"] for s in list_snapshots(root)] == ["v_1", "v_2"]
    dirs = sorted(d for d in os.listdir(root) if d.startswith("v_"))
    assert dirs == ["v_1", "v_2"]
    assert read_manifest(root)["version"] == "v_2"
    h = open_index(root, version="v_1")  # kept historical version readable
    assert h.version_dir.endswith("v_1")
    with pytest.raises(KeyError):
        read_manifest(root, version="v_0")


def _postings_hash(spark, handle):
    """Same xor-of-block-hashes expression bench.py reports as
    index_content_hash — byte-level identity of every compressed block."""
    return (
        spark.read.parquet(handle.postings_path)
        .select(
            F.xxhash64(
                "term", "salt", "block_seq", "n", "first_doc_id",
                "last_doc_id", "ids_enc", "tfs_enc", "dls_enc"
            ).alias("h")
        )
        .agg(F.expr("bit_xor(h)").alias("x"))
        .collect()[0]["x"]
    )


def _positions_hash(spark, handle):
    """The same xor-of-block-hashes over the blocks' positions column."""
    return (
        spark.read.parquet(handle.postings_path)
        .select(
            F.xxhash64(
                "term", "salt", "block_seq", "n", "first_doc_id",
                "last_doc_id", "pos_enc"
            ).alias("h")
        )
        .agg(F.expr("bit_xor(h)").alias("x"))
        .collect()[0]["x"]
    )


def test_spimi_spill_byte_identical_index(spark, index_cfg):
    """SPIMI partial spill (cfg.spimi_flush_mb): a build forced to flush its
    posting accumulators many times mid-partition must produce a
    byte-identical index to the unflushed build — the merge stage unions
    multi-row partials per (term, pid) exactly like partials from distinct
    pids, and doc ids keep ascending across flushes. The flushed build also
    runs with 64-row Arrow batches, so its Python stages see many batches
    and the merge stitches groups that straddle them."""
    import dataclasses

    wp = load_webpages(spark, SF_DIR_001)
    a = build_index(spark, wp, tempfile.mkdtemp(prefix="idx_noflush_"), index_cfg)
    cfg_spill = dataclasses.replace(index_cfg, spimi_flush_mb=0.02)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "64")
    try:
        b = build_index(spark, wp, tempfile.mkdtemp(prefix="idx_flush_"),
                        cfg_spill)
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    assert a.stats["n_docs"] == b.stats["n_docs"]
    assert _postings_hash(spark, a) == _postings_hash(spark, b)
    assert _positions_hash(spark, a) == _positions_hash(spark, b)
    for key in ("pid_metrics", "bucket_metrics"):
        assert a.stats[key] == b.stats[key]


def test_spimi_flush_emits_multiple_partial_frames(index_cfg):
    """The spill path actually triggers: driving the mapInPandas body
    directly with a tiny budget yields posting partials across several
    frames (not one end-of-stream frame), and the same (term, pid) may
    appear in more than one of them."""
    import dataclasses

    import pandas as pd

    from engine.build import _fused_spimi

    cfg = dataclasses.replace(index_cfg, spimi_flush_mb=0.001)  # ~43 cells
    fn = _fused_spimi(cfg, dedup=False)
    batches = [
        pd.DataFrame(
            {
                "url": [f"https://x.test/{i}/{j}" for j in range(8)],
                "pid": [0] * 8,
                "text": ["the quick brown fox jumps over lazy dogs"] * 8,
                "lang": ["en"] * 8,
            }
        )
        for i in range(4)
    ]
    outs = list(fn(iter(batches)))
    posting_frames = [
        o for o in outs if (o["term"] != "").any()
    ]
    assert len(posting_frames) > 1  # spilled at least once mid-stream
    # the same (pid, term) appears in >1 partial frame → merge must union
    seen: dict[tuple, int] = {}
    for o in posting_frames:
        for t in set(o.loc[o["term"] != "", "term"]):
            seen[(0, t)] = seen.get((0, t), 0) + 1
    assert max(seen.values()) > 1


def test_spimi_yields_each_batch_docmap_before_next_pull(index_cfg):
    """The SPIMI kernel keeps no docmap state across batches: every batch's
    docmap rows (term="", one per doc) are yielded before the next batch is
    pulled, with no flush budget and with a sub-MB one, and the docmap rows
    are the same under both budgets (doc ids keep ascending per pid across
    batches and flushes)."""
    import dataclasses

    import pandas as pd

    from engine.build import _fused_spimi

    batches = [
        pd.DataFrame(
            {
                "url": [f"https://x.test/{i}/{j:02d}" for j in range(50)],
                "pid": [j % 3 for j in range(50)],
                "text": [f"tok{j % 5} common" for j in range(50)],
                "lang": ["en"] * 50,
            }
        )
        for i in range(6)
    ]
    docmap_cols = ["pid", "doc_id", "dl", "url", "lang", "fp"]

    def run(cfg):
        pulls = []

        def source():
            for i, b in enumerate(batches):
                pulls.append(i)
                yield b

        docmap, n_posting_frames = [], 0
        for out in _fused_spimi(cfg, dedup=False)(source()):
            rows = out[out["term"] == ""]
            n_posting_frames += len(rows) < len(out)
            if len(rows):
                # every docmap row comes from the batch pulled last
                assert {u.split("/")[3] for u in rows["url"]} == {
                    str(pulls[-1])
                }
                assert rows["ids_enc"].isna().all()
                docmap.append(rows[docmap_cols])
        assert len(pulls) == len(batches)
        rows = pd.concat(docmap, ignore_index=True)
        assert rows["url"].tolist() == [u for b in batches for u in b["url"]]
        return rows, n_posting_frames

    plain, n_plain = run(index_cfg)  # no flush budget
    spilled, n_spilled = run(dataclasses.replace(index_cfg, spimi_flush_mb=0.001))
    assert n_plain == 1 and n_spilled > 1  # the budget did flush
    pd.testing.assert_frame_equal(plain, spilled)
    for _, g in plain.groupby("pid"):
        assert g["doc_id"].is_monotonic_increasing
