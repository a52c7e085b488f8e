"""Positional-postings phrase search (engine/positional.py) over the
positions build_index writes on the postings blocks (`pos_enc`): rank
identity with the pure-Python reference in tests/phrase_reference.py,
adjacency semantics (repeated terms, boundaries), one result through the
driver-local kernel and forced WAND at any fan-out, positions determinism
across input partitioning, positions consistent with the terms table (df,
cf) and the docs' lengths on a corpus with recrawls, the no-corpus-access
plan property and the Spark jobs a phrase starts."""

from __future__ import annotations

import datetime
import random
import tempfile

import pytest

from tests.phrase_reference import PhraseReference, assert_same_topk
from tests.test_build_pipeline import _positions_hash
from tests.test_scale_plans import _assert_shard_read, _wand_reads

# positions content hash (xor of per-block xxhash64 over the block keys and
# pos_enc) of the session index, tests/conftest.py::built_index over sf0.001
SF0001_POSITIONS_HASH = 3046176315897967210


def _wp_rows():
    ts = datetime.datetime(2024, 1, 1)
    mk = lambda i, text: (  # noqa: E731
        f"https://t.example.com/doc/{i}", ts, None, text, "en"
    )
    return [
        mk(0, "alpha data table beta"),
        mk(1, "data x table"),
        mk(2, "data tables here"),
        mk(3, "table data"),
        mk(4, "data table data table data"),
        mk(5, "alpha beta gamma"),
        mk(6, "Data TABLE upper"),
    ]


@pytest.fixture(scope="module")
def pos_index(spark, index_cfg):
    from engine.build import build_index

    wp = spark.createDataFrame(
        _wp_rows(),
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    h = build_index(spark, wp, tempfile.mkdtemp(prefix="idx_pos_"), index_cfg)
    return h, wp, h.postings_path


def test_positional_rank_identical_to_reference(spark, pos_index, index_cfg):
    from engine.positional import phrase_topk_positional

    h, _, pos_dir = pos_index
    ref = PhraseReference([(r[0], r[3]) for r in _wp_rows()],
                          P=index_cfg.n_build_partitions)
    for phrase in ("data table", "table data", "data x table", "alpha",
                   "data table data", "tables"):
        got = phrase_topk_positional(spark, h, pos_dir, phrase, k=10)
        assert_same_topk(got.collect(), ref.topk(phrase, 10))


def test_positional_adjacency_semantics(spark, pos_index):
    from engine.positional import phrase_topk_positional

    h, _, pos_dir = pos_index
    out = phrase_topk_positional(spark, h, pos_dir, "data table", k=10)
    assert {r["url"] for r in out.collect()} == {
        "https://t.example.com/doc/0",
        "https://t.example.com/doc/4",
        "https://t.example.com/doc/6",
    }
    # repeated-term phrase: needs data→table→data consecutively
    out = phrase_topk_positional(spark, h, pos_dir, "data table data", k=10)
    assert {r["url"] for r in out.collect()} == {
        "https://t.example.com/doc/4"
    }


def test_positional_degenerate_inputs(spark, pos_index):
    from engine.positional import phrase_topk_positional

    h, _, pos_dir = pos_index
    assert phrase_topk_positional(spark, h, pos_dir, "", 5).count() == 0
    assert (
        phrase_topk_positional(spark, h, pos_dir, "data zzznope", 5).count()
        == 0
    )


def test_positional_randomized_equivalence(spark, index_cfg, monkeypatch):
    """Random corpora: the phrase match set, through the driver-local
    kernel and through forced WAND at the maximum doc-range fan-out,
    equals pure-Python token adjacency for every probed phrase (incl.
    stopword-grade and repeated tokens)."""
    import engine.query as Q
    from engine.analyzer import tokenize
    from engine.build import build_index
    from engine.positional import phrase_topk_positional

    rng = random.Random(7)
    vocab = ["the", "data", "a", "b", "c", "dd"]
    ts = datetime.datetime(2024, 1, 1)
    rows = [
        (
            f"https://r.example.com/doc/{i}",
            ts,
            None,
            " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 30))),
            "en",
        )
        for i in range(120)
    ]
    wp = spark.createDataFrame(
        rows,
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    h = build_index(spark, wp, tempfile.mkdtemp(prefix="idx_rnd_"), index_cfg)
    n_docs = h.stats["n_docs"]
    text_by_url = {u: t for u, _, _, t, _ in rows}

    def matches(phrase):
        return {
            r["url"] for r in phrase_topk_positional(
                spark, h, h.postings_path, phrase, k=n_docs).collect()
        }

    for phrase in ("the data", "data the data", "a b c", "the the", "dd"):
        terms = tokenize(phrase)
        want = set()
        for u, t_ in text_by_url.items():
            toks = tokenize(t_)
            if any(
                toks[i : i + len(terms)] == terms
                for i in range(len(toks) - len(terms) + 1)
            ):
                want.add(u)
        assert matches(phrase) == want, phrase
        with monkeypatch.context() as m:
            m.setattr(Q, "LOCAL_MAX_POSTINGS", 0)
            m.setattr(Q, "WAND_SHARD_TARGET", 1)
            assert matches(phrase) == want, phrase


def test_positional_multi_shard_exact(spark, pos_index, monkeypatch):
    """The phrase's rows are identical through the driver-local kernel,
    through forced WAND on one shard and at the maximum doc-range fan-out
    (block replication + clipping)."""
    import engine.query as Q
    from engine.positional import phrase_topk_positional

    h, _, pos_dir = pos_index

    def rows():
        return phrase_topk_positional(spark, h, pos_dir, "data table",
                                      k=10).collect()

    local = rows()
    monkeypatch.setattr(Q, "LOCAL_MAX_POSTINGS", 0)
    assert Q.wand_shard_count(h, "data table") == 1
    single = rows()
    monkeypatch.setattr(Q, "WAND_SHARD_TARGET", 1)
    assert Q.wand_shard_count(h, "data table") > 1
    assert rows() == single == local and len(local) == 3


def test_positions_artifact_deterministic(spark, index_cfg):
    """The positions are a pure function of (url set, config): indexes
    built from a 1-partition and a 16-partition copy of the same corpus
    have identical blocks' positions (xor of per-block hashes)."""
    from engine.build import build_index

    wp = spark.createDataFrame(
        _wp_rows(),
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    h1 = build_index(spark, wp.repartition(1),
                     tempfile.mkdtemp(prefix="idx_det_a_"), index_cfg)
    h16 = build_index(spark, wp.repartition(16),
                      tempfile.mkdtemp(prefix="idx_det_b_"), index_cfg)
    assert _positions_hash(spark, h1) == _positions_hash(spark, h16)


def test_positions_hash_pinned(spark, built_index):
    assert _positions_hash(spark, built_index) == SF0001_POSITIONS_HASH


def test_positions_match_terms_on_recrawls(spark, index_cfg):
    """A corpus with recrawls: positions come from the deduplicated docs
    the index holds, so per term the positions' doc count equals df, their
    position count equals cf, and every position lies below its doc's
    length. build_positions keeps accepting the raw corpus."""
    import numpy as np

    from engine.build import build_index
    from engine.codec import decode_concat, delta_decode_blocks, varint_decode
    from engine.positional import build_positions
    from engine.webpages import load_webpages, with_recrawl

    wp = with_recrawl(load_webpages(spark, "/root/testdata/sf0.001"))
    h = build_index(spark, wp, tempfile.mkdtemp(prefix="idx_recrawl_"),
                    index_cfg)
    assert build_positions(spark, h, wp) == h.postings_path
    terms = {
        r["term"]: (r["df"], r["cf"])
        for r in spark.read.parquet(h.terms_path).collect()
    }
    n_urls = wp.select("url").distinct().count()
    assert h.stats["n_docs"] == n_urls < wp.count()
    pos: dict[str, list[int]] = {}
    blocks = spark.read.parquet(h.postings_path).select(
        "term", "n", "codec_tfs", "tfs_enc", "codec_dls", "dls_enc", "pos_enc"
    ).collect()
    for r in blocks:
        n = [r["n"]]
        tfs = decode_concat([r["codec_tfs"]], [r["tfs_enc"]], n)
        dls = decode_concat([r["codec_dls"]], [r["dls_enc"]], n)
        gaps = varint_decode(r["pos_enc"])
        assert len(gaps) == int(tfs.sum()), r["term"]
        positions = delta_decode_blocks(gaps, tfs)
        assert (positions < np.repeat(dls, tfs.astype(np.int64))).all(), r["term"]
        df_cf = pos.setdefault(r["term"], [0, 0])
        df_cf[0] += r["n"]
        df_cf[1] += len(positions)
    assert pos == {t: [df, cf] for t, (df, cf) in terms.items()}


def test_phrase_scan_reads_positions_not_corpus(spark, pos_index,
                                                 monkeypatch):
    """Every WAND shard task of a phrase reads the postings blocks with
    term-bucket partition pruning, together with their positions, and
    never the corpus."""
    import engine.query as Q
    from engine.positional import phrase_topk_positional

    h, _, pos_dir = pos_index
    monkeypatch.setattr(Q, "LOCAL_MAX_POSTINGS", 0)

    def run():
        for target in (Q.WAND_SHARD_TARGET, 1):  # one shard, max fan-out
            monkeypatch.setattr(Q, "WAND_SHARD_TARGET", target)
            phrase_topk_positional(spark, h, pos_dir, "data table",
                                   k=10).collect()

    reads = _wand_reads(monkeypatch, run)
    assert len(reads) == 2
    for read in reads:
        _assert_shard_read(h, ["data", "table"], read, phrase=True)


def test_phrase_spark_jobs(spark, built_index, monkeypatch):
    """A phrase whose postings fit the driver starts no Spark job, and
    through forced WAND it starts one, the sweep."""
    import engine.query as Q
    from engine.positional import phrase_topk_positional

    sc = spark.sparkContext

    def n_jobs(group):
        sc.setJobGroup(group, group)
        try:
            rows = phrase_topk_positional(
                spark, built_index, built_index.postings_path, "the data",
                k=10).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(rows) == 10
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assert n_jobs("phrase-auto") == 0
    monkeypatch.setattr(Q, "LOCAL_MAX_POSTINGS", 0)
    assert n_jobs("phrase-wand") == 1
