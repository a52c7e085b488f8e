"""Positional-postings phrase search (engine/positional.py) over the
positions table build_index writes: rank identity with the pure-Python
reference in tests/phrase_reference.py, adjacency semantics (repeated
terms, boundaries), multi-shard exactness, table determinism across input
partitioning, positions consistent with the terms table (df, cf) on a
corpus with recrawls, and the no-corpus-access plan property."""

from __future__ import annotations

import datetime
import random
import tempfile

import pytest

from tests.phrase_reference import PhraseReference, assert_same_topk
from tests.test_build_pipeline import _positions_hash

# positions content hash (xor of per-block xxhash64) of the session index,
# tests/conftest.py::built_index over sf0.001
SF0001_POSITIONS_HASH = 3191333307470414653


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
    return h, wp, h.positions_path


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


def test_positional_randomized_equivalence(spark, index_cfg):
    """Random corpora: the positional match set equals pure-Python token
    adjacency for every probed phrase (incl. stopword-grade and repeated
    tokens)."""
    from engine.analyzer import tokenize
    from engine.build import build_index
    from engine.positional import phrase_match_docs

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
    pos_dir = h.positions_path
    docs = {
        r["doc_id"]: r["url"]
        for r in spark.read.parquet(h.docs_path).collect()
    }
    text_by_url = {u: t for u, _, _, t, _ in rows}
    for phrase in ("the data", "data the data", "a b c", "the the", "dd"):
        terms = tokenize(phrase)
        got = {
            docs[r["doc_id"]]
            for r in phrase_match_docs(spark, h, pos_dir, terms).collect()
        }
        want = set()
        for u, t_ in text_by_url.items():
            toks = tokenize(t_)
            if any(
                toks[i : i + len(terms)] == terms
                for i in range(len(toks) - len(terms) + 1)
            ):
                want.add(u)
        assert got == want, phrase


def test_positional_multi_shard_exact(spark, pos_index):
    """shard_target=1 forces the maximum doc-range fan-out; the sharded
    kernel (block replication + clipping) returns the identical match set."""
    from engine.analyzer import tokenize
    from engine.positional import phrase_match_docs

    h, _, pos_dir = pos_index
    terms = tokenize("data table")
    single = {
        r["doc_id"]
        for r in phrase_match_docs(spark, h, pos_dir, terms).collect()
    }
    sharded = {
        r["doc_id"]
        for r in phrase_match_docs(
            spark, h, pos_dir, terms, shard_target=1
        ).collect()
    }
    assert sharded == single and len(single) == 3


def test_positions_artifact_deterministic(spark, index_cfg):
    """The positions table is a pure function of (url set, config):
    indexes built from a 1-partition and a 16-partition copy of the same
    corpus have identical position blocks (xor of per-block hashes)."""
    from engine.build import build_index

    wp = spark.createDataFrame(
        _wp_rows(),
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    h1 = build_index(spark, wp.repartition(1),
                     tempfile.mkdtemp(prefix="idx_det_a_"), index_cfg)
    h16 = build_index(spark, wp.repartition(16),
                      tempfile.mkdtemp(prefix="idx_det_b_"), index_cfg)
    assert _positions_hash(spark, h1.positions_path) == _positions_hash(
        spark, h16.positions_path
    )


def test_positions_hash_pinned(spark, built_index):
    assert (
        _positions_hash(spark, built_index.positions_path)
        == SF0001_POSITIONS_HASH
    )


def test_positions_match_terms_on_recrawls(spark, index_cfg):
    """A corpus with recrawls: positions come from the deduplicated docs
    the index holds, so per term the positions' doc count equals df and
    their position count equals cf. build_positions keeps accepting the
    raw corpus."""
    from engine.build import build_index
    from engine.codec import varint_decode
    from engine.positional import build_positions
    from engine.webpages import load_webpages, with_recrawl

    wp = with_recrawl(load_webpages(spark, "/root/testdata/sf0.001"))
    h = build_index(spark, wp, tempfile.mkdtemp(prefix="idx_recrawl_"),
                    index_cfg)
    pos_dir = build_positions(spark, h, wp)
    assert pos_dir == h.positions_path
    terms = {
        r["term"]: (r["df"], r["cf"])
        for r in spark.read.parquet(h.terms_path).collect()
    }
    n_urls = wp.select("url").distinct().count()
    assert h.stats["n_docs"] == n_urls < wp.count()
    pos: dict[str, list[int]] = {}
    for r in spark.read.parquet(pos_dir).select("term", "n", "cnts_enc").collect():
        df_cf = pos.setdefault(r["term"], [0, 0])
        df_cf[0] += r["n"]
        df_cf[1] += int(varint_decode(r["cnts_enc"]).sum())
    assert pos == {t: [df, cf] for t, (df, cf) in terms.items()}


def test_positional_plan_reads_only_positions(spark, pos_index):
    """The phrase-match plan scans the positions artifact with term-bucket
    partition pruning and never touches the corpus or the main postings."""
    from engine.analyzer import tokenize
    from engine.positional import phrase_match_docs

    h, _, pos_dir = pos_index
    plan = phrase_match_docs(
        spark, h, pos_dir, tokenize("data table")
    )._jdf.queryExecution().executedPlan().toString()
    assert "positions" in plan
    # corpus (webpages) and main postings never appear in the scan set
    assert "text#" not in plan and "html#" not in plan
    assert "tfs_enc" not in plan
