"""Property test (SURVEY.md §5.2): block-max WAND pruning is rank-identical
to brute force on random corpora — exercised directly on the shard-scorer
function and on the WAND dispatch's task function over parquet blocks (no
Spark), with tiny blocks so pruning paths actually trigger.
A phrase (ordered term ids, repeats allowed) is one more input: the sweep's
adjacency predicate must match pure-Python adjacency over the docs. So is
an allowed doc-id set, the facet filter every strategy applies."""

from __future__ import annotations

import types
import zlib

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from hypothesis import example, given, settings
from hypothesis import strategies as st

from engine.build import _row_deltas
from engine.codec import bm25_tf_norm, encode_blocks, idf, varint_encode_rows
from engine.query import (_WAND_COLS, _brute_scorer, _cut, _local_scored,
                          _wand_shard_scorer, _wand_shards)

K1, B = 1.2, 0.75
BLOCK = 4  # tiny blocks → many intervals → pruning actually exercised

corpus_strategy = st.lists(  # each doc: list of term ids 0..5
    st.lists(st.integers(min_value=0, max_value=5), min_size=1, max_size=12),
    min_size=1,
    max_size=40,
)
query_strategy = st.lists(
    st.integers(min_value=0, max_value=5), min_size=1, max_size=3, unique=True
)
# an ordered phrase of 2-3 term ids, repeats allowed; None = no phrase
phrase_strategy = st.one_of(
    st.none(),
    st.lists(st.integers(min_value=0, max_value=5), min_size=2, max_size=3),
)
# a sorted allowed doc-id set (possibly empty, possibly missing every
# matching doc); None = no filter
allowed_strategy = st.one_of(
    st.none(),
    st.sets(st.integers(min_value=0, max_value=45)).map(
        lambda s: np.asarray(sorted(s), dtype=np.int64)),
)


def _build_blocks(corpus):
    """Replicates the merge/compress stage locally: per-term doc-sorted
    postings → blocks of BLOCK with real codec bytes (the build's own
    per-block codec chooser, encode_blocks) + block-max scores, and each
    posting's positions (within-doc delta varint) in pos_enc."""
    n_docs = len(corpus)
    dls = [len(d) for d in corpus]
    avgdl = sum(dls) / n_docs
    tf: dict[int, dict[int, int]] = {}
    at: dict[int, dict[int, list[int]]] = {}  # term → doc → positions
    for did, doc in enumerate(corpus):
        for i, t in enumerate(doc):
            tf.setdefault(t, {}).setdefault(did, 0)
            tf[t][did] += 1
            at.setdefault(t, {}).setdefault(did, []).append(i)
    rows = []
    stats = {}
    for t, posts in tf.items():
        ids = np.asarray(sorted(posts), dtype=np.int64)
        tfs = np.asarray([posts[d] for d in ids], dtype=np.int64)
        dl = np.asarray([dls[d] for d in ids], dtype=np.int64)
        idf_t = idf(n_docs, len(ids))
        stats[str(t)] = {"df": len(ids), "cf": int(tfs.sum()), "idf": idf_t}
        contrib = idf_t * bm25_tf_norm(tfs, dl, K1, B, avgdl)
        gaps = np.concatenate([np.diff(at[t][d], prepend=0) for d in ids])
        starts = np.concatenate(([0], np.cumsum(tfs)[BLOCK - 1:-1:BLOCK]))
        pos_enc = varint_encode_rows(gaps, starts)
        bstarts = np.arange(0, len(ids), BLOCK, dtype=np.int64)
        ci, eb = encode_blocks(_row_deltas(ids, bstarts), bstarts)
        ct, tb = encode_blocks(tfs.astype(np.uint64), bstarts)
        cd, db = encode_blocks(dl.astype(np.uint64), bstarts)
        for i, lo in enumerate(bstarts.tolist()):
            hi = min(lo + BLOCK, len(ids))
            rows.append(
                {
                    "term": str(t), "salt": 0, "block_seq": i, "n": hi - lo,
                    "first_doc_id": int(ids[lo]), "last_doc_id": int(ids[hi - 1]),
                    "max_score": float(contrib[lo:hi].max()),
                    "codec_ids": ci[i], "ids_enc": eb[i],
                    "codec_tfs": ct[i], "tfs_enc": tb[i],
                    "codec_dls": cd[i], "dls_enc": db[i], "pos_enc": pos_enc[i],
                }
            )
    return pd.DataFrame(rows), stats, avgdl, n_docs, tf, dls


def _brute(corpus, tf, dls, avgdl, terms, conjunctive, phrase=None,
           allowed=None):
    n_docs = len(corpus)
    scores: dict[int, float] = {}
    hits: dict[int, int] = {}
    for t in sorted(terms, key=str):  # canonical sorted-term sum order
        posts = tf.get(t, {})
        idf_t = idf(n_docs, len(posts))
        for did, f in posts.items():
            c = idf_t * float(
                bm25_tf_norm(np.array([f]), np.array([dls[did]]), K1, B, avgdl)[0]
            )
            scores[did] = scores.get(did, 0.0) + c
            hits[did] = hits.get(did, 0) + 1
    allow = None if allowed is None else set(allowed.tolist())
    items = [
        (d, s) for d, s in scores.items()
        if (not conjunctive or hits[d] == len(terms))
        and (allow is None or d in allow)
        and (phrase is None or any(
            corpus[d][i:i + len(phrase)] == phrase
            for i in range(len(corpus[d]) - len(phrase) + 1)))
    ]
    items.sort(key=lambda x: (-x[1], x[0]))
    return items


def _kept(items, k):
    """The top-k cut every strategy makes, over (doc, score) items ordered
    by (score desc, doc asc): the items scoring at least the kth score —
    the top k plus the kth score's whole tie group."""
    if len(items) <= k:
        return items
    return [(d, s) for d, s in items if s >= items[k - 1][1]]


@settings(max_examples=120, deadline=None)
@given(corpus_strategy, query_strategy, st.booleans(), st.integers(2, 6))
def test_wand_rank_identical_to_brute(corpus, qterms, conjunctive, k):
    blocks, stats, avgdl, n_docs, tf, dls = _build_blocks(corpus)
    terms = [t for t in qterms if t in tf]
    if not terms:
        return
    sterms = [str(t) for t in terms]
    pdf = blocks[blocks["term"].isin(sterms)]
    if len(pdf) == 0:
        return
    scorer = _wand_shard_scorer(stats, K1, B, avgdl, k, conjunctive,
                                len(sterms))
    got = scorer(pdf)
    want = _kept(_brute(corpus, tf, dls, avgdl, terms, conjunctive), k)
    assert list(got["doc_id"]) == [d for d, _ in want], (
        corpus, qterms, conjunctive, k,
        list(zip(got["doc_id"], got["score"])), want,
    )
    for gs, (_, ws) in zip(got["score"], want):
        assert abs(gs - ws) < 1e-9


def _phrase_query(qterms, conjunctive, phrase):
    """(query terms, conjunctive, the kernel's phrase): a phrase is
    conjunctive top-k over its unique terms."""
    if phrase is None:
        return qterms, conjunctive, None
    return list(dict.fromkeys(phrase)), True, [str(t) for t in phrase]


N_BUCKETS = 3


def _dataset(blocks, root):
    """The blocks as the build lays them out — parquet files under hive
    `bucket=` dirs, bucket crc32(term) % N_BUCKETS — opened as the
    pyarrow dataset the driver-local read and the WAND shard tasks use."""
    pq.write_to_dataset(pa.Table.from_pandas(blocks.assign(bucket=[
        zlib.crc32(t.encode("utf-8")) % N_BUCKETS for t in blocks["term"]
    ]), preserve_index=False), str(root), partition_cols=["bucket"])
    return ds.dataset(str(root), format="parquet", partitioning="hive")


def _sweep(dset, sterms, kernel, n_groups, width, phrase=None):
    """{(lo, hi): kernel output} over every shard of the WAND dispatch's
    task (_wand_shards) given all n_groups shard ids: each shard reads its
    blocks from `dset` and runs `kernel` — the scorer, as query_topk
    wires it."""
    out = {}

    def recording(pdf, lo, hi):
        out[lo, hi] = kernel(pdf, lo, hi)
        return out[lo, hi]

    task = _wand_shards(
        dset, sorted({zlib.crc32(t.encode("utf-8")) % N_BUCKETS
                      for t in sterms}),
        sterms, _WAND_COLS + (["pos_enc"] if phrase else []), recording,
        n_groups, width,
    )
    assert len(list(task(iter([pd.DataFrame({"id": np.arange(n_groups)})])))) \
        == len(out)
    return out


@settings(max_examples=120, deadline=None)
@given(
    corpus_strategy, query_strategy, st.booleans(), st.integers(2, 6),
    st.integers(1, 9), st.integers(1, 6), phrase_strategy, allowed_strategy,
)
# 20 docs over 3 shards of width 2: the unbounded last shard owns ids 4-19
@example(corpus=[[i % 3, 0] for i in range(20)], qterms=[0, 1],
         conjunctive=False, k=3, range_size=2, n_groups=3, phrase=None,
         allowed=None)
def test_wand_multishard_rank_identical(tmp_path_factory, corpus, qterms,
                                        conjunctive, k, range_size, n_groups,
                                        phrase, allowed):
    """Multi-shard regression for the shard-clipping bug: the dispatch's
    task runs n_groups shards of width range_size, each reading every block
    that overlaps its doc range from parquet, so a block spanning several
    shards is read by each; the last shard is unbounded, so doc ids at or
    above n_groups·range_size (skewed id buckets) are scored there. The
    union of the shards' rows must be duplicate-free and rank-identical to
    brute — each doc scored exactly once, in its home shard, with full
    score. The driver's cut over the shards' rows yields brute's top k
    plus the kth score's whole tie group."""
    qterms, conjunctive, sphrase = _phrase_query(qterms, conjunctive, phrase)
    blocks, stats, avgdl, n_docs, tf, dls = _build_blocks(corpus)
    terms = [t for t in qterms if t in tf]
    if not terms:
        return
    sterms = [str(t) for t in terms]
    scorer = _wand_shard_scorer(
        stats, K1, B, avgdl, k, conjunctive, len(sterms),
        phrase=sphrase, allowed=allowed,
    )
    dset = _dataset(blocks, tmp_path_factory.mktemp("blocks"))
    shards = _sweep(dset, sterms, scorer, n_groups, range_size, sphrase)
    assert len(shards) <= n_groups
    merged = pd.concat(list(shards.values()), ignore_index=True)
    assert merged["doc_id"].is_unique, "duplicate doc across shards"
    # the driver's merge: the same cut over the union of the shards' rows
    ids, scores = _cut(merged["doc_id"].to_numpy(np.int64),
                       merged["score"].to_numpy(np.float64), k)
    want = _kept(_brute(corpus, tf, dls, avgdl, terms, conjunctive, phrase,
                        allowed), k)
    assert ids.tolist() == [d for d, _ in want], (
        corpus, qterms, conjunctive, k, range_size, n_groups, phrase,
        allowed, list(zip(ids, scores)), want,
    )
    for gs, (_, ws) in zip(scores, want):
        assert abs(gs - ws) < 1e-9


def _local_handle(blocks, avgdl, root):
    """A stand-in index handle for the driver-local kernel: the blocks
    written under `root` as the build lays them out (_dataset), where
    _pa_dataset opens them."""
    _dataset(blocks, root)
    return types.SimpleNamespace(
        postings_path=str(root),
        stats={"k1": K1, "b": B, "avgdl": avgdl, "n_term_buckets": N_BUCKETS},
    )


@settings(max_examples=120, deadline=None)
@given(corpus_strategy, query_strategy, st.booleans(), st.integers(2, 6),
       allowed_strategy)
def test_shared_kernel_matches_brute_and_wand_bit_equal(tmp_path_factory,
                                                        corpus, qterms,
                                                        conjunctive, k,
                                                        allowed):
    """The driver-local kernel and the distributed brute scorer (one Arrow
    batch) over the full block table equal brute force under the allowed
    set, and their scores are bit-equal (==) to each other and, over the
    top k with the kth score's tie group, to the WAND shard scorer's — the
    invariant the url tie-break relies on when it compares scores from
    different paths exactly."""
    blocks, stats, avgdl, n_docs, tf, dls = _build_blocks(corpus)
    terms = [t for t in qterms if t in tf]
    if not terms:
        return
    sterms = [str(t) for t in terms]
    pdf = blocks[blocks["term"].isin(sterms)]
    ids, scores = _local_scored(
        _local_handle(blocks, avgdl, tmp_path_factory.mktemp("blocks")),
        sterms, stats, conjunctive, allowed=allowed)
    order = np.lexsort((ids, -scores))
    ids, scores = ids[order], scores[order]
    want = _brute(corpus, tf, dls, avgdl, terms, conjunctive,
                  allowed=allowed)
    assert ids.tolist() == [d for d, _ in want], (
        corpus, qterms, conjunctive, allowed)
    for s, (_, ws) in zip(scores, want):
        assert abs(s - ws) < 1e-9
    (part,) = _brute_scorer(stats, K1, B, avgdl, allowed)(iter([pdf]))
    if conjunctive:
        part = part[part["nt"] == len(sterms)]
    assert dict(zip(part["doc_id"], part["contrib"])) \
        == dict(zip(ids.tolist(), scores.tolist()))
    wand = _wand_shard_scorer(
        stats, K1, B, avgdl, k, conjunctive, len(sterms), allowed=allowed,
    )(pdf)
    n = len(_kept(list(zip(ids.tolist(), scores.tolist())), k))
    assert wand["doc_id"].tolist() == ids[:n].tolist()
    assert wand["score"].tolist() == scores[:n].tolist()


@settings(max_examples=120, deadline=None)
@given(
    corpus_strategy, query_strategy, st.booleans(), st.integers(1, 6),
    st.one_of(st.none(), st.integers(1, 9)), phrase_strategy,
    allowed_strategy,
)
# every doc ties: a cut to exactly k drops part of each shard's tie group
@example(corpus=[[0]] * 9, qterms=[0], conjunctive=False, k=2,
         range_size=None, phrase=None, allowed=None)
@example(corpus=[[0]] * 9, qterms=[0], conjunctive=False, k=2,
         range_size=4, phrase=None, allowed=None)
def test_wand_url_tiebreak_contract(tmp_path_factory, corpus, qterms,
                                    conjunctive, k, range_size, phrase,
                                    allowed):
    """The kernel's side of the url tie-break, per shard (range_size None =
    one shard): the shard returns exactly its brute docs scoring at least
    its kth score (all of them if fewer than k match) — so the whole
    kth-score tie group — in (score desc, doc_id asc) order, with
    bit-equal scores. The union over shards then holds the global tie
    group, which query_topk re-sorts by url."""
    qterms, conjunctive, sphrase = _phrase_query(qterms, conjunctive, phrase)
    blocks, stats, avgdl, n_docs, tf, dls = _build_blocks(corpus)
    terms = [t for t in qterms if t in tf]
    if not terms:
        return
    sterms = [str(t) for t in terms]
    range_size = range_size or n_docs
    want = _brute(corpus, tf, dls, avgdl, terms, conjunctive, phrase,
                  allowed)
    scorer = _wand_shard_scorer(stats, K1, B, avgdl, k, conjunctive,
                                len(sterms), allowed=allowed, phrase=sphrase)
    shards = _sweep(_dataset(blocks, tmp_path_factory.mktemp("blocks")),
                    sterms, scorer, -(-n_docs // range_size), range_size,
                    sphrase)
    for (lo, hi), got in shards.items():
        home = _kept([(d, s) for d, s in want
                      if lo <= d and (hi is None or d < hi)], k)
        assert list(zip(got["doc_id"].tolist(), got["score"].tolist())) \
            == home, (corpus, qterms, conjunctive, k, range_size, phrase,
                      allowed, lo)
    # a shard that read no block holds no matching doc
    seen = {lo for lo, _ in shards}
    assert all(d // range_size * range_size in seen for d, _ in want)


def test_decode_is_one_decode_concat_call(monkeypatch):
    """_decode_blocks decodes ids, tfs and dls of any block set with one
    decode_concat call over the three columns' blocks, and the phrase
    predicate decodes only ids and tfs, in one call too; the values are
    the ones each column decodes to on its own."""
    import engine.query as q
    from engine.codec import decode_concat, delta_decode_blocks

    corpus = [[i % 6, (i * 7) % 5, i % 2, 3] * (1 + i % 3) for i in range(30)]
    blocks, *_ = _build_blocks(corpus)
    cols = blocks.to_dict("list")
    calls = []

    def spy(codecs, bufs, ns):
        calls.append(len(codecs))
        return decode_concat(codecs, bufs, ns)

    monkeypatch.setattr(q, "decode_concat", spy)
    ids, tfs, dls = q._decode_blocks(cols)
    assert calls == [3 * len(blocks)]
    ns = cols["n"]
    assert ids.tolist() == delta_decode_blocks(
        decode_concat(cols["codec_ids"], cols["ids_enc"], ns), ns).tolist()
    assert tfs.tolist() == decode_concat(
        cols["codec_tfs"], cols["tfs_enc"], ns).tolist()
    assert dls.tolist() == decode_concat(
        cols["codec_dls"], cols["dls_enc"], ns).tolist()

    calls.clear()
    q._phrase_mask(cols, np.arange(len(blocks)), ["0", "3"],
                   np.unique(ids))
    assert calls == [2 * len(blocks)]


def test_task_reads_its_packed_range_once(tmp_path, monkeypatch):
    """A WAND task that packs several shards reads their whole doc range
    once, with its shard ids spread over several batches, and gives each
    shard exactly the blocks a read of that shard's own range returns;
    the task holding the last shard reads every id above too."""
    import engine.query as q

    corpus = [[i % 6, (i * 5) % 4, 0] for i in range(40)]
    blocks, *_ = _build_blocks(corpus)
    dset = _dataset(blocks, tmp_path)
    sterms = ["0", "1", "3"]
    buckets = sorted({zlib.crc32(t.encode("utf-8")) % N_BUCKETS
                      for t in sterms})
    reads = []
    read_blocks = q._read_blocks

    def counting(*args):
        reads.append(args[4:])
        return read_blocks(*args)

    def key(pdf):
        return sorted(zip(pdf["term"], pdf["first_doc_id"]))

    got = {}

    def kernel(pdf, lo, hi):
        got[lo, hi] = key(pdf)
        return pd.DataFrame({"doc_id": [], "score": []})

    monkeypatch.setattr(q, "_read_blocks", counting)
    n_groups, width = 8, 4
    task = _wand_shards(dset, buckets, sterms, _WAND_COLS, kernel, n_groups,
                        width)
    for ids in ([2, 3, 4], [6, 7]):
        reads.clear()
        list(task(iter([pd.DataFrame({"id": ids[:1]}),
                        pd.DataFrame({"id": ids[1:]})])))
        assert len(reads) == 1
        last = ids[-1] == n_groups - 1
        assert reads[0] == (ids[0] * width,
                            None if last else (ids[-1] + 1) * width)
    assert sorted(got) == [(s * width, None if s == n_groups - 1
                            else (s + 1) * width) for s in (2, 3, 4, 6, 7)]
    for (lo, hi), rows in got.items():
        assert rows == key(read_blocks(dset, buckets, sterms, _WAND_COLS, lo,
                                       hi).to_pandas())
