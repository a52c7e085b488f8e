"""Property test (SURVEY.md §5.2): block-max WAND pruning is rank-identical
to brute force on random corpora — exercised directly on the shard-scorer
function (no Spark), with tiny blocks so pruning paths actually trigger.
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
from hypothesis import example, given, settings
from hypothesis import strategies as st

from engine.build import _row_deltas
from engine.codec import bm25_tf_norm, encode_blocks, idf, varint_encode_rows
from engine.query import (_brute_scorer, _cut, _local_scored,
                          _wand_shard_scorer)

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
    pdf = blocks[blocks["term"].isin(sterms)].assign(shard=0)
    if len(pdf) == 0:
        return
    scorer = _wand_shard_scorer(
        stats, K1, B, avgdl, k, conjunctive, len(sterms), range_size=n_docs + 1
    )
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


@settings(max_examples=120, deadline=None)
@given(
    corpus_strategy, query_strategy, st.booleans(), st.integers(2, 6),
    st.integers(1, 9), phrase_strategy, allowed_strategy,
)
def test_wand_multishard_rank_identical(corpus, qterms, conjunctive, k,
                                        range_size, phrase, allowed):
    """Multi-shard regression for the shard-clipping bug: blocks spanning
    several doc-range shards are replicated to each shard (the query-side
    explode), and the union of shard-local top-k must be duplicate-free and
    rank-identical to brute — i.e. each doc is scored exactly once, in its
    home shard, with full score. The driver's cut over the shards' rows
    yields brute's top k plus the kth score's whole tie group."""
    qterms, conjunctive, sphrase = _phrase_query(qterms, conjunctive, phrase)
    blocks, stats, avgdl, n_docs, tf, dls = _build_blocks(corpus)
    terms = [t for t in qterms if t in tf]
    if not terms:
        return
    sterms = [str(t) for t in terms]
    pdf = blocks[blocks["term"].isin(sterms)]
    if len(pdf) == 0:
        return
    scorer = _wand_shard_scorer(
        stats, K1, B, avgdl, k, conjunctive, len(sterms), range_size,
        phrase=sphrase, allowed=allowed,
    )
    # replicate each block to every shard it overlaps, exactly as query_topk
    parts = []
    for _, row in pdf.iterrows():
        for shard in range(
            int(row.first_doc_id) // range_size,
            int(row.last_doc_id) // range_size + 1,
        ):
            parts.append({**row.to_dict(), "shard": shard})
    rep = pd.DataFrame(parts)
    locals_ = [scorer(g) for _, g in rep.groupby("shard")]
    merged = pd.concat(locals_, ignore_index=True)
    assert merged["doc_id"].is_unique, "duplicate doc across shards"
    # the driver's merge: the same cut over the union of the shards' rows
    ids, scores = _cut(merged["doc_id"].to_numpy(), merged["score"].to_numpy(),
                       k)
    want = _kept(_brute(corpus, tf, dls, avgdl, terms, conjunctive, phrase,
                        allowed), k)
    assert ids.tolist() == [d for d, _ in want], (
        corpus, qterms, conjunctive, k, range_size, phrase, allowed,
        list(zip(ids, scores)), want,
    )
    for gs, (_, ws) in zip(scores, want):
        assert abs(gs - ws) < 1e-9


N_BUCKETS = 3


def _local_handle(blocks, avgdl):
    """A stand-in index handle for the driver-local kernel: the blocks as
    an in-memory pyarrow dataset with the build's `bucket` column, where
    _pa_dataset finds it memoized."""
    tbl = pa.Table.from_pandas(blocks.assign(bucket=[
        zlib.crc32(t.encode("utf-8")) % N_BUCKETS for t in blocks["term"]
    ]), preserve_index=False)
    h = types.SimpleNamespace(
        postings_path=None,
        stats={"k1": K1, "b": B, "avgdl": avgdl, "n_term_buckets": N_BUCKETS},
    )
    h._postings_ds = ds.dataset(tbl)
    return h


@settings(max_examples=120, deadline=None)
@given(corpus_strategy, query_strategy, st.booleans(), st.integers(2, 6),
       allowed_strategy)
def test_shared_kernel_matches_brute_and_wand_bit_equal(corpus, qterms,
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
    pdf = blocks[blocks["term"].isin(sterms)].assign(shard=0)
    ids, scores = _local_scored(_local_handle(blocks, avgdl), sterms, stats,
                                conjunctive, allowed=allowed)
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
        stats, K1, B, avgdl, k, conjunctive, len(sterms),
        range_size=n_docs + 1, allowed=allowed,
    )(pdf)
    n = len(_kept(list(zip(ids.tolist(), scores.tolist())), k))
    assert wand["doc_id"].tolist() == ids[:n].tolist()
    assert wand["score"].tolist() == scores[:n].tolist()


def _shard_frames(pdf, range_size):
    """{shard: the blocks it sees}: each block replicated to every doc-range
    shard it overlaps, as query_topk's explode does."""
    parts = [
        {**row.to_dict(), "shard": shard}
        for _, row in pdf.iterrows()
        for shard in range(int(row.first_doc_id) // range_size,
                           int(row.last_doc_id) // range_size + 1)
    ]
    return dict(list(pd.DataFrame(parts).groupby("shard")))


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
def test_wand_url_tiebreak_contract(corpus, qterms, conjunctive, k,
                                    range_size, phrase, allowed):
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
    range_size = range_size or n_docs + 1
    want = _brute(corpus, tf, dls, avgdl, terms, conjunctive, phrase,
                  allowed)
    scorer = _wand_shard_scorer(stats, K1, B, avgdl, k, conjunctive,
                                len(sterms), range_size, allowed=allowed,
                                phrase=sphrase)
    for shard, g in _shard_frames(
        blocks[blocks["term"].isin(sterms)], range_size
    ).items():
        home = _kept([(d, s) for d, s in want if d // range_size == shard], k)
        got = scorer(g)
        assert list(zip(got["doc_id"].tolist(), got["score"].tolist())) \
            == home, (corpus, qterms, conjunctive, k, range_size, phrase,
                      allowed, shard)
