"""Property test (SURVEY.md §5.2): block-max WAND pruning is rank-identical
to brute force on random corpora — exercised directly on the shard-scorer
function (no Spark), with tiny blocks so pruning paths actually trigger."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from engine.codec import bm25_tf_norm, delta_encode, encode_best, idf
from engine.query import _score_blocks, _wand_shard_scorer

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


def _build_blocks(corpus):
    """Replicates the merge/compress stage locally: per-term doc-sorted
    postings → blocks of BLOCK with real codec bytes + block-max scores."""
    n_docs = len(corpus)
    dls = [len(d) for d in corpus]
    avgdl = sum(dls) / n_docs
    tf: dict[int, dict[int, int]] = {}
    for did, doc in enumerate(corpus):
        for t in doc:
            tf.setdefault(t, {}).setdefault(did, 0)
            tf[t][did] += 1
    rows = []
    stats = {}
    for t, posts in tf.items():
        ids = np.asarray(sorted(posts), dtype=np.int64)
        tfs = np.asarray([posts[d] for d in ids], dtype=np.int64)
        dl = np.asarray([dls[d] for d in ids], dtype=np.int64)
        idf_t = idf(n_docs, len(ids))
        stats[str(t)] = {"df": len(ids), "cf": int(tfs.sum()), "idf": idf_t}
        contrib = idf_t * bm25_tf_norm(tfs, dl, K1, B, avgdl)
        for i in range(math.ceil(len(ids) / BLOCK)):
            lo, hi = i * BLOCK, min((i + 1) * BLOCK, len(ids))
            ci, eb = encode_best(delta_encode(ids[lo:hi]).astype(np.uint64))
            ct, tb = encode_best(tfs[lo:hi].astype(np.uint64))
            cd, db = encode_best(dl[lo:hi].astype(np.uint64))
            rows.append(
                {
                    "term": str(t), "salt": 0, "block_seq": i, "n": hi - lo,
                    "first_doc_id": int(ids[lo]), "last_doc_id": int(ids[hi - 1]),
                    "max_score": float(contrib[lo:hi].max()),
                    "codec_ids": ci, "ids_enc": eb,
                    "codec_tfs": ct, "tfs_enc": tb,
                    "codec_dls": cd, "dls_enc": db,
                }
            )
    return pd.DataFrame(rows), stats, avgdl, n_docs, tf, dls


def _brute(corpus, tf, dls, avgdl, terms, conjunctive):
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
    items = [
        (d, s) for d, s in scores.items()
        if not conjunctive or hits[d] == len(terms)
    ]
    items.sort(key=lambda x: (-x[1], x[0]))
    return items


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
    want = _brute(corpus, tf, dls, avgdl, terms, conjunctive)[:k]
    assert list(got["doc_id"]) == [d for d, _ in want], (
        corpus, qterms, conjunctive, k,
        list(zip(got["doc_id"], got["score"])), want,
    )
    for gs, (_, ws) in zip(got["score"], want):
        assert abs(gs - ws) < 1e-9


@settings(max_examples=120, deadline=None)
@given(
    corpus_strategy, query_strategy, st.booleans(), st.integers(2, 6),
    st.integers(1, 9),
)
def test_wand_multishard_rank_identical(corpus, qterms, conjunctive, k,
                                        range_size):
    """Multi-shard regression for the shard-clipping bug: blocks spanning
    several doc-range shards are replicated to each shard (the query-side
    explode), and the union of shard-local top-k must be duplicate-free and
    rank-identical to brute — i.e. each doc is scored exactly once, in its
    home shard, with full score."""
    blocks, stats, avgdl, n_docs, tf, dls = _build_blocks(corpus)
    terms = [t for t in qterms if t in tf]
    if not terms:
        return
    sterms = [str(t) for t in terms]
    pdf = blocks[blocks["term"].isin(sterms)]
    if len(pdf) == 0:
        return
    scorer = _wand_shard_scorer(
        stats, K1, B, avgdl, k, conjunctive, len(sterms), range_size
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
    merged = merged.sort_values(
        ["score", "doc_id"], ascending=[False, True], kind="mergesort"
    ).head(k)
    want = _brute(corpus, tf, dls, avgdl, terms, conjunctive)[:k]
    assert list(merged["doc_id"]) == [d for d, _ in want], (
        corpus, qterms, conjunctive, k, range_size,
        list(zip(merged["doc_id"], merged["score"])), want,
    )
    for gs, (_, ws) in zip(merged["score"], want):
        assert abs(gs - ws) < 1e-9


@settings(max_examples=120, deadline=None)
@given(corpus_strategy, query_strategy, st.booleans(), st.integers(2, 6))
def test_shared_kernel_matches_brute_and_wand_bit_equal(corpus, qterms,
                                                        conjunctive, k):
    """The shared decoder + per-doc aggregator over the full block table
    equals brute force, and its top-k scores are bit-equal (==) to the WAND
    shard scorer's — the invariant the url tie-break relies on when it
    compares scores from different paths exactly."""
    blocks, stats, avgdl, n_docs, tf, dls = _build_blocks(corpus)
    terms = [t for t in qterms if t in tf]
    if not terms:
        return
    sterms = [str(t) for t in terms]
    pdf = blocks[blocks["term"].isin(sterms)].assign(shard=0)
    ids, scores, nts = _score_blocks(pdf.to_dict("list"), stats, K1, B, avgdl)
    if conjunctive:
        sel = nts == len(sterms)
        ids, scores = ids[sel], scores[sel]
    order = np.lexsort((ids, -scores))
    ids, scores = ids[order], scores[order]
    want = _brute(corpus, tf, dls, avgdl, terms, conjunctive)
    assert ids.tolist() == [d for d, _ in want], (corpus, qterms, conjunctive)
    for s, (_, ws) in zip(scores, want):
        assert abs(s - ws) < 1e-9
    wand = _wand_shard_scorer(
        stats, K1, B, avgdl, k, conjunctive, len(sterms), range_size=n_docs + 1
    )(pdf)
    assert wand["doc_id"].tolist() == ids[:k].tolist()
    assert wand["score"].tolist() == scores[:k].tolist()
