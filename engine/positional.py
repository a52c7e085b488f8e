"""Positional postings for exact-phrase search (SURVEY.md §2.B18).

Exact-phrase top-k: the documents whose analyzer token stream holds the
phrase's tokens consecutively, ranked by the conjunctive BM25 sum of the
phrase's unique terms, ties broken by url. Adjacency is checked from the
index's postings blocks alone; corpus text is never read at query time.

Positions are one column of the postings table. `engine.build.build_index`
takes them from the same SPIMI tokenize pass as the postings and writes
them on each block, next to the block's doc ids and tfs:

    postings/bucket=<crc32(term) % n_term_buckets>/*.parquet
      term, salt, block_seq, n (docs), first_doc_id, last_doc_id,
      codec_ids, ids_enc, codec_tfs, tfs_enc, ...  -- the scoring columns
      pos_enc   -- concatenation of per-doc position streams, each
                   within-doc delta varint with an absolute first value
                   (self-contained per doc => decode via the shared
                   delta_decode_blocks(flat_gaps, tfs) kernel; a doc's tf
                   is its position count)

Positions index the analyzer token stream (0-based). Only this module reads
`pos_enc`; the scoring scans never select it, so it costs them no IO.

Query plan (`phrase_match_docs`): bucket-partition-pruned scan of the
phrase terms' blocks (ids, tfs and positions only) → doc-range shards
exactly like block-max WAND (blocks spanning several shards are
replicated, checking clipped to the home shard) → per-shard vectorized
adjacency chain on (doc, pos) keys → matched doc_ids.
`phrase_topk_positional` semi-joins them to the conjunctive candidates of
`engine.phrase.scored_docs` and cuts the top k.

Scale notes (100 TB): the query reads ONLY index blocks — for "the data"
the bytes read are the two terms' blocks, independent of corpus text
volume. Salting and sharding are the main index's, so skew behavior is
identical.
"""

from __future__ import annotations

import functools
import os

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from engine.analyzer import tokenize
from engine.build import IndexHandle, open_index
from engine.codec import decode_concat, delta_decode_blocks, varint_decode_concat
from engine.query import (
    _docs_df,
    _local_term_stats,
    _pruned_postings,
    _result_df,
    _run_shards,
    _shard_layout,
    _top_by_url,
)

MATCH_SCHEMA = T.StructType([T.StructField("doc_id", T.LongType())])

# the postings columns the adjacency kernel decodes (plus the block bounds
# the shard dispatcher reads)
_PHRASE_COLS = ["term", "n", "first_doc_id", "last_doc_id", "codec_ids",
                "ids_enc", "codec_tfs", "tfs_enc", "pos_enc"]


def build_positions(
    spark: SparkSession, index: IndexHandle | str, corpus: DataFrame
) -> str:
    """Where an index version's positions live: its postings table, whose
    blocks carry them (`pos_enc`). `build_index` writes them, so nothing is
    built here; `corpus` is unused and stays only so existing callers keep
    working."""
    handle = open_index(index) if isinstance(index, str) else index
    return handle.postings_path


# ---------------------------------------------------------------------------
# query side
# ---------------------------------------------------------------------------


def _adjacency_kernel(ordered_terms: list[str], range_size: int):
    """Exact phrase adjacency over one doc-range shard: build per-term
    (doc, pos) key arrays and chain-intersect S ← (S + 1) ∩ keys(t_next).
    Fully vectorized (np.intersect1d over the whole shard); handles
    repeated phrase terms ("the the") because the chain walks the ORDERED
    token list. Each doc is verified in exactly one shard (clip), mirroring
    the WAND scorer's replication contract."""
    uniq_terms = list(dict.fromkeys(ordered_terms))

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"doc_id": pd.Series(dtype=np.int64)})
        if len(pdf) == 0:
            return empty
        shard = int(pdf["shard"].iloc[0])
        lo, hi = shard * range_size, (shard + 1) * range_size
        # one batched decode of the shard's blocks (ids and tfs with their
        # block codecs, then each posting's positions), clipped to the shard
        ns = pdf["n"].to_numpy(np.int64)
        ids = delta_decode_blocks(
            decode_concat(pdf["codec_ids"].tolist(), pdf["ids_enc"].tolist(), ns),
            ns,
        ).astype(np.int64)
        tfs = decode_concat(
            pdf["codec_tfs"].tolist(), pdf["tfs_enc"].tolist(), ns
        ).astype(np.int64)
        pos = delta_decode_blocks(
            varint_decode_concat(pdf["pos_enc"]), tfs
        ).astype(np.int64)
        term_of = np.repeat(pdf["term"].to_numpy(object), ns)
        in_shard = (ids >= lo) & (ids < hi)
        sel = {t: in_shard & (term_of == t) for t in uniq_terms}
        if not all(m.any() for m in sel.values()):
            return empty
        union = np.unique(np.concatenate([ids[m] for m in sel.values()]))
        M = np.int64(pos.max() + 2)
        keys: dict[str, np.ndarray] = {}
        for t, m in sel.items():
            local = np.searchsorted(union, np.repeat(ids[m], tfs[m]))
            keys[t] = local.astype(np.int64) * M + pos[np.repeat(m, tfs)]
        s = keys[ordered_terms[0]]
        for t in ordered_terms[1:]:
            if len(s) == 0:
                return empty
            s = np.intersect1d(s + 1, keys[t], assume_unique=True)
        if len(s) == 0:
            return empty
        matched = union[np.unique(s // M)]
        return pd.DataFrame({"doc_id": matched.astype(np.int64)})

    return fn


def phrase_match_docs(
    spark: SparkSession,
    index: IndexHandle | str,
    ordered_terms: list[str],
    shard_target: int | None = None,
) -> DataFrame:
    """doc_ids whose token stream contains `ordered_terms` consecutively,
    answered from the postings blocks' positions alone (no corpus access).

    Physical plan mirrors the WAND query path: bucket-partition-pruned scan
    of the phrase terms' blocks, adaptive doc-range sharding (1 task for
    light phrases, fan-out for stopword-grade ones, blocks replicated to
    every shard they span and clipped in the kernel)."""
    handle = open_index(index) if isinstance(index, str) else index
    uniq = list(dict.fromkeys(ordered_terms))
    if not uniq:
        return spark.createDataFrame([], MATCH_SCHEMA)
    st = _local_term_stats(handle, uniq)
    if any(t not in st for t in uniq):
        return spark.createDataFrame([], MATCH_SCHEMA)
    n_groups, width = _shard_layout(handle, st, uniq, shard_target)
    return _run_shards(
        _pruned_postings(spark, handle, uniq, _PHRASE_COLS), n_groups, width,
        functools.partial(_adjacency_kernel, ordered_terms), MATCH_SCHEMA,
    )


def phrase_topk_positional(
    spark: SparkSession,
    index: IndexHandle | str,
    postings_dir: str,
    phrase: str,
    k: int = 10,
) -> DataFrame:
    """Top-k exact-phrase matches ranked by the conjunctive BM25 sum of the
    phrase's unique terms. Returns (doc_id, url, score) ordered by
    (score desc, url asc); a one-token phrase is plain conjunctive top-k.
    `postings_dir` must be the index's `postings_path` (what
    `build_positions` returns), whose blocks carry the positions; any other
    path raises ValueError. k=0 returns no rows without running a Spark
    job; k < 0 raises ValueError."""
    from engine.phrase import scored_docs

    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")
    handle = open_index(index) if isinstance(index, str) else index
    if os.path.normpath(postings_dir) != os.path.normpath(handle.postings_path):
        raise ValueError(
            f"postings_dir must be the index's postings_path "
            f"{handle.postings_path!r}, got {postings_dir!r}"
        )
    ordered = tokenize(phrase)
    if k == 0 or not ordered:
        return _result_df(spark, [], [], None, with_url=True)
    uniq = list(dict.fromkeys(ordered))
    cand = scored_docs(spark, handle, uniq)
    if len(ordered) > 1:
        matched = phrase_match_docs(spark, handle, ordered)
        cand = cand.join(matched, "doc_id", "left_semi")
    docs = _docs_df(spark, handle).select("doc_id", "url")
    return _top_by_url(cand.join(docs, "doc_id"), k)


# ---------------------------------------------------------------------------
# driver entry: the stopword-grade phrase that motivates positional postings
# ---------------------------------------------------------------------------


def _register_entry() -> None:
    from engine.relops import register
    from engine.searchops import _phrase_sql, get_index

    @register("bm25_phrase_positional", _phrase_sql("the data", 10))
    def bm25_phrase_positional(spark, sf_dir):
        """B18 scale path: the stopword-grade phrase whose conjunctive
        candidate set approaches the corpus — adjacency is still read from
        the position blocks of two terms only."""
        h = get_index(spark, sf_dir)
        out = phrase_topk_positional(spark, h, h.postings_path, "the data", k=10)
        return out.select("url", F.round("score", 4).alias("score"))


_register_entry()
