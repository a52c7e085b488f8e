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

Positions index the analyzer token stream (0-based). Only a phrase query
reads `pos_enc`; the scoring scans never select it, so it costs them no IO.

Query plan: a phrase is conjunctive top-k over its unique terms with one
more predicate, adjacency, on the one top-k path of `engine.query` (`auto`
mode, url tie-break). The driver-local kernel checks it once over all of
the terms' blocks (zero Spark jobs); the WAND sweep checks it per chunk of
intervals, so positions are decoded only for intervals whose bound can
still reach the top k. The check chain-intersects (doc, pos) keys along the ordered
tokens (`engine.query._phrase_mask`).

Scale notes (100 TB): the query reads ONLY index blocks — for "the data"
the bytes read are the two terms' blocks, independent of corpus text
volume. Salting and sharding are the main index's, so skew behavior is
identical.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from engine.analyzer import tokenize
from engine.build import IndexHandle, open_index
from engine.query import _topk


def build_positions(
    spark: SparkSession, index: IndexHandle | str, corpus: DataFrame
) -> str:
    """Where an index version's positions live: its postings table, whose
    blocks carry them (`pos_enc`). `build_index` writes them, so nothing is
    built here; `corpus` is unused and stays only so existing callers keep
    working."""
    handle = open_index(index) if isinstance(index, str) else index
    return handle.postings_path


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
    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")
    handle = open_index(index) if isinstance(index, str) else index
    if os.path.normpath(postings_dir) != os.path.normpath(handle.postings_path):
        raise ValueError(
            f"postings_dir must be the index's postings_path "
            f"{handle.postings_path!r}, got {postings_dir!r}"
        )
    ordered = tokenize(phrase)
    return _topk(
        spark, handle, list(dict.fromkeys(ordered)), k, "auto",
        conjunctive=True, tiebreak="url",
        phrase=ordered if len(ordered) > 1 else None,
    )


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
