"""Positional postings for exact-phrase search (SURVEY.md §2.B18).

Exact-phrase top-k: the documents whose analyzer token stream holds the
phrase's tokens consecutively, ranked by the conjunctive BM25 sum of the
phrase's unique terms, ties broken by url. Adjacency is checked from the
index's `positions/` table alone; corpus text is never read at query time.

`engine.build.build_index` writes that table in the same tokenize pass and
atomic publish as the postings (the SPIMI partials carry each posting's
token positions), with the main postings' layout:

    positions/bucket=<crc32(term) % n_term_buckets>/*.parquet
      term, salt, block_seq, n (docs), first_doc_id, last_doc_id,
      ids_enc   -- doc ids, within-block delta varint (first absolute)
      cnts_enc  -- positions-per-doc varint
      pos_enc   -- concatenation of per-doc position streams, each
                   within-doc delta varint with an absolute first value
                   (self-contained per doc => decode via the shared
                   delta_decode_blocks(flat_gaps, cnts) kernel)

Positions index the analyzer token stream (0-based). Blocks hold
`block_size` docs, cut in doc order per (term, salt) group; hot terms are
salted by doc range like the postings, so the table is a pure function of
(url set, config) — the byte-determinism invariant the main index holds
across parallelism levels.

Query plan (`phrase_match_docs`): bucket-partition-pruned scan of the
phrase terms' blocks → doc-range shards exactly like block-max WAND
(blocks spanning several shards are replicated, checking clipped to the
home shard) → per-shard vectorized adjacency chain on (doc, pos) keys →
matched doc_ids. `phrase_topk_positional` semi-joins them to the
conjunctive candidates of `engine.phrase.scored_docs` and cuts the top k.

Scale notes (100 TB): the query reads ONLY index blocks — for "the data"
the bytes read are the two terms' position blocks, independent of corpus
text volume. Salting and sharding are shared designs with the main index,
so skew behavior is identical.
"""

from __future__ import annotations

import functools

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from engine.analyzer import tokenize
from engine.build import POS_BLOCK_SCHEMA, IndexHandle, open_index
from engine.codec import delta_decode_blocks, varint_decode_concat
from engine.query import (
    _docs_df,
    _lookup_term_stats,
    _result_df,
    _run_shards,
    _shard_layout,
    _term_buckets,
    _top_by_url,
)

MATCH_SCHEMA = T.StructType([T.StructField("doc_id", T.LongType())])


def build_positions(
    spark: SparkSession, index: IndexHandle | str, corpus: DataFrame
) -> str:
    """The positions dir of an index version. `build_index` writes it with
    the postings, so nothing is built here; `corpus` is unused and stays
    only so existing callers keep working."""
    handle = open_index(index) if isinstance(index, str) else index
    return handle.positions_path


# ---------------------------------------------------------------------------
# query side
# ---------------------------------------------------------------------------


def _decode_term(g: pd.DataFrame, lo: int, hi: int):
    """Decode one term's blocks within a shard, clipped to [lo, hi).
    Returns (doc_ids, per-doc position counts, flat positions)."""
    ns = g["n"].to_numpy(np.int64)
    ids = delta_decode_blocks(
        varint_decode_concat(g["ids_enc"]), ns
    ).astype(np.int64)
    cnts = varint_decode_concat(g["cnts_enc"]).astype(np.int64)
    pos = delta_decode_blocks(
        varint_decode_concat(g["pos_enc"]), cnts
    ).astype(np.int64)
    keep = (ids >= lo) & (ids < hi)
    if not keep.all():
        pos = pos[np.repeat(keep, cnts)]
        ids, cnts = ids[keep], cnts[keep]
    return ids, cnts, pos


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
        present = set(pdf["term"])
        if any(t not in present for t in uniq_terms):
            return empty
        per_term: dict[str, tuple] = {}
        for t, g in pdf.groupby("term", sort=False):
            per_term[t] = _decode_term(g, lo, hi)
        if any(len(per_term[t][0]) == 0 for t in uniq_terms):
            return empty
        union = np.unique(
            np.concatenate([per_term[t][0] for t in uniq_terms])
        )
        max_pos = max(
            (int(p.max()) if len(p) else 0)
            for _, _, p in per_term.values()
        )
        M = np.int64(max_pos + 2)
        keys: dict[str, np.ndarray] = {}
        for t in uniq_terms:
            ids, cnts, pos = per_term[t]
            local = np.searchsorted(union, np.repeat(ids, cnts))
            keys[t] = local.astype(np.int64) * M + pos
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
    positions_dir: str,
    ordered_terms: list[str],
    shard_target: int | None = None,
) -> DataFrame:
    """doc_ids whose token stream contains `ordered_terms` consecutively,
    answered from the positions table alone (no corpus access).

    Physical plan mirrors the WAND query path: bucket-partition-pruned scan
    of the phrase terms' blocks, adaptive doc-range sharding (1 task for
    light phrases, fan-out for stopword-grade ones, blocks replicated to
    every shard they span and clipped in the kernel)."""
    handle = open_index(index) if isinstance(index, str) else index
    uniq = list(dict.fromkeys(ordered_terms))
    if not uniq:
        return spark.createDataFrame([], MATCH_SCHEMA)
    st, _ = _lookup_term_stats(spark, handle, uniq)
    if any(t not in st for t in uniq):
        return spark.createDataFrame([], MATCH_SCHEMA)
    # memoized base scan with explicit schema (skips footer inference and
    # directory re-listing per query; lazy plan only, data read per query)
    pos_cache = handle.__dict__.setdefault("_pos_df_cache", {})
    base = pos_cache.get(positions_dir)
    if base is None:
        base = spark.read.schema(POS_BLOCK_SCHEMA).parquet(positions_dir)
        pos_cache[positions_dir] = base
    blocks = (
        base.filter(F.col("bucket").isin(_term_buckets(handle, uniq)))
        .filter(F.col("term").isin(uniq))
    )
    n_groups, width = _shard_layout(handle, st, uniq, shard_target)
    return _run_shards(
        blocks, n_groups, width,
        functools.partial(_adjacency_kernel, ordered_terms), MATCH_SCHEMA,
    )


def phrase_topk_positional(
    spark: SparkSession,
    index: IndexHandle | str,
    positions_dir: str,
    phrase: str,
    k: int = 10,
) -> DataFrame:
    """Top-k exact-phrase matches ranked by the conjunctive BM25 sum of the
    phrase's unique terms. Returns (doc_id, url, score) ordered by
    (score desc, url asc); a one-token phrase is plain conjunctive top-k.
    `positions_dir` is the index's positions table (`positions_path`).
    k=0 returns no rows without running a Spark job; k < 0 raises
    ValueError."""
    from engine.phrase import scored_docs

    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")
    handle = open_index(index) if isinstance(index, str) else index
    ordered = tokenize(phrase)
    if k == 0 or not ordered:
        return _result_df(spark, [], [], None, with_url=True)
    uniq = list(dict.fromkeys(ordered))
    cand = scored_docs(spark, handle, uniq)
    if len(ordered) > 1:
        matched = phrase_match_docs(spark, handle, positions_dir, ordered)
        cand = cand.join(matched, "doc_id", "left_semi")
    docs = _docs_df(spark, handle).select("doc_id", "url")
    return _top_by_url(cand.join(docs, "doc_id"), k)


# ---------------------------------------------------------------------------
# driver entry: the stopword-grade phrase that motivates the positions table
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
        out = phrase_topk_positional(spark, h, h.positions_path, "the data", k=10)
        return out.select("url", F.round("score", 4).alias("score"))


_register_entry()
