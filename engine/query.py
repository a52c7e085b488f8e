"""BM25 top-k query engine (SURVEY.md §2.B10–B14, §3.3).

Three physical strategies, rank-identical by construction (property-tested)
because all of them score with one decode-and-score kernel — the decode
step ``_decode_scored`` (one batched ``_decode_blocks`` call over any set
of blocks) and the per-doc aggregator ``_sum_per_doc``, which sums each
doc's term contributions in sorted-term order, so WAND and local scores
are bit-equal:

- ``brute``: decode every posting of the query terms and sum per doc within
  each Arrow batch, then groupBy(doc_id).sum → TakeOrderedAndProject. Fully
  distributed, no pruning — the correctness baseline.
- ``wand``: block-max WAND (BASELINE.json:6) over doc-range shards. Every
  shard is a task of one ``spark.range(n_shards).mapInPandas`` job (shards
  packed into at most defaultParallelism tasks, no shuffle): it reads the
  blocks overlapping its own doc range with the driver-local path's
  pyarrow read (hot-term salts are doc-range-aligned by the build, so most
  blocks overlap exactly one shard) and runs an exact interval-sweep BMW
  as a columnar sweep — intervals between block boundaries are visited in
  descending upper-bound order, in chunks of 1, 2, 4, … intervals, each
  decoding its new blocks in one decode step and cutting the candidates
  with the top-k cut below; the sweep stops at the first interval whose
  bound can't reach the shard's kth score. Only provably-dominated blocks
  are skipped, so results are rank-identical to brute force (§2.B14
  exactness guard). The shards' rows are collected in that one Spark job
  and cut again on the driver.
- ``local``: the kernel runs on the driver over the same pyarrow read of
  the pruned blocks — zero Spark jobs, for interactive p50 (SURVEY.md
  §7.2.6).

``auto`` runs ``local`` when the query terms' postings fit
LOCAL_MAX_POSTINGS and ``wand`` otherwise.

The WAND sweep, the driver-local path and the driver merge of the shards'
rows share one top-k cut, ``_cut``: order by (score desc, doc_id asc) and
keep every candidate scoring at least the kth score, so the kth score's
whole tie group survives. A shard's kth score is never above the global
one, so the union of the shards' cuts holds the global cut — what the url
tie-break (``tiebreak="url"``) needs to re-sort the tie group by url, with
no second pass. Brute's url tie-break stays a SQL join + orderBy, the
distributed reference.

Facet-filtered search (engine.phrase) is the same top-k with one more
predicate, the allowed set: a sorted doc-id array (``doc_filter``) tested
by one sorted-membership helper, ``_in_sorted``. ``local`` and ``brute``
drop the docs outside it after the per-doc sum — the filter keeps or drops
whole docs, so this equals masking their postings and scores stay
bit-equal; the WAND sweep also zeroes the bound of every interval holding
no allowed doc before any block decode.

Exact-phrase search (engine.positional) is conjunctive top-k with one more
predicate, adjacency (``_phrase_mask``): a doc counts only when its token
stream holds the phrase's terms consecutively, read from the blocks'
``pos_enc`` column. ``local`` applies it once to all candidates; the WAND
sweep applies it to each chunk's candidates, so positions are decoded only
for intervals whose bound can still reach the top k. Only a phrase read
selects ``pos_enc``.

Every read prunes the postings to the query terms' hash buckets (partition
pruning on the `bucket=` directory column) and pushes `term IN` down to
parquet row groups (rows are term-sorted within buckets); a WAND shard's
read also skips the blocks outside its doc range.

Term stats (df/idf) are broadcast to executors (B11) — they ride the
mapInPandas closure after a driver-side lookup of ≤|query| rows.
"""

from __future__ import annotations

import zlib
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as ds
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from engine.analyzer import tokenize
from engine.build import POSTINGS_SCHEMA, IndexHandle, open_index
from engine.codec import (bm25_tf_norm, decode_concat, delta_decode_blocks,
                          idf, varint_decode_concat)

RESULT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("url", T.StringType()),
        T.StructField("score", T.DoubleType()),
    ]
)

SCORE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("contrib", T.DoubleType()),
        T.StructField("nt", T.LongType()),
    ]
)

TOPK_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("score", T.DoubleType()),
    ]
)


# postings per WAND shard task (~10 ms kernel time); module-level so tests
# can shrink it to force the multi-shard path on tiny corpora
WAND_SHARD_TARGET = 512_000


def parse_query(query: str) -> list[str]:
    """B10: same analyzer as the build path; duplicate terms collapse (their
    contribution is per unique term, matching Lucene's boolean-sum)."""
    seen: dict[str, None] = {}
    for t in tokenize(query):
        seen.setdefault(t)
    return list(seen)


def _pa_dataset(handle: IndexHandle, key: str, path: str, partitioning=None):
    """Driver-side pyarrow dataset for an index table, memoized per handle —
    skips re-listing the directory on every query. Lazy metadata only; data
    is read per query."""
    dset = handle.__dict__.get(key)
    if dset is None:
        dset = ds.dataset(path, format="parquet", partitioning=partitioning)
        handle.__dict__[key] = dset
    return dset


def _docs_df(spark: SparkSession, handle: IndexHandle) -> DataFrame:
    """Docs table scan, plan memoized per handle: skips re-listing the
    table on every query. This memoizes a LAZY plan, never data — every
    execution still reads the parquet files."""
    df = handle.__dict__.get("_docs_df")
    if df is None:
        df = spark.read.parquet(handle.docs_path)
        handle.__dict__["_docs_df"] = df
    return df


def _term_buckets(handle: IndexHandle, terms: list[str]) -> list[int]:
    """The `bucket=` partitions holding these terms' postings:
    crc32(term) % n_term_buckets, as the build lays them out."""
    n_buckets = int(handle.stats["n_term_buckets"])
    return sorted({zlib.crc32(t.encode("utf-8")) % n_buckets for t in terms})


# the postings columns the scoring kernel decodes; WAND's sweep also reads
# the block bounds. Only a phrase also reads pos_enc.
_CODEC_COLS = ["n", "codec_ids", "ids_enc", "codec_tfs", "tfs_enc",
               "codec_dls", "dls_enc"]
_SCORE_COLS = ["term", *_CODEC_COLS]
_WAND_COLS = _SCORE_COLS + ["first_doc_id", "last_doc_id", "max_score"]


def _read_blocks(
    dset: ds.Dataset, buckets: list[int], terms: list[str],
    columns: list[str], lo: int = 0, hi: int | None = None,
) -> pa.Table:
    """The one postings-block read of the driver-local path and of every
    WAND shard task: the pyarrow postings dataset (`partitioning="hive"`)
    pruned to the `bucket=` partitions `buckets` and to the rows of
    `terms`, reading only `columns`. With a doc range [lo, hi) (hi None =
    unbounded) it keeps only the blocks that overlap it. The filter is
    applied in to_table: `dset` must stay the plain dataset, which
    pickles into a task closure, where a filtered one does not."""
    filt = ds.field("bucket").isin(buckets) & ds.field("term").isin(terms)
    if lo:
        filt &= ds.field("last_doc_id") >= lo
    if hi is not None:
        filt &= ds.field("first_doc_id") < hi
    return dset.to_table(columns=columns, filter=filt)


def _local_term_stats(handle: IndexHandle, terms: list[str]) -> dict:
    """B11: the query terms' df, cf and idf — a driver-side pyarrow read of
    ≤|query| rows of the terms table (no Spark job). The dict rides the
    scoring closure to the executors (broadcast of a tiny dict). Terms
    missing from the index are absent from it."""
    dset = _pa_dataset(handle, "_terms_ds", handle.terms_path)
    tbl = dset.to_table(
        columns=["term", "df", "cf"], filter=ds.field("term").isin(terms)
    )
    n = handle.stats["n_docs"]
    return {
        t: {"df": int(d), "cf": int(c), "idf": idf(n, int(d))}
        for t, d, c in zip(
            tbl["term"].to_pylist(), tbl["df"].to_pylist(), tbl["cf"].to_pylist()
        )
    }


def _decode_blocks(
    cols: dict, fields: tuple[str, ...] = ("ids", "tfs", "dls"),
) -> list[np.ndarray]:
    """The query-time postings decoder: blocks as postings columns
    (column name → per-block values) → one concatenated int64 array per
    field, doc ids first, from one decode_concat call over the fields'
    blocks: a call's cost is mostly fixed, and the WAND sweep decodes a
    few blocks per chunk. Each block's ids are delta-coded from an
    absolute first id, so any set of blocks, of any terms, decodes on its
    own."""
    ns = np.asarray(cols["n"], np.int64)
    vals = decode_concat(
        [c for f in fields for c in cols["codec_" + f]],
        [b for f in fields for b in cols[f + "_enc"]],
        np.tile(ns, len(fields)),
    )
    out = np.split(vals, len(fields))
    out[0] = delta_decode_blocks(out[0], ns)
    return [x.astype(np.int64) for x in out]


def _decode_scored(
    cols: dict, rows: np.ndarray, tcode: np.ndarray, idfs: np.ndarray,
    k1: float, b: float, avgdl: float,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """The one decode step of every scoring path: block `rows` of `cols`
    (column name → per-block values; `tcode` the blocks' term codes,
    `idfs` the idf per code) → (doc_ids, idf · tf-norm contributions,
    term code) per posting, in `rows` order, from one _decode_blocks
    call."""
    if not len(rows):
        return np.empty(0, np.int64), np.empty(0), np.empty(0, np.int64)
    sub = {c: [cols[c][i] for i in rows.tolist()] for c in _CODEC_COLS}
    ids, tfs, dls = _decode_blocks(sub)
    tc = np.repeat(tcode[rows], sub["n"])
    return ids, idfs[tc] * bm25_tf_norm(tfs, dls, k1, b, avgdl), tc


def _phrase_mask(
    cols: dict, rows: np.ndarray, phrase: list[str], cand: np.ndarray
) -> np.ndarray:
    """Adjacency, the phrase predicate of the top-k path: which of the
    sorted candidate doc ids `cand` hold the ordered terms `phrase`
    consecutively in their token stream. Block `rows` of `cols` must hold
    every block of a phrase term that covers a candidate; ids and tfs come
    from _decode_blocks, positions from the blocks' pos_enc. The (doc,
    pos) keys are chain-intersected S ← (S + 1) ∩ keys(next term) along
    the ORDERED terms, so a repeated term ("the the") needs consecutive
    occurrences."""
    if not len(cand):
        return np.zeros(0, bool)
    sub = {c: [cols[c][i] for i in rows.tolist()]
           for c in ("term", "n", "codec_ids", "ids_enc", "codec_tfs",
                     "tfs_enc", "pos_enc")}
    ids, tfs = _decode_blocks(sub, ("ids", "tfs"))
    pos = delta_decode_blocks(varint_decode_concat(sub["pos_enc"]), tfs)
    at = np.minimum(np.searchsorted(cand, ids), len(cand) - 1)
    hit = cand[at] == ids
    m = np.int64(pos.max()) + 2  # keys of one doc never reach the next
    key = np.repeat(at, tfs) * m + pos.astype(np.int64)
    term = np.asarray(sub["term"], dtype=object)
    keys = {t: key[np.repeat(np.repeat(term == t, sub["n"]) & hit, tfs)]
            for t in set(phrase)}
    s = keys[phrase[0]]
    for t in phrase[1:]:
        s = np.intersect1d(s + 1, keys[t], assume_unique=True)
    return np.isin(np.arange(len(cand)), s // m)


def _sum_per_doc(
    ids: np.ndarray, con: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """The per-doc aggregator: (doc_id, contrib) per posting → (doc_ids
    ascending, BM25 sums, matched-term counts). np.add.at adds in array
    order and every caller passes its postings in sorted-term order, so a
    doc's sum is bit-identical on the WAND and driver-local paths — the url
    tie-break compares scores exactly. (Brute adds partial sums of
    different Arrow batches in Spark, in no fixed order.)"""
    uniq, inv = np.unique(ids, return_inverse=True)
    scores = np.zeros(len(uniq), dtype=np.float64)
    np.add.at(scores, inv, con)
    return uniq, scores, np.bincount(inv, minlength=len(uniq))


def _in_sorted(allow: np.ndarray, ids: np.ndarray) -> np.ndarray:
    """The allowed-set predicate of every strategy: which of `ids` are in
    `allow`, a sorted int64 doc-id array."""
    at = np.searchsorted(allow, ids)
    hit = at < len(allow)
    hit[hit] = allow[at[hit]] == ids[hit]
    return hit


def _cut(
    ids: np.ndarray, scores: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray]:
    """The top-k cut of every strategy (k >= 1): the candidates scoring at
    least the kth score — the top k plus the kth score's whole tie group —
    ordered by (score desc, doc_id asc). Selects with np.partition and
    sorts only the rows it keeps."""
    if len(scores) > k:
        keep = scores >= -np.partition(-scores, k - 1)[k - 1]
        ids, scores = ids[keep], scores[keep]
    order = np.lexsort((ids, -scores))
    return ids[order], scores[order]


def _term_codes(cols: dict, stats: dict) -> tuple[np.ndarray, np.ndarray]:
    """Per-block term codes in sorted-term order, and the idf per code."""
    terms, tcode = np.unique(np.asarray(cols["term"], dtype=object),
                             return_inverse=True)
    return tcode, np.asarray([stats[t]["idf"] for t in terms], np.float64)


def _score_blocks(
    cols: dict, stats: dict, k1: float, b: float, avgdl: float
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode and score postings blocks of any mix of the query's terms,
    given as columns (column name → per-block values): one decode step
    over the blocks in sorted-term order, summed per doc →
    _sum_per_doc's arrays. Brute runs it per Arrow batch, the
    driver-local path once over the pyarrow read."""
    tcode, idfs = _term_codes(cols, stats)
    ids, con, _ = _decode_scored(
        cols, np.argsort(tcode, kind="stable"), tcode, idfs, k1, b, avgdl
    )
    return _sum_per_doc(ids, con)


def _brute_scorer(stats: dict, k1: float, b: float, avgdl: float,
                  allowed: np.ndarray | None = None):
    """Per Arrow batch: the batch's per-doc partial sums, restricted to the
    sorted doc ids `allowed` (an array or a broadcast of one) when set."""
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        allow = allowed.value if hasattr(allowed, "value") else allowed
        for pdf in batches:
            ids, scores, nts = _score_blocks(
                pdf.to_dict("list"), stats, k1, b, avgdl
            )
            if allow is not None:
                m = _in_sorted(allow, ids)
                ids, scores, nts = ids[m], scores[m], nts[m]
            yield pd.DataFrame({"doc_id": ids, "contrib": scores, "nt": nts})

    return fn


def _score_all(
    spark: SparkSession, handle: IndexHandle, terms: list[str], st: dict,
    conjunctive: bool, allowed: np.ndarray | None = None,
) -> DataFrame:
    """Distributed brute force: every matching doc (among `allowed`, when
    set) with its BM25 sum, no top-k cut → (doc_id, score). `terms` are
    the query's live terms."""
    k1, b = handle.stats["k1"], handle.stats["b"]
    # a lazy plan memoized per handle, as in _docs_df: the explicit schema
    # skips footer inference and the memo skips re-listing the bucket
    # directories on every query
    postings = handle.__dict__.get("_postings_df")
    if postings is None:
        postings = spark.read.schema(POSTINGS_SCHEMA).parquet(
            handle.postings_path)
        handle.__dict__["_postings_df"] = postings
    scored = (
        postings.filter(F.col("bucket").isin(_term_buckets(handle, terms)))
        .filter(F.col("term").isin(terms))
        .select(*_SCORE_COLS)
        .mapInPandas(_brute_scorer(st, k1, b, handle.stats["avgdl"], allowed),
                     SCORE_SCHEMA)
    )
    agg = scored.groupBy("doc_id").agg(
        F.sum("contrib").alias("score"), F.sum("nt").alias("nt")
    )
    if conjunctive:
        agg = agg.filter(F.col("nt") == len(terms))
    return agg.select("doc_id", "score")


def _wand_shard_scorer(stats: dict, k1: float, b: float, avgdl: float, k: int,
                       conjunctive: bool, n_query_terms: int,
                       allowed: np.ndarray | None = None,
                       phrase: list[str] | None = None):
    """Exact interval-sweep block-max WAND over one doc-range shard, as one
    columnar sweep: the returned kernel maps (blocks frame, shard_lo,
    shard_hi) → its TOPK_SCHEMA frame, for the shard's doc ids
    [shard_lo, shard_hi) (shard_hi None = unbounded).

    The shard's block edges cut its doc range into intervals; an
    interval's upper bound ``ub`` is the sum, over the terms, of the
    max_score of the block covering it. Intervals are visited in
    ub-descending order in chunks of 1, 2, 4, … intervals, and the sweep
    stops at the first interval whose ub is below the threshold: the
    shard's kth score so far. Each chunk decodes the blocks it reaches
    that are not decoded yet in one decode step (_decode_scored), scores
    the postings of its intervals with the shared per-doc aggregator in
    sorted-term order (so scores are bit-equal to brute and
    driver-local), merges them with the kept candidates and applies _cut.
    Only intervals whose bound cannot reach the kth score are skipped, and
    a candidate is dropped only when it scores below a threshold that never
    falls, so the shard returns exactly its docs scoring at least its kth
    score (all of them if fewer than k match), in (score desc, doc_id asc)
    order.

    allowed mode (``allowed`` set, sorted int64 doc ids — either a plain
    array or a SparkContext.broadcast of one, resolved once per task so the
    array ships via the torrent broadcast path instead of being pickled
    into every task closure): facet-filtered WAND (B19 scale path).
    Intervals containing no allowed doc get ub 0 BEFORE any block decode
    (one vectorized searchsorted on the filter array), and decoded
    postings are masked to the allowed set by _in_sorted, so block-max
    pruning survives filtering and a selective filter prunes MORE, not
    less. Exact: it scores a subset of docs with unchanged corpus-level
    stats (ES filter-context semantics).

    phrase mode (``phrase`` set, the ordered tokens; conjunctive, and the
    shard's rows carry ``pos_enc``): each chunk's candidates must also pass
    _phrase_mask over the blocks covering the chunk's intervals — those
    hold every block of every candidate, since intervals partition the doc
    ids. The bounds and the cut are unchanged, so the sweep stays exact,
    and positions are decoded only for chunks the sweep reaches.

    Each shard task reads every block that overlaps its own doc range
    (_read_blocks), so a block spanning several shards is read by each of
    them — the intervals are therefore clipped to [shard_lo, shard_hi):
    each doc is scored exactly once, in its home shard, with all its
    covering blocks present (full scores). Without the clip a spanning
    cold-term block would be scored in every shard that read it, emitting
    duplicate doc_ids into the global top-k."""

    def fn(pdf: pd.DataFrame, shard_lo: int = 0,
           shard_hi: int | None = None) -> pd.DataFrame:
        allow = allowed.value if hasattr(allowed, "value") else allowed
        cols = {c: pdf[c].tolist()
                for c in _WAND_COLS + (["pos_enc"] if phrase else [])}
        tcode, idfs = _term_codes(cols, stats)
        first = np.asarray(cols["first_doc_id"], np.int64)
        last = np.asarray(cols["last_doc_id"], np.int64)
        max_score = np.asarray(cols["max_score"], np.float64)
        # intervals between block edges, clipped to the shard's range
        edges = np.unique(np.concatenate([first, last + 1]))
        lo = np.clip(edges[:-1], shard_lo, shard_hi)
        hi = np.clip(edges[1:], shard_lo, shard_hi)
        lo, hi = lo[lo < hi], hi[lo < hi]
        # per-term block tables (rows by term, then first_doc_id) →
        # cover[t, i]: the block row of term t covering interval i, or -1
        by_term = np.lexsort((first, tcode))
        bounds = np.searchsorted(tcode[by_term], np.arange(len(idfs) + 1))
        cover = np.full((len(idfs), len(lo)), -1, np.int64)
        ub = np.zeros(len(lo))
        for t in range(len(idfs)):
            rows = by_term[bounds[t]:bounds[t + 1]]
            bi = np.searchsorted(first[rows], lo, side="right") - 1
            ok = bi >= 0
            ok[ok] = lo[ok] <= last[rows[bi[ok]]]
            cover[t, ok] = rows[bi[ok]]
            ub += np.where(ok, max_score[cover[t]], 0.0)
        if conjunctive:  # a shard missing a query term matches no doc
            ub[(cover >= 0).sum(axis=0) < n_query_terms] = 0.0
        if allow is not None:  # no allowed doc in the interval
            ub[np.searchsorted(allow, hi) == np.searchsorted(allow, lo)] = 0.0

        order = np.argsort(-ub, kind="stable")
        ub_desc = ub[order]
        decoded = np.zeros(len(first), bool)
        # decoded postings whose interval is not scored yet: doc ids,
        # contributions, term codes, interval
        pend = (np.empty(0, np.int64), np.empty(0), np.empty(0, np.int64),
                np.empty(0, np.int64))
        top_ids, top_s = np.empty(0, np.int64), np.empty(0)
        thr = -np.inf
        pos, size = 0, 1
        while True:
            seg = ub_desc[pos:pos + size]  # ub descending: a prefix passes
            n_take = np.count_nonzero((seg > 0) & (seg >= thr))
            if n_take == 0:
                break
            chunk = order[pos:pos + n_take]
            pos, size = pos + n_take, 2 * size
            covering = np.unique(cover[:, chunk])
            covering = covering[covering >= 0]
            rows = covering[~decoded[covering]]
            decoded[rows] = True
            ids, con, tc = _decode_scored(cols, rows, tcode, idfs, k1, b, avgdl)
            iv = np.searchsorted(lo, ids, side="right") - 1
            keep = (iv >= 0) & (ids < hi[iv])
            if allow is not None:
                keep &= _in_sorted(allow, ids)
            pend = tuple(np.concatenate([p, x[keep]])
                         for p, x in zip(pend, (ids, con, tc, iv)))
            in_chunk = np.zeros(len(lo), bool)
            in_chunk[chunk] = True
            sel = in_chunk[pend[3]]
            # intervals partition the doc ids, so each doc is scored once,
            # summing its postings in sorted-term order
            by_t = np.argsort(pend[2][sel], kind="stable")
            uniq, scores, nts = _sum_per_doc(pend[0][sel][by_t],
                                             pend[1][sel][by_t])
            pend = tuple(p[~sel] for p in pend)
            if conjunctive:
                m = nts == n_query_terms
                uniq, scores = uniq[m], scores[m]
            if phrase:
                m = _phrase_mask(cols, covering, phrase, uniq)
                uniq, scores = uniq[m], scores[m]
            top_ids, top_s = _cut(np.concatenate([top_ids, uniq]),
                                  np.concatenate([top_s, scores]), k)
            if len(top_s) >= k:
                thr = top_s[k - 1]
        return pd.DataFrame({"doc_id": top_ids, "score": top_s})

    return fn


def _wand_shards(
    dset: ds.Dataset, buckets: list[int], terms: list[str],
    columns: list[str], kernel, n_groups: int, width: int,
):
    """The task of the WAND dispatch, over batches of shard ids (the `id`
    column of spark.range(n_groups)): shard s owns doc ids [s·width,
    (s+1)·width), and the last shard every id above too — skewed id
    buckets can exceed n_groups·width. The task reads the blocks that
    overlap its shards' whole range once (_read_blocks); each shard
    takes the rows that overlap its own range and, unless it has none,
    yields kernel(blocks, lo, hi) — a _wand_shard_scorer kernel. The
    closure ships the plain pyarrow dataset, never the index handle, whose
    __dict__ holds Spark DataFrames."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        shards = [s for batch in batches for s in batch["id"].tolist()]
        if not shards:
            return
        unbounded = max(shards) == n_groups - 1
        pdf = _read_blocks(
            dset, buckets, terms, columns, min(shards) * width,
            None if unbounded else (max(shards) + 1) * width,
        ).to_pandas()
        first = pdf["first_doc_id"].to_numpy()
        last = pdf["last_doc_id"].to_numpy()
        for s in shards:
            lo = s * width
            hi = lo + width if s < n_groups - 1 else None
            m = last >= lo
            if hi is not None:
                m &= first < hi
            if m.any():
                yield kernel(pdf[m], lo, hi)

    return fn


def _resolve_urls(handle: IndexHandle, ids: list[int]) -> dict[int, str]:
    """doc_id → url for a tiny id set: a driver-side pyarrow lookup (no
    Spark job)."""
    if not ids:
        return {}
    dt = _pa_dataset(handle, "_docs_ds", handle.docs_path).to_table(
        columns=["doc_id", "url"], filter=ds.field("doc_id").isin(ids)
    )
    return dict(zip(dt["doc_id"].to_pylist(), dt["url"].to_pylist()))


def _url_topk(
    handle: IndexHandle, ids: list[int], scores: list[float], k: int,
) -> tuple[list[int], list[float], list[str]]:
    """The driver-side url tie-break: top-k of a candidate set ordered by
    (score desc, url asc), the order the ANSI-SQL oracle expresses. EXACT
    only when the candidates hold every doc scoring above the kth score
    plus the ENTIRE kth-score tie group — _cut's output; ties are exact
    float equalities because WAND and local sum with one kernel in one
    order. Resolves the candidates' urls once. Returns (ids, scores,
    urls)."""
    url_map = _resolve_urls(handle, ids)
    urls = [url_map.get(d) for d in ids]
    top = sorted(range(len(ids)), key=lambda i: (-scores[i], urls[i]))[:k]
    return ([ids[i] for i in top], [scores[i] for i in top],
            [urls[i] for i in top])


def _result_df(spark: SparkSession, ids, scores, urls) -> DataFrame:
    """The one top-k result frame: RESULT_SCHEMA rows in the given order
    (`urls` aligned with `ids`)."""
    # from an Arrow table even when empty: a 0-row pandas frame would
    # collect through a parallelize job, an Arrow table through none
    return spark.createDataFrame(
        pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "url": pa.array(urls, pa.string()),
            "score": pa.array(scores, pa.float64()),
        }),
        RESULT_SCHEMA,
    )


def _check_mode_k(mode: str, k: int) -> None:
    """The argument check query_topk and filtered_topk share."""
    if mode not in ("brute", "wand", "local", "auto"):
        raise ValueError(
            f"mode must be 'brute', 'wand', 'local' or 'auto', got {mode!r}"
        )
    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")


def query_topk(
    spark: SparkSession,
    index: IndexHandle | str,
    query: str,
    k: int = 10,
    mode: str = "wand",
    conjunctive: bool = False,
    tiebreak: str = "doc_id",
    doc_filter: np.ndarray | None = None,
) -> DataFrame:
    """Top-k BM25. Returns (doc_id, url, score) ordered by
    (score desc, doc_id asc) — the golden tie-break (SURVEY.md §5.2).
    mode is "brute", "wand", "local" or "auto" (see the module docstring).
    tiebreak="url" breaks exact-score ties by url instead, which is what
    the ANSI-SQL oracle can express; outside brute, the driver re-sorts
    the kth score's whole tie group, which the top-k cut keeps, so WAND
    runs no second pass for it. k=0 returns no rows without running a
    Spark job; an unknown mode or tiebreak, or k < 0, raises ValueError.
    WAND runs one Spark job at any shard count (WAND_SHARD_TARGET postings
    per shard), its collect included.
    doc_filter (any mode): sorted int64 array of allowed doc ids — the
    top-k is cut over allowed docs only, with unchanged scores, and WAND
    skips allowed-empty intervals before any block decode (B19;
    engine.phrase.filtered_topk resolves a facet predicate to this array
    and is the intended entry point)."""
    _check_mode_k(mode, k)
    if tiebreak not in ("doc_id", "url"):
        raise ValueError(f"tiebreak must be 'doc_id' or 'url', got {tiebreak!r}")
    handle = open_index(index) if isinstance(index, str) else index
    return _topk(spark, handle, parse_query(query), k, mode, conjunctive,
                 tiebreak, doc_filter)


def _topk(
    spark: SparkSession, handle: IndexHandle, all_terms: list[str], k: int,
    mode: str, conjunctive: bool, tiebreak: str,
    doc_filter: np.ndarray | None = None, phrase: list[str] | None = None,
) -> DataFrame:
    """query_topk over checked arguments and the query's unique terms.
    `phrase` (the ordered tokens, with conjunctive and mode "local", "auto"
    or "wand") keeps only the docs whose token stream holds them
    consecutively — engine.positional's exact-phrase search. `doc_filter`
    keeps only the allowed docs — engine.phrase's filtered search."""
    if k == 0 or not all_terms or (
        doc_filter is not None and len(doc_filter) == 0
    ):
        return _result_df(spark, [], [], [])
    # the dict is shipped to executors in the scoring closure (B11
    # broadcast stats)
    st = _local_term_stats(handle, all_terms)
    terms = [t for t in all_terms if t in st]  # zero-hit terms drop out
    if not terms or (conjunctive and len(terms) < len(all_terms)):
        return _result_df(spark, [], [], [])

    local = mode == "local" or (
        mode == "auto" and sum(st[t]["df"] for t in terms) <= LOCAL_MAX_POSTINGS
    )
    # the executors get the allowed-id array via a SparkContext broadcast
    # (torrent, sent once per executor) instead of pickling up to ~32 MB
    # into every task closure (r5 verdict "What's wrong #2"); tiny arrays
    # stay in the closure — a broadcast's setup costs more than shipping a
    # few hundred KB once
    allowed = doc_filter
    if not local and doc_filter is not None and doc_filter.nbytes > (1 << 20):
        allowed = spark.sparkContext.broadcast(doc_filter)
    if local:
        ids, scores = _local_scored(handle, terms, st, conjunctive, phrase,
                                    doc_filter)
    elif mode == "brute":
        scored = _score_all(spark, handle, terms, st, conjunctive, allowed)
        if tiebreak == "url":
            # the distributed reference for the oracle tie-break: SQL join
            # + orderBy, no driver-side step
            docs = _docs_df(spark, handle).select("doc_id", "url")
            topk = (
                scored.join(docs, "doc_id")
                .select("doc_id", "url", "score")
                .orderBy(F.desc("score"), F.asc("url"))
                .limit(k)
            )
            return topk
        top = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    else:
        # Query-time shard width adapts to the query's posting volume: the
        # scorer is exact for ANY doc-range partitioning (it clips to its
        # own range), so light queries run as one shard (one Python task)
        # while stopword-grade queries fan
        # out to up to n_doc_ranges shards (~TARGET postings each — seconds
        # of vectorized kernel work per task at 10^12 docs, bounded memory).
        n_groups, width = _shard_layout(handle, st, terms)
        kernel = _wand_shard_scorer(
            st, handle.stats["k1"], handle.stats["b"], handle.stats["avgdl"],
            k, conjunctive, len(terms), allowed=allowed, phrase=phrase,
        )
        shards = _wand_shards(
            _pa_dataset(handle, "_postings_ds", handle.postings_path,
                        partitioning="hive"),
            _term_buckets(handle, terms), terms,
            _WAND_COLS + (["pos_enc"] if phrase else []),
            kernel, n_groups, width,
        )
        # shards packed into at most defaultParallelism tasks, no shuffle;
        # each shard returns its docs scoring >= its kth score: ≤
        # shards·(k + ties) rows
        top = spark.range(
            n_groups,
            numPartitions=min(n_groups, spark.sparkContext.defaultParallelism),
        ).mapInPandas(shards, TOPK_SCHEMA)
    if not local:  # brute's top k or the shards' rows, in one Spark job
        rows = top.collect()
        ids = np.asarray([r["doc_id"] for r in rows], np.int64)
        scores = np.asarray([r["score"] for r in rows], np.float64)

    # every doc scoring above the kth score plus its whole tie group, so
    # the url sort below is exact; urls of the result rows (or of the tie
    # group) come from a driver-side pyarrow lookup, not a docs-table job
    ids, scores = _cut(ids, scores, k)
    if tiebreak == "url":
        ids, scores, urls = _url_topk(handle, ids.tolist(), scores.tolist(), k)
    else:
        ids, scores = ids[:k].tolist(), scores[:k].tolist()
        url_map = _resolve_urls(handle, ids)
        urls = [url_map.get(d) for d in ids]
    return _result_df(spark, ids, scores, urls)


# auto-mode crossover: the driver-local path decodes ~1M postings/s
# single-threaded (incl. the pyarrow read), while a distributed WAND query
# costs at least ~0.13 s (bench.py sf0.1 q_wand leaves 0.13-0.27 s, p50
# 158 ms, local[4] on a 4-core VM). The 500k cut was measured when that
# floor was ~0.6 s; the crossover at the lower floor is not re-derived yet.
LOCAL_MAX_POSTINGS = 500_000


def _shard_layout(
    handle: IndexHandle, st: dict, terms: list[str]
) -> tuple[int, int]:
    """The ONE (total_df, n_doc_ranges) → (shard count, shard width in doc
    ids) formula, shared by the WAND query path (phrases included) and
    wand_shard_count's report so they can never drift (ADVICE r3). Terms
    absent from the stats table contribute no postings."""
    total_df = sum(st[t]["df"] for t in terms if t in st)
    n_ranges = handle.stats.get("n_doc_ranges", 32)
    n_groups = max(1, min(n_ranges, -(-total_df // WAND_SHARD_TARGET)))
    return n_groups, handle.stats["range_size"] * (-(-n_ranges // n_groups))


def wand_shard_count(handle: IndexHandle, query: str) -> int:
    """How many doc-range shards the adaptive WAND path fans this query out
    to (all run in its one sweep job). Exposed so the bench can report the
    salted-shard fan-out per query per round (BENCH_r{N}.json)."""
    terms = parse_query(query)
    return _shard_layout(handle, _local_term_stats(handle, terms), terms)[0]


def local_scored_arrays(
    handle: IndexHandle, terms: list[str], st: dict, conjunctive: bool
) -> tuple[np.ndarray, np.ndarray]:
    """Driver-local run of the decode-and-score kernel: pyarrow-pruned read
    of the terms' postings (bucket partition + term row-group pruning),
    then the same per-term decode and per-doc sum as brute and WAND.
    Returns (doc_ids, scores) after the optional conjunctive mask; empty
    arrays when nothing matches. The public form of _local_scored, kept
    for callers outside the engine (perfbench's layer trace wraps it)."""
    return _local_scored(handle, terms, st, conjunctive)


def _local_scored(
    handle: IndexHandle, terms: list[str], st: dict, conjunctive: bool,
    phrase: list[str] | None = None, allowed: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """local_scored_arrays, as query_topk's local/auto path runs it, plus
    two predicates: the sorted doc ids `allowed`, and the phrase when
    `phrase` (the ordered tokens) is set — the read then adds pos_enc, and
    _phrase_mask runs once over the remaining docs."""
    dset = _pa_dataset(
        handle, "_postings_ds", handle.postings_path, partitioning="hive"
    )
    cols = _read_blocks(
        dset, _term_buckets(handle, terms), terms,
        _SCORE_COLS + (["pos_enc"] if phrase else []),
    ).to_pydict()
    ids, scores, nts = _score_blocks(
        cols, st, handle.stats["k1"], handle.stats["b"], handle.stats["avgdl"]
    )
    if conjunctive:
        sel = nts == len(terms)
        ids, scores = ids[sel], scores[sel]
    if allowed is not None:
        sel = _in_sorted(allowed, ids)
        ids, scores = ids[sel], scores[sel]
    if phrase:
        sel = _phrase_mask(cols, np.arange(len(cols["n"])), phrase, ids)
        ids, scores = ids[sel], scores[sel]
    return ids, scores
