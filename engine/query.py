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
- ``wand``: block-max WAND (BASELINE.json:6). Blocks are grouped into
  doc-range shards (hot-term salts are doc-range-aligned by the build, so
  most blocks land in exactly one shard); each shard runs an exact
  interval-sweep BMW as a columnar sweep — intervals between block
  boundaries are visited in descending upper-bound order, in chunks of
  1, 2, 4, … intervals, each decoding its new blocks in one decode step
  and cutting the candidates to k with one lexsort; the sweep stops at the
  first interval whose bound can't reach the shard's kth score. Only
  provably-dominated blocks are skipped, so results are rank-identical to
  brute force (§2.B14 exactness guard). Local top-k per shard, then a
  global TakeOrdered over ≤ shards·k rows.
- ``local``: the kernel runs on the driver over a pyarrow read of the pruned
  blocks — zero Spark jobs, for interactive p50 (SURVEY.md §7.2.6).

``auto`` runs ``local`` when the query terms' postings fit
LOCAL_MAX_POSTINGS and ``wand`` otherwise.

Exact-phrase search (engine.positional) is conjunctive top-k with one more
predicate, adjacency (``_phrase_mask``): a doc counts only when its token
stream holds the phrase's terms consecutively, read from the blocks'
``pos_enc`` column. ``local`` applies it once to all candidates; the WAND
sweep applies it to each chunk's candidates, so positions are decoded only
for intervals whose bound can still reach the top k. Only a phrase scan
selects ``pos_enc``.

Every scan prunes the postings to the query terms' hash buckets (partition
pruning on the `bucket=` directory column) and pushes `term IN` down to
parquet row groups (rows are term-sorted within buckets).

Term stats (df/idf) are broadcast to executors (B11) — they ride the
mapInPandas closure after a driver-side lookup of ≤|query| rows.
"""

from __future__ import annotations

import zlib
from typing import Iterator

import numpy as np
import pandas as pd
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
        # max score among candidates the shard's top-k cut DROPPED
        # (constant per shard; -inf if nothing was dropped). It may count
        # candidates that a one-interval-at-a-time sweep would have
        # skipped, but never exceeds the shard's kth score, and equals it
        # exactly when a doc tying that score was cut: the url tie-break
        # needs its floor rescan only then — see query_topk
        T.StructField("dropped_max", T.DoubleType()),
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


def _postings_df(spark: SparkSession, handle: IndexHandle) -> DataFrame:
    """Base postings scan, built once per handle: the explicit schema skips
    footer-based inference and the memoized plan skips re-listing the bucket
    directories on every query (~0.1 s/query of driver-only work measured at
    sf1.0). This memoizes a LAZY plan, never data — every execution still
    reads the parquet files."""
    df = handle.__dict__.get("_postings_df")
    if df is None:
        df = spark.read.schema(POSTINGS_SCHEMA).parquet(handle.postings_path)
        handle.__dict__["_postings_df"] = df
    return df


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
    """Docs table scan, plan memoized per handle (same rationale as
    _postings_df)."""
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


def _pruned_postings(
    spark: SparkSession, handle: IndexHandle, terms: list[str],
    columns: list[str],
) -> DataFrame:
    """The terms' postings blocks, pruned to their term buckets and rows,
    reading only `columns` (the ones the caller decodes)."""
    return (
        _postings_df(spark, handle)
        .filter(F.col("bucket").isin(_term_buckets(handle, terms)))
        .filter(F.col("term").isin(terms))
        .select(*columns)
    )


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


def _decode_blocks(cols: dict) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """The query-time postings decoder: blocks as postings columns
    (column name → per-block values) → concatenated int64 (doc_ids, tfs,
    dls), one batched decode pass per column. Each block's ids are
    delta-coded from an absolute first id, so any set of blocks, of any
    terms, decodes on its own."""
    ns = cols["n"]
    gaps = decode_concat(cols["codec_ids"], cols["ids_enc"], ns)
    tfs = decode_concat(cols["codec_tfs"], cols["tfs_enc"], ns)
    dls = decode_concat(cols["codec_dls"], cols["dls_enc"], ns)
    return (
        delta_decode_blocks(gaps, ns).astype(np.int64),
        tfs.astype(np.int64),
        dls.astype(np.int64),
    )


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
           for c in (*_SCORE_COLS, "pos_enc")}
    ids, tfs, _ = _decode_blocks(sub)
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


def _brute_scorer(stats: dict, k1: float, b: float, avgdl: float):
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, scores, nts = _score_blocks(
                pdf.to_dict("list"), stats, k1, b, avgdl
            )
            yield pd.DataFrame({"doc_id": ids, "contrib": scores, "nt": nts})

    return fn


def _score_all(
    spark: SparkSession, handle: IndexHandle, terms: list[str], st: dict,
    conjunctive: bool,
) -> DataFrame:
    """Distributed brute force: every matching doc with its BM25 sum, no
    top-k cut → (doc_id, score). `terms` are the query's live terms."""
    k1, b = handle.stats["k1"], handle.stats["b"]
    scored = _pruned_postings(spark, handle, terms, _SCORE_COLS).mapInPandas(
        _brute_scorer(st, k1, b, handle.stats["avgdl"]), SCORE_SCHEMA
    )
    agg = scored.groupBy("doc_id").agg(
        F.sum("contrib").alias("score"), F.sum("nt").alias("nt")
    )
    if conjunctive:
        agg = agg.filter(F.col("nt") == len(terms))
    return agg.select("doc_id", "score")


def _wand_shard_scorer(stats: dict, k1: float, b: float, avgdl: float, k: int,
                       conjunctive: bool, n_query_terms: int, range_size: int,
                       floor: float | None = None,
                       allowed: np.ndarray | None = None,
                       phrase: list[str] | None = None):
    """Exact interval-sweep block-max WAND over one doc-range shard, as one
    columnar sweep.

    The shard's block edges cut its doc range into intervals; an
    interval's upper bound ``ub`` is the sum, over the terms, of the
    max_score of the block covering it. Intervals are visited in
    ub-descending order in chunks of 1, 2, 4, … intervals, and the sweep
    stops at the first interval whose ub is below the threshold: the
    shard's kth score so far. Each chunk decodes the blocks it reaches
    that are not decoded yet in one decode step (_decode_scored), scores
    the postings of its intervals with the shared per-doc aggregator in
    sorted-term order (so scores are bit-equal to brute and
    driver-local), merges them with the kept candidates and keeps the top
    k by (score desc, doc_id asc). Only intervals whose bound cannot reach
    the kth score are skipped, so results are exact.

    floor mode (``floor`` set): the same sweep with the threshold fixed at
    ``floor`` and no cut — returns EVERY doc in the shard with score >=
    floor, unordered. The url tie-break uses it to fetch the complete
    kth-score tie group.

    ``dropped_max`` is the max score of every candidate the cut dropped
    (-inf if none, and always in floor mode). A chunk can score intervals
    that a one-interval-at-a-time sweep would have skipped, so the value
    can be higher than that sweep's; but a dropped doc never outranks the
    shard's kth row, so dropped_max equals the shard's kth score s_k
    exactly when a doc tying s_k was cut — the case query_topk's url
    tie-break rescans for.

    allowed mode (``allowed`` set, sorted int64 doc ids — either a plain
    array or a SparkContext.broadcast of one, resolved once per task so the
    array ships via the torrent broadcast path instead of being pickled
    into every task closure): facet-filtered WAND (B19 scale path).
    Intervals containing no allowed doc get ub 0 BEFORE any block decode
    (one vectorized searchsorted on the filter array), and decoded
    postings are masked to the allowed set, so block-max pruning survives
    filtering and a selective filter prunes MORE, not less. Exact: it
    scores a subset of docs with unchanged corpus-level stats (ES
    filter-context semantics).

    phrase mode (``phrase`` set, the ordered tokens; conjunctive, and the
    shard's rows carry ``pos_enc``): each chunk's candidates must also pass
    _phrase_mask over the blocks covering the chunk's intervals — those
    hold every block of every candidate, since intervals partition the doc
    ids. The bounds and the cut are unchanged, so the sweep stays exact,
    and positions are decoded only for chunks the sweep reaches.

    A block overlapping several doc-range shards is replicated to each (the
    explode in _run_shards), so every shard sees every block covering its
    own doc range — the intervals are therefore clipped to
    [shard*range_size, (shard+1)*range_size): each doc is scored exactly
    once, in its home shard, with all its covering blocks present (full
    scores). Without the clip a spanning cold-term block would be scored in
    every shard it was replicated to, emitting duplicate doc_ids into the
    global top-k."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        allow = allowed.value if hasattr(allowed, "value") else allowed
        cols = {c: pdf[c].tolist()
                for c in _WAND_COLS + (["pos_enc"] if phrase else [])}
        tcode, idfs = _term_codes(cols, stats)
        first = np.asarray(cols["first_doc_id"], np.int64)
        last = np.asarray(cols["last_doc_id"], np.int64)
        max_score = np.asarray(cols["max_score"], np.float64)
        # intervals between block edges, clipped to the shard's range
        shard_lo = int(pdf["shard"].iat[0]) * range_size
        edges = np.unique(np.concatenate([first, last + 1]))
        lo = np.clip(edges[:-1], shard_lo, shard_lo + range_size)
        hi = np.clip(edges[1:], shard_lo, shard_lo + range_size)
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
        dropped_max = -np.inf
        thr = -np.inf if floor is None else floor
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
                at = np.minimum(np.searchsorted(allow, ids), len(allow) - 1)
                keep &= allow[at] == ids
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
            if floor is not None:
                top_ids = np.concatenate([top_ids, uniq[scores >= floor]])
                top_s = np.concatenate([top_s, scores[scores >= floor]])
                continue
            cand_ids = np.concatenate([top_ids, uniq])
            cand_s = np.concatenate([top_s, scores])
            rank = np.lexsort((cand_ids, -cand_s))
            if len(rank) > k:
                dropped_max = max(dropped_max, float(cand_s[rank[k:]].max()))
            top_ids, top_s = cand_ids[rank[:k]], cand_s[rank[:k]]
            if len(top_s) == k:
                thr = top_s[-1]
        return pd.DataFrame(
            {"doc_id": top_ids, "score": top_s,
             "dropped_max": np.full(len(top_ids), dropped_max)}
        )

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
    plus the ENTIRE kth-score tie group — callers guarantee that; ties are
    exact float equalities because WAND and local sum with one kernel in
    one order. Resolves the candidates' urls once. Returns (ids, scores,
    urls)."""
    url_map = _resolve_urls(handle, ids)
    urls = [url_map.get(d) for d in ids]
    top = sorted(range(len(ids)), key=lambda i: (-scores[i], urls[i]))[:k]
    return ([ids[i] for i in top], [scores[i] for i in top],
            [urls[i] for i in top])


def _top_by_url(df: DataFrame, k: int) -> DataFrame:
    """The distributed form of the url tie-break, for plans that stay in
    Spark: (doc_id, url, score) rows of `df`, top k by (score desc,
    url asc)."""
    return (
        df.select("doc_id", "url", "score")
        .orderBy(F.desc("score"), F.asc("url"))
        .limit(k)
    )


def _result_df(
    spark: SparkSession, ids, scores, urls: list | None, with_url: bool
) -> DataFrame:
    """The one top-k result frame: RESULT_SCHEMA rows in the given order,
    url null where `urls` (aligned with ids) is None, and no url column
    when with_url is False."""
    schema = T.StructType(
        [f for f in RESULT_SCHEMA.fields if with_url or f.name != "url"]
    )
    pdf = pd.DataFrame(
        {
            "doc_id": pd.Series(ids, dtype="int64"),
            "url": urls,
            "score": pd.Series(scores, dtype="float64"),
        }
    )
    # pandas→Arrow createDataFrame is ~10x cheaper than the row-list path
    return spark.createDataFrame(pdf[schema.fieldNames()], schema)


def _run_shards(
    blocks: DataFrame, n_groups: int, width: int, kernel_for, schema
) -> DataFrame:
    """The per-shard dispatcher of the WAND top-k and its floor rescan:
    runs `kernel_for(range_size)` — a pandas frame → pandas frame kernel
    over one doc-range shard — on the pruned block scan."""
    if n_groups == 1:
        # single shard ⇒ no co-location needed: fold the pruned scan into
        # one task and run the kernel there — one stage, no shuffle. The
        # range is unbounded: doc ids may exceed range_size × n_ranges when
        # the id buckets are skewed, and nothing may be clipped away here.
        kernel = kernel_for(1 << 62)

        def _single(batches):
            pdfs = [p for p in batches if len(p)]
            if pdfs:
                yield kernel(pd.concat(pdfs, ignore_index=True))

        return (
            blocks.withColumn("shard", F.lit(0).cast("long"))
            .coalesce(1)
            .mapInPandas(_single, schema)
        )
    # a block overlapping multiple doc-range shards is replicated to each
    # (kernels clip to their own range); the shuffle payload is
    # ≤ blocks × spanned shards rows
    shard = F.explode(
        F.sequence(
            (F.col("first_doc_id") / width).cast("long"),
            (F.col("last_doc_id") / width).cast("long"),
        )
    )
    return (
        blocks.withColumn("shard", shard)
        .groupBy("shard")
        .applyInPandas(kernel_for(width), schema)
    )


def _collect_topk(
    scored: DataFrame, k: int
) -> tuple[list[int], list[float]]:
    """Top-k (doc_id, score) of a distributed scored frame in
    (score desc, doc_id asc) order, collected in one Spark job."""
    rows = (
        scored.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
        .select("doc_id", "score")
        .collect()
    )
    return [int(r["doc_id"]) for r in rows], [float(r["score"]) for r in rows]


def query_topk(
    spark: SparkSession,
    index: IndexHandle | str,
    query: str,
    k: int = 10,
    mode: str = "wand",
    conjunctive: bool = False,
    with_url: bool = True,
    tiebreak: str = "doc_id",
    shard_target: int | None = None,
    doc_filter: np.ndarray | None = None,
) -> DataFrame:
    """Top-k BM25. Returns (doc_id, url?, score) ordered by
    (score desc, doc_id asc) — the golden tie-break (SURVEY.md §5.2).
    mode is "brute", "wand", "local" or "auto" (see the module docstring).
    tiebreak="url" breaks exact-score ties by url instead, which is what
    the ANSI-SQL oracle can express. k=0 returns no rows without running a
    Spark job; an unknown mode or tiebreak, or k < 0, raises ValueError.
    shard_target overrides WAND_SHARD_TARGET (postings per WAND shard) —
    the scorer is exact for any doc-range partitioning, so this only moves
    the fan-out/latency trade-off; the bench uses it to exercise the
    multi-shard path at small corpus sizes.
    doc_filter (mode="wand" only): sorted int64 array of allowed doc ids —
    filter-aware WAND (B19): the set rides the scoring closure, the top-k
    is cut over allowed docs only, and allowed-empty intervals are skipped
    before any block decode (engine.phrase.filtered_topk resolves a facet
    predicate to this array and is the intended entry point)."""
    if mode not in ("brute", "wand", "local", "auto"):
        raise ValueError(
            f"mode must be 'brute', 'wand', 'local' or 'auto', got {mode!r}"
        )
    if tiebreak not in ("doc_id", "url"):
        raise ValueError(f"tiebreak must be 'doc_id' or 'url', got {tiebreak!r}")
    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")
    if doc_filter is not None and mode != "wand":
        raise ValueError("doc_filter requires mode='wand'")
    handle = open_index(index) if isinstance(index, str) else index
    return _topk(spark, handle, parse_query(query), k, mode, conjunctive,
                 with_url, tiebreak, shard_target, doc_filter)


def _topk(
    spark: SparkSession, handle: IndexHandle, all_terms: list[str], k: int,
    mode: str, conjunctive: bool, with_url: bool, tiebreak: str,
    shard_target: int | None = None, doc_filter: np.ndarray | None = None,
    phrase: list[str] | None = None,
) -> DataFrame:
    """query_topk over checked arguments and the query's unique terms.
    `phrase` (the ordered tokens, with conjunctive and mode "local", "auto"
    or "wand") keeps only the docs whose token stream holds them
    consecutively — engine.positional's exact-phrase search."""
    if k == 0 or not all_terms or (
        doc_filter is not None and len(doc_filter) == 0
    ):
        return _result_df(spark, [], [], None, with_url)
    # the dict is shipped to executors in the scoring closure (B11
    # broadcast stats)
    st = _local_term_stats(handle, all_terms)
    terms = [t for t in all_terms if t in st]  # zero-hit terms drop out
    if not terms or (conjunctive and len(terms) < len(all_terms)):
        return _result_df(spark, [], [], None, with_url)

    if mode == "local" or (
        mode == "auto" and sum(st[t]["df"] for t in terms) <= LOCAL_MAX_POSTINGS
    ):
        ids, scores = _local_scored(handle, terms, st, conjunctive, phrase)
        if tiebreak == "url" and len(scores) > k:
            # every matching doc's score is in memory here: keep every doc
            # scoring >= the kth score — the ENTIRE kth-score tie group —
            # for the url sort. No heuristic margin.
            sel = scores >= -np.partition(-scores, k - 1)[k - 1]
            ids, scores = ids[sel], scores[sel]
        elif tiebreak == "doc_id":
            order = np.lexsort((ids, -scores))[:k]
            ids, scores = ids[order], scores[order]
        ids, scores = ids.tolist(), scores.tolist()
    elif mode == "brute":
        scored = _score_all(spark, handle, terms, st, conjunctive)
        if tiebreak == "url":
            # the distributed reference for the oracle tie-break: SQL join
            # + orderBy, no driver-side step
            docs = _docs_df(spark, handle).select("doc_id", "url")
            topk = _top_by_url(scored.join(docs, "doc_id"), k)
            return topk if with_url else topk.drop("url")
        ids, scores = _collect_topk(scored, k)
    else:
        # Query-time shard width adapts to the query's posting volume: the
        # scorer is exact for ANY doc-range partitioning (it clips to its
        # own range), so light queries run as one shard (one Python task,
        # no per-group scheduling overhead) while stopword-grade queries fan
        # out to up to n_doc_ranges shards (~TARGET postings each — seconds
        # of vectorized kernel work per task at 10^12 docs, bounded memory).
        n_groups, width = _shard_layout(handle, st, terms, shard_target)
        blocks = _pruned_postings(
            spark, handle, terms, _WAND_COLS + (["pos_enc"] if phrase else [])
        )
        k1, b = handle.stats["k1"], handle.stats["b"]
        avgdl = handle.stats["avgdl"]
        # ship the allowed-id array via a SparkContext broadcast (torrent,
        # sent once per executor) instead of pickling up to ~32 MB into
        # every task closure (r5 verdict "What's wrong #2"); tiny arrays
        # stay in the closure — a broadcast's setup costs more than
        # shipping a few hundred KB once
        doc_filter_bc = doc_filter
        if doc_filter is not None and doc_filter.nbytes > (1 << 20):
            doc_filter_bc = spark.sparkContext.broadcast(doc_filter)

        def wand(floor=None):
            return _run_shards(
                blocks, n_groups, width,
                lambda rs: _wand_shard_scorer(
                    st, k1, b, avgdl, k, conjunctive, len(terms), rs,
                    floor=floor, allowed=doc_filter_bc, phrase=phrase,
                ),
                TOPK_SCHEMA,
            )

        if tiebreak == "doc_id":
            ids, scores = _collect_topk(wand(), k)
        else:
            # ≤ shards·k candidate rows: collect, then the url sort. EXACT:
            # every doc scoring strictly above the global kth candidate
            # score s_k is provably in the candidate set (a shard that
            # dropped it would have had k better rows, pushing s_k above
            # that doc's score). Only docs TYING s_k can be missing —
            # detectable as a shard that returned exactly k rows with min
            # score == s_k. When detected, one floor-mode rescan
            # (score >= s_k, block-max pruned) fetches the complete tie
            # group before the url sort.
            cand_rows = wand().collect()
            cand = {int(r["doc_id"]): float(r["score"]) for r in cand_rows}
            if len(cand) >= k:
                s_k = sorted(cand.values(), reverse=True)[k - 1]
                per_shard: dict[int, list[float]] = {}
                per_shard_dm: dict[int, float] = {}
                for r in cand_rows:
                    sh = 0 if n_groups == 1 else int(r["doc_id"]) // width
                    per_shard.setdefault(sh, []).append(float(r["score"]))
                    dm = float(r["dropped_max"])
                    if dm > per_shard_dm.get(sh, float("-inf")):
                        per_shard_dm[sh] = dm
                # a doc tying s_k can only be missing if its home shard's
                # cut actually DROPPED a candidate scoring exactly s_k
                # (every dropped score is <= the shard's final min, so
                # dropped_max == s_k iff a true tie was lost). Without a
                # recorded drop at s_k the candidate set provably contains
                # the whole tie group and the rescan job is skipped — the
                # previous shape-only test (k rows with min == s_k) fired
                # on EVERY single-shard query and doubled its latency.
                if any(len(v) == k and min(v) == s_k
                       and per_shard_dm.get(sh2, float("-inf")) == s_k
                       for sh2, v in per_shard.items()):
                    for r in wand(floor=s_k).collect():
                        cand.setdefault(int(r["doc_id"]), float(r["score"]))
            ids, scores = list(cand), list(cand.values())

    # urls of the ≤k rows (or of the tie group) come from a driver-side
    # pyarrow lookup — avoids a second job scanning the docs table per
    # query. Row order is preserved.
    if tiebreak == "url":
        ids, scores, urls = _url_topk(handle, ids, scores, k)
    elif with_url:
        url_map = _resolve_urls(handle, ids)
        urls = [url_map.get(d) for d in ids]
    else:
        urls = None
    return _result_df(spark, ids, scores, urls, with_url)


# auto-mode crossover: the driver-local path decodes ~1M postings/s
# single-threaded (incl. the pyarrow read), while the distributed WAND floor
# is ~0.6 s — measured crossover sits near 500k postings
LOCAL_MAX_POSTINGS = 500_000


def _shard_layout(
    handle: IndexHandle, st: dict, terms: list[str],
    shard_target: int | None = None,
) -> tuple[int, int]:
    """The ONE (total_df, n_doc_ranges) → (shard count, shard width in doc
    ids) formula, shared by the WAND query path (phrases included) and
    wand_shard_count's report so they can never drift (ADVICE r3). Terms
    absent from the stats table contribute no postings."""
    tgt = shard_target or WAND_SHARD_TARGET
    total_df = sum(st[t]["df"] for t in terms if t in st)
    n_ranges = handle.stats.get("n_doc_ranges", 32)
    n_groups = max(1, min(n_ranges, -(-total_df // tgt)))
    return n_groups, handle.stats["range_size"] * (-(-n_ranges // n_groups))


def wand_shard_count(
    handle: IndexHandle, query: str, shard_target: int | None = None
) -> int:
    """How many doc-range shards the adaptive WAND path fans this query out
    to (1 = single shuffle-free task). Exposed so the bench can report the
    salted-shard fan-out per query per round (BENCH_r{N}.json)."""
    terms = parse_query(query)
    return _shard_layout(
        handle, _local_term_stats(handle, terms), terms, shard_target
    )[0]


def local_scored_arrays(
    handle: IndexHandle, terms: list[str], st: dict, conjunctive: bool
) -> tuple[np.ndarray, np.ndarray]:
    """Driver-local run of the decode-and-score kernel, for filtered
    search's brute candidates: pyarrow-pruned read of the terms' postings
    (bucket partition + term row-group pruning), then the same per-term
    decode and per-doc sum as brute and WAND. Returns (doc_ids, scores)
    after the optional conjunctive mask; empty arrays when nothing
    matches."""
    return _local_scored(handle, terms, st, conjunctive)


def _local_scored(
    handle: IndexHandle, terms: list[str], st: dict, conjunctive: bool,
    phrase: list[str] | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """local_scored_arrays, as query_topk's local/auto path runs it, plus
    the phrase predicate when `phrase` (the ordered tokens) is set: the
    read then adds pos_enc, and _phrase_mask runs once over all the
    rows."""
    dset = _pa_dataset(
        handle, "_postings_ds", handle.postings_path, partitioning="hive"
    )
    tbl = dset.to_table(
        columns=_SCORE_COLS + (["pos_enc"] if phrase else []),
        filter=ds.field("bucket").isin(_term_buckets(handle, terms))
        & ds.field("term").isin(terms),
    )
    cols = tbl.to_pydict()
    ids, scores, nts = _score_blocks(
        cols, st, handle.stats["k1"], handle.stats["b"], handle.stats["avgdl"]
    )
    if conjunctive:
        sel = nts == len(terms)
        ids, scores = ids[sel], scores[sel]
    if phrase:
        sel = _phrase_mask(cols, np.arange(len(cols["n"])), phrase, ids)
        ids, scores = ids[sel], scores[sel]
    return ids, scores
