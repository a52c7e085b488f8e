"""Inverted-index build (SURVEY.md §2.B1–B9, §3.2; north rule BASELINE.json:14).

Pipeline (all DataFrame-declared; Python boundaries are Arrow-batched):

1.  latest-crawl dedup per url (reference A9 dedup-to-latest generalized:
    `metadata_indexer.py` keep-latest-analysis ≈L850–950 [R, SURVEY.md §2.A9]).
2.  deterministic doc-id assignment — doc_id = rank_in_bucket * P + bucket
    with bucket = crc32(url) % P. Depends only on the url set and P, never on
    Spark partitioning, so the index bytes are identical at local[8] and
    local[32] (scaling-bench precondition, SURVEY.md §5.2) and the scheme
    needs no global sort at 10^12 docs (per-bucket window only).
3.  SPIMI per-partition posting construction via mapInPandas (BASELINE.json:6):
    tokenize+extract via Arrow kernels, per-partition term→postings grouping,
    emits TRANSIT-ENCODED partials (one row per term per partition, postings
    as varint-delta binary — shuffle row count is O(distinct terms ×
    partitions) and shuffle bytes ~2-4 B/posting instead of 16), plus one
    docmap row per doc, yielded as soon as the doc's batch is tokenized.
4.  stats: docs (doc_id,url,dl) selected from the docmap rows, N, avgdl,
    terms (df, cf) — partial+final agg.
5.  salted repartition-by-term merge (BASELINE.json:6): hot terms
    (df ≥ threshold) are split by doc-range salt = doc_id // range_size
    *before* the term shuffle, bounding per-group memory under stopword-grade
    skew; cold terms use salt 0. Salt boundaries depend only on (N, config).
6.  per-(term,salt) applyInPandas: merge-sort postings, chunk into blocks of
    128, delta+varint/FOR compress, per-block max BM25 score (§2.B8).
7.  sinks: postings partitioned by term bucket (query-time partition
    pruning), terms/docs parquet, stats JSON (with per-pid lineage and
    per-bucket byte metrics, B15, taken from the step-4 aggregation and the
    step-6 kernel rather than a second pass); all inside one atomic
    manifest publish (reference A15 alias swap analog). Each postings block
    also carries its postings' token positions (`pos_enc`, for exact-phrase
    search; see engine/positional.py). They come from the SPIMI pass of
    step 3, so the corpus is tokenized once.

Resumable from per-partition checkpoints (north rule): stage-3 partials are
checkpointed per build-bucket; a re-run recomputes only missing buckets
(SURVEY.md §2.B15).
"""

from __future__ import annotations

import json
import os
import time
import zlib
from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark import inheritable_thread_target
from pyspark.accumulators import AddingAccumulatorParam
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import types as T

from engine.analyzer import extract_series, factorized_tokens
from engine.codec import (
    bm25_tf_norm,
    delta_decode_blocks,
    encode_blocks,
    idf,
    varint_decode_concat,
    varint_encode_rows,
)
from engine.config import IndexConfig
from engine.publish import atomic_publish, read_manifest

# Pseudo term of the docmap rows: one partial row per doc carries its
# (doc_id, dl, url, lang, fp) so doc lengths ride the same SPIMI pass (empty
# string is never a tokenizer output).
DOC_PSEUDO_TERM = ""

# Term partials travel TRANSIT-ENCODED (varint bytes, ~4-6x smaller than
# int64 arrays): the term shuffle is the build's largest data movement, so
# postings cross it as (n, tf_sum, ids_enc=varint gaps w/ absolute first,
# tfs_enc, dls_enc, pos_enc). pos_enc concatenates the postings' token
# positions, one stream per doc (within-doc deltas, absolute first value;
# the doc's tf is its count) — the same layout as the postings blocks'
# pos_enc column, so salt split and merge cut it without a re-delta. The
# at-rest block codec in the merge stage is unchanged — index bytes stay
# identical. Every column is a scalar: a posting row (one per term per pid
# per SPIMI run) leaves the docmap columns null, a docmap row (term="", one
# per doc, n = tf_sum = 0) leaves the transit streams null, and the docs
# table is a plain select of the docmap rows.
PARTIALS_SCHEMA = T.StructType(
    [
        T.StructField("pid", T.IntegerType()),
        T.StructField("term", T.StringType()),
        T.StructField("n", T.IntegerType()),
        T.StructField("tf_sum", T.LongType()),
        T.StructField("ids_enc", T.BinaryType()),
        T.StructField("tfs_enc", T.BinaryType()),
        T.StructField("dls_enc", T.BinaryType()),
        T.StructField("pos_enc", T.BinaryType()),
        # docmap columns, set only on the docmap rows (term = "")
        T.StructField("doc_id", T.LongType()),
        T.StructField("dl", T.IntegerType()),
        T.StructField("url", T.StringType()),
        T.StructField("lang", T.StringType()),
        # extracted-text fingerprint (vectorized 64-bit hash) — backs
        # snapshot-diff change detection (docs_changed_between)
        T.StructField("fp", T.LongType()),
    ]
)

POSTINGS_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType()),
        T.StructField("salt", T.IntegerType()),
        T.StructField("block_seq", T.IntegerType()),
        T.StructField("n", T.IntegerType()),
        T.StructField("first_doc_id", T.LongType()),
        T.StructField("last_doc_id", T.LongType()),
        T.StructField("max_score", T.DoubleType()),
        T.StructField("codec_ids", T.IntegerType()),
        T.StructField("ids_enc", T.BinaryType()),
        T.StructField("codec_tfs", T.IntegerType()),
        T.StructField("tfs_enc", T.BinaryType()),
        T.StructField("codec_dls", T.IntegerType()),
        T.StructField("dls_enc", T.BinaryType()),
        # the postings' token positions (varint, per-posting streams with an
        # absolute first value, tfs are the counts); read by phrase search
        # only
        T.StructField("pos_enc", T.BinaryType()),
        T.StructField("bucket", T.IntegerType()),
    ]
)


def latest_crawl(webpages: DataFrame) -> DataFrame:
    """Keep only the newest crawl per url (A9: dedup-to-latest; ties broken
    by larger text then by content hash, so the winner is a pure function of
    the row set — the byte-identical-index determinism invariant holds even
    for equal-ts equal-length crawls with different content)."""
    w = Window.partitionBy("url").orderBy(
        F.desc("warc_ts"), F.desc(F.length("text")), F.desc(F.md5("text"))
    )
    return (
        webpages.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _row_deltas(values: np.ndarray, starts: np.ndarray) -> np.ndarray:
    """uint64 deltas of `values` with the absolute value at each row start:
    every encoded row or block is a self-contained delta stream."""
    v = values.astype(np.uint64)
    gaps = v.copy()
    gaps[1:] -= v[:-1]
    gaps[starts] = v[starts]
    return gaps


def _block_seq(blk_grp: np.ndarray) -> np.ndarray:
    """Each block's index within its group (group ids ascending)."""
    return (
        np.arange(len(blk_grp)) - np.searchsorted(blk_grp, blk_grp)
    ).astype(np.int32)


def _term_bucket(terms: np.ndarray, n_buckets: int) -> np.ndarray:
    """The on-disk term bucket, crc32(term) % n_buckets."""
    return np.asarray(
        [zlib.crc32(t.encode("utf-8")) % n_buckets for t in terms],
        dtype=np.int32,
    )


def _partials_frame(**cols) -> pd.DataFrame:
    """One frame of partial rows in PARTIALS_SCHEMA's column order. Every
    column a row kind does not use (a posting row's docmap columns, a
    docmap row's transit streams) is null."""
    return pd.DataFrame({f: cols.get(f) for f in PARTIALS_SCHEMA.fieldNames()})


def _posting_partials(
    terms: np.ndarray, codes: np.ndarray, docs: np.ndarray, dls: np.ndarray,
    pids: np.ndarray, pos: np.ndarray,
) -> pd.DataFrame:
    """The SPIMI run of an accumulated token stream (one entry per token:
    term code into `terms`, doc id, doc length, pid, position in the doc):
    one partial row per (pid, term), its postings doc-sorted and transit-
    encoded. Every row is a self-contained delta stream with an absolute
    first value, and the merge stage lexsorts each (term, salt) group's
    postings before block-cutting, so the rows of several runs of one
    (term, pid) merge exactly like partials from distinct pids."""
    # ONE stable argsort on a combined (pid, code) key: doc_ids are
    # already ascending within each pid (rows arrive url-sorted), so
    # stability gives doc-sorted runs for free — ~3x cheaper than a
    # 3-key lexsort, which dominated this stage at 32 workers.
    # Stability also keeps each posting's positions ascending.
    V = np.int64(len(terms))
    key = pids.astype(np.int64) * V + codes
    order = np.argsort(key, kind="stable")
    key_s = key[order]
    docs = docs[order]
    dls = dls[order]
    pos = pos[order]
    # run boundaries at (key, doc) change → tf per posting
    change = np.empty(len(key_s), dtype=bool)
    change[0] = True
    change[1:] = (key_s[1:] != key_s[:-1]) | (docs[1:] != docs[:-1])
    starts = np.flatnonzero(change)
    tf = np.diff(np.append(starts, len(key_s))).astype(np.int32)
    p_doc = docs[starts]
    p_dl = dls[starts].astype(np.int32)
    p_key = key_s[starts]
    # row boundaries at (pid, code) change
    rchange = np.empty(len(starts), dtype=bool)
    rchange[0] = True
    rchange[1:] = p_key[1:] != p_key[:-1]
    rstarts = np.flatnonzero(rchange)
    r_key = p_key[rstarts]
    return _partials_frame(
        pid=(r_key // V).astype(np.int32),
        term=terms[r_key % V],
        n=np.diff(np.append(rstarts, len(starts))),
        tf_sum=np.add.reduceat(tf.astype(np.int64), rstarts),
        # transit encode (one vectorized pass per stream): doc ids as
        # within-row deltas with an absolute first value
        ids_enc=varint_encode_rows(_row_deltas(p_doc, rstarts), rstarts),
        tfs_enc=varint_encode_rows(tf.astype(np.uint64), rstarts),
        dls_enc=varint_encode_rows(p_dl.astype(np.uint64), rstarts),
        # positions: within-posting deltas, absolute at each posting
        # start; a row's buffer is its postings' streams back to back
        pos_enc=varint_encode_rows(_row_deltas(pos, starts), starts[rstarts]),
    )


def _fused_spimi(cfg: IndexConfig, dedup: bool):
    """mapInPandas body fusing three stages into the single corpus shuffle
    (repartition by pid + sortWithinPartitions(url, warc_ts desc, len desc)):

    1. latest-crawl dedup per url (A9) — rows arrive url-sorted with the
       newest crawl first, so dedup = keep first row per url (O(1) state
       across Arrow batches; never buffers raw text — bounded memory at any
       partition size, spill handled by the upstream Tungsten sort);
    2. deterministic doc-id assignment — doc_id = rank_in_pid * P + pid,
       rank = position of the url among the pid's deduped sorted urls
       (pure function of the url set + P: identical at any parallelism);
    3. SPIMI per-partition posting construction (B4): terms are factorized
       to integer codes per batch (strings touched once), then one lexsort +
       run-length pass aggregates (pid, term, doc) → tf. No object-dtype
       groupby — that is memory-bandwidth-bound at high core counts.

    A Spark partition can hold several pids (hash distribution is not
    bijective); the doc-id rank counter is one slot per pid. A doc's docmap
    row (term="", with doc_id, dl, url, lang and text fingerprint) is final
    once its batch is tokenized, so each batch's docmap rows are yielded
    before the next batch is read and stats need no extra corpus pass. Only
    the posting accumulators live across batches: they are drained at the
    end of the partition and, with `spimi_flush_mb` set, whenever they
    exceed that budget (classic SPIMI spill-to-run, bounding task memory
    independent of partition size). Flushed and unflushed builds are
    byte-identical: doc ids keep ascending across flushes of a pid (the
    rank counter carries) and the merge unions a (term, pid)'s runs.
    """
    P = cfg.n_build_partitions
    budget_cells = (  # accumulated token cells ≈ 24 B each across streams
        max(1, int(cfg.spimi_flush_mb * (1 << 20)) // 24)
        if cfg.spimi_flush_mb
        else None
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        vocab: dict[str, int] = {}  # term → code, codes in insertion order
        acc: list[tuple[np.ndarray, ...]] = []  # per batch (code, doc, dl, pid, pos)
        n_cells = 0
        rank_ctr = np.zeros(P, np.int64)  # docs seen so far per pid
        last_url: str | None = None

        def drain() -> pd.DataFrame:
            nonlocal vocab, acc, n_cells
            out = _posting_partials(
                np.asarray(list(vocab), dtype=object),
                *map(np.concatenate, zip(*acc)),
            )
            vocab, acc, n_cells = {}, [], 0
            return out

        for pdf in batches:
            if len(pdf) == 0:
                continue
            if dedup:
                urls = pdf["url"]
                keep = urls.ne(urls.shift(1))
                keep.iloc[0] = urls.iloc[0] != last_url
                last_url = urls.iloc[-1]
                if not keep.all():
                    pdf = pdf[keep.to_numpy()]
                    if len(pdf) == 0:
                        continue
            pids = pdf["pid"].to_numpy(dtype=np.int64)
            # per-pid rank with cross-batch carry
            ranks = pd.Series(pids).groupby(pids).cumcount().to_numpy(np.int64)
            ranks += rank_ctr[pids]
            rank_ctr += np.bincount(pids, minlength=P)
            doc_ids = ranks * P + pids
            text = extract_series(pdf["url"], pdf.get("html"), pdf["text"])
            # Arrow-kernel tokenize + dictionary-encode: the token stream
            # never materializes as Python objects (bandwidth, not CPU, is
            # the binding constraint at high core counts)
            bcodes, buniq, dls = factorized_tokens(text.to_numpy(dtype=object))
            if dls.sum():
                remap = np.empty(len(buniq), dtype=np.int64)
                for j, tm in enumerate(buniq):
                    remap[j] = vocab.setdefault(tm, len(vocab))
                acc.append((
                    remap[bcodes].astype(np.int32),
                    np.repeat(doc_ids, dls),
                    np.repeat(dls.astype(np.int32), dls),
                    np.repeat(pids.astype(np.int32), dls),
                    # token position within its doc
                    np.arange(len(bcodes), dtype=np.int32)
                    - np.repeat((np.cumsum(dls) - dls).astype(np.int32), dls),
                ))
                n_cells += int(dls.sum())
            yield _partials_frame(
                pid=pids.astype(np.int32),
                term=DOC_PSEUDO_TERM,
                n=0,
                tf_sum=0,
                doc_id=doc_ids,
                dl=dls.astype(np.int32),
                url=pdf["url"].to_numpy(dtype=object),
                lang=pdf["lang"].to_numpy(dtype=object) if "lang" in pdf else None,
                # vectorized 64-bit content fingerprint of the extracted
                # text (deterministic: fixed default hash key)
                fp=pd.util.hash_pandas_object(text, index=False)
                .to_numpy(np.uint64)
                .view(np.int64),
            )
            if budget_cells is not None and n_cells >= budget_cells:
                yield drain()
        if acc:
            yield drain()

    return fn


def _salt_split(range_size: int):
    """Narrow map: split hot-term partials at doc-range boundaries so the
    term shuffle is salted (B7). Its input is the hot rows only (cold
    partials never cross the Python boundary, see the caller)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # vectorized over the batch: bulk-decode the transit
            # buffers once, compute per-posting salt keys, cut at
            # (row, salt) boundaries, and re-encode the segments with one
            # pass per stream. Postings inside a partial are doc-sorted
            # (SPIMI emits sorted runs), so salts are monotonic within a
            # row — boundary detection needs no sort. Each posting's
            # position stream starts absolute, so positions are cut at the
            # segments' first postings with no re-delta.
            nrows = len(pdf)
            lens = pdf["n"].to_numpy(np.int64)
            gaps_f = varint_decode_concat(pdf["ids_enc"])
            ids_f = delta_decode_blocks(gaps_f, lens).astype(np.int64)
            tfs_f = varint_decode_concat(pdf["tfs_enc"])
            dls_f = varint_decode_concat(pdf["dls_enc"])
            pos_f = varint_decode_concat(pdf["pos_enc"])
            pos_off = np.cumsum(tfs_f) - tfs_f  # each posting's first position
            row_of = np.repeat(np.arange(nrows, dtype=np.int64), lens)
            salt_f = (ids_f // range_size + 1).astype(np.int64)
            boundary = np.empty(len(ids_f), dtype=bool)
            if len(ids_f):
                boundary[0] = True
                boundary[1:] = (row_of[1:] != row_of[:-1]) | (
                    salt_f[1:] != salt_f[:-1]
                )
            starts = np.flatnonzero(boundary)
            seg_row = row_of[starts]
            out = pd.DataFrame(
                {
                    "pid": pdf["pid"].to_numpy()[seg_row],
                    "term": pdf["term"].to_numpy(object)[seg_row],
                    "salt": salt_f[starts].astype(np.int32),
                    "n": np.diff(np.append(starts, len(ids_f))).astype(
                        np.int32
                    ),
                    # re-delta at segment boundaries
                    "ids_enc": varint_encode_rows(
                        _row_deltas(ids_f, starts), starts
                    ),
                    "tfs_enc": varint_encode_rows(tfs_f, starts),
                    "dls_enc": varint_encode_rows(dls_f, starts),
                    "pos_enc": varint_encode_rows(pos_f, pos_off[starts]),
                }
            )
            if len(out):
                yield out

    return fn


def _merge_compress(
    cfg: IndexConfig, n_docs: int, avgdl: float, hot_df: dict[str, int],
    bucket_acc,
):
    """Merge + compress over a (term, salt)-sorted partition stream: merge-
    sort each group's partials, block-chunk, delta + varint/FOR compress
    (analytic per-block codec choice, one vectorized encode pass per
    stream), per-block max BM25 score (B8/B13).

    A group's df comes from the closure-shipped `hot_df` ({term: df}, only
    terms with df >= the hot threshold) when its term is hot, and is its own
    merged posting count otherwise (a cold term's single salt-0 group holds
    ALL its postings, one per containing doc). The hot set is provably tiny
    (df >= N/n_doc_ranges bounds it to ~n_doc_ranges*avgdl terms —
    thousands at any corpus size), so shipping it beats a full-vocabulary
    `df` join, which would force the ENTIRE transit-encoded partials
    payload through an extra exchange (guide §2.3/§2.4).

    Runs as mapInPandas over `repartition(term, salt).sortWithinPartitions`
    rather than groupBy().applyInPandas: the vocabulary has millions of
    tiny groups and grouped-map materializes a pandas DataFrame per group —
    pure per-group overhead that dominates the phase (measured 8 s of an
    11 s build at 5k docs). Here every Arrow batch is processed as ONE
    vectorized pass across all its groups (group ids from term/salt change
    detection, one lexsort, reduceat aggregation, batched encodes); a group
    that straddles an Arrow batch boundary is held back and stitched onto
    the next batch, so each group is still compressed exactly once, whole.
    Each posting's token positions move with it through the merge sort and
    are written per block (`pos_enc`) in one varint pass.

    Per-bucket byte metrics (B15) ride `bucket_acc`, an (n_buckets, 3)
    accumulator of [n_blocks, n_postings, encoded_bytes]. This kernel runs
    in the result stage of the postings write, and the DAGScheduler applies
    a result task's accumulator update once per partition, even when the
    task is retried or speculated, so the totals are exact."""
    k1, b, bs = cfg.k1, cfg.b, cfg.block_size
    n_buckets = cfg.n_term_buckets

    def process(pdf: pd.DataFrame) -> pd.DataFrame:
        nrows = len(pdf)
        ns = pdf["n"].to_numpy(np.int64)
        ids = delta_decode_blocks(
            varint_decode_concat(pdf["ids_enc"]), ns
        ).astype(np.int64)
        tfs = varint_decode_concat(pdf["tfs_enc"]).astype(np.int64)
        dls = varint_decode_concat(pdf["dls_enc"]).astype(np.int64)
        terms_arr = pdf["term"].to_numpy(object)
        salts_arr = pdf["salt"].to_numpy(np.int32)
        new_grp = np.empty(nrows, dtype=bool)
        new_grp[0] = True
        new_grp[1:] = (terms_arr[1:] != terms_arr[:-1]) | (
            salts_arr[1:] != salts_arr[:-1]
        )
        grp_of_row = np.cumsum(new_grp) - 1
        n_grp = int(grp_of_row[-1]) + 1
        grp_first_row = np.flatnonzero(new_grp)
        # one stable sort puts every group's postings in doc order (doc ids
        # are unique within a group: a doc lives in exactly one pid)
        grp_of_post = np.repeat(grp_of_row, ns)
        if len(grp_of_post) == 0:
            return pd.DataFrame()
        order = np.lexsort((ids, grp_of_post))
        # each posting's position run moves with it: gather the runs in
        # `order` (a posting's run starts at the cumulative tf before it)
        pos_g = varint_decode_concat(pdf["pos_enc"])
        run_src = (np.cumsum(tfs) - tfs)[order]
        ids, tfs, dls = ids[order], tfs[order], dls[order]
        run_dst = np.cumsum(tfs) - tfs
        pos_g = pos_g[
            np.arange(len(pos_g)) + np.repeat(run_src - run_dst, tfs)
        ]
        gsorted = grp_of_post[order]
        grp_counts = np.bincount(grp_of_post, minlength=n_grp)
        grp_off = np.concatenate(([0], np.cumsum(grp_counts)))
        # block starts: every bs-th posting within its group
        pos_in_grp = np.arange(len(ids), dtype=np.int64) - grp_off[gsorted]
        starts = np.flatnonzero(pos_in_grp % bs == 0)
        ends = np.append(starts[1:], len(ids))
        blk_grp = gsorted[starts]
        # per-group df: the hot set's, else the group's posting count
        term_g = terms_arr[grp_first_row]
        df_g = np.fromiter((hot_df.get(t, 0) for t in term_g), np.int64, n_grp)
        df_g = np.where(df_g > 0, df_g, grp_counts)
        contrib = idf(n_docs, df_g)[gsorted] * bm25_tf_norm(
            tfs, dls, k1, b, avgdl
        )
        max_scores = np.maximum.reduceat(contrib, starts)
        # delta with per-block absolute first value (self-contained blocks;
        # group boundaries always coincide with block starts, so deltas
        # never leak across groups)
        ci, ebufs = encode_blocks(_row_deltas(ids, starts), starts)
        ct, tbufs = encode_blocks(tfs.astype(np.uint64), starts)
        cd, dbufs = encode_blocks(dls.astype(np.uint64), starts)
        pbufs = varint_encode_rows(pos_g, run_dst[starts])
        bucket = _term_bucket(term_g, n_buckets)[blk_grp]
        enc = [len(i) + len(t) + len(d) for i, t, d in zip(ebufs, tbufs, dbufs)]
        per_bucket = np.zeros((n_buckets, 3), np.int64)
        np.add.at(per_bucket, bucket, np.c_[np.ones_like(starts), ends - starts, enc])
        bucket_acc.add(per_bucket)
        return pd.DataFrame(
            {
                "term": term_g[blk_grp],
                "salt": salts_arr[grp_first_row][blk_grp],
                "block_seq": _block_seq(blk_grp),
                "n": (ends - starts).astype(np.int32),
                "first_doc_id": ids[starts],
                "last_doc_id": ids[ends - 1],
                "max_score": max_scores,
                "codec_ids": np.asarray(ci, dtype=np.int32),
                "ids_enc": ebufs,
                "codec_tfs": np.asarray(ct, dtype=np.int32),
                "tfs_enc": tbufs,
                "codec_dls": np.asarray(cd, dtype=np.int32),
                "dls_enc": dbufs,
                "pos_enc": pbufs,
                "bucket": bucket,
            }
        )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        held: pd.DataFrame | None = None  # trailing (possibly split) group
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if held is not None:
                pdf = pd.concat([held, pdf], ignore_index=True)
            t = pdf["term"].to_numpy(object)
            s = pdf["salt"].to_numpy()
            tail = (t == t[-1]) & (s == s[-1])
            if tail.all():  # whole batch is one group — keep accumulating
                held = pdf
                continue
            cut = len(pdf) - int(np.argmin(tail[::-1]))
            held = pdf.iloc[cut:].reset_index(drop=True)
            out = process(pdf.iloc[:cut].reset_index(drop=True))
            if len(out):
                yield out
        if held is not None and len(held):
            out = process(held)
            if len(out):
                yield out

    return fn


def _write_bucketed(blocks: DataFrame, path: str) -> None:
    """Write the postings blocks, partitioned by term bucket. The rows are
    already partitioned by bucket, so the local sort restores the on-disk
    row order (bucket, term, salt, block_seq) and satisfies partitionBy's
    required ordering: no further exchange or writer-inserted sort is
    paid."""
    (
        blocks.sortWithinPartitions("bucket", "term", "salt", "block_seq")
        .write.partitionBy("bucket")
        .mode("overwrite")
        .parquet(path)
    )


@dataclass
class IndexHandle:
    path: str
    version_dir: str
    stats: dict

    @property
    def postings_path(self) -> str:
        return os.path.join(self.version_dir, "postings")

    @property
    def terms_path(self) -> str:
        return os.path.join(self.version_dir, "terms")

    @property
    def docs_path(self) -> str:
        return os.path.join(self.version_dir, "docs")


def open_index(path: str, version: str | None = None) -> IndexHandle:
    """Open the current index version, or pin a historical snapshot
    (Iceberg `VERSION AS OF` analog — the snapshot log keeps every published
    version readable while new builds land; engine.publish)."""
    manifest = read_manifest(path, version=version)
    vdir = os.path.join(path, manifest["version"])
    with open(os.path.join(vdir, "stats.json")) as f:
        stats = json.load(f)
    return IndexHandle(path=path, version_dir=vdir, stats=stats)


def docs_changed_between(
    spark: SparkSession, path: str, from_version: str, to_version: str | None = None
) -> DataFrame:
    """Incremental read (A3 generalized / Iceberg incremental-scan analog):
    the docs added or whose content-bearing stats changed between two
    snapshots, keyed by url. A downstream consumer resuming from
    `from_version` re-processes exactly these rows. Change detection keys on
    the per-doc extracted-text fingerprint (docs.text_fp, a pure function of
    the text); doc_id is version-local and deliberately not compared."""
    old = open_index(path, from_version)
    new = open_index(path, to_version)
    old_docs = spark.read.parquet(old.docs_path).select(
        "url", F.col("text_fp").alias("_old_fp")
    )
    new_docs = spark.read.parquet(new.docs_path).select("url", "dl", "text_fp")
    joined = new_docs.join(old_docs, "url", "left")
    return joined.filter(
        F.col("_old_fp").isNull() | (F.col("_old_fp") != F.col("text_fp"))
    ).select(
        "url",
        "dl",
        F.when(F.col("_old_fp").isNull(), F.lit("added"))
        .otherwise(F.lit("changed"))
        .alias("change"),
    )


def _spimi_input(
    webpages: DataFrame,
    cfg: IndexConfig,
    dedup_latest: bool = True,
    use_html_fallback: bool = True,
) -> DataFrame:
    """The fused SPIMI pass's input, the build's single corpus shuffle:
    rows partitioned by pid = crc32(url) % P and sorted so the newest crawl
    of each url comes first; _fused_spimi then dedups, ranks and builds
    SPIMI partials in one pass."""
    P = cfg.n_build_partitions
    pre = webpages.withColumn(
        "pid", (F.crc32(F.encode(F.col("url"), "utf-8")) % P).cast("int")
    )
    if use_html_fallback and "html" in pre.columns:
        # ship the html payload only for rows that need the fallback —
        # extraction uses html iff text is null, and moving the (dominant)
        # binary column through Arrow for every row costs more than the
        # whole tokenize stage
        pre = pre.withColumn(
            "html", F.when(F.col("text").isNull(), F.col("html"))
        )
    input_cols = ["pid", "url", "text"]
    opt_cols = ("warc_ts", "html", "lang") if use_html_fallback else ("warc_ts", "lang")
    for opt in opt_cols:
        if opt in pre.columns:
            input_cols.append(opt)
    sort_keys = [F.asc("url")]
    if dedup_latest and "warc_ts" in pre.columns:
        # same full tie-break chain as latest_crawl (content hash last) so
        # the kept row is deterministic for any input row set
        sort_keys += [
            F.desc("warc_ts"), F.desc(F.length("text")), F.desc(F.md5("text"))
        ]
    return (
        pre.select(*input_cols)
        .repartition(P, "pid")
        .sortWithinPartitions(*sort_keys)
    )


def build_index(
    spark: SparkSession,
    webpages: DataFrame,
    index_dir: str,
    cfg: IndexConfig | None = None,
    checkpoint_dir: str | None = None,
    dedup_latest: bool = True,
    use_html_fallback: bool = True,
) -> IndexHandle:
    """Full index build. See module docstring for the plan.

    checkpoint_dir enables both crash resume AND incremental reindex: the
    SPIMI stage keeps per-pid partials with input fingerprints, so
    rebuilding after the corpus changed re-tokenizes only the changed pids
    (the dominant stage at webtext scale) while stats/merge/publish run
    fresh — each build still publishes a complete new snapshot version.

    use_html_fallback=False drops the `html` binary column from the scan
    entirely (column pruning reaches the parquet reader) — the right setting
    when `text` is authoritative for every row; at Common-Crawl scale the
    html payload is the dominant IO."""
    cfg = cfg or IndexConfig()
    t0 = time.time()
    phases: dict[str, float] = {}

    spimi_input = _spimi_input(webpages, cfg, dedup_latest, use_html_fallback)
    partials_raw = spimi_input.mapInPandas(
        _fused_spimi(cfg, dedup_latest), schema=PARTIALS_SCHEMA
    )
    if checkpoint_dir:
        partials = _checkpointed_partials(
            spark, partials_raw, spimi_input, checkpoint_dir, cfg, dedup_latest
        )
    else:
        partials = partials_raw
    partials = partials.persist()

    term_partials = partials.filter(F.col("term") != DOC_PSEUDO_TERM)

    # --- stage: stats (B5/B6): one docmap row per doc ---------------------
    docs = partials.filter(F.col("term") == DOC_PSEUDO_TERM).select(
        "pid", "doc_id", "dl", "url", "lang", F.col("fp").alias("text_fp")
    )
    # per-pid lineage (B15) and the global stats in one pass over the
    # partials (docmap rows carry n = tf_sum = 0): a doc's tfs sum to its dl
    # and both sums are exact integers, so n_tokens / n_docs is bit-equal to
    # avg(dl) over the docs table
    pid_metrics = [r.asDict() for r in sorted(partials.groupBy("pid").agg(
        F.count(F.when(F.col("term") == DOC_PSEUDO_TERM, 1)).alias("n_docs"),
        F.sum("n").alias("n_postings"),
        F.sum("tf_sum").alias("n_tokens"),
    ).collect())]
    n_docs = sum(r["n_docs"] for r in pid_metrics)
    avgdl = sum(r["n_tokens"] for r in pid_metrics) / n_docs if n_docs else 0.0
    phases["spimi_and_doc_stats"] = round(time.time() - t0, 3)

    terms = (
        term_partials.groupBy("term")
        .agg(F.sum("n").alias("df"), F.sum("tf_sum").alias("cf"))
    ).persist()

    hot_thr = cfg.hot_threshold(n_docs)
    range_size = cfg.range_size(n_docs)

    # --- stage: salted merge + compress (B7/B8) -----------------------------
    # The hot-term set (df >= max(min_hot_df, N/n_doc_ranges)) is bounded by
    # ~n_doc_ranges * avgdl terms at ANY corpus size, so it is collected
    # driver-side (<= a few thousand tiny rows) and shipped in the merge
    # closure — replacing the previous full-vocabulary df JOIN, which forced
    # the entire transit-encoded partials payload through an extra exchange
    # (guide §2.3: ship a few KB of metadata instead of re-shuffling the
    # heavy rows). Cold groups recover their df in the merge stage as their
    # own posting count, which is exact (one posting per containing doc).
    hot_df = {
        r["term"]: int(r["df"])
        for r in terms.filter(F.col("df") >= hot_thr)
        .select("term", "df")
        .collect()
    }
    salt_schema = T.StructType(
        [
            T.StructField("pid", T.IntegerType()),
            T.StructField("term", T.StringType()),
            T.StructField("salt", T.IntegerType()),
            T.StructField("n", T.IntegerType()),
            T.StructField("ids_enc", T.BinaryType()),
            T.StructField("tfs_enc", T.BinaryType()),
            T.StructField("dls_enc", T.BinaryType()),
            T.StructField("pos_enc", T.BinaryType()),
        ]
    )
    # Only HOT rows cross the Python boundary: cold partials (the vast
    # majority of the vocabulary) are a pure column-rename passthrough, so
    # they stay in the JVM — no Arrow round-trip for ~95% of the payload
    # (guide §4.1: pass only the rows/columns the function needs). The hot
    # set is small enough for an isin predicate (thousands of terms max).
    hot_terms = list(hot_df)
    is_hot = F.col("term").isin(hot_terms)
    salt0 = term_partials.select(
        "pid", "term", F.lit(0).cast("int").alias("salt"), "n",
        "ids_enc", "tfs_enc", "dls_enc", "pos_enc",
    )
    cold_salted = salt0.filter(~is_hot)
    hot_salted = salt0.filter(is_hot).mapInPandas(
        _salt_split(range_size), schema=salt_schema
    )
    salted = cold_salted.unionByName(hot_salted) if hot_terms else cold_salted

    # ONE exchange for merge AND sink (guide §2.4): partition by the same
    # term bucket the postings table is laid out by on disk, sort by (term,
    # salt) within each bucket partition, and stream-merge — the write below
    # then needs no second repartition of the compressed blocks. Same
    # (term, salt) co-location as the previous repartition(term, salt), and
    # each task still compresses thousands of groups per Arrow batch in one
    # vectorized pass (see _merge_compress docstring). Within-bucket
    # parallelism is governed by n_term_buckets (raise it at cluster scale).
    n_buckets = cfg.n_term_buckets
    # tasks start from the param's zero and add in place; the driver-side
    # total is a separate array so it never leaks into a task's zero
    zero = np.zeros((n_buckets, 3), np.int64)
    bucket_acc = spark.sparkContext.accumulator(zero.copy(), AddingAccumulatorParam(zero))
    postings = (
        salted.withColumn(
            "bucket",
            (F.crc32(F.encode(F.col("term"), "utf-8")) % n_buckets).cast("int"),
        )
        .repartition(n_buckets, F.col("bucket"))
        .sortWithinPartitions("term", "salt")
        .drop("bucket")
        .mapInPandas(
            _merge_compress(cfg, n_docs, avgdl, hot_df, bucket_acc), schema=POSTINGS_SCHEMA
        )
    )

    # --- sinks + atomic publish (B9/A15) ------------------------------------
    def writer(vdir: str) -> dict:
        from concurrent.futures import ThreadPoolExecutor

        _t = time.time()

        def _postings_sink() -> None:
            _write_bucketed(postings, os.path.join(vdir, "postings"))
            phases["merge_compress_write"] = round(time.time() - _t, 3)

        def _terms_sink() -> None:
            terms.withColumn(
                "idf",
                F.log(
                    F.lit(1.0)
                    + (F.lit(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5)
                ),
            ).write.mode("overwrite").parquet(os.path.join(vdir, "terms"))

        def _docs_sink() -> None:
            docs.write.mode("overwrite").parquet(os.path.join(vdir, "docs"))

        # the three sinks are independent jobs over persisted inputs: submit
        # them from a small thread pool so the smaller writes back-fill
        # executors idled by the postings write's task tail (guide §2.6
        # overlap independent jobs) instead of running serially. The threads
        # inherit the caller's job group and other local properties.
        sinks = (_postings_sink, _terms_sink, _docs_sink)
        with ThreadPoolExecutor(max_workers=len(sinks)) as pool:
            futs = [pool.submit(inheritable_thread_target(spark)(f)) for f in sinks]
            for fu in futs:
                fu.result()
        phases["aux_writes"] = round(time.time() - _t, 3)
        stats = {
            "n_docs": n_docs,
            "avgdl": avgdl,
            "k1": cfg.k1,
            "b": cfg.b,
            "block_size": cfg.block_size,
            "n_build_partitions": cfg.n_build_partitions,
            "n_term_buckets": cfg.n_term_buckets,
            "n_doc_ranges": cfg.n_doc_ranges,
            "range_size": range_size,
            "hot_threshold": hot_thr,
            "build_seconds": time.time() - t0,
            "phase_seconds": phases,
            "pid_metrics": pid_metrics,
            "bucket_metrics": [
                dict(zip(("bucket", "n_blocks", "n_postings", "encoded_bytes"), (b, *m)))
                for b, m in enumerate(bucket_acc.value.tolist()) if m[0]
            ],
        }
        with open(os.path.join(vdir, "stats.json"), "w") as f:
            json.dump(stats, f, indent=2)
        return stats

    try:
        version_dir, stats = atomic_publish(index_dir, writer)
    finally:
        partials.unpersist()
        terms.unpersist()
    if cfg.keep_snapshots is not None:
        # Iceberg-style retention from the build path (A15): prune committed
        # snapshots beyond the configured tail; orphan dirs are age-gated
        # inside expire_snapshots so a concurrent publish is never destroyed.
        from engine.publish import expire_snapshots

        expire_snapshots(index_dir, keep_last=cfg.keep_snapshots)
    return IndexHandle(path=index_dir, version_dir=version_dir, stats=stats)


def _pid_fingerprints(spimi_input: DataFrame) -> dict[int, int]:
    """Per-pid input CONTENT fingerprint: xxhash64 over every column that
    can change the pid's build output — url, warc_ts, the full text value
    (not its length: same-length edits must invalidate), the html payload
    (already masked upstream to the text-null rows that extraction actually
    reads, so this costs nothing extra), and lang — combined per pid with an
    order-insensitive but multiplicity-sensitive SUM mod 2^64 (xor would let
    a row added twice cancel back to the old fingerprint). Pure function of
    the pid's input multiset, independent of partitioning and row order.
    At 100 TB this reads the same columns the skipped tokenize pass would,
    minus the dominant html bytes for text-bearing rows — still a clear win
    for an incremental rebuild."""
    cols = [F.col("url")]
    if "warc_ts" in spimi_input.columns:
        cols.append(F.coalesce(F.col("warc_ts").cast("long"), F.lit(-1)))
    cols.append(F.coalesce(F.col("text"), F.lit("\x00<null-text>")))
    for opt in ("html", "lang"):
        if opt in spimi_input.columns:
            cols.append(F.coalesce(F.xxhash64(opt), F.lit(-1)))
    rows = (
        spimi_input.withColumn("_fp", F.xxhash64(*cols))
        .groupBy("pid")
        # decimal sum: overflow-safe regardless of ANSI mode; reduced mod
        # 2^64 driver-side (fingerprints are compared for equality only)
        .agg(F.sum(F.col("_fp").cast("decimal(38,0)")).alias("fp"))
        .collect()
    )
    return {int(r["pid"]): int(r["fp"]) % (1 << 64) for r in rows}


def _checkpointed_partials(
    spark: SparkSession,
    partials_raw: DataFrame,
    spimi_input: DataFrame,
    checkpoint_dir: str,
    cfg: IndexConfig,
    dedup_latest: bool = True,
) -> DataFrame:
    """Per-partition checkpointing + incremental reindex of the SPIMI stage
    (B15 / A3 [R] "incremental skip" generalized): partials are persisted
    partitioned by pid with a per-pid INPUT FINGERPRINT in the manifest. A
    re-run — whether resuming a killed build or rebuilding after the corpus
    changed — recomputes only pids whose fingerprint is absent or stale and
    reuses the checkpointed partials for the rest. Sound because a pid's
    partials (incl. its doc ids: rank within the pid's url set × P + pid)
    depend only on that pid's own input rows; global stats and the term
    merge run downstream over the full partials either way.

    Task retries are safe: changed pid directories are removed before the
    stage writes, and the manifest is committed only after the whole write
    succeeds."""
    import shutil

    os.makedirs(checkpoint_dir, exist_ok=True)
    ckpt_path = os.path.join(checkpoint_dir, "partials")
    manifest_path = os.path.join(checkpoint_dir, "_partials_manifest.json")
    manifest: dict = {}
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            manifest = json.load(f)
    if manifest and (
        manifest.get("n_build_partitions") != cfg.n_build_partitions
        or manifest.get("partials_fields") != PARTIALS_SCHEMA.fieldNames()
    ):
        # P or the partials layout changed ⇒ every pid's content is
        # redefined; start clean
        shutil.rmtree(ckpt_path, ignore_errors=True)
        manifest = {}
    cur_fps = _pid_fingerprints(spimi_input)
    prev_done = set(manifest.get("completed_pids", []))
    prev_fps = manifest.get("pid_fingerprints", {})
    all_pids = list(range(cfg.n_build_partitions))
    done = sorted(p for p in prev_done if prev_fps.get(str(p)) == cur_fps.get(p))
    missing = sorted(set(all_pids) - set(done))
    if missing:
        for p in missing:  # idempotent re-run of changed/stale pids
            shutil.rmtree(os.path.join(ckpt_path, f"pid={p}"), ignore_errors=True)
        todo = partials_raw
        if done:
            todo = (
                spimi_input.filter(~F.col("pid").isin(done))
                .mapInPandas(_fused_spimi(cfg, dedup_latest), schema=PARTIALS_SCHEMA)
            )
        todo.write.partitionBy("pid").mode("append").parquet(ckpt_path)
        tmp = manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "completed_pids": all_pids,
                    "pid_fingerprints": {
                        str(p): cur_fps[p] for p in cur_fps
                    },
                    "n_build_partitions": cfg.n_build_partitions,
                    "partials_fields": PARTIALS_SCHEMA.fieldNames(),
                },
                f,
            )
        os.replace(tmp, manifest_path)
    out = spark.read.parquet(ckpt_path)
    # partitionBy moved pid to a partition column; restore column order/types
    return out.select(F.col("pid").cast("int"), *PARTIALS_SCHEMA.fieldNames()[1:])
