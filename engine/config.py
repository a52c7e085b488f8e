"""Engine configuration.

BM25 constants k1=1.2, b=0.75 are mandated by BASELINE.json:6 ("k1/b
matching the reference config") — the ES-5.x-era Lucene defaults the
reference relied on (SURVEY.md §2.B13).
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class IndexConfig:
    # BM25 (fixed by the reference's ES-era defaults; SURVEY.md §2.B13).
    k1: float = 1.2
    b: float = 0.75

    # Posting blocks: 128 postings per compressed block (Lucene-style).
    block_size: int = 128

    # Number of range partitions used for doc-id assignment. Decoupled from
    # executor parallelism so the index content is identical at local[8] and
    # local[32] (determinism invariant, SURVEY.md §5.2). At cluster scale set
    # this to ~2-4x total cores.
    n_build_partitions: int = 32

    # Doc-range salting for stopword-grade skew (BASELINE.json:14): a term
    # with df >= hot_df_threshold has its postings split into shards by
    # doc_id // range_size, bounding per-group memory in the merge phase and
    # giving doc-aligned shards for distributed WAND. Salt boundaries depend
    # only on (N, n_doc_ranges) — never on Spark partitioning — so the index
    # bytes are reproducible across cluster sizes.
    n_doc_ranges: int = 32

    # hot iff df >= max(min_hot_df, ceil(N / n_doc_ranges)).
    min_hot_df: int = 256

    # Postings table layout: hash-partitioned by term bucket so query-time
    # scans prune to the query terms' buckets (partition pruning on disk).
    n_term_buckets: int = 16

    # SPIMI in-memory posting budget per task (MB of accumulated int32
    # posting cells). When a task's accumulators exceed this, it flushes the
    # current partial rows and resets — the merge stage already unions
    # multi-row partials per (term, pid), so flushed and unflushed builds are
    # byte-identical. 0 disables spilling (sandbox default; set to a
    # fraction of executor memory at cluster scale). Float so tests can use
    # sub-MB budgets; ~20 bytes per token occurrence across the four
    # accumulated streams (int32 code + int64 doc + int32 dl + int32 pid).
    # The posting accumulators are the only SPIMI state held across input
    # batches: each doc's docmap row (doc_id, dl, url, lang, fingerprint)
    # leaves with its batch, so no budget is needed for it.
    spimi_flush_mb: float = 0

    # Auto-expire old index snapshots after each publish: keep the newest
    # `keep_snapshots` committed versions. None (default) keeps ALL versions
    # — time-travel reads (`open_index(version=...)`) stay valid forever,
    # which the snapshot oracle rows rely on. At production scale set e.g. 2.
    keep_snapshots: int | None = None

    def range_size(self, n_docs: int) -> int:
        return max(1, -(-n_docs // self.n_doc_ranges))

    def hot_threshold(self, n_docs: int) -> int:
        return max(self.min_hot_df, self.range_size(n_docs))
