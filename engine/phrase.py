"""Facet-filtered top-k over the inverted index (SURVEY.md §2.B19).

`filtered_topk` applies a facet predicate before the top-k cut; see its
docstring for the brute and filter-aware WAND plans.

`scored_docs`, the candidates of the brute plan, is conjunctive (or
disjunctive) BM25 over a term list without the top-k cut, from the query
engine's one decode-and-score kernel (engine/query.py): small candidate
sets come from the driver-local kernel over a pyarrow-pruned read (terms'
postings within LOCAL_MAX_POSTINGS, zero Spark jobs), larger ones from
distributed brute force (bucket-partition-pruned scan, broadcast stats,
map-side partial aggregation). Exact-phrase search does not use it: it
runs on query_topk's path (engine/positional.py).
"""

from __future__ import annotations

import numpy as np
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

from engine.build import IndexHandle, open_index
from engine.query import (
    LOCAL_MAX_POSTINGS,
    _docs_df,
    _local_term_stats,
    _result_df,
    _score_all,
    _top_by_url,
    local_scored_arrays,
    parse_query,
    query_topk,
)

# the largest allowed doc-id set filtered WAND resolves and ships with the
# query; a less selective filter runs the brute plan
MAX_FILTER_IDS = 4_000_000


def scored_docs(
    spark: SparkSession,
    handle: IndexHandle,
    terms: list[str],
    conjunctive: bool = True,
) -> DataFrame:
    """All matching docs with their summed BM25 score — query_topk without
    the top-k cut, with auto mode's choice of path. Returns (doc_id, score).
    """
    st = _local_term_stats(handle, terms)
    live = [t for t in terms if t in st]
    if (conjunctive and len(live) < len(terms)) or not live:
        return _result_df(spark, [], [], None, with_url=False)
    if sum(st[t]["df"] for t in live) <= LOCAL_MAX_POSTINGS:
        # driver-local fast path (same auto-mode crossover as query_topk):
        # when the terms' postings fit the local budget, the pyarrow-pruned
        # read + numpy kernel produces all candidate scores in ~0.1 s with
        # zero Spark jobs — the distributed scan + Arrow scorer + exchange
        # + agg pipeline costs ~0.5 s of pure overhead at that size
        ids, scores = local_scored_arrays(handle, live, st, conjunctive)
        return _result_df(spark, ids, scores, None, with_url=False)
    return _score_all(spark, handle, live, st, conjunctive)


def filtered_topk(
    spark: SparkSession,
    index: IndexHandle | str,
    corpus: DataFrame,
    query: str,
    predicate,
    k: int = 10,
    conjunctive: bool = False,
    mode: str = "brute",
) -> DataFrame:
    """Facet-filtered BM25 top-k: the filter applies BEFORE the top-k cut
    (post-filtering a plain top-k under-fills or skews the result set —
    the classic filtered-search correctness trap). `predicate` is a Column
    over the corpus's attribute columns (e.g. F.col('lang') == 'en').
    Scoring is ES/Lucene filter-context: corpus-level df/avgdl, the filter
    changes the candidate set, never the scores. Both modes are exact.

    mode="brute": score all matching docs (pruned-postings scan +
    vectorized brute scorer), semi-join against the predicate-filtered
    corpus urls — the predicate pushes down into the corpus parquet scan,
    and only (url) strings of qualifying docs shuffle — then order+limit.

    mode="wand" (round 5, B19 scale path): resolve the predicate to a
    sorted doc-id array once, then run filter-aware block-max WAND — the
    array rides the scoring closure and allowed-empty intervals are
    skipped before any block decode, so pruning survives (and improves
    under) selective filters. The resolved set is capped at
    MAX_FILTER_IDS (one bounded limit() probe); an unselective filter
    beyond the cap — where pruning wouldn't pay anyway — falls back to
    the brute plan. At 10^12 docs the capped path corresponds to shipping
    a compressed id set/bitmap with the query; per-facet block maxima at
    build time remain the declared design for dense pre-declared facets.
    Returns (doc_id, url, score) ordered by (score desc, url asc). k=0
    returns no rows without running a Spark job; an unknown mode or k < 0
    raises ValueError."""
    if mode not in ("brute", "wand"):
        raise ValueError(f"mode must be 'brute' or 'wand', got {mode!r}")
    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")
    if k == 0:
        return _result_df(spark, [], [], None, with_url=True)
    handle = open_index(index) if isinstance(index, str) else index
    terms = parse_query(query)
    docs_full = _docs_df(spark, handle)
    docs = docs_full.select("doc_id", "url")
    # Resolve the predicate against the index's own docs table when it only
    # touches columns the docs table carries verbatim from the corpus (url,
    # lang): the corpus contract here is one row per url — the rows the
    # index was built over — so filtering docs directly selects exactly the
    # same doc set while skipping the corpus scan AND the url semi-join
    # (that resolution join alone measured 0.5–1.2 s at sf1.0, r5 verdict
    # "What's wrong #2"). Predicates touching corpus-only columns (text,
    # html, warc_ts) fail analysis on the probe with an unresolved column
    # and keep the corpus path; any other error propagates.
    corpus_cols = set(corpus.columns)
    shared = [c for c in docs_full.columns if c in corpus_cols]
    try:
        # .schema forces analysis of the probe
        docs_full.select(*shared).filter(predicate).schema
        docs_pred = docs_full.filter(predicate)
    except AnalysisException:
        docs_pred = None
    keep_urls = corpus.filter(predicate).select("url")
    if mode == "wand":
        if docs_pred is not None:
            resolve = docs_pred.select("doc_id")
        else:
            resolve = docs.join(keep_urls, "url", "left_semi").select("doc_id")
        rows = resolve.limit(MAX_FILTER_IDS + 1).collect()
        if len(rows) <= MAX_FILTER_IDS:
            if not rows:
                return _result_df(spark, [], [], None, with_url=True)
            allowed = np.asarray(
                sorted(int(r["doc_id"]) for r in rows), dtype=np.int64
            )
            return query_topk(
                spark, handle, query, k=k, mode="wand",
                conjunctive=conjunctive, with_url=True, tiebreak="url",
                doc_filter=allowed,
            )
        # unselective filter: fall through to the brute score-all plan
    scored = scored_docs(spark, handle, terms, conjunctive=conjunctive)
    if docs_pred is not None:
        # same docs-side resolution for the brute plan: one join against
        # the pre-filtered docs table instead of docs-join + corpus
        # semi-join (one exchange and a full corpus scan fewer)
        matched = scored.join(
            docs_pred.select("doc_id", "url"), "doc_id"
        )
    else:
        matched = scored.join(docs, "doc_id").join(
            keep_urls, "url", "left_semi"
        )
    return _top_by_url(matched, k)
