"""Search-layer driver entries: the flagship inverted-index/BM25 capability
exposed as oracle-checked queries (SURVEY.md §2.B → driver contract).

Each entry builds (once per sf_dir, cached in-process) the full index over
webpages derived from `documents` (FIXTURES.md §1.1), then answers from the
index tables — so the DuckDB oracle checks the *entire* pipeline: extract →
tokenize → doc-id → SPIMI → salted merge → compression → stats → scoring.
"""

from __future__ import annotations

import tempfile

import pyspark.sql.functions as F
from pyspark.sql import SparkSession

from engine.build import IndexHandle, build_index
from engine.config import IndexConfig
from engine.query import query_topk
from engine.relops import register
from engine.webpages import load_webpages, with_recrawl

_INDEX_CACHE: dict[str, IndexHandle] = {}

CFG = IndexConfig(
    n_build_partitions=8, n_doc_ranges=8, min_hot_df=50, n_term_buckets=8
)


def get_index(spark: SparkSession, sf_dir: str) -> IndexHandle:
    if sf_dir not in _INDEX_CACHE:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        wp = load_webpages(spark, sf_dir)
        _INDEX_CACHE[sf_dir] = build_index(
            spark, wp, tempfile.mkdtemp(prefix="drv_idx_"), CFG
        )
    return _INDEX_CACHE[sf_dir]


# SQL mirror of the analyzer for the fixture corpus (space-separated ascii
# vocab ⇒ split == unicode word segmentation) + Lucene BM25 (SURVEY.md §2.B13)
def _bm25_sql(terms: list[str], k: int = 10, conjunctive: bool = False) -> str:
    tlist = ", ".join(f"'{t}'" for t in terms)
    having = f"HAVING count(*) = {len(terms)}" if conjunctive else ""
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents),
dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM tok GROUP BY doc_id),
stats AS (SELECT count(*)::BIGINT AS n, avg(dl) AS avgdl FROM dl),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok
       WHERE term IN ({tlist}) GROUP BY doc_id, term),
df AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
scores AS (
  SELECT tf.doc_id,
         sum(ln(1 + (stats.n - df.df + 0.5) / (df.df + 0.5))
             * tf.tf * (1.2 + 1) / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl))
         ) AS score
  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
  GROUP BY tf.doc_id {having})
SELECT concat('https://', d.source, '.example.com/doc/',
              CAST(d.doc_id AS VARCHAR)) AS url,
       round(s.score, 4) AS score
FROM scores s JOIN documents d USING (doc_id)
ORDER BY s.score DESC, url LIMIT {k}
"""


def _bm25_entry(name: str, query: str, conjunctive: bool = False):
    terms = query.split()

    @register(name, _bm25_sql(terms, 10, conjunctive))
    def run(spark, sf_dir, _q=query, _c=conjunctive):
        h = get_index(spark, sf_dir)
        out = query_topk(spark, h, _q, k=10, mode="brute", conjunctive=_c,
                         tiebreak="url")
        return out.select("url", F.round("score", 4).alias("score"))

    return run


bm25_topk_disjunctive = _bm25_entry("bm25_topk_disjunctive", "spark join")
bm25_topk_stopword = _bm25_entry("bm25_topk_stopword", "the data")
bm25_topk_single = _bm25_entry("bm25_topk_single", "vector")
bm25_conjunctive = _bm25_entry("bm25_conjunctive", "window agg", conjunctive=True)


@register("bm25_topk_wand", _bm25_sql("sort merge join".split(), 10))
def bm25_topk_wand(spark, sf_dir):
    """The north-star operator itself on the driver oracle: block-max WAND
    (mode='wand' — distributed shard sweep with pruning), not the brute
    fallback the other bm25 entries exercise (B14)."""
    h = get_index(spark, sf_dir)
    out = query_topk(spark, h, "sort merge join", k=10, mode="wand",
                     tiebreak="url")
    return out.select("url", F.round("score", 4).alias("score"))


@register("bm25_topk_auto", _bm25_sql("big data table".split(), 10))
def bm25_topk_auto(spark, sf_dir):
    """The interactive fast path (mode='auto' → driver-local pyarrow scan of
    the pruned buckets when the postings volume is small; SURVEY.md §7.2.6)
    must be rank-identical to the oracle too."""
    h = get_index(spark, sf_dir)
    out = query_topk(spark, h, "big data table", k=10, mode="auto",
                     tiebreak="url")
    return out.select("url", F.round("score", 4).alias("score"))


@register("bm25_topk_wand_cold", _bm25_sql(["dup"], 10))
def bm25_topk_wand_cold(spark, sf_dir):
    """WAND over a cold (unsalted) term whose single block spans every
    doc-range shard — the shard-clipping regression as a driver row."""
    h = get_index(spark, sf_dir)
    out = query_topk(spark, h, "dup", k=10, mode="wand", tiebreak="url")
    return out.select("url", F.round("score", 4).alias("score"))


# Phrase oracle: the BM25 scoring CTEs over the phrase's unique terms, with
# the phrase-containment predicate expressed as a delimited LIKE over the
# space-joined token stream (fixture text is single-space-separated ascii
# vocab, so lower(text) IS the analyzer token stream — same equivalence the
# tokenizer oracle above relies on).
def _phrase_sql(phrase: str, k: int = 10) -> str:
    terms = list(dict.fromkeys(phrase.lower().split()))
    base = _bm25_sql(terms, k, conjunctive=True)
    return base.replace(
        "FROM scores s JOIN documents d USING (doc_id)",
        "FROM scores s JOIN documents d USING (doc_id)\n"
        f"WHERE ' ' || lower(d.text) || ' ' LIKE '% {phrase.lower()} %'",
    )


def _bm25_filtered_sql(terms: list[str], where: str, k: int = 10) -> str:
    base = _bm25_sql(terms, k)
    return base.replace(
        "FROM scores s JOIN documents d USING (doc_id)",
        f"FROM scores s JOIN documents d USING (doc_id)\nWHERE {where}",
    )


@register(
    "bm25_topk_filtered",
    _bm25_filtered_sql("spark join".split(), "d.lang = 'fr'", 10),
)
def bm25_topk_filtered(spark, sf_dir):
    """Facet-filtered top-k (B19): the lang predicate applies BEFORE the
    top-k cut. mode="wand" exercises filter-aware WAND (the allowed doc-id
    set intersected during the shard sweep, allowed-empty intervals
    skipped pre-decode) — exactness of every mode vs distributed brute
    under the same allowed set is additionally pinned by
    tests/test_filtered_wand.py."""
    from engine.phrase import filtered_topk

    h = get_index(spark, sf_dir)
    corpus = load_webpages(spark, sf_dir)
    out = filtered_topk(
        spark, h, corpus, "spark join", F.col("lang") == "fr", k=10,
        mode="wand",
    )
    return out.select("url", F.round("score", 4).alias("score"))


@register("bm25_phrase", _phrase_sql("data table", 10))
def bm25_phrase(spark, sf_dir):
    """Exact-phrase top-k (B18): conjunctive BM25 candidate retrieval from
    the index, adjacency checked on the postings blocks' positions, rank by
    unique-term BM25 sum (engine/positional.py)."""
    from engine.positional import phrase_topk_positional

    h = get_index(spark, sf_dir)
    out = phrase_topk_positional(spark, h, h.postings_path, "data table", k=10)
    return out.select("url", F.round("score", 4).alias("score"))


@register(
    "index_term_stats",
    """SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS cf FROM (
         SELECT doc_id, term, count(*)::BIGINT AS tf
         FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
               FROM documents)
         GROUP BY doc_id, term)
       GROUP BY term""",
)
def index_term_stats(spark, sf_dir):
    """The index's term dictionary (df/cf) vs SQL recomputation — verifies
    tokenize + SPIMI + distributed stats agg end-to-end (B5/B6)."""
    h = get_index(spark, sf_dir)
    return spark.read.parquet(h.terms_path).select("term", "df", "cf")


@register(
    "index_doc_lengths",
    """SELECT concat('https://', source, '.example.com/doc/',
                     CAST(doc_id AS VARCHAR)) AS url,
              len(string_split(text, ' '))::INT AS dl
       FROM documents""",
)
def index_doc_lengths(spark, sf_dir):
    h = get_index(spark, sf_dir)
    return spark.read.parquet(h.docs_path).select(
        "url", F.col("dl").cast("int").alias("dl")
    )


@register(
    "index_postings_blocks",
    """WITH tf AS (
         SELECT doc_id, term, count(*)::BIGINT AS tf
         FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
               FROM documents)
         GROUP BY doc_id, term)
       SELECT term, count(*)::BIGINT AS n_postings, sum(tf)::BIGINT AS sum_tf
       FROM tf GROUP BY term""",
)
def index_postings_blocks(spark, sf_dir):
    """Decompressed postings must reproduce exact per-term posting counts and
    tf sums — verifies the delta/varint/FOR block codec at rest (B8)."""
    import numpy as np
    import pandas as pd

    from engine.codec import decode_concat

    h = get_index(spark, sf_dir)
    posts = spark.read.parquet(h.postings_path)

    def dec(batches):
        # batched block decode (one vectorized pass per Arrow batch) — the
        # same decode_concat kernel the query path uses; replaces the last
        # row-at-a-time Python loop in the engine (r5 verdict #3)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ns = pdf["n"].to_numpy(np.int64)
            tfs = decode_concat(
                pdf["codec_tfs"].tolist(), pdf["tfs_enc"].tolist(), ns.tolist()
            ).astype(np.int64)
            offs = np.concatenate(([0], np.cumsum(ns[:-1])))
            sums = np.add.reduceat(tfs, offs)
            yield pd.DataFrame(
                {"term": pdf["term"], "n": ns, "sum_tf": sums}
            )

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("term", T.StringType()),
            T.StructField("n", T.LongType()),
            T.StructField("sum_tf", T.LongType()),
        ]
    )
    return (
        posts.mapInPandas(dec, schema)
        .groupBy("term")
        .agg(F.sum("n").alias("n_postings"), F.sum("sum_tf").alias("sum_tf"))
    )


@register(
    "facets_lang",
    "SELECT lang, count(*)::BIGINT AS n FROM documents GROUP BY lang",
)
def facets_lang(spark, sf_dir):
    # B16: the dashboard's terms-aggregation facets, from the index docs table
    h = get_index(spark, sf_dir)
    return (
        spark.read.parquet(h.docs_path)
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
    )


@register(
    "facets_top_terms",
    """SELECT term, df FROM (
         SELECT term, count(*)::BIGINT AS df
         FROM (SELECT DISTINCT doc_id,
                      unnest(string_split(lower(text), ' ')) AS term
               FROM documents)
         GROUP BY term)
       ORDER BY df DESC, term LIMIT 20""",
)
def facets_top_terms(spark, sf_dir):
    """B16: the dashboard's significant-terms facet — top-20 dictionary
    entries by document frequency, straight from the index terms table."""
    h = get_index(spark, sf_dir)
    return (
        spark.read.parquet(h.terms_path)
        .select("term", "df")
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(20)
    )


@register(
    "latest_crawl_dedup",
    """WITH recrawl AS (
         SELECT concat('https://', source, '.example.com/doc/',
                       CAST(doc_id AS VARCHAR)) AS url,
                TIMESTAMP '2024-01-01 00:00:00'
                    + to_seconds(doc_id * 60) AS warc_ts,
                text
         FROM documents
         UNION ALL
         SELECT concat('https://', source, '.example.com/doc/',
                       CAST(doc_id AS VARCHAR)),
                TIMESTAMP '2024-01-01 00:00:00'
                    + to_seconds(doc_id * 60) + INTERVAL 1 DAY,
                text || ' dup'
         FROM documents WHERE doc_id % 10 = 0)
       SELECT url, md5(text) AS text_fp
       FROM (SELECT url, text,
                    row_number() OVER (PARTITION BY url
                                       ORDER BY warc_ts DESC) AS rn
             FROM recrawl)
       WHERE rn = 1""",
)
def latest_crawl_dedup(spark, sf_dir):
    """A9 [R] dedup-to-latest over the recrawl fixture: keeps exactly the
    newer crawl per url (FIXTURES.md §1.1)."""
    from engine.build import latest_crawl
    from engine.webpages import with_recrawl

    wp = with_recrawl(load_webpages(spark, sf_dir))
    return latest_crawl(wp).select("url", F.md5("text").alias("text_fp"))


@register(
    "es_bulk_lines",
    """SELECT unnest([
         '{"index":{"_id":"' || CAST(doc_id AS VARCHAR) || '","_type":"doc"}}',
         '{"doc_id":' || CAST(doc_id AS VARCHAR)
           || ',"source":"' || source || '","lang":"' || lang || '"}'
       ]) AS line
       FROM documents""",
)
def es_bulk_lines(spark, sf_dir):
    """A13 [R]: ES bulk JSONL emission (alternating action/doc lines) over a
    flat doc projection — byte-compared against the oracle's string build."""
    from engine.metadata_pipeline import to_es_bulk
    from engine.relops import t

    d = t(spark, sf_dir, "documents").select("doc_id", "source", "lang")
    return to_es_bulk(d, doc_type="doc", id_col="doc_id")


# ---------------------------------------------------------------------------
# snapshot / time-travel surface (A3 generalized; Iceberg-shaped reads)
# ---------------------------------------------------------------------------

_SNAP_CACHE: dict[str, str] = {}


def get_versioned_index_root(spark: SparkSession, sf_dir: str) -> str:
    """Two published index versions in one root: v_0 over the base corpus,
    v_1 after the recrawl batch (urls with doc number ≡0 mod 10 get newer,
    longer crawls). Readers can pin either snapshot while v_1 is current."""
    if sf_dir not in _SNAP_CACHE:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        root = tempfile.mkdtemp(prefix="drv_snap_")
        wp = load_webpages(spark, sf_dir)
        build_index(spark, wp, root, CFG)                  # v_0
        build_index(spark, with_recrawl(wp), root, CFG)    # v_1
        _SNAP_CACHE[sf_dir] = root
    return _SNAP_CACHE[sf_dir]


@register(
    "index_snapshot_pinned",
    """SELECT concat('https://', source, '.example.com/doc/',
                     CAST(doc_id AS VARCHAR)) AS url,
              len(string_split(text, ' '))::INT AS dl
       FROM documents""",
)
def index_snapshot_pinned(spark, sf_dir):
    """Time-travel read: docs pinned at v_0 must show pre-recrawl doc
    lengths even though v_1 (where every ≡0-mod-10 doc grew by one token) is
    the current published version — proves the manifest pointer and the
    snapshot log are independent (`VERSION AS OF` semantics)."""
    from engine.build import open_index

    root = get_versioned_index_root(spark, sf_dir)
    h0 = open_index(root, version="v_0")
    return spark.read.parquet(h0.docs_path).select(
        "url", F.col("dl").cast("int").alias("dl")
    )


@register(
    "index_snapshot_diff",
    """SELECT concat('https://', source, '.example.com/doc/',
                     CAST(doc_id AS VARCHAR)) AS url,
              (len(string_split(text, ' ')) + 1)::INT AS dl,
              'changed' AS change
       FROM documents WHERE doc_id % 10 = 0""",
)
def index_snapshot_diff(spark, sf_dir):
    """Incremental scan between snapshots (A3 [R] generalized): exactly the
    recrawled urls surface as 'changed', with their new doc length."""
    from engine.build import docs_changed_between

    root = get_versioned_index_root(spark, sf_dir)
    return docs_changed_between(spark, root, "v_0", "v_1").select(
        "url", F.col("dl").cast("int").alias("dl"), "change"
    )
