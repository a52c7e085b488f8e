"""Benchmark harness (driver contract + SURVEY.md §6 / M6).

Runs the headline workload at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS]:

- full inverted-index build over the webpages corpus (throughput docs/sec),
- BM25 top-10 query latencies over the reference query set (p50, warm),
  both the distributed WAND path and the brute path,
- two relational headliners (TPC-H Q1, fact-fact join) for breadth.

Prints ONE JSON line:
  {"metric": ..., "value": <total headline seconds>, "unit": "sec",
   "queries": {...per-query sec...}, "sf": ..., plus detail fields
   (build_docs_per_sec, query_p50_ms, index_content_hash, ...)}.

Scaling protocol (BASELINE.md): scripts/bench_scaling.py runs this file at
the N/4N core pair from SPARK_GRAFT_SCALE_PAIR (default 1,4 — both points
below the single box's ~8-worker memory-bandwidth ceiling, the honest
stand-in for N vs 4N executors) plus a local[32] reference point, and
reports per-level and per-pair efficiency = (docs/sec@4N) / (4 ×
docs/sec@N) along with index content-hash equality across all levels.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

QUERIES = [
    "spark",
    "the",
    "spark join",
    "window agg",
    "the data",
    "vector the",
    "sort merge join",
    "big data table",
    "group order sort window",
    "fast slow",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    reps = int(os.environ.get("BENCH_QUERY_REPS", "3"))

    from engine.build import build_index
    from engine.config import IndexConfig
    from engine.query import query_topk
    from engine.session import get_spark
    from engine.webpages import load_webpages

    spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=max(8, cpus))
    spark.sparkContext.setLogLevel("ERROR")

    # n_build_partitions fixed (decoupled from cpus) so the index bytes are
    # identical across parallelism levels — the scaling-bench precondition.
    cfg = IndexConfig(
        n_build_partitions=32, n_doc_ranges=32, min_hot_df=256, n_term_buckets=16
    )

    wp = load_webpages(spark, sf_dir)
    scale = int(os.environ.get("BENCH_SCALE_FACTOR", "1"))
    if scale > 1:
        from engine.webpages import replicate_webpages

        # replicated bench corpus drops the html payload: extraction never
        # touches it when text is non-null, and caching N×360B of dead
        # bytes would only distort the scaling measurement
        wp = replicate_webpages(wp, scale).drop("html")
    # condition the input like a real multi-file table: the sf parquet is a
    # single 600 KB file (1 scan partition), which would serialize the
    # shuffle map side and invalidate any scaling comparison
    wp = wp.repartition(max(64, cpus * 4))
    wp = wp.persist()
    n_input = wp.count()  # materialize input outside the timed build

    t0 = time.time()
    handle = build_index(spark, wp, tempfile.mkdtemp(prefix="bench_idx_"), cfg)
    build_sec = time.time() - t0
    n_docs = handle.stats["n_docs"]

    import pyspark.sql.functions as F

    posts = spark.read.parquet(handle.postings_path)
    content_hash = (
        posts.select(
            F.xxhash64(
                "term", "salt", "block_seq", "n", "first_doc_id",
                "last_doc_id", "ids_enc", "tfs_enc", "dls_enc"
            ).alias("h")
        )
        .agg(F.expr("bit_xor(h)").alias("x"))
        .collect()[0]["x"]
    )
    index_bytes = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(handle.postings_path)
        for f in fs
    )

    timings: dict[str, float] = {"build_index": round(build_sec, 3)}
    lat_wand, lat_brute, lat_local = [], [], []
    # warm-up once (JIT/broadcast path)
    query_topk(spark, handle, "spark", k=10, mode="wand").collect()
    query_topk(spark, handle, "spark", k=10, mode="auto").collect()
    for q in QUERIES:
        per = []
        for _ in range(reps):
            t1 = time.time()
            query_topk(spark, handle, q, k=10, mode="wand").collect()
            per.append(time.time() - t1)
        lat_wand.extend(per)
        timings[f"q_wand:{q}"] = round(min(per), 4)
        t1 = time.time()
        query_topk(spark, handle, q, k=10, mode="brute").collect()
        lat_brute.append(time.time() - t1)
        per = []
        for _ in range(reps):
            t1 = time.time()
            # auto: driver-local fast path only when the pruned postings are
            # small enough; distributed WAND otherwise
            query_topk(spark, handle, q, k=10, mode="auto").collect()
            per.append(time.time() - t1)
        lat_local.extend(per)
        timings[f"q_auto:{q}"] = round(min(per), 4)

    # dedicated multi-shard WAND row: shrink the per-shard posting target so
    # the fan-out path (one job whose tasks sweep several doc-range shards
    # each, cut together on the driver) is timed every round even when the
    # corpus is small enough that the adaptive path would pick one shard.
    # The target is the module constant, set and restored around this row.
    # Rank-identity vs the default
    # path is asserted — the scorer is exact for any doc-range partitioning.
    import engine.query
    from engine.query import wand_shard_count

    shard_q = "the data"
    default_tgt = engine.query.WAND_SHARD_TARGET
    engine.query.WAND_SHARD_TARGET = max(100, int(handle.stats["n_docs"]) // 4)
    try:
        n_sh = wand_shard_count(handle, shard_q)
        t1 = time.time()
        sharded = query_topk(spark, handle, shard_q, k=10, mode="wand").collect()
        timings[f"q_wand_sharded[{n_sh}]:{shard_q}"] = round(time.time() - t1, 4)
    finally:
        engine.query.WAND_SHARD_TARGET = default_tgt
    base = query_topk(spark, handle, shard_q, k=10, mode="wand").collect()
    assert [r["doc_id"] for r in sharded] == [r["doc_id"] for r in base], (
        "multi-shard WAND diverged from single-shard ranking"
    )

    # phrase + filtered rows (B18/B19/B20) — gated to the unreplicated
    # corpus so the scaling campaign's reps (whose metric is build
    # throughput) don't pay these scans each rep. All min-of-reps like the
    # other query rows. The phrase pair is "data table" (selective) and
    # "the data" (stopword-grade); both read only index blocks.
    if scale == 1:
        from engine.phrase import filtered_topk
        from engine.positional import phrase_topk_positional

        for q in ("data table", "the data"):
            per = []
            for _ in range(reps):
                t1 = time.time()
                phrase_topk_positional(
                    spark, handle, handle.postings_path, q, k=10
                ).collect()
                per.append(time.time() - t1)
            timings[f"q_phrase_pos:{q}"] = round(min(per), 4)
        for m in ("brute", "wand", "auto"):
            per = []
            for _ in range(reps):
                t1 = time.time()
                filtered_topk(
                    spark, handle, wp, "spark join",
                    F.col("lang") == "fr", k=10, mode=m,
                ).collect()
                per.append(time.time() - t1)
            timings[f"q_filtered_{m}:spark join"] = round(min(per), 4)

    # relational headliners for breadth
    from engine.relops import QUERIES as RELQ

    for name in ("agg_tpch_q1", "join_smj_fact"):
        t1 = time.time()
        RELQ[name](spark, sf_dir).collect()
        timings[name] = round(time.time() - t1, 3)

    wand_shards = {q: wand_shard_count(handle, q) for q in QUERIES}
    wand_shards[f"sharded[{shard_q}]"] = n_sh
    # salt-path visibility (B7): how many terms got split, into how many
    # doc-range segments — nonzero whenever any term crosses the hot df
    # threshold, at any corpus scale
    salt_stats = (
        posts.filter(F.col("salt") > 0)
        .agg(
            F.countDistinct("term").alias("ht"),
            F.countDistinct("term", "salt").alias("seg"),
        )
        .collect()[0]
    )

    total = build_sec + sum(lat_wand) + sum(lat_brute) + sum(lat_local)
    out = {
        "metric": "index-build + BM25 top-10 headline workload",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf_dir,
        "cpus": cpus,
        "scale_factor": scale,
        "n_docs": n_docs,
        "n_input_rows": n_input,
        "build_sec": round(build_sec, 3),
        "build_docs_per_sec": round(n_docs / build_sec, 2),
        "query_p50_ms_wand": round(1000 * statistics.median(lat_wand), 2),
        "query_p50_ms_brute": round(1000 * statistics.median(lat_brute), 2),
        "query_p50_ms_auto": round(1000 * statistics.median(lat_local), 2),
        "index_content_hash": content_hash,
        "postings_bytes": index_bytes,
        "wand_shards": wand_shards,
        "n_hot_terms": int(salt_stats["ht"] or 0),
        "n_salt_segments": int(salt_stats["seg"] or 0),
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
