"""Supplementary benchmarks for the optimization rounds (bench.py stays
frozen as the driver contract; numbers from here are cited in
OPTIMIZATION_r06.md).

Modes (arg 1):
  noop        — guide §1.4 noop-sink isolation of the build sub-pipelines at
                $SPARK_GRAFT_SF_DIR (default sf1.0): times computation, not
                the parquet sink.
  filtered5m  — the r5-verdict ask ("show a bench point where filter-aware
                WAND beats the brute plan at the 5M corpus"): replicates the
                sf0.1 corpus ×100 (same recipe as the scaling campaign),
                builds the index, and times filtered_topk brute vs wand for
                a moderately selective facet (lang='fr', ~14%) and a highly
                selective conjunction (lang + url source prefix, ~0.7%).

Prints one JSON line per mode.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pyspark.sql.functions as F  # noqa: E402


def _spark():
    from engine.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=max(8, cpus))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _noop(df) -> float:
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    return round(time.time() - t0, 3)


def mode_noop() -> None:
    from engine.build import (
        PARTIALS_SCHEMA,
        _fused_spimi,
        _spimi_input,
        build_index,
    )
    from engine.config import IndexConfig
    from engine.webpages import load_webpages

    spark = _spark()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
    cfg = IndexConfig(
        n_build_partitions=32, n_doc_ranges=32, min_hot_df=256, n_term_buckets=16
    )
    wp = load_webpages(spark, sf_dir).repartition(128).persist()
    n = wp.count()
    out: dict = {"mode": "noop", "sf": sf_dir, "n_input_rows": n}

    spark.sparkContext.setJobDescription("noop: spimi partials")
    partials = _spimi_input(wp, cfg).mapInPandas(
        _fused_spimi(cfg, True), schema=PARTIALS_SCHEMA
    )
    out["spimi_partials_noop_sec"] = _noop(partials)

    spark.sparkContext.setJobDescription("noop: full build (real sinks)")
    t0 = time.time()
    handle = build_index(spark, wp, tempfile.mkdtemp(prefix="bx_idx_"), cfg)
    out["build_index_sec"] = round(time.time() - t0, 3)
    out["build_phase_seconds"] = handle.stats["phase_seconds"]
    spark.sparkContext.setJobDescription(None)
    print(json.dumps(out))


def mode_filtered5m() -> None:
    from engine.build import build_index
    from engine.config import IndexConfig
    from engine.phrase import filtered_topk
    from engine.webpages import load_webpages, replicate_webpages

    spark = _spark()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    scale = int(os.environ.get("BENCH_SCALE_FACTOR", "100"))
    cfg = IndexConfig(
        n_build_partitions=32, n_doc_ranges=32, min_hot_df=256, n_term_buckets=16
    )
    wp = replicate_webpages(load_webpages(spark, sf_dir), scale).drop("html")
    wp = wp.repartition(128).persist()
    n = wp.count()
    out: dict = {"mode": "filtered5m", "sf": sf_dir, "scale": scale, "n_docs": n}
    t0 = time.time()
    handle = build_index(spark, wp, tempfile.mkdtemp(prefix="bx5m_idx_"), cfg)
    out["build_sec"] = round(time.time() - t0, 3)

    preds = {
        "lang_fr": F.col("lang") == "fr",
        "lang_fr_src1": (F.col("lang") == "fr")
        & F.col("url").startswith("https://src1."),
    }
    for pname, pred in preds.items():
        for m in ("brute", "wand"):
            per = []
            for _ in range(3):
                t0 = time.time()
                spark.sparkContext.setJobDescription(
                    f"filtered[{m}] {pname}"
                )
                filtered_topk(
                    spark, handle, wp, "spark join", pred, k=10, mode=m
                ).collect()
                per.append(time.time() - t0)
            out[f"q_filtered_{m}:{pname}"] = round(min(per), 4)
    spark.sparkContext.setJobDescription(None)
    print(json.dumps(out))


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "noop"
    {"noop": mode_noop, "filtered5m": mode_filtered5m}[mode]()
