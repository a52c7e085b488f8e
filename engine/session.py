"""SparkSession builder with the engine's required settings.

- Arrow on (all Python boundaries are vectorized; per-row Python UDFs are
  banned by BASELINE.json:15 and linted in tests).
- AQE on (runtime coalescing + skew-join handling).
- session timezone pinned to UTC so results hash-match the DuckDB oracle
  (duckdb parquet timestamps are UTC-naive).
- Python workers run under ``engine.pydaemon`` (no per-task re-read of
  pyspark.zip) and import ``engine`` from where this process found it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory holding this engine package (a zip under --py-files)
_ENGINE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    master: str | None = None,
    app_name: str = "inverted-index-engine",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = cpus if cpus.isdigit() else "32"
        shuffle_partitions = max(8, int(n))
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        # Workers import engine from any JVM working directory: Spark puts
        # this ahead of the workers' inherited PYTHONPATH, not in its place.
        .config("spark.executorEnv.PYTHONPATH", _ENGINE_ROOT)
        # Every worker forks from this daemon, which skips the per-task
        # re-read of unchanged zip archives (engine/pydaemon/__init__.py).
        .config("spark.python.daemon.module", "engine.pydaemon")
        # 16 MB broadcast threshold: the ~25 MB single-file fact tables
        # (orders at sf1.0) fall under the old 32 MB cut, and building +
        # shipping a 1.5M-row hash relation is slower than letting the
        # 32-core shuffled join run (measured: join_smj_fact 1.87 s
        # broadcast vs 1.25 s shuffled). Small dims and the index's
        # docs/terms tables (<= a few MB) still broadcast.
        .config("spark.sql.autoBroadcastJoinThreshold", str(16 * 1024 * 1024))
        # Input split size cap (guide §6), parameterised for scale: local
        # default 16m keeps single-file fixture scans splittable down to
        # their ~20 MB row groups even when bytes/core is large; at cluster
        # scale set SPARK_GRAFT_MAX_PARTITION_BYTES=512m-1g so large
        # sequential scans keep few, large map tasks (guide §2.2/§6).
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "16m"),
        )
        # Join strategy (guide §3.1): allow shuffled-hash where it fits
        # instead of always sort-merge (no sort of the big side), and let AQE
        # rewrite SMJ→SHJ at runtime when every post-shuffle partition is
        # below the threshold. Exactness is unaffected — strategy only.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            str(128 * 1024 * 1024),
        )
        # zstd shuffle/spill compression: the salted-merge shuffle moves
        # ~16 B/posting of monotone int arrays — zstd roughly halves the
        # bytes hitting disk vs lz4, which is the binding constraint for
        # multi-GB shuffles on shared/virtualized disks
        .config("spark.io.compression.codec", "zstd")
        # RocksDB state store: the production provider for large streaming
        # state (spills to disk, incremental checkpoints); also required by
        # the Spark 4 transformWithStateInPandas surface
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
    )
    spark = builder.getOrCreate()
    _warm_python_workers(spark)
    return spark


def _warm_python_workers(spark: SparkSession) -> None:
    """One-time Python-worker pool warm-up at session creation (idempotent
    per session): one mapInPandas stage, the Arrow path that the build's
    kernels and every query strategy's scoring tasks (the WAND shards
    included) run on. The first Arrow stage of a fresh session pays
    worker spawn + numpy/pandas/pyarrow imports in every reused worker
    (~3 s wall on local[32], measured as the SPIMI stage cold/warm gap). A
    cluster amortizes this over long-lived executors; a fresh local session
    pays it inside whatever stage happens to run first. Initializing the
    pool here — session setup, before any query runs — keeps per-stage
    timings about the dataflow. No engine data is touched or cached. A
    failure raises from get_spark.

    What the warm-up still pays, once per session: the engine.pydaemon
    start (its own import and pyspark.daemon's), a fork per worker and the
    numpy/pandas/pyarrow imports in each worker. What no task pays any
    more, a worker's first included: the re-read of every zip archive's
    directory in pyspark's per-task importlib.invalidate_caches() (12 or
    more reads of pyspark.zip, 150-220 ms of worker CPU per task on a
    4-core VM), because engine.pydaemon skips unchanged archives."""
    if getattr(spark, "_graft_warmed", False):
        return
    n = spark.sparkContext.defaultParallelism

    def _touch(batches):
        import numpy  # noqa: F401
        import pandas as _pd
        import pyarrow  # noqa: F401

        for b in batches:
            yield _pd.DataFrame({"id": b["id"]})

    (
        spark.range(n * 4, numPartitions=n)
        .mapInPandas(_touch, "id long")
        .write.format("noop").mode("overwrite").save()
    )
    spark._graft_warmed = True
