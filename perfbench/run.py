"""Benchmark of the inverted-index + BM25 engine on seeded Zipf webtext.

    python3 perfbench/run.py --workload {build,search} --seed N --seconds S --trace {0,1}
    python3 perfbench/run.py --self-test

Run from the repository root. Each run generates its corpus (and, for
``search``, its query log) from ``--seed``, starts Spark at local[nproc],
measures a closed loop for ``--seconds`` seconds and checks every result
against an oracle that does not use the engine. The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). The line before it is a ``report`` object with
the host and settings, the measured input properties, the metrics under
their descriptive names, the checks and, for traced runs, the span
accounting. Traced runs also write their spans to
``.perfbench_out/trace-<workload>-<seed>.json``.

``--self-test`` plants wrong answers into the result checker, without
Spark, and exits non-zero unless each one is counted as a failure.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import sys

import gen
import oracle
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("build", "search")
# the engine's session default is 48g; the index here is a few MB. The heap
# is committed at full size from the start (-Xms = -Xmx), so the JVM's
# resident size does not follow the collector's resizing decisions.
DRIVER_MEM = "1g"


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _environment(work: str, nproc: int) -> None:
    """Point Spark, its Python workers and every temp file into ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "PYSPARK_SUBMIT_ARGS": (
            f"--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.local.dir={local} "
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM}' pyspark-shell"
        ),
    })


def _host(b: workloads.Bench) -> dict:
    import pyspark

    return {
        "nproc": b.nproc,
        "loadavg_1m_at_start": b.load_at_start,
        "cpu_steal_frac_in_loop": b.host_steal_frac,
        "seed": b.seed,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "driver_mem": DRIVER_MEM,
    }


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)


def run(args) -> tuple[dict, dict]:
    nproc = _nproc()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        _environment(work, nproc)
        b = workloads.Bench(ROOT, work, args.workload, args.seed, args.seconds,
                            bool(args.trace), nproc)
        b.prepare()
        undo = workloads.install_layer_wrappers(b) if args.trace else None
        try:
            b.setup()
            b.loop()
            b.measure_rss()  # before the check, whose repeat build is not workload
            b.check()
            return _results(args, b)
        finally:
            if undo:
                undo()
            if hasattr(b, "spark"):
                _stop(b.spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _results(args, b: workloads.Bench) -> tuple[dict, dict]:
    attempted = len(b.recs) + len(b.warmup_ok)
    failed = sum(not r["ok"] for r in b.recs) + sum(not ok for ok in b.warmup_ok)
    correct = (
        failed == 0
        and all(c["ok"] for c in b.build_checks)
        and b.selftest["ok"]
    )
    e2e = b.end_to_end()
    if args.trace:
        layers = b.per_layer()
        metrics = {k: {"value": float(layers[k]), "unit": unit}
                   for k, unit in workloads.PER_LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": float(v), "unit": u} for k, (v, u) in e2e.items()}
    report = {
        "workload": args.workload,
        "seconds": args.seconds,
        "traced": bool(args.trace),
        "host": _host(b),
        "index_config": workloads.INDEX_CFG | {"hot_threshold": b.hot_thr},
        "corpus": gen.corpus_properties(b.corpus),
        "query_log": gen.log_properties(
            b.corpus, [r["op"] for r in b.recs if "op" in r], b.hot_thr),
        "setup_phases_s": b.phases,
        "peak_rss_parts_mb": b.rss_parts_mb,
        "metrics": b.named_metrics(),
        "end_to_end": {k: v for k, (v, _) in e2e.items()},
        "checks": {"builds": b.build_checks,
                   "errors": [r["error"] for r in b.recs if r["error"]][:5],
                   "checker_self_test": b.selftest},
    }
    if args.trace:
        report["trace"] = b.trace_summary()
        out = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        b.tracer.dump(os.path.join(out, f"trace-{args.workload}-{args.seed}.json"))
    result = {"correct": bool(correct), "attempted": attempted, "failed": failed,
              "metrics": metrics}
    return result, report


def self_test_only() -> int:
    corpus = gen.make_corpus(0, n_docs=1_000)
    orc = oracle.Oracle(ROOT, corpus, 8, 1.2, 0.75)
    res = oracle.self_test(orc, gen.make_query_log(corpus, 0, 256))
    print(json.dumps(res))
    return 0 if res["ok"] else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    args = ap.parse_args()
    missing = [p for p in ("engine", os.path.join("tests", "golden_scorer.py"))
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: repository sources missing: {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.self_test:
        return self_test_only()
    if not args.workload:
        ap.error("--workload is required")
    # on SIGTERM, unwind through run()'s cleanup: stop Spark, delete work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    result, report = run(args)
    print(json.dumps({"report": report}, default=float))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
