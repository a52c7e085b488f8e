"""The benchmark's workloads: ``build`` and ``search``.

One client, closed loop, one process, Spark at local[nproc]. Set-up (the
session, the input written as parquet and read back, and for ``search`` the
index and positions build plus WARMUP_OPS warm-up operations) is timed
as ``setup_s``; corpus generation and oracle preparation come before it and
are not timed. Every result is checked after the timed loop; for ``build``
the check includes one more untimed ``build_index``, whose postings content
hash must equal that of every timed build.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np

import gen
import oracle as oracle_mod
from spans import NullTracer, Tracer

K = oracle_mod.K
# P = 8 build partitions (the golden scorer's doc-id scheme uses the same P)
# and 8 term buckets suit a 4-core host; n_doc_ranges and min_hot_df keep
# the engine defaults, so the hot threshold at 8k docs is 256.
INDEX_CFG = {"n_build_partitions": 8, "n_doc_ranges": 32, "n_term_buckets": 8}
INPUT_FILES = 4
ANALYZER_SLICE_DOCS = 2_000
MICRO_MIN_S = 0.3
# Query latency keeps falling over the first few dozen operations of a
# session while the JVM compiles the planner's hot paths, so set-up runs
# four rounds of the four types first. They come from the end of the log,
# which the timed loop never reaches, so no timed query repeats one.
WARMUP_OPS = 16

# per-layer metric -> unit; a traced run reports every one (0 where the
# workload does not call the layer)
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "analyzer.tokens_per_s": "1/s",
    "codec.encode_postings_per_s": "1/s",
    "codec.decode_postings_per_s": "1/s",
    "codec.bytes_per_posting": "B",
    "build.spimi_s": "s",
    "build.hot_set_s": "s",
    "build.merge_write_s": "s",
    "build.aux_writes_s": "s",
    "build.spark_jobs": "count",
    "build.tasks": "count",
    "build.failed_tasks": "count",
    "build.n_terms": "count",
    "build.n_hot_terms": "count",
    "build.n_salt_segments": "count",
    "build.n_blocks": "count",
    "positional.build_s": "s",
    "positional.phrase_ms": "ms",
    "query.plan_ms": "ms",
    "query.exec_ms": "ms",
    "query.spark_jobs_per_op": "count",
    "query.tasks_per_op": "count",
    "query.local_kernel_postings_per_s": "1/s",
    "query.postings_per_op": "count",
    "phrase.filtered_ms": "ms",
    "phrase.allowed_frac": "frac",
    "trace.bookkeeping_frac": "frac",
}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _pct(xs, q):
    return float(np.percentile(xs, q)) if xs else 0.0


def _vmhwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _tree_cpu_s() -> float:
    """CPU seconds (user + system, with reaped children) of this process and
    every process below it: the driver, the JVM and its Python workers.
    Time the hypervisor steals is charged to no process, so this figure does
    not follow the host's CPU steal the way wall time does."""
    procs = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while /proc was listed
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        procs[int(d)] = (int(fields[1]), sum(int(v) for v in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    ticks, stack = 0, [os.getpid()]
    while stack:
        pid = stack.pop()
        ticks += procs.get(pid, (0, 0))[1]
        stack.extend(children.get(pid, ()))
    return ticks / os.sysconf("SC_CLK_TCK")


def _host_steal() -> tuple[int, int]:
    """(steal, total) CPU jiffies of the host since boot."""
    with open("/proc/stat") as f:
        host = [int(x) for x in f.readline().split()[1:]]
    return host[7], sum(host)


def _rate(fn, work: int) -> float:
    """Units of ``work`` per second of ``fn``, repeated for MICRO_MIN_S."""
    reps, t0 = 0, time.perf_counter()
    while True:
        fn()
        reps += 1
        dt = time.perf_counter() - t0
        if dt >= MICRO_MIN_S:
            return work * reps / dt


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def _write_input(rows: dict, out_dir: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.table(
        {
            "url": pa.array(rows["url"], pa.string()),
            "warc_ts": pa.array(rows["warc_ts"], pa.timestamp("us", tz="UTC")),
            "html": pa.array(rows["html"], pa.binary()),
            "text": pa.array(rows["text"], pa.string()),
            "lang": pa.array(rows["lang"], pa.string()),
        }
    )
    os.makedirs(out_dir)
    step = -(-tbl.num_rows // INPUT_FILES)
    for i in range(INPUT_FILES):
        pq.write_table(tbl.slice(i * step, step), os.path.join(out_dir, f"part-{i}.parquet"))


class Bench:
    def __init__(self, root: str, work: str, workload: str, seed: int,
                 seconds: float, traced: bool, nproc: int):
        self.root, self.work, self.workload = root, work, workload
        self.seed, self.seconds, self.traced, self.nproc = seed, seconds, traced, nproc
        self.phases: dict[str, float] = {}
        self.build_checks: list[dict] = []
        self.builds: list[dict] = []
        self.warmup: list = []
        self.warmup_ok: list[bool] = []

    # -- set-up ---------------------------------------------------------------

    def prepare(self) -> None:
        """Untimed: generate the inputs and the oracle's answers' basis."""
        from engine.config import IndexConfig

        self.load_at_start = os.getloadavg()[0]
        self.cfg = IndexConfig(**INDEX_CFG)
        self.corpus = gen.make_corpus(self.seed)
        self.hot_thr = self.cfg.hot_threshold(self.corpus.n_docs)
        self.log = (
            gen.make_query_log(self.corpus, self.seed, self.hot_thr)
            if self.workload == "search" else []
        )
        self.oracle = oracle_mod.Oracle(
            self.root, self.corpus, self.cfg.n_build_partitions, self.cfg.k1, self.cfg.b
        )

    def setup(self) -> None:
        from engine.build import latest_crawl
        from engine.session import get_spark

        t = time.perf_counter()
        self.spark = get_spark(master=f"local[{self.nproc}]")
        self.phases["session_s"] = time.perf_counter() - t
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer = Tracer(self.spark.sparkContext) if self.traced else NullTracer()
        t = time.perf_counter()
        path = os.path.join(self.work, "input")
        _write_input(self.corpus.rows, path)
        self.wp = self.spark.read.parquet(path)
        self.wp.count()
        self.phases["materialize_s"] = time.perf_counter() - t
        # build_positions and filtered_topk take one row per url
        self.latest = latest_crawl(self.wp)
        if self.workload == "search":
            t = time.perf_counter()
            self.handle, self.pos_dir = self.build_op("setup")
            self.phases["index_build_s"] = time.perf_counter() - t
            t = time.perf_counter()
            for i, op in enumerate(self.log[-WARMUP_OPS:]):
                self.warmup.append((op, self.run_op(f"warm-{i}", op)))
            self.phases["warmup_s"] = time.perf_counter() - t
        self.setup_s = sum(self.phases.values())

    # -- operations -----------------------------------------------------------

    def build_op(self, tag: str):
        from engine.build import build_index
        from engine.positional import build_positions

        idx_dir = os.path.join(self.work, "builds", str(tag))
        tr = self.tracer
        with tr.request(f"build-{tag}", "build.op") as root:
            with tr.span("build.build_index") as sp:
                handle = build_index(self.spark, self.wp, idx_dir, self.cfg)
            if self.traced:
                self._phase_spans(sp, handle.stats)
            with tr.span("positional.build_positions"):
                pos_dir = build_positions(self.spark, handle, self.latest)
        self.builds.append({"tag": tag, "handle": handle, "pos_dir": pos_dir, "span": root})
        return handle, pos_dir

    def _phase_spans(self, sp: dict, stats: dict) -> None:
        """Disjoint build phases from stats.json. ``spimi_and_doc_stats`` is
        counted from the start of build_index; ``merge_compress_write`` and
        ``aux_writes`` from the start of the index writer, which begins
        ``aux_writes`` before ``build_seconds`` ends."""
        ps = stats["phase_seconds"]
        t0 = sp["start"]
        spimi = ps["spimi_and_doc_stats"]
        writer = stats["build_seconds"] - ps["aux_writes"]
        merge = ps["merge_compress_write"]
        self.tracer.add("build.spimi", t0, t0 + spimi, sp)
        self.tracer.add("build.hot_set", t0 + spimi, t0 + writer, sp)
        self.tracer.add("build.merge_write", t0 + writer, t0 + writer + merge, sp)
        self.tracer.add("build.aux_writes", t0 + writer + merge,
                        t0 + writer + ps["aux_writes"], sp)

    def _predicate(self, pred):
        import pyspark.sql.functions as F

        col, val = pred
        if col == "lang":
            return F.col("lang") == val
        return F.col("url").startswith(f"https://{val}/")

    def run_op(self, rid: str, op: dict) -> list[tuple[int, float]]:
        from engine.phrase import filtered_topk
        from engine.positional import phrase_topk_positional
        from engine.query import query_topk

        kind, q, tr = op["type"], op["query"], self.tracer
        with tr.request(rid, f"op.{kind}"):
            if kind in ("bm25", "bm25_and"):
                with tr.span("query.plan"):
                    df = query_topk(self.spark, self.handle, q, k=K,
                                    conjunctive=kind == "bm25_and")
                with tr.span("query.exec"):
                    rows = df.collect()
            elif kind == "filtered":
                with tr.span("phrase.filtered"):
                    rows = filtered_topk(
                        self.spark, self.handle, self.latest, q,
                        self._predicate(op["pred"]), k=K, mode="wand",
                    ).collect()
            else:
                with tr.span("positional.phrase"):
                    rows = phrase_topk_positional(
                        self.spark, self.handle, self.pos_dir, q, k=K
                    ).collect()
        return [(int(r["doc_id"]), float(r["score"])) for r in rows]

    # -- timed loop -------------------------------------------------------------

    def loop(self) -> None:
        """Closed loop: the next operation starts when the previous one has
        returned, until ``seconds`` have passed (at least one build, or one
        operation of each type)."""
        self.recs: list[dict] = []
        bookkeeping0 = self.tracer.bookkeeping_s
        steal0 = _host_steal()
        t_start = time.perf_counter()
        deadline = t_start + self.seconds
        i = 0
        while True:
            rec = {"i": i, "error": None, "got": None}
            cpu0 = _tree_cpu_s()
            t = time.perf_counter()
            try:
                if self.workload == "build":
                    self.build_op(i)
                    rec["build"] = self.builds[-1]
                else:
                    rec["op"] = self.log[i % len(self.log)]
                    rec["got"] = self.run_op(f"op-{i}", rec["op"])
            except Exception as e:  # an operation that raises counts as failed
                rec["error"] = repr(e)[:300]
            rec["s"] = time.perf_counter() - t
            rec["cpu_s"] = _tree_cpu_s() - cpu0
            self.recs.append(rec)
            i += 1
            min_ops = 1 if self.workload == "build" else len(gen.OP_CYCLE)
            if i >= min_ops and time.perf_counter() >= deadline:
                break
        self.elapsed = time.perf_counter() - t_start
        steal1 = _host_steal()
        self.host_steal_frac = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
        self.loop_bookkeeping_s = self.tracer.bookkeeping_s - bookkeeping0

    # -- checks ---------------------------------------------------------------

    def _check_build(self, b: dict, sample: dict) -> dict:
        import pyarrow.dataset as ds

        h = b["handle"]
        terms = ds.dataset(h.terms_path, format="parquet").to_table(
            columns=["term", "df"], filter=ds.field("term").isin(list(sample))
        )
        got_df = dict(zip(terms["term"].to_pylist(), terms["df"].to_pylist()))
        pos = ds.dataset(b["pos_dir"], format="parquet", partitioning="hive",
                         ignore_prefixes=oracle_mod.IGNORE_PREFIXES).to_table(
            columns=["term", "n"], filter=ds.field("term").isin(list(sample))
        ).group_by("term").aggregate([("n", "sum")])
        pos_df = dict(zip(pos["term"].to_pylist(), pos["n_sum"].to_pylist()))
        out = {
            "n_docs_ok": h.stats["n_docs"] == self.corpus.n_docs,
            "df_ok": all(got_df.get(t, 0) == d for t, d in sample.items()),
            "positions_df_ok": all(pos_df.get(t, 0) == d for t, d in sample.items()),
            "postings_hash": oracle_mod.postings_hash(h.postings_path),
        }
        if self.workload == "build":
            out["hash_repeats_ok"] = out["postings_hash"] == self.repeat_hash
        out["ok"] = all(v for k, v in out.items() if k.endswith("_ok"))
        return out

    def repeat_build_hash(self) -> str:
        """Untimed, untraced: build the index once more into a fresh
        directory and return its postings content hash."""
        from engine.build import build_index

        h = build_index(self.spark, self.wp,
                        os.path.join(self.work, "builds", "repeat"), self.cfg)
        return oracle_mod.postings_hash(h.postings_path)

    def check(self) -> None:
        sample = self.oracle.sample_df(40, self.seed)
        if self.workload == "build":
            try:
                self.repeat_hash = self.repeat_build_hash()
            except Exception as e:  # fails the hash check of every build
                self.repeat_hash = f"repeat build failed: {e!r:.300}"
        for b in self.builds:
            b["check"] = self._check_build(b, sample)
            self.build_checks.append(b["check"])
        if self.workload == "build":
            for rec in self.recs:
                rec["ok"] = rec["error"] is None and rec["build"]["check"]["ok"]
        else:
            for rec in self.recs:
                rec["ok"] = rec["error"] is None and self.oracle.check_op(rec["op"], rec["got"])
            self.warmup_ok = [self.oracle.check_op(op, got) for op, got in self.warmup]
        self.selftest = oracle_mod.self_test(
            self.oracle,
            self.log or gen.make_query_log(self.corpus, self.seed, self.hot_thr),
        )

    # -- metrics --------------------------------------------------------------

    def index_bytes_per_text_byte(self) -> float:
        b = self.builds[-1]
        return _dir_bytes(b["handle"].version_dir) / self.corpus.text_bytes

    def measure_rss(self) -> None:
        """VmHWM of this driver process and of the JVM."""
        jvm = self.spark.sparkContext._gateway.proc.pid
        self.rss_parts_mb = {"driver": _vmhwm_mb("self"), "jvm": _vmhwm_mb(jvm)}
        self.rss_mb = sum(self.rss_parts_mb.values())

    def type_p50_ms(self, key: str = "s") -> dict[str, float]:
        """Median of ``rec[key]`` per operation type, in ms."""
        return {
            kind: _median([r[key] * 1e3 for r in self.recs if r["op"]["type"] == kind])
            for kind in gen.OP_CYCLE
        }

    def op_ms(self, key: str) -> float:
        """The median of ``rec[key]`` per build on ``build``, in ms. On
        ``search`` the geometric mean of the four per-type medians, so each
        operation type weighs the same whatever the log's mix."""
        if self.workload == "build":
            return _median([r[key] * 1e3 for r in self.recs])
        return statistics.geometric_mean(self.type_p50_ms(key).values())

    def end_to_end(self) -> dict:
        """Wall-clock latency is in the report, not here: it tracks the
        host's CPU steal too closely to be gated (see README)."""
        return {
            "setup_s": (self.setup_s, "s"),
            "peak_rss_mb": (self.rss_mb, "MB"),
            "op_cpu_ms": (self.op_ms("cpu_s"), "ms"),
            "index_bytes_per_text_byte": (self.index_bytes_per_text_byte(), "B/B"),
        }

    def named_metrics(self) -> dict:
        """The workload's metrics under their descriptive names."""
        n = len(self.recs)
        failed = sum(not r["ok"] for r in self.recs)
        out = {
            "setup_s": self.setup_s,
            "peak_rss_mb": self.rss_mb,
            "failed_frac": failed / n,
            "index_bytes_per_text_byte": self.index_bytes_per_text_byte(),
            "op_p50_ms": self.op_ms("s"),
        }
        if self.workload == "build":
            out["build_docs_per_s"] = _median(
                [self.corpus.n_docs / r["s"] for r in self.recs]
            )
            return out
        ms = [r["s"] * 1e3 for r in self.recs]
        out.update({
            "query_p50_ms": _median(ms),
            "query_p95_ms": _pct(ms, 95),
            "query_p95_samples_beyond": int(sum(m > _pct(ms, 95) for m in ms)),
            "queries_per_s": n / self.elapsed,
        })
        for kind, p50 in self.type_p50_ms().items():
            out[f"{kind}_p50_ms"] = p50
            out[f"{kind}_n"] = sum(r["op"]["type"] == kind for r in self.recs)
        return out

    # -- traced run -----------------------------------------------------------

    def micro_layers(self) -> dict:
        """Spark-free kernel rates on the run's own data."""
        import pyarrow.dataset as ds

        from engine.analyzer import factorized_tokens
        from engine.codec import decode_concat, delta_decode_blocks, encode_blocks

        texts = np.asarray(self.corpus.texts[:ANALYZER_SLICE_DOCS], dtype=object)
        n_tok = int(self.corpus.tok_off[len(texts)])
        out = {"analyzer.tokens_per_s": _rate(lambda: factorized_tokens(texts), n_tok)}

        tbl = ds.dataset(self.builds[-1]["handle"].postings_path, format="parquet",
                         partitioning="hive").to_table()
        cols = {c: tbl[c].to_pylist() for c in
                ("n", "codec_ids", "ids_enc", "codec_tfs", "tfs_enc", "codec_dls", "dls_enc")}
        ns = cols["n"]
        n_post = int(sum(ns))

        def decode():
            gaps = decode_concat(cols["codec_ids"], cols["ids_enc"], ns)
            return (gaps, delta_decode_blocks(gaps, ns),
                    decode_concat(cols["codec_tfs"], cols["tfs_enc"], ns),
                    decode_concat(cols["codec_dls"], cols["dls_enc"], ns))

        gaps, _, tfs, dls = decode()
        starts = np.concatenate(([0], np.cumsum(ns[:-1]))).astype(np.int64)
        out["codec.decode_postings_per_s"] = _rate(decode, n_post)
        out["codec.encode_postings_per_s"] = _rate(
            lambda: [encode_blocks(v, starts) for v in (gaps, tfs, dls)], n_post
        )
        enc = sum(len(b) for c in ("ids_enc", "tfs_enc", "dls_enc") for b in cols[c])
        out["codec.bytes_per_posting"] = enc / n_post

        import pyarrow.compute as pc

        terms = ds.dataset(self.builds[-1]["handle"].terms_path, format="parquet").to_table(
            columns=["term", "df"])
        hot = terms.filter(pc.greater_equal(terms["df"], self.hot_thr))["term"]
        segs = tbl.filter(pc.is_in(tbl["term"], hot)).group_by(["term", "salt"]).aggregate([])
        out.update({
            "build.n_terms": terms.num_rows,
            "build.n_hot_terms": len(hot),
            "build.n_salt_segments": segs.num_rows,
            "build.n_blocks": tbl.num_rows,
        })
        return out

    def per_layer(self) -> dict:
        tr = self.tracer
        tr.resolve()
        # warm-up calls are set-up, not part of the timed loop
        timed = [s for s in tr.spans if not (s["rid"] or "").startswith("warm-")]
        ops = [s for s in timed if s["parent"] is None and s["name"].startswith("op.")]
        builds = [b["span"] for b in self.builds]

        def named(name):
            return [s for s in timed if s["name"] == name]

        def med(name, scale=1.0):
            return _median([(s["end"] - s["start"]) * scale for s in named(name)])

        def build_med(key):
            return _median([len(s["jobs"]) if key == "jobs" else s[key] for s in builds])

        kernel = named("query.local_kernel")
        kernel_s = sum(s["end"] - s["start"] for s in kernel)
        query_ops = [r for r in self.recs if "op" in r]
        filt = [r["op"] for r in query_ops if r["op"]["type"] == "filtered"]
        out = {
            "session.start_s": self.phases["session_s"],
            "build.spimi_s": med("build.spimi"),
            "build.hot_set_s": med("build.hot_set"),
            "build.merge_write_s": med("build.merge_write"),
            "build.aux_writes_s": med("build.aux_writes"),
            "build.spark_jobs": build_med("jobs"),
            "build.tasks": build_med("tasks"),
            "build.failed_tasks": build_med("failed_tasks"),
            "positional.build_s": med("positional.build_positions"),
            "positional.phrase_ms": med("positional.phrase", 1e3),
            "query.plan_ms": med("query.plan", 1e3),
            "query.exec_ms": med("query.exec", 1e3),
            "query.spark_jobs_per_op": float(np.mean([len(s["jobs"]) for s in ops])) if ops else 0.0,
            "query.tasks_per_op": float(np.mean([s["tasks"] for s in ops])) if ops else 0.0,
            "query.local_kernel_postings_per_s":
                sum(s["attrs"]["postings"] for s in kernel) / kernel_s if kernel_s else 0.0,
            "query.postings_per_op": float(np.mean([
                sum(int(self.corpus.df[x]) for x in set(r["op"]["ranks"])) for r in query_ops
            ])) if query_ops else 0.0,
            "phrase.filtered_ms": med("phrase.filtered", 1e3),
            "phrase.allowed_frac": float(np.mean([
                gen.allowed_docs(self.corpus, op["pred"]).mean() for op in filt
            ])) if filt else 0.0,
            "trace.bookkeeping_frac":
                self.loop_bookkeeping_s / sum(r["s"] for r in self.recs),
        }
        out.update(self.micro_layers())
        return out

    def trace_summary(self) -> dict:
        """Self-time accounting of each build: the self times of the spans
        under a build add up to its wall time; ``unattributed_frac`` is the
        share left to build_index itself outside the four phases."""
        rows = []
        for b in self.builds:
            root = b["span"]
            sub = self.tracer.subtree(root)
            wall = root["end"] - root["start"]
            bi = next(s for s in sub if s["name"] == "build.build_index")
            rows.append({
                "tag": str(b["tag"]),
                "wall_s": wall,
                "self_sum_over_wall": sum(s["self_s"] for s in sub) / wall,
                "unattributed_frac": bi["self_s"] / wall,
                "self_s": {s["name"]: round(s["self_s"], 4) for s in sub},
            })
        return {"builds": rows, "bookkeeping_s": self.tracer.bookkeeping_s,
                "n_spans": len(self.tracer.spans)}


def install_layer_wrappers(bench: Bench):
    """Wrap engine.query.local_scored_arrays (and the name engine.phrase
    imported) in a span of ``bench.tracer`` carrying its postings count.
    Returns an undo."""
    import engine.phrase
    import engine.query

    orig = engine.query.local_scored_arrays

    def traced(handle, terms, st, conjunctive):
        with bench.tracer.span("query.local_kernel",
                         postings=int(sum(st[t]["df"] for t in terms if t in st))):
            return orig(handle, terms, st, conjunctive)

    engine.query.local_scored_arrays = traced
    engine.phrase.local_scored_arrays = traced

    def undo():
        engine.query.local_scored_arrays = orig
        engine.phrase.local_scored_arrays = orig

    return undo
