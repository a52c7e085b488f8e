"""Result checker: every benchmark result is compared, outside the timed
region, with an answer computed without the engine.

- bm25, bm25_and, filtered: the independent numpy/python BM25 scorer in
  ``tests/golden_scorer.py`` over the deduplicated generated corpus (the
  benchmark imports it and never edits it). filtered keeps the allowed docs
  and orders by (score desc, url asc), as ``filtered_topk`` documents.
- phrase: conjunctive BM25 from the same scorer, restricted to the docs
  whose generated token stream holds the phrase consecutively.
- build: n_docs, the df of sampled terms, and a postings content hash that
  must equal that of a second, untimed build of the same input.

Doc ids must match position by position. The only allowance is an exact
score tie: where the oracle scores two docs within ``REL_TOL`` of each other
their order is not a defect of the result. Scores must match to ``REL_TOL``.
"""

from __future__ import annotations

import hashlib
import importlib.util
import math
import os

import numpy as np

import gen

REL_TOL = 1e-9
K = 10
# sidecar files next to the parquet parts of an index table
IGNORE_PREFIXES = [".", "_", "positions_meta"]


def _golden_module(root: str):
    path = os.path.join(root, "tests", "golden_scorer.py")
    spec = importlib.util.spec_from_file_location("golden_scorer", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=1e-300)


def check_topk(got: list[tuple[int, float]], ranked: list[tuple[int, float]],
               k: int = K) -> bool:
    """``ranked`` is the oracle's full ordered answer (every matching doc);
    ``got`` the engine's top-k as (doc_id, score)."""
    exp = ranked[:k]
    if len(got) != len(exp) or len({d for d, _ in got}) != len(got):
        return False
    score_of = dict(ranked)
    for (gid, gs), (eid, es) in zip(got, exp):
        if not _close(gs, es):
            return False
        if gid != eid and not _close(score_of.get(gid, math.nan), es):
            return False
    return True


class Oracle:
    def __init__(self, root: str, corpus: gen.Corpus, n_build_partitions: int,
                 k1: float, b: float):
        golden = _golden_module(root)
        self.c = corpus
        self.bm25 = golden.BruteForceBM25(
            list(zip(corpus.urls, corpus.texts)), P=n_build_partitions, k1=k1, b=b
        )
        self.url_of = {d: u for u, d in self.bm25.ids.items()}
        self.doc_id = np.asarray([self.bm25.ids[u] for u in corpus.urls], dtype=np.int64)
        self._cache: dict[tuple, list] = {}

    def ranked(self, op: dict) -> list[tuple[int, float]]:
        """Full ordered oracle answer for a query-log operation."""
        key = (op["type"], op["query"], tuple(op.get("pred") or ()))
        hit = self._cache.get(key)
        if hit is not None:
            return hit
        kind = op["type"]
        if kind in ("bm25", "bm25_and"):
            out = self.bm25.topk(op["query"], k=self.c.n_docs,
                                 conjunctive=kind == "bm25_and")
        else:
            if kind == "filtered":
                keep = self.doc_id[gen.allowed_docs(self.c, op["pred"])]
                scored = self.bm25.topk(op["query"], k=self.c.n_docs)
            else:
                keep = self.doc_id[self.phrase_docs(op["ranks"])]
                scored = self.bm25.topk(op["query"], k=self.c.n_docs, conjunctive=True)
            allowed = set(keep.tolist())
            out = sorted(
                ((d, s) for d, s in scored if d in allowed),
                key=lambda x: (-x[1], self.url_of[x[0]]),
            )
        self._cache[key] = out
        return out

    def phrase_docs(self, ranks: list[int]) -> np.ndarray:
        """Docs (by corpus index) whose token stream contains ``ranks``
        consecutively."""
        tok, off = self.c.tok, self.c.tok_off
        n = len(ranks)
        hit = tok[: len(tok) - n + 1] == ranks[0]
        for j in range(1, n):
            hit &= tok[j : len(tok) - n + 1 + j] == ranks[j]
        starts = np.flatnonzero(hit)
        doc = np.searchsorted(off, starts, side="right") - 1
        inside = starts + n <= off[doc + 1]
        mask = np.zeros(self.c.n_docs, dtype=bool)
        mask[doc[inside]] = True
        return mask

    def check_op(self, op: dict, got: list[tuple[int, float]]) -> bool:
        return check_topk(got, self.ranked(op))

    def sample_df(self, n: int, seed: int) -> dict[str, int]:
        """Terms from every df band plus the script-only token, with their
        oracle df (what the index's terms table must hold)."""
        rng = np.random.default_rng([seed, 3])
        ranks = np.flatnonzero(self.c.df > 0)
        pick = list(ranks[:5]) + list(rng.choice(ranks, n, replace=False))
        out = {self.c.words[r]: len(self.bm25.tf.get(self.c.words[r], {})) for r in pick}
        out[gen.SCRIPT_TOKEN] = 0
        return out


def postings_hash(postings_path: str) -> str:
    """Content hash of a postings table, independent of file layout."""
    import pyarrow.dataset as ds

    tbl = ds.dataset(postings_path, format="parquet", partitioning="hive",
                     ignore_prefixes=IGNORE_PREFIXES).to_table()
    tbl = tbl.sort_by([("term", "ascending"), ("salt", "ascending"),
                       ("block_seq", "ascending")])
    h = hashlib.blake2b(digest_size=16)
    for name in sorted(tbl.column_names):
        h.update(name.encode())
        h.update(repr(tbl[name].to_pylist()).encode())
    return h.hexdigest()


def self_test(oracle: Oracle, ops: list[dict]) -> dict:
    """Plant defects into correct answers and confirm the checker rejects
    them: a doc from outside the top-k, a swapped pair of unequal scores and
    a score off by 1e-7 relative must each fail; the oracle's own answer
    must pass."""
    planted = {"correct_passes": None, "wrong_doc_fails": None,
               "swapped_order_fails": None, "score_off_fails": None}
    for op in ops:
        ranked = oracle.ranked(op)
        if len(ranked) <= K or _close(ranked[K - 1][1], ranked[K][1]):
            continue
        top = list(ranked[:K])
        wrong = top[:-1] + [ranked[K]]
        swapped = list(top)
        i = next((j for j in range(K - 1) if not _close(top[j][1], top[j + 1][1])), None)
        if i is None:
            continue
        swapped[i], swapped[i + 1] = swapped[i + 1], swapped[i]
        off = top[:-1] + [(top[-1][0], top[-1][1] * (1 + 1e-7))]
        planted = {
            "correct_passes": check_topk(top, ranked),
            "wrong_doc_fails": not check_topk(wrong, ranked),
            "swapped_order_fails": not check_topk(swapped, ranked),
            "score_off_fails": not check_topk(off, ranked),
        }
        break
    planted["ok"] = all(v is True for v in planted.values())
    return planted
