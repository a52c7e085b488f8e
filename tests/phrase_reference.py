"""Independent exact-phrase reference: the analyzer's token streams, an
adjacency filter and conjunctive BM25 from the golden scorer, ordered by
(score desc, url asc). Pure Python over (url, text) rows, one row per url —
no Spark and no imports from engine/*."""

from __future__ import annotations

import pytest

from tests.golden_scorer import WORD, BruteForceBM25


class PhraseReference:
    def __init__(self, corpus: list[tuple[str, str]], P: int = 8):
        self.bm25 = BruteForceBM25(corpus, P=P)
        self.url_of = {d: u for u, d in self.bm25.ids.items()}
        self.tokens = {u: WORD.findall(t.lower()) for u, t in corpus}

    def contains(self, url: str, phrase_tokens: list[str]) -> bool:
        toks, n = self.tokens[url], len(phrase_tokens)
        return any(
            toks[i : i + n] == phrase_tokens for i in range(len(toks) - n + 1)
        )

    def topk(self, phrase: str, k: int) -> list[tuple[str, float]]:
        """[(url, score)] of the top k phrase matches."""
        toks = WORD.findall(phrase.lower())
        if not toks:
            return []
        scored = self.bm25.topk(phrase, k=self.bm25.N, conjunctive=True)
        hits = [
            (self.url_of[d], s)
            for d, s in scored
            if self.contains(self.url_of[d], toks)
        ]
        hits.sort(key=lambda x: (-x[1], x[0]))
        return hits[:k]


def assert_same_topk(rows, want: list[tuple[str, float]]) -> None:
    """Engine result rows against the reference: urls in the same order,
    scores equal to 1e-9."""
    got = [(r["url"], r["score"]) for r in rows]
    assert [u for u, _ in got] == [u for u, _ in want], (got, want)
    for (_, gs), (_, ws) in zip(got, want):
        assert gs == pytest.approx(ws, rel=1e-9, abs=1e-12)
