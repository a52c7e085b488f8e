"""Tokenizer + extraction tests (SURVEY.md §2.B1/B2, §5.2).

Includes the byte-identity extraction invariant (BASELINE.json:15) and the
no-per-row-Python lint."""

from __future__ import annotations

import os
import re

import pandas as pd

from engine.analyzer import extract_series, extract_text, tokenize

GOLDEN_TOKENS = [
    ("Spark JOIN the", ["spark", "join", "the"]),
    ("", []),
    ("  a  b\tc\n", ["a", "b", "c"]),
    ("über Café déjà-vu", ["über", "café", "déjà", "vu"]),
    ("foo_bar x1 2y", ["foo", "bar", "x1", "2y"]),
    ("中文 分词 test", ["中文", "分词", "test"]),
    ("a,b;c.d", ["a", "b", "c", "d"]),
]


def test_tokenize_goldens():
    for text, want in GOLDEN_TOKENS:
        assert tokenize(text) == want, text


def test_extract_passthrough_byte_identical():
    # text column wins, verbatim — byte identity (BASELINE.json:15)
    s = "exact  bytes\twith   spacing"
    assert extract_text("u", b"<html>other</html>", s) is s


def test_extract_html_fallback_deterministic():
    html = "<html><body>spark join the</body></html>".encode()
    assert extract_text("u", html, None) == "spark join the"
    html2 = b"<div>a<script>x=1</script>b<style>p{}</style>c</div>"
    assert extract_text("u", html2, None) == "abc"
    # idempotent/deterministic
    assert extract_text("u", html, None) == extract_text("u", html, None)


def test_extract_series_mixed():
    urls = pd.Series(["a", "b", "c"])
    htmls = pd.Series(
        [b"<p>x</p>", b"<p>fallback text</p>", None], dtype=object
    )
    texts = pd.Series(["keep me", None, None], dtype=object)
    out = extract_series(urls, htmls, texts).tolist()
    assert out == ["keep me", "fallback text", ""]


def test_no_per_row_python_udf_in_engine():
    """BASELINE.json:15: vectorized pandas/Arrow UDFs only. Greps engine
    source for bare `udf(` usage (SURVEY.md §5.2 lint)."""
    root = os.path.join(os.path.dirname(__file__), "..", "engine")
    bad = re.compile(r"(?<![\w.])udf\(|F\.udf\(")
    for fn in os.listdir(root):
        if fn.endswith(".py"):
            src = open(os.path.join(root, fn)).read()
            assert not bad.search(src), f"per-row udf( found in {fn}"


def test_factorized_tokens_matches_per_doc():
    """All three tiers of the Arrow tokenizer (plain-ascii split, ascii RE2
    split, unicode Python fallback) must reproduce tokenize() exactly."""
    from engine.analyzer import factorized_tokens, tokenize

    cases = [
        # tier 1: plain [a-z0-9 ] after lowering
        ["spark join the", "", "a b  c", "x1 2y", "   "],
        # tier 2: ascii with punctuation/underscores
        ["Spark, JOIN; the!", "foo_bar x1-2y", "...", "a.b,c"],
        # tier 3: unicode anywhere in the batch → full Unicode semantics
        ["über Café déjà-vu", "plain ascii too", "中文 分词 test"],
        # mixed nulls
        ["keep", None, ""],
    ]
    for texts in cases:
        codes, uniq, dls = factorized_tokens(texts)
        want = [tokenize(t or "") for t in texts]
        assert dls.tolist() == [len(w) for w in want], texts
        got_stream = [uniq[c] for c in codes]
        assert got_stream == [tok for w in want for tok in w], texts


def test_factorized_tokens_property():
    """Randomized cross-check of the tiered tokenizer against tokenize()."""
    import random

    from engine.analyzer import factorized_tokens, tokenize

    rng = random.Random(11)
    alphabet = "ab1 _.,-!Zq\t\n"
    uni = "abé 中_9"
    for trial in range(60):
        pool = alphabet if trial % 2 else uni
        texts = [
            "".join(rng.choice(pool) for _ in range(rng.randrange(0, 30)))
            for _ in range(rng.randrange(1, 12))
        ]
        codes, uniq, dls = factorized_tokens(texts)
        want = [tokenize(t) for t in texts]
        assert dls.tolist() == [len(w) for w in want], texts
        assert [uniq[c] for c in codes] == [tok for w in want for tok in w], texts


def test_tokenize_flat_matches_per_doc():
    import numpy as np

    from engine.analyzer import _DOC_SENTINEL, tokenize, tokenize_flat

    texts = [
        "Spark JOIN the",
        "",
        None,
        "über Café déjà-vu",
        "a b  c",
        f"evil {_DOC_SENTINEL} inside",  # sentinel collision → fallback
    ]
    flat, dls = tokenize_flat(texts)
    want = [tokenize(t or "") for t in texts]
    assert dls.tolist() == [len(w) for w in want]
    assert flat.tolist() == [tok for w in want for tok in w]
    # no-collision fast path
    flat2, dls2 = tokenize_flat(texts[:5])
    assert flat2.tolist() == [tok for w in want[:5] for tok in w]
    assert dls2.tolist() == [len(w) for w in want[:5]]
