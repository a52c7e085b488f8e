"""Text extraction + tokenization (SURVEY.md §2.B1, §2.B2).

Semantics re-expressed from the reference's delegated Elasticsearch layer
(ES 5.x standard analyzer: Unicode word segmentation + lowercase, no
stopwords, no stemming — the reference's mapping did not override the
analyzer; SURVEY.md §2.B2 [R]).

Extraction invariant (BASELINE.json:15): byte-identical extracted text per
url — if the `text` column is non-null it is used verbatim; otherwise a
deterministic utf-8 decode + tag-strip of `html` is applied. Both the pure
scalar functions (unit-tested for byte identity) and the Arrow-vectorized
wrappers used in the Spark build path live here. No per-row Python UDFs
anywhere (BASELINE.json:15).
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

# Unicode word characters, excluding underscore (approximation of the ES
# standard analyzer's UAX#29 word segmentation documented in SURVEY.md §2.B2;
# exact for the fixture vocabulary which is [a-z]+).
_TOKEN_RE = re.compile(r"[^\W_]+", re.UNICODE)
# Deterministic tag strip for the html fallback path: drop script/style
# blocks, then all tags. No whitespace normalization (byte identity).
_SCRIPT_STYLE_RE = re.compile(
    r"<(script|style)\b[^>]*>.*?</\1\s*>", re.IGNORECASE | re.DOTALL
)
_TAG_RE = re.compile(r"<[^>]*>")


def extract_text(url: str | None, html: bytes | None, text: str | None) -> str:
    """Pure extraction function. `text` passthrough wins; else tag-strip html.

    Invariant (BASELINE.json:15): output is byte-identical per url across
    runs/parallelism — it is a pure function of (html, text).
    """
    if text is not None:
        return text
    if html is None:
        return ""
    decoded = html.decode("utf-8", errors="replace")
    decoded = _SCRIPT_STYLE_RE.sub("", decoded)
    return _TAG_RE.sub("", decoded)


def tokenize(text: str) -> list[str]:
    """Pure tokenizer: lowercase + Unicode word segmentation (no stopwords,
    no stemming). Matches the analyzer contract in SURVEY.md §2.B2."""
    if not text:
        return []
    return _TOKEN_RE.findall(text.lower())


# ---------------------------------------------------------------------------
# Vectorized (pandas / Arrow-batch) forms used inside mapInPandas stages.
# ---------------------------------------------------------------------------


def extract_series(
    url: pd.Series, html: pd.Series, text: pd.Series
) -> pd.Series:
    """Vectorized extraction: passthrough where text is non-null, tag-strip
    decode only on the (usually rare) null-text rows."""
    out = text.copy()
    missing = text.isna()
    if missing.any():
        fallback = html[missing].map(
            lambda h: extract_text(None, h, None), na_action=None
        )
        out[missing] = fallback
    return out.fillna("")


# Sentinel token used by tokenize_flat to mark document boundaries in the
# single-pass joined scan. It is itself a valid token (word chars) and is
# removed from the output; a (pathological) document containing it verbatim
# is handled by the per-doc fallback.
_DOC_SENTINEL = "zzqxjdocsepvqkzz"


def factorized_tokens(texts) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Batch tokenizer + factorizer that keeps the token stream OFF the
    Python heap: Arrow kernels (C++, contiguous buffers) lower, split and
    dictionary-encode the whole batch, so per-token cost is ~20 bytes of
    buffer traffic instead of a ~100-byte Python str object — the build's
    dominant memory-bandwidth term at web scale.

    Returns (codes int64 per token, unique token strings (small vocab),
    per-doc token counts). Token stream is exactly `tokenize()` per doc —
    three tiers, each verified equivalent (tests/test_analyzer.py):

    1. plain ascii [a-z0-9 ] after lowering → non-regex split on ' '
    2. other ascii → RE2 split on the separator class [^a-z0-9]+
    3. non-ascii anywhere → the sentinel-scan Python fallback
       (tokenize_flat), which implements full Unicode word segmentation
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    tl = [t if isinstance(t, str) else "" for t in texts]
    n = len(tl)
    if n == 0:
        return (
            np.empty(0, dtype=np.int64),
            np.empty(0, dtype=object),
            np.empty(0, dtype=np.int64),
        )
    arr = pa.array(tl, type=pa.string())
    if not pc.all(
        pc.string_is_ascii(arr), min_count=0
    ).as_py():  # tier 3: full Unicode semantics
        flat, dls = tokenize_flat(tl)
        codes, uniq = pd.factorize(flat, sort=False)
        return codes.astype(np.int64), np.asarray(uniq, dtype=object), dls
    low = pc.ascii_lower(arr)
    if pc.all(
        pc.match_substring_regex(low, "^[a-z0-9 ]*$"), min_count=0
    ).as_py():
        toks = pc.split_pattern(low, " ")  # tier 1 (no regex machinery)
    else:
        toks = pc.split_pattern_regex(low, "[^a-z0-9]+")  # tier 2
    flat = pc.list_flatten(toks)
    empty = pc.equal(flat, "")
    offs = toks.offsets.to_numpy()
    raw_lens = np.diff(offs)
    # split always yields ≥1 element per doc (even for "") ⇒ offsets are
    # strictly increasing and reduceat segments line up with docs exactly
    em = empty.to_numpy(zero_copy_only=False).astype(np.int64)
    dls = raw_lens - np.add.reduceat(em, offs[:-1])
    flat_ne = pc.filter(flat, pc.invert(empty))
    enc = pc.dictionary_encode(flat_ne)
    codes = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    uniq = np.asarray(enc.dictionary.to_pylist(), dtype=object)
    return codes, uniq, dls.astype(np.int64)


def tokenize_flat(texts) -> tuple[np.ndarray, np.ndarray]:
    """Single-pass batch tokenizer: lowercase + findall over ONE joined
    string (C-level, no per-row regex calls or intermediate Series), then
    split back on sentinel positions. Returns (flat_tokens object array,
    per-doc token counts). Semantically identical to tokenize() per doc —
    asserted by tests and guarded by a fallback when the sentinel collides.
    """
    tl = [t if isinstance(t, str) else "" for t in texts]
    n = len(tl)
    if n == 0:
        return np.empty(0, dtype=object), np.empty(0, dtype=np.int64)
    joined = (" " + _DOC_SENTINEL + " ").join(tl)
    flat = _TOKEN_RE.findall(joined.lower())
    arr = np.asarray(flat, dtype=object)
    bounds = np.flatnonzero(arr == _DOC_SENTINEL)
    if len(bounds) != n - 1:  # sentinel collision — per-doc slow path
        per_doc = [_TOKEN_RE.findall(t.lower()) for t in tl]
        dls = np.asarray([len(p) for p in per_doc], dtype=np.int64)
        flat_arr = (
            np.concatenate([np.asarray(p, dtype=object) for p in per_doc])
            if dls.sum()
            else np.empty(0, dtype=object)
        )
        return flat_arr, dls
    dls = np.diff(np.concatenate(([-1], bounds, [len(arr)]))) - 1
    if len(bounds):
        keep = np.ones(len(arr), dtype=bool)
        keep[bounds] = False
        arr = arr[keep]
    return arr, dls.astype(np.int64)
