"""Seeded Zipf-webtext corpus and query-log generator.

Everything here is a pure function of the seed: the same seed gives the
same rows, the same query log and the same measured input properties. No
Spark and nothing from ``engine/`` is used, so the inputs (and the oracle
built from them) stay independent of the program under test.

Corpus (``webpages`` schema: url, warc_ts, html, text, lang):

- a 50k-term vocabulary of [a-z] pseudo-words, token ranks drawn from a
  Zipf law with exponent 1.05 (short words get the frequent ranks);
- log-normal document lengths;
- sentences with a capitalised first word and a trailing full stop, so the
  analyzer's lower-casing and punctuation splitting run;
- 5 languages with skewed shares and 100 url hosts with Zipf popularity;
- ~5% of rows are older recrawls of a url (different text, earlier
  ``warc_ts``), so latest-crawl dedup must drop them;
- ~1% of the latest rows carry only ``html`` (``text`` is null), so the html
  fallback runs. Their html hides a token inside a ``<script>`` block that
  must not reach the index.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

# Vocabulary size, Zipf exponent, the duplicate and html-only shares and the
# language count follow the benchmark's specification; the length
# distribution's parameters, the language shares and the host popularity are
# chosen values, not measured from a crawl.
VOCAB = 50_000
ZIPF_S = 1.05
N_DOCS = 8_000
DL_MU, DL_SIGMA, DL_MIN, DL_MAX = 4.9, 0.6, 5, 2_000
LANGS = ("en", "de", "fr", "es", "it")
LANG_P = (0.45, 0.20, 0.15, 0.12, 0.08)
N_HOSTS = 100
DUP_FRAC = 0.05
HTML_ONLY_FRAC = 0.01
SENTENCE_LEN = 12
# appears only inside <script> blocks of html-only rows: the extractor must
# strip it, so its df in the index is 0
SCRIPT_TOKEN = "zqscriptonly"

# No query log of this engine exists to measure traffic from, so every
# query-log choice is uniform and none of it estimates real traffic. The
# choices cycle rather than being drawn, so every run holds the same mix
# whatever the seed: the four operation types take turns, and within a type
# the query length (1-4 terms), the phrase length (2 or 3), the df band of
# each term and the predicate column go round their values. Documents, terms
# and predicate values are drawn from the seed.
OP_CYCLE = ("bm25", "bm25_and", "filtered", "phrase")
QUERY_LENS = (1, 2, 3, 4)
BANDS = ("head", "mid", "tail")
PHRASE_LENS = (2, 3)
MID_MIN_DF = 20
LOG_LEN = 2_000


@dataclass
class Corpus:
    words: np.ndarray  # vocabulary by Zipf rank (object dtype)
    urls: list[str]  # latest crawl per url, one entry per indexed doc
    langs: list[str]
    hosts: list[str]
    texts: list[str]  # the text the engine must extract for each doc
    tok: np.ndarray  # flat token ranks of the latest docs
    tok_off: np.ndarray  # doc i's tokens are tok[tok_off[i]:tok_off[i+1]]
    df: np.ndarray  # document frequency per vocabulary rank
    rows: dict  # engine input columns, recrawls included, shuffled
    n_html_only: int
    n_dup_rows: int

    @property
    def n_docs(self) -> int:
        return len(self.urls)

    @property
    def text_bytes(self) -> int:
        return sum(len(t.encode("utf-8")) for t in self.texts)


def _vocabulary(rng: np.random.Generator) -> np.ndarray:
    seen: dict[str, None] = {}
    while len(seen) < VOCAB:
        lens = rng.integers(3, 11, size=VOCAB)
        codes = rng.integers(97, 123, size=(VOCAB, 10), dtype=np.uint8)
        for row, n in zip(codes, lens):
            seen.setdefault(row[:n].tobytes().decode("ascii"))
    seen.pop(SCRIPT_TOKEN, None)
    words = list(seen)[:VOCAB]
    words.sort(key=len)  # stable: frequent ranks get the short words
    return np.asarray(words, dtype=object)


def _docs(rng, n: int, cdf: np.ndarray):
    lens = np.clip(
        rng.lognormal(DL_MU, DL_SIGMA, n).astype(np.int64), DL_MIN, DL_MAX
    )
    off = np.concatenate(([0], np.cumsum(lens)))
    tok = np.minimum(
        np.searchsorted(cdf, rng.random(int(off[-1])), side="right"), VOCAB - 1
    ).astype(np.int32)
    return tok, off


def _render(words: np.ndarray, tok: np.ndarray, off: np.ndarray) -> list[str]:
    """Token ranks → text with sentence case and full stops; the analyzer
    maps it back to exactly the token stream ``tok``."""
    pos = np.arange(len(tok)) - np.repeat(off[:-1], np.diff(off))
    w = words[tok].copy()
    first = pos % SENTENCE_LEN == 0
    w[first] = [s.capitalize() for s in w[first]]
    last = pos % SENTENCE_LEN == SENTENCE_LEN - 1
    last[off[1:] - 1] = True
    w[last] = [s + "." for s in w[last]]
    return [" ".join(w[a:b]) for a, b in zip(off[:-1], off[1:])]


def _html(text: str, hide_script: bool) -> bytes:
    script = f"<script>var {SCRIPT_TOKEN} = 1;</script>" if hide_script else ""
    return (
        f"<html><head>{script}<style>p {{ margin: 0 }}</style></head>"
        f"<body><p>{text}</p></body></html>"
    ).encode("utf-8")


def make_corpus(seed: int, n_docs: int = N_DOCS) -> Corpus:
    rng = np.random.default_rng([seed, 1])
    words = _vocabulary(rng)
    p = np.arange(1, VOCAB + 1, dtype=np.float64) ** -ZIPF_S
    cdf = np.cumsum(p / p.sum())
    n_dup = int(round(n_docs * DUP_FRAC / (1.0 - DUP_FRAC)))

    tok, off = _docs(rng, n_docs, cdf)
    old_tok, old_off = _docs(rng, n_dup, cdf)
    texts = _render(words, tok, off)
    old_texts = _render(words, old_tok, old_off)

    host_p = np.arange(1, N_HOSTS + 1, dtype=np.float64) ** -1.0
    host_idx = rng.choice(N_HOSTS, size=n_docs, p=host_p / host_p.sum())
    hosts = [f"h{h:02d}.example.org" for h in host_idx]
    lang_idx = rng.choice(len(LANGS), size=n_docs, p=LANG_P)
    langs = [LANGS[i] for i in lang_idx]
    path_ids = rng.permutation(n_docs * 4)[:n_docs]
    urls = [f"https://{h}/{lang}/{pid}" for h, lang, pid in zip(hosts, langs, path_ids)]

    base = np.datetime64("2024-01-01T00:00:00", "s")
    ts = base + rng.integers(60 * 86400, 300 * 86400, size=n_docs).astype(
        "timedelta64[s]"
    )
    html_only = np.zeros(n_docs, dtype=bool)
    html_only[rng.choice(n_docs, int(round(n_docs * HTML_ONLY_FRAC)), replace=False)] = True
    dup_of = rng.choice(n_docs, n_dup, replace=False)
    dup_ts = ts[dup_of] - rng.integers(86400, 60 * 86400, size=n_dup).astype(
        "timedelta64[s]"
    )

    row_url = urls + [urls[i] for i in dup_of]
    row_lang = langs + [langs[i] for i in dup_of]
    row_ts = np.concatenate([ts, dup_ts])
    row_text = [None if h else t for t, h in zip(texts, html_only)] + old_texts
    row_html = [_html(t, h) for t, h in zip(texts, html_only)] + [
        _html(t, False) for t in old_texts
    ]
    order = rng.permutation(len(row_url))
    rows = {
        "url": [row_url[i] for i in order],
        "warc_ts": row_ts[order].astype("datetime64[us]"),
        "html": [row_html[i] for i in order],
        "text": [row_text[i] for i in order],
        "lang": [row_lang[i] for i in order],
    }

    doc_of_tok = np.repeat(np.arange(n_docs, dtype=np.int64), np.diff(off))
    pairs = np.unique(doc_of_tok * VOCAB + tok)
    df = np.bincount(pairs % VOCAB, minlength=VOCAB)
    return Corpus(
        words=words, urls=urls, langs=langs, hosts=hosts, texts=texts,
        tok=tok, tok_off=off, df=df, rows=rows,
        n_html_only=int(html_only.sum()), n_dup_rows=n_dup,
    )


def corpus_properties(c: Corpus) -> dict:
    """Measured input properties of a generated corpus."""
    cf = np.bincount(c.tok, minlength=VOCAB)
    ranked = np.sort(cf[cf > 0])[::-1]
    top = ranked[: min(1000, len(ranked))]
    slope = np.polyfit(np.log(np.arange(1, len(top) + 1)), np.log(top), 1)[0]
    dl = np.diff(c.tok_off)
    n_rows = len(c.rows["url"])
    return {
        "n_docs": c.n_docs,
        "n_input_rows": n_rows,
        "n_tokens": int(len(c.tok)),
        "text_bytes": c.text_bytes,
        "vocab_generated": VOCAB,
        "vocab_observed": int((cf > 0).sum()),
        "zipf_exponent_fit_top1000": round(float(-slope), 4),
        "doc_len_quartiles": [float(q) for q in np.percentile(dl, [25, 50, 75])],
        "dup_row_share": round(c.n_dup_rows / n_rows, 4),
        "html_only_row_share": round(c.n_html_only / n_rows, 4),
        "lang_shares": {
            lang: round(c.langs.count(lang) / c.n_docs, 4) for lang in LANGS
        },
    }


def term_bands(c: Corpus, hot_threshold: int) -> dict[str, np.ndarray]:
    """Vocabulary ranks by df band: head = df >= the index's hot threshold
    (the terms the build salts by doc range), tail = df < MID_MIN_DF."""
    return {
        "head": np.flatnonzero(c.df >= hot_threshold),
        "mid": np.flatnonzero((c.df >= MID_MIN_DF) & (c.df < hot_threshold)),
        "tail": np.flatnonzero((c.df >= 1) & (c.df < MID_MIN_DF)),
    }


def _band_term(rng, cand: np.ndarray, pool: np.ndarray | None = None) -> int:
    if pool is not None:
        inband = np.intersect1d(pool, cand, assume_unique=True)
        cand = inband if len(inband) else pool
    return int(cand[rng.integers(len(cand))])


def make_query_log(c: Corpus, seed: int, hot_threshold: int) -> list[dict]:
    """Seeded query log cycling through OP_CYCLE. The j-th op of a type has
    QUERY_LENS[j % 4] terms (PHRASE_LENS[j % 2] for a phrase), its t-th term
    comes from df band BANDS[(j + t) % 3], and a filtered op's predicate is
    on lang for j % 8 < 4, else on url host. bm25_and terms are drawn from one document so the
    conjunction matches; phrases are real 2- and 3-grams of a document;
    filtered queries carry a lang or url-host predicate. An op is marked
    ``repeat`` when an earlier op of the log is the same query."""
    rng = np.random.default_rng([seed, 2])
    bands = term_bands(c, hot_threshold)
    host_names = sorted(set(c.hosts), key=c.hosts.count, reverse=True)[:20]
    log: list[dict] = []
    seen: set[tuple] = set()
    for i in range(LOG_LEN):
        kind = OP_CYCLE[i % len(OP_CYCLE)]
        j = i // len(OP_CYCLE)
        doc = int(rng.integers(c.n_docs))
        dtoks = c.tok[c.tok_off[doc] : c.tok_off[doc + 1]]
        op = {"type": kind}
        if kind == "phrase":
            n = min(PHRASE_LENS[j % len(PHRASE_LENS)], len(dtoks))
            s = int(rng.integers(len(dtoks) - n + 1))
            ranks = [int(r) for r in dtoks[s : s + n]]
        else:
            n = QUERY_LENS[j % len(QUERY_LENS)]
            pool = np.unique(dtoks) if kind == "bm25_and" else None
            ranks = []
            for _ in range(n * 4):
                if len(ranks) == n:
                    break
                band = BANDS[(j + len(ranks)) % len(BANDS)]
                r = _band_term(rng, bands[band], pool)
                if r not in ranks:
                    ranks.append(r)
        op["query"] = " ".join(c.words[r] for r in ranks)
        op["ranks"] = ranks
        if kind == "filtered":
            if j % 8 < 4:
                op["pred"] = ["lang", LANGS[rng.integers(len(LANGS))]]
            else:
                op["pred"] = ["host", host_names[rng.integers(len(host_names))]]
        key = (kind, op["query"], tuple(op.get("pred") or ()))
        op["repeat"] = key in seen
        seen.add(key)
        log.append(op)
    return log


def allowed_docs(c: Corpus, pred) -> np.ndarray:
    """Boolean mask over docs for a filtered op's predicate."""
    col, val = pred
    vals = c.langs if col == "lang" else c.hosts
    return np.fromiter((v == val for v in vals), dtype=bool, count=c.n_docs)


def log_properties(c: Corpus, ops: list[dict], hot_threshold: int) -> dict:
    """Measured properties of the operations a run executed."""
    if not ops:
        return {}
    n = len(ops)
    lens = [len(op["ranks"]) for op in ops]
    filt = [allowed_docs(c, op["pred"]).mean() for op in ops if op["type"] == "filtered"]
    return {
        "n_ops": n,
        "type_mix": {t: round(sum(op["type"] == t for op in ops) / n, 4)
                     for t in dict.fromkeys(op["type"] for op in ops)},
        "head_term_query_share": round(
            sum(any(c.df[r] >= hot_threshold for r in op["ranks"]) for op in ops) / n, 4
        ),
        "query_len_mix": {k: round(lens.count(k) / n, 4) for k in sorted(set(lens))},
        "repeated_query_share": round(sum(op["repeat"] for op in ops) / n, 4),
        "filter_selectivity_mean": round(float(np.mean(filt)), 4) if filt else None,
        "filter_selectivity_range": [round(float(min(filt)), 4), round(float(max(filt)), 4)]
        if filt else None,
    }
