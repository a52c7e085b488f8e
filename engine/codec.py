"""Posting-block codec: delta + varint (LEB128) or bit-packed compression
with per-block max-score metadata (SURVEY.md §2.B8; BASELINE.json:6
"delta-encoded varint/PForDelta-compressed posting blocks with per-block
max-score").

All codecs are numpy-vectorized (no per-element Python in the hot loop) and
pure — unit/property-tested for encode∘decode == identity on adversarial gap
distributions (SURVEY.md §5.2).

Two layouts, three codecs, chosen per block by exact predicted size:
- ``varint``: LEB128 unsigned, byte-aligned — robust default.
- bit-packed, ``[w:1B][n·w-bit little-endian body][PFOR tail]``:
  - ``for``: frame-of-reference, w = the block's full bit width, no tail;
  - ``pfor``: patched frame-of-reference (PForDelta, Zukowski et al. 2006):
    w = the 90th-percentile bit length, and the outliers' high bits are
    patched from a varint exception tail — wins on outlier-heavy gap
    distributions where one large gap would otherwise force FOR's width
    up or varint's bytes.
One packer (``_pack``) writes both bit-packed codecs and one batched
unpacker (``_unpack``) reads every bit-packed block of a decode_concat call
in one pass. Values must be below 2^63 (w ≤ 63)."""

from __future__ import annotations

from itertools import compress

import numpy as np

_THRESHOLDS = [1 << (7 * i) for i in range(1, 10)]  # 2^7 .. 2^63


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a uint64 array, fully vectorized."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    n = v.size
    if n == 0:
        return b""
    nbytes = np.ones(n, dtype=np.int64)
    for t in _THRESHOLDS:
        nbytes += v >= t
    total = int(nbytes.sum())
    out = np.zeros(total, dtype=np.uint8)
    idx = np.cumsum(nbytes) - nbytes  # start offset of each value
    cur = v.copy()
    remaining = nbytes.copy()
    for _ in range(10):
        mask = remaining > 0
        if not mask.any():
            break
        byte = (cur[mask] & np.uint64(0x7F)).astype(np.uint8)
        more = (remaining[mask] > 1).astype(np.uint8)
        out[idx[mask]] = byte | (more << 7)
        cur[mask] >>= np.uint64(7)
        idx[mask] += 1
        remaining[mask] -= 1
    return out.tobytes()


def varint_decode(buf: bytes) -> np.ndarray:
    """Decode LEB128 bytes → uint64 array, vectorized via group scatter-add."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_last = (b & 0x80) == 0
    grp = np.zeros(b.size, dtype=np.int64)
    grp[1:] = np.cumsum(is_last[:-1])
    n_vals = int(is_last.sum())
    starts = np.flatnonzero(np.concatenate(([True], is_last[:-1])))
    pos = np.arange(b.size, dtype=np.int64) - starts[grp]
    contrib = (b & np.uint8(0x7F)).astype(np.uint64) << (
        np.uint64(7) * pos.astype(np.uint64)
    )
    vals = np.zeros(n_vals, dtype=np.uint64)
    np.add.at(vals, grp, contrib)
    return vals


CODEC_VARINT = 0
CODEC_FOR = 1
CODEC_PFOR = 2


def _pack(v: np.ndarray, w: int) -> bytes:
    """The low ``w`` bits of each uint64 value, packed little-endian: bit i
    of value j is bit j·w + i of the ceil(n·w/8)-byte body."""
    if w == 0:
        return b""
    bits = np.unpackbits(v.astype("<u8").view(np.uint8), bitorder="little")
    return np.packbits(bits.reshape(-1, 64)[:, :w], bitorder="little").tobytes()


def pfor_encode(values: np.ndarray, w: int) -> bytes:
    """Patched frame-of-reference (PForDelta, Zukowski et al. 2006): pack
    every value's low ``w`` bits fixed-width, then patch the outliers.
    Layout: [w:1B][packed low bits: ceil(n·w/8)B][varint tail: n_exc,
    exception positions (delta, first absolute), exception high bits
    (v >> w, nonzero by construction)]. The fixed-size body comes first so
    the self-delimiting varint tail needs no length prefix."""
    if not 0 <= w <= 63:
        raise ValueError(f"pfor_encode: width must be in 0..63, got {w}")
    v = np.ascontiguousarray(values, dtype=np.uint64)
    high = v >> np.uint64(w)
    pos = np.flatnonzero(high)
    head = np.concatenate(([len(pos)], pos[:1], np.diff(pos)))
    tail = varint_encode(np.concatenate((head.astype(np.uint64), high[pos])))
    return bytes([w]) + _pack(v, w) + tail


def _unpack(bufs: list[bytes], ns: np.ndarray) -> np.ndarray:
    """Decode bit-packed blocks (FOR or PFOR, every n > 0) → one
    concatenated uint64 array, in one vectorized pass. Each value is read
    from the 9 bytes its bits start in: the little-endian 64-bit word
    there shifted right by the bit offset, the 9th byte shifted in above
    it, masked to w bits — exact for w ≤ 63. The PFOR tails are joined
    and decoded by one varint pass, and their exception highs ORed in."""
    raw = b"".join(bufs) + bytes(9)
    b = np.frombuffer(raw, np.uint8)
    lens = np.fromiter(map(len, bufs), np.int64, len(bufs))
    start = np.cumsum(lens) - lens
    w = b[start].astype(np.int64)
    body = (ns * w + 7) // 8
    out_start = np.cumsum(ns) - ns
    blk = np.repeat(np.arange(len(bufs)), ns)
    # every value's bit offset in raw: body start + j·w
    bit = 8 * (start + 1)[blk] + (np.arange(len(blk)) - out_start[blk]) * w[blk]
    at, s = bit >> 3, (bit & 7).astype(np.uint64)
    # the unaligned little-endian 64-bit word at each byte offset of raw
    word = np.ndarray((len(raw) - 7,), "<u8", raw, 0, (1,))[at]
    ninth = b[at + 8].astype(np.uint64) << (np.uint64(63) - s) << np.uint64(1)
    wu = w.astype(np.uint64)
    out = ((word >> s) | ninth) & ((np.uint64(1) << wu[blk]) - np.uint64(1))
    tl = lens - 1 - body  # tail bytes (none for FOR)
    t = np.flatnonzero(tl > 0)
    if not len(t):
        return out
    t_at = np.cumsum(tl[t]) - tl[t]  # each tail's offset in the joined tails
    tails = b[np.repeat(start[t] + 1 + body[t] - t_at, tl[t])
              + np.arange(int(tl[t].sum()))]
    vals = varint_decode(tails)
    # each tail's first value index: the terminator bytes before it
    first = np.concatenate(([0], np.cumsum(tails < 0x80)))[t_at]
    n_exc = vals[first].astype(np.int64)
    seg = np.repeat(np.cumsum(n_exc) - n_exc, n_exc)
    e = np.repeat(first + 1, n_exc) + np.arange(len(seg)) - seg
    d = vals[e].astype(np.int64)
    c = np.cumsum(d)
    pos = c - (c - d)[seg]  # block-local positions: segmented cumsum
    eb = np.repeat(t, n_exc)
    out[out_start[eb] + pos] |= vals[e + np.repeat(n_exc, n_exc)] << wu[eb]
    return out


def _pfor_width(values: np.ndarray) -> int:
    """Candidate patch width of one block: the 90th-percentile bit length
    (standard PForDelta heuristic — ~10% exceptions max). encode_blocks
    computes the same width for every block at once; this per-block form
    is the reference it is checked against."""
    bl = np.zeros(values.size, dtype=np.int64)
    nz = values > 0
    if nz.any():
        bl[nz] = (
            np.floor(np.log2(values[nz].astype(np.float64))).astype(np.int64)
            + 1
        )
        bl[nz] += (values[nz] >> bl[nz].astype(np.uint64)) > 0
    return int(min(63, np.percentile(bl, 90, method="lower")))


def bm25_tf_norm(
    tfs: np.ndarray, dls: np.ndarray, k1: float, b: float, avgdl: float
) -> np.ndarray:
    """Per-posting BM25 tf normalization (float64): tf(k1+1)/(tf + k1(1-b+b·dl/avgdl)).
    Multiplied by idf it gives the posting's score contribution; its block max
    is the stored block-max metadata (SURVEY.md §2.B8/B13)."""
    tf = tfs.astype(np.float64)
    dl = dls.astype(np.float64)
    return tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))


def idf(N: int, df: np.ndarray | int) -> np.ndarray | float:
    """Lucene BM25 idf: ln(1 + (N - df + 0.5)/(df + 0.5)) (SURVEY.md §2.B13)."""
    dfa = np.asarray(df, dtype=np.float64)
    out = np.log(1.0 + (N - dfa + 0.5) / (dfa + 0.5))
    return float(out) if out.ndim == 0 else out


def decode_concat(codecs, bufs, ns) -> np.ndarray:
    """Decode many blocks of any codec mix in bulk → one concatenated
    uint64 array in block order: one varint pass over the joined varint
    blocks (LEB128 is self-delimiting) and one _unpack pass over every
    bit-packed (FOR or PFOR) block. Blocks with n = 0 add nothing."""
    ns = np.asarray(ns, dtype=np.int64)
    out = np.empty(int(ns.sum()), dtype=np.uint64)
    vi = np.asarray(codecs) == CODEC_VARINT
    var, packed = vi & (ns > 0), ~vi & (ns > 0)
    if var.any():
        out[np.repeat(var, ns)] = varint_decode_concat(compress(bufs, var))
    if packed.any():
        out[np.repeat(packed, ns)] = _unpack(list(compress(bufs, packed)),
                                             ns[packed])
    return out


def delta_decode_blocks(gaps_concat: np.ndarray, ns) -> np.ndarray:
    """Vectorized per-block delta reconstruction over concatenated gap
    arrays (each block's first value is absolute)."""
    ns = np.asarray(ns, dtype=np.int64)
    s = np.cumsum(gaps_concat, dtype=np.uint64)
    starts = np.concatenate(([0], np.cumsum(ns[:-1])))
    base = s[starts] - gaps_concat[starts]
    return s - np.repeat(base, ns)


def varint_sizes(values: np.ndarray) -> np.ndarray:
    """Per-value LEB128 byte counts (analytic, no encoding)."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    nbytes = np.ones(v.size, dtype=np.int64)
    for t in _THRESHOLDS:
        nbytes += v >= t
    return nbytes


def varint_encode_rows(values: np.ndarray, starts: np.ndarray) -> list[bytes]:
    """Varint-encode a flat value stream split into rows at `starts` (index
    array, first element 0): ONE whole-stream encode pass, sliced at per-row
    byte offsets. Used for transit encoding of shuffle payloads (SPIMI
    partials) — ~4-6x fewer shuffle bytes than int64 arrays."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if v.size == 0:
        return []
    starts = np.asarray(starts, dtype=np.int64)
    ends = np.append(starts[1:], v.size)
    csum = np.concatenate(([0], np.cumsum(varint_sizes(v))))
    full = varint_encode(v)
    return [full[csum[s]:csum[e]] for s, e in zip(starts, ends)]


def varint_decode_concat(bufs) -> np.ndarray:
    """Decode many varint buffers in one vectorized pass (LEB128 is
    self-delimiting) → one concatenated uint64 array in buffer order."""
    return varint_decode(b"".join(bufs))


def encode_blocks(values: np.ndarray, starts: np.ndarray) -> tuple[list[int], list[bytes]]:
    """Encode a group's value stream split into blocks at `starts` (index
    array, first element 0). Codec choice per block is analytic (predicted
    varint size vs FOR size — nothing encoded twice); varint blocks are
    produced by ONE whole-group encode pass sliced at block byte offsets.
    Returns (codecs, buffers) per block. Values must be below 2^63: a
    bit-packed block's width byte and _unpack's window assume w ≤ 63."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    n = v.size
    if n == 0:
        return [], []
    if int(v.max()) >> 63:
        raise ValueError("encode_blocks: values must be below 2**63")
    starts = np.asarray(starts, dtype=np.int64)
    ends = np.append(starts[1:], n)
    sizes = varint_sizes(v)
    csum = np.concatenate(([0], np.cumsum(sizes)))
    vi_block = csum[ends] - csum[starts]  # varint bytes per block
    lens = ends - starts
    # per-value bit lengths (exact, float-log2 with power-of-two fixup)
    bl = np.zeros(n, dtype=np.int64)
    nzv = v > 0
    if nzv.any():
        bl[nzv] = np.floor(np.log2(v[nzv].astype(np.float64))).astype(np.int64) + 1
        bl[nzv] += (v[nzv] >> bl[nzv].astype(np.uint64)) > 0
    # FOR bytes per block: 1 header + ceil(len * bitwidth(max) / 8)
    width = np.maximum.reduceat(bl, starts)
    fo_block = 1 + (lens * width + 7) // 8
    # PFor candidate width per block: 90th-percentile bit length (standard
    # patched-FOR heuristic) via one lexsort over (block, bit length)
    blk_of = np.repeat(np.arange(len(starts), dtype=np.int64), lens)
    bl_sorted = bl[np.lexsort((bl, blk_of))]
    w_blk = np.minimum(
        bl_sorted[starts + ((lens - 1) * 9) // 10], 63
    ).astype(np.int64)
    wv = w_blk[blk_of].astype(np.uint64)
    high = v >> wv
    exc = high > 0
    n_exc = np.add.reduceat(exc.astype(np.int64), starts)
    high_bytes = np.add.reduceat(
        np.where(exc, varint_sizes(high), 0), starts
    )
    # exact position-bytes: varint-size the exception-position delta stream
    # pfor_encode actually writes (block-local positions, first absolute,
    # then gaps) and sum per block — one more reduceat makes the whole
    # pf_block prediction EXACT, so the chosen codec is exactly the argmin
    # of the real encoded sizes (the old per-exception upper bound could
    # misprice blocks whose exceptions cluster early)
    pos_bytes = np.zeros(len(starts), dtype=np.int64)
    eidx = np.flatnonzero(exc)
    if len(eidx):
        eblk = blk_of[eidx]
        p = eidx - starts[eblk]
        pdl = p.copy()
        same = np.zeros(len(eidx), dtype=bool)
        same[1:] = eblk[1:] == eblk[:-1]
        si = np.flatnonzero(same)
        pdl[si] = p[si] - p[si - 1]
        estarts = np.flatnonzero(~same)
        pos_bytes[eblk[estarts]] = np.add.reduceat(
            varint_sizes(pdl.astype(np.uint64)), estarts
        )
    pf_block = (
        1 + (lens * w_blk + 7) // 8
        + varint_sizes(n_exc.astype(np.uint64))
        + pos_bytes + high_bytes
    )
    use_for = fo_block < vi_block
    use_pfor = pf_block < np.minimum(fo_block, vi_block)
    full = varint_encode(v)
    codecs: list[int] = []
    bufs: list[bytes] = []
    for i in range(len(starts)):
        if use_pfor[i]:
            codecs.append(CODEC_PFOR)
            bufs.append(pfor_encode(v[starts[i]:ends[i]], int(w_blk[i])))
        elif use_for[i]:
            # FOR: the bit-packed layout at the block's full width, no tail
            codecs.append(CODEC_FOR)
            bufs.append(bytes([width[i]]) + _pack(v[starts[i]:ends[i]],
                                                  int(width[i])))
        else:
            codecs.append(CODEC_VARINT)
            bufs.append(full[csum[starts[i]]:csum[ends[i]]])
    return codecs, bufs
