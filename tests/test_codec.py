"""Codec unit + property tests (SURVEY.md §5.2: roundtrip identity on
adversarial gap distributions)."""

from __future__ import annotations

import numpy as np
from hypothesis import example, given, settings
from hypothesis import strategies as st

from engine.build import _row_deltas
from engine.codec import (
    CODEC_FOR,
    CODEC_PFOR,
    CODEC_VARINT,
    _pack,
    bm25_tf_norm,
    decode_concat,
    delta_decode_blocks,
    encode_blocks,
    idf,
    pfor_encode,
    varint_decode,
    varint_encode,
)


def _for_block(a: np.ndarray) -> bytes:
    """A FOR block: the bit-packed layout at the values' full bit width,
    with no exception tail."""
    w = int(a.max()).bit_length() if len(a) else 0
    return bytes([w]) + _pack(a, w)


def _for_size(a: np.ndarray) -> int:
    """FOR's encoded size: 1 width byte + ceil(n·w/8) body bytes."""
    return 1 + (len(a) * int(a.max()).bit_length() + 7) // 8


def test_varint_roundtrip_basics():
    for arr in (
        [],
        [0],
        [1],
        [127],
        [128],
        [2**32],
        [2**63 - 1],
        [0, 0, 0],
        list(range(1000)),
    ):
        a = np.asarray(arr, dtype=np.uint64)
        assert (varint_decode(varint_encode(a)) == a).all()


def test_for_roundtrip_basics():
    for arr in ([], [0], [1], [7, 7, 7], list(range(129)), [2**40, 3]):
        a = np.asarray(arr, dtype=np.uint64)
        buf = _for_block(a)
        if len(a):
            assert len(buf) == _for_size(a)
        assert (decode_concat([CODEC_FOR], [buf], [len(a)]) == a).all()
        codecs, bufs = encode_blocks(a, np.zeros(1, dtype=np.int64))
        assert (decode_concat(codecs, bufs, [len(a)] * len(codecs)) == a).all()


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.integers(min_value=0, max_value=2**63 - 1), min_size=0, max_size=300
    )
)
def test_varint_roundtrip_property(vals):
    a = np.asarray(vals, dtype=np.uint64)
    assert (varint_decode(varint_encode(a)) == a).all()


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.integers(min_value=0, max_value=2**63 - 1), min_size=0, max_size=300
    )
)
def test_best_codec_roundtrip_property(vals):
    """One block through the build's codec chooser and the query decoder."""
    a = np.asarray(vals, dtype=np.uint64)
    codecs, bufs = encode_blocks(a, np.zeros(1, dtype=np.int64))
    assert (decode_concat(codecs, bufs, [len(a)] * len(codecs)) == a).all()


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.integers(min_value=0, max_value=2**40), min_size=1, max_size=200, unique=True
    ),
    st.integers(min_value=1, max_value=64),
)
def test_delta_roundtrip_property(ids, bs):
    """The build's per-block deltas (absolute first value per block) and
    the query's per-block delta reconstruction are inverses."""
    a = np.sort(np.asarray(ids, dtype=np.uint64))
    starts = np.arange(0, len(a), bs, dtype=np.int64)
    ns = np.diff(np.append(starts, len(a)))
    assert (delta_decode_blocks(_row_deltas(a, starts), ns) == a).all()


def test_block_max_is_upper_bound():
    rng = np.random.default_rng(7)
    tfs = rng.integers(1, 30, size=500)
    dls = rng.integers(10, 100, size=500)
    contrib = 2.0 * bm25_tf_norm(tfs, dls, 1.2, 0.75, 55.0)
    for lo in range(0, 500, 128):
        blk = contrib[lo : lo + 128]
        assert blk.max() >= blk.all()  # sanity
        assert (blk <= blk.max() + 1e-12).all()


def test_idf_matches_lucene_formula():
    assert abs(idf(500, 250) - np.log(1 + (500 - 250 + 0.5) / 250.5)) < 1e-12
    assert idf(500, 500) > 0  # never negative (Lucene BM25 property)


def test_batch_decode_matches_per_block():
    rng = np.random.default_rng(11)
    ids = np.sort(rng.choice(10**7, size=1000, replace=False)).astype(np.uint64)
    starts = np.arange(0, 1000, 128, dtype=np.int64)
    ns = np.diff(np.append(starts, 1000)).tolist()
    codecs, bufs = encode_blocks(_row_deltas(ids, starts), starts)
    got = delta_decode_blocks(decode_concat(codecs, bufs, ns), ns)
    assert (got == ids).all()
    for i, (lo, n) in enumerate(zip(starts, ns)):
        one = delta_decode_blocks(decode_concat([codecs[i]], [bufs[i]], [n]),
                                  [n])
        assert (one == got[lo : lo + n]).all()


class TestPFor:
    """Patched-FOR codec (round-3 verdict item 7)."""

    def test_roundtrip_outlier_distributions(self):
        import numpy as np

        rng = np.random.RandomState(7)
        cases = [
            np.asarray([0], dtype=np.uint64),
            np.zeros(128, dtype=np.uint64),
            np.asarray([1, 1, 1, 2**40, 1, 1], dtype=np.uint64),
            rng.randint(0, 16, 128).astype(np.uint64),
            np.where(
                rng.rand(128) < 0.05,
                rng.randint(1 << 30, 1 << 45, 128),
                rng.randint(0, 8, 128),
            ).astype(np.uint64),
            np.asarray([2**63 - 1 + 2**63], dtype=np.uint64),  # max uint64
        ]
        for v in cases:
            for w in (0, 1, 4, 13, 63):
                buf = pfor_encode(v, w)
                got = decode_concat([CODEC_PFOR], [buf], [len(v)])
                assert (got == v).all(), (w, v[:8])

    def test_encode_blocks_picks_pfor_on_outliers(self):
        import numpy as np

        # 124 tiny gaps + 4 huge outliers: FOR pays 45 bits/value, varint
        # pays >=1 byte/value, patched-FOR pays ~4 bits + 4 patches
        v = np.concatenate(
            [
                np.full(124, 7, dtype=np.uint64),
                np.full(4, np.uint64(1) << np.uint64(44)),
            ]
        )
        (c,), (buf,) = encode_blocks(v, np.zeros(1, dtype=np.int64))
        assert c == CODEC_PFOR
        assert len(buf) < min(len(varint_encode(v)), _for_size(v))
        assert (decode_concat([c], [buf], [len(v)]) == v).all()

    @given(
        st.lists(  # encode_blocks takes values below 2**63
            st.integers(min_value=0, max_value=2**63 - 1),
            min_size=1,
            max_size=300,
        ),
        st.integers(min_value=1, max_value=64),
    )
    @settings(deadline=None, max_examples=200)
    def test_encode_blocks_roundtrip_any_codec_mix(self, vals, bs):
        import numpy as np

        v = np.asarray(vals, dtype=np.uint64)
        starts = np.arange(0, len(v), bs, dtype=np.int64)
        codecs, bufs = encode_blocks(v, starts)
        ns = np.diff(np.append(starts, len(v)))
        got = decode_concat(codecs, bufs, ns.tolist())
        assert (got == v).all()


class TestExactCodecChoice:
    """Round-4 advice item: encode_blocks' batched size prediction is now
    EXACT (the position-bytes term varint-sizes the real exception-delta
    stream), so the chosen codec per block must be the argmin of the three
    actual encoded sizes — including adversarial early-clustered-exception
    blocks the old upper bound mispriced."""

    @given(
        st.lists(  # encode_blocks takes values below 2**63
            st.integers(min_value=0, max_value=2**63 - 1),
            min_size=1,
            max_size=300,
        ),
        st.integers(min_value=1, max_value=64),
    )
    # 2**54 - 45 rounds up to 2**54 as a float64: its bit length (54) must
    # not be read off float log2 as 55
    @example(vals=[2**49, 2**54 - 45], bs=2)
    @settings(deadline=None, max_examples=200)
    def test_chosen_codec_is_argmin_of_actual_sizes(self, vals, bs):
        import numpy as np

        from engine.codec import _pfor_width

        v = np.asarray(vals, dtype=np.uint64)
        starts = np.arange(0, len(v), bs, dtype=np.int64)
        codecs, bufs = encode_blocks(v, starts)
        ends = np.append(starts[1:], len(v))
        for i, (s, e) in enumerate(zip(starts, ends)):
            blk = v[s:e]
            encoded = {
                CODEC_VARINT: varint_encode(blk),
                CODEC_FOR: _for_block(blk),
                CODEC_PFOR: pfor_encode(blk, _pfor_width(blk)),
            }
            actual = {c: len(b) for c, b in encoded.items()}
            chosen = codecs[i]
            assert bufs[i] == encoded[chosen]  # prediction == reality
            assert actual[chosen] == min(actual.values()), (
                blk[:8], actual, chosen
            )

    def test_early_clustered_exceptions(self):
        """The adversarial shape for the old bound: all exceptions at the
        block head → tiny position deltas, but the bound priced each at
        varint_size(block_len). PFor must now win when it actually is
        smallest."""
        import numpy as np

        from engine.codec import _pfor_width

        blk = np.concatenate(
            [
                np.full(6, np.uint64(1) << np.uint64(40)),  # clustered head
                np.full(250, 3, dtype=np.uint64),
            ]
        )
        codecs, bufs = encode_blocks(blk, np.asarray([0], dtype=np.int64))
        actual = {
            0: len(varint_encode(blk)),
            1: _for_size(blk),
            2: len(pfor_encode(blk, _pfor_width(blk))),
        }
        assert len(bufs[0]) == actual[codecs[0]] == min(actual.values())
        got = decode_concat(codecs, bufs, [len(blk)])
        assert (got == blk).all()


class TestBatchedUnpack:
    """FOR and PFOR share one bit-packed layout, [w][n·w-bit body][PFOR
    exception tail], so one decode_concat call unpacks any mix of blocks
    in one pass. Checked against the encoded values themselves."""

    @staticmethod
    def _block(kind: str, vals, w: int):
        """(codec, buffer) of one block of `vals`, built as `kind` says:
        varint, FOR, PFOR at width `w`, or encode_blocks' own choice."""
        a = np.asarray(vals, dtype=np.uint64)
        if kind == "varint":
            return CODEC_VARINT, varint_encode(a)
        if kind == "for":
            return CODEC_FOR, _for_block(a)
        if kind == "pfor":
            return CODEC_PFOR, pfor_encode(a, w)
        (c,), (b,) = encode_blocks(a, np.zeros(1, dtype=np.int64)) if len(a) \
            else ([CODEC_VARINT], [b""])
        return c, b

    def _check(self, blocks):
        """One decode_concat call over (kind, values, w) blocks."""
        cb = [self._block(*blk) for blk in blocks]
        want = np.asarray([v for _, vals, _ in blocks for v in vals],
                          dtype=np.uint64)
        got = decode_concat([c for c, _ in cb], [b for _, b in cb],
                            [len(vals) for _, vals, _ in blocks])
        assert got.dtype == np.uint64 and (got == want).all()

    def test_every_width_in_one_call(self):
        """PFOR at every width 0–63, each with exceptions at its first and
        last position, between n = 0 blocks, all-zero (w = 0) FOR and
        PFOR blocks, a FOR block at width 63, varint blocks and
        encode_blocks' own choices."""
        rng = np.random.default_rng(5)
        blocks = [("for", [], 0), ("pfor", [], 7), ("varint", [], 0)]
        for w in range(64):
            low = rng.integers(0, 2**63, 17, dtype=np.uint64) >> np.uint64(
                63 - w) if w else np.zeros(17, dtype=np.uint64)
            low[0] = low[-1] = np.uint64(2**64 - 1)  # exceptions at both ends
            blocks += [("pfor", low.tolist(), w), ("pfor", [], w),
                       ("for", [0] * 5, 0), ("pfor", [0] * 3, 0),
                       ("varint", [w, 2**w], 0), ("auto", [w] * 9, 0)]
        blocks += [("for", [2**63 - 1, 0, 5], 0), ("pfor", [5, 0, 3], 0)]
        self._check(blocks)

    @given(st.lists(st.tuples(
        st.sampled_from(["varint", "for", "pfor", "auto"]),
        st.lists(st.one_of(st.integers(0, 15), st.integers(0, 2**63 - 1)),
                 max_size=40),
        st.integers(0, 63),
    ), max_size=12))
    @settings(deadline=None, max_examples=200)
    def test_mixed_blocks_property(self, blocks):
        self._check(blocks)

    def test_encode_blocks_bytes_pinned(self):
        """The codecs and buffers encode_blocks writes for a seeded stream
        of every codec (18 varint, 226 FOR and 356 PFOR blocks): the index
        format's bytes, pinned."""
        import hashlib

        rng = np.random.default_rng(16)
        lens = rng.integers(1, 130, 600)
        w = rng.integers(0, 63, 600)  # each block's base bit width
        v = rng.integers(0, 2**63 - 1, lens.sum(), dtype=np.uint64) >> \
            np.repeat(63 - w, lens).astype(np.uint64)
        out = rng.random(lens.sum()) < 0.05  # outliers up to 63 bits
        v[out] = rng.integers(0, 2**63 - 1, out.sum(), dtype=np.uint64) >> \
            rng.integers(0, 63, out.sum()).astype(np.uint64)
        starts = np.cumsum(lens) - lens
        codecs, bufs = encode_blocks(v, starts)
        assert np.bincount(codecs).tolist() == [18, 226, 356]
        h = hashlib.sha256(bytes(codecs))
        for b in bufs:
            h.update(len(b).to_bytes(4, "little") + b)
        assert h.hexdigest() == (
            "9645f74c2e78bed56d032c0f672a9838c1b1c97c1965a9dedd4720ccc208e46e")
        assert (decode_concat(codecs, bufs, lens) == v).all()

    def test_values_must_be_below_2_63(self):
        """The width byte and the unpacker's 9-byte window assume w ≤ 63:
        encode_blocks rejects 2^63 and round-trips 2^63 − 1, and
        pfor_encode rejects a width outside 0..63 — as ValueError, which,
        unlike an assert, also holds under python -O."""
        import pytest

        one = np.zeros(1, dtype=np.int64)
        with pytest.raises(ValueError):
            encode_blocks(np.asarray([3, 2**63], dtype=np.uint64), one)
        for a in ([2**63 - 1], [2**63 - 1] * 40, [1] * 40 + [2**63 - 1]):
            a = np.asarray(a, dtype=np.uint64)
            codecs, bufs = encode_blocks(a, one)
            assert (decode_concat(codecs, bufs, [len(a)]) == a).all()
        for w in (-1, 64):
            with pytest.raises(ValueError):
                pfor_encode(np.ones(4, dtype=np.uint64), w)
