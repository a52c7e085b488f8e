"""Codec unit + property tests (SURVEY.md §5.2: roundtrip identity on
adversarial gap distributions)."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from engine.build import _row_deltas
from engine.codec import (
    bm25_tf_norm,
    decode_concat,
    delta_decode_blocks,
    encode_blocks,
    for_decode,
    for_encode,
    idf,
    varint_decode,
    varint_encode,
)


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
        assert (for_decode(for_encode(a), len(a)) == a).all()


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

        from engine.codec import pfor_decode, pfor_encode

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
                got = pfor_decode(buf, len(v))
                assert (got == v).all(), (w, v[:8])

    def test_encode_blocks_picks_pfor_on_outliers(self):
        import numpy as np

        from engine.codec import (
            CODEC_PFOR,
            decode_concat,
            encode_blocks,
            for_encode,
            varint_encode,
        )

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
        assert len(buf) < min(len(varint_encode(v)), len(for_encode(v)))
        assert (decode_concat([c], [buf], [len(v)]) == v).all()

    @given(
        st.lists(
            st.integers(min_value=0, max_value=2**63),
            min_size=1,
            max_size=300,
        ),
        st.integers(min_value=1, max_value=64),
    )
    @settings(deadline=None, max_examples=200)
    def test_encode_blocks_roundtrip_any_codec_mix(self, vals, bs):
        import numpy as np

        from engine.codec import decode_concat, encode_blocks

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
        st.lists(
            st.integers(min_value=0, max_value=2**63),
            min_size=1,
            max_size=300,
        ),
        st.integers(min_value=1, max_value=64),
    )
    @settings(deadline=None, max_examples=200)
    def test_chosen_codec_is_argmin_of_actual_sizes(self, vals, bs):
        import numpy as np

        from engine.codec import (
            CODEC_FOR,
            CODEC_PFOR,
            CODEC_VARINT,
            _pfor_width,
            encode_blocks,
            for_encode,
            pfor_encode,
            varint_encode,
        )

        v = np.asarray(vals, dtype=np.uint64)
        starts = np.arange(0, len(v), bs, dtype=np.int64)
        codecs, bufs = encode_blocks(v, starts)
        ends = np.append(starts[1:], len(v))
        for i, (s, e) in enumerate(zip(starts, ends)):
            blk = v[s:e]
            actual = {
                CODEC_VARINT: len(varint_encode(blk)),
                CODEC_FOR: len(for_encode(blk)),
                CODEC_PFOR: len(pfor_encode(blk, _pfor_width(blk))),
            }
            chosen = codecs[i]
            assert len(bufs[i]) == actual[chosen]  # prediction == reality
            assert actual[chosen] == min(actual.values()), (
                blk[:8], actual, chosen
            )

    def test_early_clustered_exceptions(self):
        """The adversarial shape for the old bound: all exceptions at the
        block head → tiny position deltas, but the bound priced each at
        varint_size(block_len). PFor must now win when it actually is
        smallest."""
        import numpy as np

        from engine.codec import (
            _pfor_width,
            decode_concat,
            encode_blocks,
            for_encode,
            pfor_encode,
            varint_encode,
        )

        blk = np.concatenate(
            [
                np.full(6, np.uint64(1) << np.uint64(40)),  # clustered head
                np.full(250, 3, dtype=np.uint64),
            ]
        )
        codecs, bufs = encode_blocks(blk, np.asarray([0], dtype=np.int64))
        actual = {
            0: len(varint_encode(blk)),
            1: len(for_encode(blk)),
            2: len(pfor_encode(blk, _pfor_width(blk))),
        }
        assert len(bufs[0]) == actual[codecs[0]] == min(actual.values())
        got = decode_concat(codecs, bufs, [len(blk)])
        assert (got == blk).all()
