"""Codec round-trip + skip-pointer/block-max consistency (SURVEY §5.4-5.5),
including hypothesis property tests for random ascending lists."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from visigoth_spark.codec import (
    BLOCK_SIZE,
    decode_block,
    decode_docid_groups,
    decode_docids,
    decode_groups,
    decode_segment,
    decode_skips,
    encode_segment,
    tf_norm,
    vb_decode,
    vb_encode,
)


class TestVarbyte:
    def test_known_values(self):
        vals = np.array([0, 1, 127, 128, 300, 2**20, 2**40, 2**63 - 1],
                        dtype=np.uint64)
        buf, offs = vb_encode(vals)
        assert list(vb_decode(buf)) == list(vals)
        # 0..127 -> 1 byte; 128 -> 2 bytes
        assert offs[1] - offs[0] == 1
        assert offs[3] - offs[2] == 1
        assert offs[4] - offs[3] == 2

    def test_empty(self):
        buf, offs = vb_encode(np.zeros(0, dtype=np.uint64))
        assert len(buf) == 0
        assert len(vb_decode(buf)) == 0

    @given(
        st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=500)
    )
    @settings(max_examples=100, deadline=None)
    def test_roundtrip_property(self, vals):
        arr = np.array(vals, dtype=np.uint64)
        buf, _ = vb_encode(arr)
        assert list(vb_decode(buf)) == vals


def _random_postings(rng, n, max_docid=10**7):
    max_gap = max(2, max_docid // max(n, 1))
    gaps = rng.randint(1, max_gap + 1, size=n).astype(np.int64)
    docids = np.cumsum(gaps) - 1
    tfs = rng.randint(1, 50, size=n).astype(np.int64)
    dls = rng.randint(20, 600, size=n).astype(np.int64)
    return docids, tfs, dls


class TestSegment:
    def test_roundtrip_small(self):
        docids = np.array([0, 3, 4, 100, 10**6], dtype=np.int64)
        tfs = np.array([1, 2, 3, 4, 5], dtype=np.int64)
        dls = np.array([20, 30, 40, 50, 60], dtype=np.int64)
        blob, skips = encode_segment(docids, tfs, dls)
        d2, t2, l2 = decode_segment(blob)
        assert list(d2) == list(docids)
        assert list(t2) == list(tfs)
        assert list(l2) == list(dls)

    def test_roundtrip_multiblock(self):
        rng = np.random.RandomState(7)
        docids, tfs, dls = _random_postings(rng, 1000)
        blob, skips = encode_segment(docids, tfs, dls)
        d2, t2, l2 = decode_segment(blob)
        np.testing.assert_array_equal(d2, docids)
        np.testing.assert_array_equal(t2, tfs)
        np.testing.assert_array_equal(l2, dls)

    def test_df_one(self):
        blob, skips = encode_segment(
            np.array([42], dtype=np.int64),
            np.array([7], dtype=np.int64),
            np.array([100], dtype=np.int64),
        )
        d, t, l = decode_segment(blob)
        assert (list(d), list(t), list(l)) == ([42], [7], [100])

    def test_base_anchoring(self):
        # follow-on segment: deltas relative to the previous segment's last
        docids = np.array([500, 600], dtype=np.int64)
        blob, _ = encode_segment(
            docids, np.ones(2, dtype=np.int64), np.ones(2, dtype=np.int64) * 30,
            base=499,
        )
        d, _, _ = decode_segment(blob, base=499)
        assert list(d) == [500, 600]

    def test_strictly_ascending_enforced(self):
        with pytest.raises(AssertionError):
            encode_segment(
                np.array([5, 5], dtype=np.int64),
                np.ones(2, dtype=np.int64),
                np.ones(2, dtype=np.int64),
            )


class TestSkipsAndBlockMax:
    def test_skip_structure(self):
        rng = np.random.RandomState(11)
        n = BLOCK_SIZE * 3 + 17
        docids, tfs, dls = _random_postings(rng, n)
        blob, skips_b = encode_segment(docids, tfs, dls)
        skips = decode_skips(skips_b)
        assert len(skips) == 4
        assert skips[-1]["n"] == 17
        # last_docid per block matches the real data
        for i, sk in enumerate(skips):
            hi = min(n, (i + 1) * BLOCK_SIZE)
            assert sk["last_docid"] == docids[hi - 1]

    def test_block_random_access(self):
        rng = np.random.RandomState(13)
        n = BLOCK_SIZE * 4 + 5
        docids, tfs, dls = _random_postings(rng, n)
        blob, skips_b = encode_segment(docids, tfs, dls)
        skips = decode_skips(skips_b)
        for i in range(len(skips)):
            d, t, l = decode_block(blob, skips, i)
            lo, hi = i * BLOCK_SIZE, min(n, (i + 1) * BLOCK_SIZE)
            np.testing.assert_array_equal(d, docids[lo:hi])
            np.testing.assert_array_equal(t, tfs[lo:hi])
            np.testing.assert_array_equal(l, dls[lo:hi])

    def test_block_max_is_upper_bound(self):
        rng = np.random.RandomState(17)
        docids, tfs, dls = _random_postings(rng, 500)
        blob, skips_b = encode_segment(docids, tfs, dls)
        skips = decode_skips(skips_b)
        # (max_tf, min_dl) bound dominates per-posting norms for ANY avgdl
        for avgdl in (50.0, 310.0, 5000.0):
            norms = tf_norm(tfs.astype(float), dls.astype(float), avgdl)
            for i, sk in enumerate(skips):
                lo, hi = i * BLOCK_SIZE, min(500, (i + 1) * BLOCK_SIZE)
                bound = tf_norm(float(sk["max_tf"]), float(sk["min_dl"]), avgdl)
                assert bound >= norms[lo:hi].max() - 1e-12

    @given(st.integers(min_value=1, max_value=2000), st.integers(0, 2**31))
    @settings(max_examples=30, deadline=None)
    def test_roundtrip_property(self, n, seed):
        rng = np.random.RandomState(seed % 2**31)
        docids, tfs, dls = _random_postings(rng, min(n, 2000), max_docid=10**9)
        blob, _ = encode_segment(docids, tfs, dls)
        d, t, l = decode_segment(blob)
        np.testing.assert_array_equal(d, docids)
        np.testing.assert_array_equal(t, tfs)
        np.testing.assert_array_equal(l, dls)


class TestDecodeGroups:
    """The batch decode equals per-blob decode_segment / decode_docids
    exactly, over the shapes that take different varbyte branches."""

    @staticmethod
    def _blobs(rng, n_blobs):
        blobs = []
        for i in range(n_blobs):
            n = int(rng.choice([1, 2, BLOCK_SIZE - 1, BLOCK_SIZE + 1,
                                3 * BLOCK_SIZE + 7, rng.randint(1, 600)]))
            # first docids >= 2^49 take _n_bytes' big-value branch; 2^62
            # starts overflow the global delta sum across a few blobs
            first = int(rng.choice([0, 2**49 - 3, 2**49 + rng.randint(2**40),
                                    2**62]))
            gaps = rng.randint(1, 1 << rng.randint(1, 30), size=n)
            docids = first + np.cumsum(gaps).astype(np.int64) - 1
            # multi-byte tfs and doclens (up to 3 and 5 varbyte bytes)
            tfs = rng.randint(1, 1 << rng.randint(1, 20), size=n)
            dls = rng.randint(1, 1 << rng.randint(1, 32), size=n)
            blob, _ = encode_segment(docids, tfs, dls)
            # Spark Rows carry bytearray, Arrow batches bytes
            blobs.append(bytearray(blob) if i % 2 else blob)
        return blobs

    @pytest.mark.parametrize("seed", range(25))
    def test_equals_per_blob_decode(self, seed):
        rng = np.random.RandomState(seed)
        for n_blobs in (0, 1, rng.randint(2, 40)):
            blobs = self._blobs(rng, n_blobs)
            per = [decode_segment(bytes(b)) for b in blobs]
            ids, tfs, dls, starts, n = decode_groups(blobs)
            assert n.tolist() == [len(p[0]) for p in per]
            assert starts.tolist() == (np.cumsum(n) - n).tolist()
            for j, got in enumerate((ids, tfs, dls)):
                want = (np.concatenate([p[j] for p in per]) if per
                        else np.zeros(0, dtype=np.int64))
                assert got.dtype == np.int64
                np.testing.assert_array_equal(got, want)
            d_ids, d_starts, d_n = decode_docid_groups(blobs)
            want = (np.concatenate([decode_docids(bytes(b)) for b in blobs])
                    if blobs else np.zeros(0, dtype=np.int64))
            assert d_ids.dtype == np.int64
            np.testing.assert_array_equal(d_ids, want)
            np.testing.assert_array_equal(d_starts, starts)
            np.testing.assert_array_equal(d_n, n)

    def test_base_anchoring(self):
        blob, _ = encode_segment(np.array([500, 502]), np.array([1, 2]),
                                 np.array([3, 4]), base=499)
        ids, _, _, _, _ = decode_groups([blob, blob], base=499)
        assert ids.tolist() == [500, 502, 500, 502]
        assert decode_docid_groups([blob], base=499)[0].tolist() == [500, 502]
