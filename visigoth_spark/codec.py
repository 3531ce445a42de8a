"""Posting-list codec: delta + varbyte compression, skip pointers, block-max
metadata. Pure numpy — runs vectorized inside applyInPandas encode kernels and
query-time decode kernels (north_star: no per-row Python).

The reference keeps postings as plain ``[]int`` in memory
(``index_memory_index.go:17``); compression/skip/block-max are design targets
from BASELINE.json.north_rule, not reference behavior. Patterns follow the
public literature (block-max indexes / list-intersection, PAPERS.md).

Layout (little-endian throughout):
- ``blob``: three back-to-back varbyte streams — docid deltas (first value is
  the absolute first docid, or the delta from ``base`` when encoding a
  follow-on segment), term frequencies, per-doc analyzed lengths. A 16-byte
  header carries n_postings and the byte offsets of streams 2 and 3.
- ``skips``: one fixed-width record per block of BLOCK_SIZE postings:
  (last_docid:i8, off_ids:u4, off_tfs:u4, off_dls:u4, n:u4, max_tf:u4,
  min_dl:u4) where ``off_*`` are byte offsets of the block's first value
  within each stream. Block-max metadata is the raw pair (max_tf, min_dl):
  the BM25 tf-norm tf/(tf + k1*(1-b+b*dl/avgdl)) is increasing in tf and
  decreasing in dl, so norm(max_tf, min_dl, avgdl) computed at QUERY time
  (when avgdl is known) upper-bounds every posting in the block — this keeps
  the index build a single corpus scan (no pre-pass just to learn avgdl).

Batch kernels: :func:`encode_groups` encodes many segments and
:func:`decode_groups` decodes many blobs, each with ONE varbyte pass over
the concatenated streams, so the per-segment Python cost is a slice or a
``len``. Every whole-segment decode — compaction's postings pass, a term's
segments on either query route, the OR path's docid streams
(:func:`decode_docid_groups`) — goes through them. :func:`decode_segment`
and :func:`decode_docids` are the one-blob forms, kept as the reference the
batch kernels are tested against.
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128
BM25_K1 = 1.2
BM25_B = 0.75

_HEADER = np.dtype([("n", "<u4"), ("off_tfs", "<u4"), ("off_dls", "<u4"),
                    ("reserved", "<u4")])
SKIP_DTYPE = np.dtype(
    [("last_docid", "<i8"), ("off_ids", "<u4"), ("off_tfs", "<u4"),
     ("off_dls", "<u4"), ("n", "<u4"), ("max_tf", "<u4"), ("min_dl", "<u4")]
)


def tf_norm(tf, dl, avgdl: float):
    """BM25 tf-normalization tf/(tf + k1*(1-b+b*dl/avgdl)); numpy-friendly."""
    return tf / (tf + BM25_K1 * (1.0 - BM25_B + BM25_B * dl / max(avgdl, 1e-9)))

_THRESHOLDS = [np.uint64(1) << np.uint64(7 * i) for i in range(1, 10)]


def _n_bytes(vals: np.ndarray) -> np.ndarray:
    """Varbyte length per value: ceil(bit_length/7), min 1. Values below
    2^49 (the overwhelming case: deltas, tfs, doclens) use one float64
    exponent pass; only the rare huge values fall back to comparisons."""
    nb = np.empty(len(vals), dtype=np.int64)
    big = vals >= np.uint64(1) << np.uint64(49)
    exp = np.frexp(vals.astype(np.float64))[1]  # bit_length for exact floats
    np.maximum((exp + 6) // 7, 1, out=nb)
    if big.any():
        bv = vals[big]
        nbig = np.ones(len(bv), dtype=np.int64)
        for t in _THRESHOLDS:
            nbig += bv >= t
        nb[big] = nbig
    return nb


def vb_encode(vals: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Varbyte-encode a uint64 array. Returns (bytes_u8, start_offsets_u4)
    where start_offsets[i] is the byte offset of value i."""
    vals = np.ascontiguousarray(vals, dtype=np.uint64)
    if len(vals) == 0:
        return np.zeros(0, dtype=np.uint8), np.zeros(0, dtype=np.uint32)
    nb = _n_bytes(vals)
    offsets = np.zeros(len(vals) + 1, dtype=np.int64)
    np.cumsum(nb, out=offsets[1:])
    if offsets[-1] == len(vals):
        # pure 1-byte stream (common: small deltas/tfs) — no loop at all
        return vals.astype(np.uint8), offsets[:-1].astype(np.uint32)
    out = np.zeros(offsets[-1], dtype=np.uint8)
    rem = vals.copy()
    max_nb = int(nb.max())
    starts = offsets[:-1]
    for b in range(max_nb):
        active = np.flatnonzero(nb > b)
        cont = nb[active] > b + 1
        out[starts[active] + b] = (
            rem[active] & np.uint64(0x7F)
        ).astype(np.uint8) | (cont.astype(np.uint8) << 7)
        rem >>= np.uint64(7)
    return out, offsets[:-1].astype(np.uint32)


def vb_decode(buf: np.ndarray, n: int | None = None) -> np.ndarray:
    """Decode a varbyte stream (uint8 array) back to uint64 values."""
    buf = np.asarray(buf, dtype=np.uint8)
    is_last = buf < 0x80
    if is_last.all():  # pure 1-byte stream (empty included): no shifts
        vals = buf.astype(np.uint64)
    else:
        if not is_last[-1]:
            raise ValueError("varbyte stream ends inside a value")
        starts = np.flatnonzero(np.concatenate(([True], is_last[:-1])))
        # byte i carries bits 7*(i - start of its value) and up; the
        # groups of one value never overlap, so a segmented sum is exact
        pos_in_val = np.arange(len(buf), dtype=np.int64) - np.repeat(
            starts, np.diff(np.append(starts, len(buf))))
        contrib = (buf & np.uint8(0x7F)).astype(np.uint64) << (
            np.uint64(7) * pos_in_val.astype(np.uint64))
        vals = np.add.reduceat(contrib, starts)
    if n is not None:
        assert len(vals) == n, f"decoded {len(vals)} values, expected {n}"
    return vals


def encode_segment(
    docids: np.ndarray,
    tfs: np.ndarray,
    doclens: np.ndarray,
    base: int = -1,
) -> tuple[bytes, bytes]:
    """Encode one posting segment (ascending unique docids). Returns
    (blob, skips). ``base`` anchors the first delta (-1 => store absolute
    first docid + 1 ... we store first delta as docid[0] - base with
    base=-1 so 0 is representable)."""
    docids = np.ascontiguousarray(docids, dtype=np.int64)
    n = len(docids)
    assert n > 0
    deltas = np.empty(n, dtype=np.uint64)
    deltas[0] = np.uint64(docids[0] - base)
    if n > 1:
        d = np.diff(docids)
        assert (d > 0).all(), "docids must be strictly ascending"
        deltas[1:] = d.astype(np.uint64)
    ids_b, ids_off = vb_encode(deltas)
    tfs_b, tfs_off = vb_encode(tfs.astype(np.uint64))
    dls_b, dls_off = vb_encode(doclens.astype(np.uint64))

    header = np.zeros(1, dtype=_HEADER)
    header["n"] = n
    header["off_tfs"] = len(ids_b)
    header["off_dls"] = len(ids_b) + len(tfs_b)
    blob = header.tobytes() + ids_b.tobytes() + tfs_b.tobytes() + dls_b.tobytes()

    # skip pointers + block-max
    n_blocks = (n + BLOCK_SIZE - 1) // BLOCK_SIZE
    skips = np.zeros(n_blocks, dtype=SKIP_DTYPE)
    for i in range(n_blocks):
        lo = i * BLOCK_SIZE
        hi = min(n, lo + BLOCK_SIZE)
        skips[i]["last_docid"] = docids[hi - 1]
        skips[i]["off_ids"] = ids_off[lo]
        skips[i]["off_tfs"] = tfs_off[lo]
        skips[i]["off_dls"] = dls_off[lo]
        skips[i]["n"] = hi - lo
        skips[i]["max_tf"] = tfs[lo:hi].max()
        skips[i]["min_dl"] = doclens[lo:hi].min()
    return blob, skips.tobytes()


def encode_groups(
    group_starts: np.ndarray,
    docids: np.ndarray,
    tfs: np.ndarray,
    doclens: np.ndarray,
    base: int = -1,
) -> tuple[list[bytes], list[bytes]]:
    """Encode MANY segments in one vectorized pass. ``group_starts`` are the
    start indices of each group in the (group-sorted, docid-ascending within
    group) arrays; groups tile the arrays contiguously. Returns per-group
    (blob, skips) byte-identical to calling :func:`encode_segment` per group —
    but the varbyte passes run ONCE over the concatenated arrays, so the
    per-group Python cost is just slicing. This is what makes a per-corpus-
    partition encode of ~10^4 term groups cheap inside one Spark task."""
    n = len(docids)
    docids = np.ascontiguousarray(docids, dtype=np.int64)
    group_starts = np.ascontiguousarray(group_starts, dtype=np.int64)
    g_ends = np.append(group_starts[1:], n)
    is_start = np.zeros(n, dtype=bool)
    is_start[group_starts] = True

    deltas = np.empty(n, dtype=np.int64)
    deltas[0] = docids[0] - base
    deltas[1:] = np.diff(docids)
    deltas[group_starts] = docids[group_starts] - base
    assert (deltas > 0).all(), "docids must be strictly ascending per group"

    ids_b, ids_off = vb_encode(deltas.astype(np.uint64))
    tfs_b, tfs_off = vb_encode(np.ascontiguousarray(tfs, dtype=np.uint64))
    dls_b, dls_off = vb_encode(np.ascontiguousarray(doclens, dtype=np.uint64))
    ids_off = np.append(ids_off.astype(np.int64), len(ids_b))
    tfs_off = np.append(tfs_off.astype(np.int64), len(tfs_b))
    dls_off = np.append(dls_off.astype(np.int64), len(dls_b))
    ids_bytes = ids_b.tobytes()
    tfs_bytes = tfs_b.tobytes()
    dls_bytes = dls_b.tobytes()

    n_groups = len(group_starts)
    g_lens = g_ends - group_starts
    headers = np.zeros(n_groups, dtype=_HEADER)
    headers["n"] = g_lens
    headers["off_tfs"] = ids_off[g_ends] - ids_off[group_starts]
    headers["off_dls"] = headers["off_tfs"] + (
        tfs_off[g_ends] - tfs_off[group_starts]
    )
    header_bytes = headers.tobytes()

    # ---- block/skip metadata, vectorized across ALL groups -----------------
    n_blocks_g = (g_lens + BLOCK_SIZE - 1) // BLOCK_SIZE
    total_blocks = int(n_blocks_g.sum())
    blk_group = np.repeat(np.arange(n_groups), n_blocks_g)
    blk_cum = np.zeros(n_groups + 1, dtype=np.int64)
    np.cumsum(n_blocks_g, out=blk_cum[1:])
    blk_ord = np.arange(total_blocks) - blk_cum[blk_group]
    blk_start = group_starts[blk_group] + blk_ord * BLOCK_SIZE
    blk_end = np.minimum(blk_start + BLOCK_SIZE, g_ends[blk_group])
    skips = np.zeros(total_blocks, dtype=SKIP_DTYPE)
    skips["last_docid"] = docids[blk_end - 1]
    skips["off_ids"] = ids_off[blk_start] - ids_off[group_starts[blk_group]]
    skips["off_tfs"] = tfs_off[blk_start] - tfs_off[group_starts[blk_group]]
    skips["off_dls"] = dls_off[blk_start] - dls_off[group_starts[blk_group]]
    skips["n"] = blk_end - blk_start
    # blocks tile the arrays contiguously, so reduceat over block starts is a
    # global segmented max/min
    skips["max_tf"] = np.maximum.reduceat(tfs, blk_start)
    skips["min_dl"] = np.minimum.reduceat(doclens, blk_start)
    skips_bytes = skips.tobytes()
    SK = SKIP_DTYPE.itemsize

    blobs: list[bytes] = []
    skips_out: list[bytes] = []
    for g in range(n_groups):
        s, e = group_starts[g], g_ends[g]
        blobs.append(
            header_bytes[g * 16:(g + 1) * 16]
            + ids_bytes[ids_off[s]:ids_off[e]]
            + tfs_bytes[tfs_off[s]:tfs_off[e]]
            + dls_bytes[dls_off[s]:dls_off[e]]
        )
        skips_out.append(skips_bytes[blk_cum[g] * SK:blk_cum[g + 1] * SK])
    return blobs, skips_out


def decode_segment(
    blob: bytes, base: int = -1
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Full decode -> (docids int64, tfs int64, doclens int64)."""
    header = np.frombuffer(blob[:16], dtype=_HEADER)[0]
    n = int(header["n"])
    body = np.frombuffer(blob, dtype=np.uint8, offset=16)
    off_tfs = int(header["off_tfs"])
    off_dls = int(header["off_dls"])
    deltas = vb_decode(body[:off_tfs], n)
    tfs = vb_decode(body[off_tfs:off_dls], n)
    dls = vb_decode(body[off_dls:], n)
    docids = np.cumsum(deltas.astype(np.int64)) + base
    return docids, tfs.astype(np.int64), dls.astype(np.int64)


def decode_docids(blob: bytes, base: int = -1) -> np.ndarray:
    """Decode ONLY the docid stream (first section) — the OR/union path
    reads ids for every posting but tf/dl only for surviving blocks."""
    header = np.frombuffer(blob[:16], dtype=_HEADER)[0]
    n = int(header["n"])
    body = np.frombuffer(blob, dtype=np.uint8, offset=16)
    deltas = vb_decode(body[: int(header["off_tfs"])], n)
    return np.cumsum(deltas.astype(np.int64)) + base


def _ranges(lo: np.ndarray, n: np.ndarray) -> np.ndarray:
    """The concatenated index ranges [lo[i], lo[i] + n[i]) — a gather index
    over many variable-length runs, built without a loop."""
    return np.arange(int(n.sum()), dtype=np.int64) + np.repeat(
        lo - (np.cumsum(n) - n), n)


def _group_values(blobs, ids_only: bool):
    """Per-blob first posting index and posting count, and ONE varbyte
    decode of every blob's body (just the docid stream with ``ids_only``).
    Every stream ends on a value boundary, so the bodies decode back to
    back: blob i's values follow blob i-1's, ids then tfs then doclens."""
    lens = np.fromiter(map(len, blobs), dtype=np.int64, count=len(blobs))
    buf = np.frombuffer(b"".join(blobs), dtype=np.uint8)
    at = np.cumsum(lens) - lens
    hdr = buf[at[:, None] + np.arange(16)].view(_HEADER)[:, 0]
    n = hdr["n"].astype(np.int64)
    body = hdr["off_tfs"].astype(np.int64) if ids_only else lens - 16
    vals = vb_decode(buf[_ranges(at + 16, body)],
                     int(n.sum()) * (1 if ids_only else 3))
    return np.cumsum(n) - n, n, vals


def _docids_from_deltas(deltas: np.ndarray, starts: np.ndarray,
                        n: np.ndarray, base: int) -> np.ndarray:
    """Per-blob prefix sums of the docid deltas. One global cumsum minus
    the sum carried in from the earlier blobs; int64 wraps modulo 2^64,
    so the difference is exact even when the global sum overflows."""
    cs = np.zeros(len(deltas) + 1, dtype=np.int64)
    np.cumsum(deltas.astype(np.int64), out=cs[1:])
    return cs[1:] - np.repeat(cs[starts], n) + base


def decode_groups(blobs, base: int = -1):
    """Decode MANY segment blobs in one vectorized pass — the decode twin
    of :func:`encode_groups`. Returns ``(docids, tfs, doclens, starts,
    n)``: the int64 postings of every blob, concatenated in blob order,
    plus each blob's first posting index and posting count. Equal to
    concatenating :func:`decode_segment` per blob, but the per-blob Python
    cost is one ``len`` and one join instead of three numpy decodes."""
    starts, n, vals = _group_values(blobs, ids_only=False)
    idx = _ranges(3 * starts, n)
    rep = np.repeat(n, n)
    return (_docids_from_deltas(vals[idx], starts, n, base),
            vals[idx + rep].astype(np.int64),
            vals[idx + 2 * rep].astype(np.int64), starts, n)


def decode_docid_groups(blobs, base: int = -1):
    """:func:`decode_groups` for the docid streams only — ``(docids,
    starts, n)``; tf and doclen bytes are never read."""
    starts, n, deltas = _group_values(blobs, ids_only=True)
    return _docids_from_deltas(deltas, starts, n, base), starts, n


def decode_skips(skips: bytes) -> np.ndarray:
    return np.frombuffer(skips, dtype=SKIP_DTYPE)


# ---- positional postings (phrase queries) -----------------------------------
#
# Positions are an OPT-IN parallel stream (`pos_blob` segment column), not a
# fourth section inside `blob`: existing indexes stay byte-identical and the
# non-phrase query paths never read (or decode) a single position byte —
# Parquet column pruning skips the stream entirely. A position is a token's
# index in the document's ANALYZED (post-stopword, post-stem) token sequence,
# so phrase adjacency is defined over kept tokens (the classic
# stopword-removed phrase semantics).
#
# Stream layout: one varbyte stream per (term-within-partition) segment,
# containing each posting's positions in (docid ASC, position ASC) order,
# delta-encoded WITHIN each posting: first value = pos[0] + 1, then diffs
# (strictly positive — a token occupies one position). Posting boundaries are
# not stored: they are the segment's tf values, which the phrase decoder has
# already decoded from `blob`.


def encode_positions_groups(
    group_starts: np.ndarray, tfs: np.ndarray, positions: np.ndarray
) -> list[bytes]:
    """Encode MANY segments' position streams in one vectorized pass.

    ``group_starts``: start index of each segment's (term, doc) pairs in the
    pair-level arrays (as in :func:`encode_groups`). ``tfs``: per-pair
    occurrence counts. ``positions``: flat per-occurrence positions, ascending
    within each pair, pairs tiling the array in (term, docid) order. Returns
    one varbyte ``bytes`` per segment (group)."""
    tfs = np.ascontiguousarray(tfs, dtype=np.int64)
    n_pairs = len(tfs)
    n_occ = len(positions)
    positions = np.ascontiguousarray(positions, dtype=np.int64)
    # occurrence-level start of each pair
    occ_starts = np.zeros(n_pairs, dtype=np.int64)
    np.cumsum(tfs[:-1], out=occ_starts[1:])
    deltas = np.empty(n_occ, dtype=np.int64)
    if n_occ:
        deltas[0] = positions[0] + 1
        deltas[1:] = np.diff(positions)
        deltas[occ_starts] = positions[occ_starts] + 1
        assert (deltas > 0).all(), "positions must ascend within a posting"
    buf, offs = vb_encode(deltas.astype(np.uint64))
    offs = np.append(offs.astype(np.int64), len(buf))
    raw = buf.tobytes()
    # byte range of each TERM group = [occ offset of its first pair,
    # occ offset of the next group's first pair)
    g_occ = occ_starts[group_starts]
    g_occ_end = np.append(g_occ[1:], n_occ)
    return [raw[offs[s]:offs[e]] for s, e in zip(g_occ, g_occ_end)]


def decode_positions(pos_blob: bytes, tfs: np.ndarray) -> np.ndarray:
    """Decode one segment's position stream back to flat 0-based positions
    aligned with the segment's (docid ASC, occurrence ASC) order. ``tfs`` is
    the segment's decoded per-posting tf array (posting boundaries)."""
    tfs = np.ascontiguousarray(tfs, dtype=np.int64)
    n_occ = int(tfs.sum())
    deltas = vb_decode(
        np.frombuffer(pos_blob, dtype=np.uint8), n_occ
    ).astype(np.int64)
    if n_occ == 0:
        return np.zeros(0, dtype=np.int64)
    occ_starts = np.zeros(len(tfs), dtype=np.int64)
    np.cumsum(tfs[:-1], out=occ_starts[1:])
    cs = np.cumsum(deltas)
    base = cs[occ_starts] - deltas[occ_starts]  # cumsum carried in from prev
    return cs - np.repeat(base, tfs) - 1


def decode_block(
    blob: bytes, skips_arr: np.ndarray, block_idx: int, base: int = -1
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Random-access decode of one block using skip pointers."""
    header = np.frombuffer(blob[:16], dtype=_HEADER)[0]
    body = np.frombuffer(blob, dtype=np.uint8, offset=16)
    off_tfs_sec = int(header["off_tfs"])
    off_dls_sec = int(header["off_dls"])
    sk = skips_arr[block_idx]
    n_blk = int(sk["n"])
    # block byte ranges: from this block's offset to the next block's (or end)
    if block_idx + 1 < len(skips_arr):
        nxt = skips_arr[block_idx + 1]
        ids_end, tfs_end, dls_end = (
            int(nxt["off_ids"]), int(nxt["off_tfs"]), int(nxt["off_dls"])
        )
    else:
        ids_end = off_tfs_sec
        tfs_end = off_dls_sec - off_tfs_sec
        dls_end = len(body) - off_dls_sec
    deltas = vb_decode(body[int(sk["off_ids"]):ids_end], n_blk)
    tfs = vb_decode(
        body[off_tfs_sec + int(sk["off_tfs"]):off_tfs_sec + tfs_end], n_blk
    )
    dls = vb_decode(
        body[off_dls_sec + int(sk["off_dls"]):off_dls_sec + dls_end], n_blk
    )
    prev_last = (
        int(skips_arr[block_idx - 1]["last_docid"]) if block_idx > 0 else base
    )
    docids = np.cumsum(deltas.astype(np.int64)) + prev_last
    return docids, tfs.astype(np.int64), dls.astype(np.int64)
