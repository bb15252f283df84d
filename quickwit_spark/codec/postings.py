"""Posting-list codec: delta-gap + varint compression, block-max metadata.

One posting list = the sorted docids (+ term frequencies) of one term in
one segment. The reference stores postings as delta-gapped, bitpacked
128-doc blocks with block-max metadata enabling block-max WAND (tantivy
dep of `/root/reference`; see SURVEY.md §1.2). Here the same structures
are numpy arrays encoded to little-endian byte blobs stored in Parquet
`binary` columns — built and decoded exclusively inside vectorized
pandas UDFs, never row-at-a-time Python.

Layout per term row (see index/builder.py):
    docs_blob   varint(delta-gap docids), first docid stored as-is
    tfs_blob    varint(term frequencies)
    block_last  uint32[ceil(n/128)]  last docid of each 128-doc block
    block_max   float32[ceil(n/128)] max BM25 "tf component" per block:
                max over docs in block of tf/(tf + k1*(1-b+b*dl/avgdl));
                an upper bound factor for WAND pruning (score <=
                idf*(k1+1)*block_max).
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128

_SHIFTS = np.arange(10, dtype=np.uint64) * np.uint64(7)


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode an array of unsigned ints (vectorized numpy)."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    n = len(v)
    if n == 0:
        return b""
    # number of 7-bit groups per value
    nbytes = np.ones(n, dtype=np.int64)
    x = v >> np.uint64(7)
    while x.any():
        nbytes += (x > 0)
        x >>= np.uint64(7)
    starts = np.zeros(n, dtype=np.int64)
    np.cumsum(nbytes[:-1], out=starts[1:])
    out = np.zeros(int(nbytes.sum()), dtype=np.uint8)
    for k in range(int(nbytes.max())):
        mask = nbytes > k
        byte = ((v[mask] >> _SHIFTS[k]) & np.uint64(0x7F)).astype(np.uint8)
        cont = ((nbytes[mask] > k + 1).astype(np.uint8)) << 7
        out[starts[mask] + k] = byte | cont
    return out.tobytes()


def _varint_byte_lengths(v: np.ndarray) -> np.ndarray:
    nbytes = np.ones(len(v), dtype=np.int64)
    x = v >> np.uint64(7)
    while x.any():
        nbytes += (x > 0)
        x >>= np.uint64(7)
    return nbytes


def varint_encode_grouped(values: np.ndarray, group_starts: np.ndarray) -> list[bytes]:
    """Encode `values` once, return per-group byte slices.

    ``group_starts`` are the start indices of each group in ``values``
    (first must be 0). This is the vectorized fast path for encoding an
    entire segment's posting lists in one pass instead of one
    varint_encode call per term.
    """
    v = np.ascontiguousarray(values, dtype=np.uint64)
    n = len(v)
    if n == 0:
        return []
    nbytes = _varint_byte_lengths(v)
    starts = np.zeros(n, dtype=np.int64)
    np.cumsum(nbytes[:-1], out=starts[1:])
    total = int(starts[-1] + nbytes[-1])
    out = np.zeros(total, dtype=np.uint8)
    for k in range(int(nbytes.max())):
        mask = nbytes > k
        byte = ((v[mask] >> _SHIFTS[k]) & np.uint64(0x7F)).astype(np.uint8)
        cont = ((nbytes[mask] > k + 1).astype(np.uint8)) << 7
        out[starts[mask] + k] = byte | cont
    blob = out.tobytes()
    gs = np.asarray(group_starts, dtype=np.int64)
    byte_bounds = np.append(starts[gs], total)
    return [blob[byte_bounds[i] : byte_bounds[i + 1]] for i in range(len(gs))]


def block_metadata_grouped(
    doc_ids: np.ndarray,
    tf_component: np.ndarray,
    group_starts: np.ndarray,
) -> tuple[list[bytes], list[bytes]]:
    """Per-group 128-doc block (last docid, max tf-component) blobs.

    Vectorized across every term of a segment: one reduceat over the
    concatenated postings computes all blocks of all terms.
    """
    n = len(doc_ids)
    if n == 0:
        return [], []
    gs = np.asarray(group_starts, dtype=np.int64)
    gends = np.append(gs[1:], n)
    glens = gends - gs
    nblocks = (glens + BLOCK_SIZE - 1) // BLOCK_SIZE
    total_blocks = int(nblocks.sum())
    block_term = np.repeat(np.arange(len(gs), dtype=np.int64), nblocks)
    excl = np.zeros(len(gs), dtype=np.int64)
    np.cumsum(nblocks[:-1], out=excl[1:])
    within = np.arange(total_blocks, dtype=np.int64) - excl[block_term]
    bstart = gs[block_term] + within * BLOCK_SIZE
    bend = np.minimum(bstart + BLOCK_SIZE, gends[block_term])
    last = np.asarray(doc_ids, dtype=np.uint32)[bend - 1].astype("<u4")
    maxes = np.maximum.reduceat(
        np.asarray(tf_component, dtype=np.float32), bstart
    ).astype("<f4")
    last_b = last.tobytes()
    max_b = maxes.tobytes()
    bounds = np.append(excl, total_blocks)
    return (
        [last_b[bounds[i] * 4 : bounds[i + 1] * 4] for i in range(len(gs))],
        [max_b[bounds[i] * 4 : bounds[i + 1] * 4] for i in range(len(gs))],
    )


def varint_decode(buf: bytes, count: int | None = None) -> np.ndarray:
    """Decode a LEB128 byte blob back to a uint64 array (vectorized).

    A blob that ends on a continuation byte (a truncated last value), or
    holds other than `count` values, raises ValueError."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if len(b) == 0:
        if count:
            raise ValueError(f"expected {count} values, decoded 0")
        return np.zeros(0, dtype=np.uint64)
    is_last = (b & 0x80) == 0
    if not is_last[-1]:
        raise ValueError(
            f"truncated varint blob: byte {len(b) - 1} of {len(b)} is a "
            "continuation byte"
        )
    starts = np.flatnonzero(np.concatenate(([True], is_last[:-1])))
    payload = (b & np.uint64(0x7F)).astype(np.uint64)
    # offset of each byte within its value
    idx = np.arange(len(b), dtype=np.int64)
    value_id = np.cumsum(np.concatenate(([0], is_last[:-1].astype(np.int64))))
    offset = (idx - starts[value_id]).astype(np.uint64)
    contrib = payload << (offset * np.uint64(7))
    vals = np.add.reduceat(contrib, starts)
    if count is not None and len(vals) != count:
        raise ValueError(f"expected {count} values, decoded {len(vals)}")
    return vals


def encode_postings(doc_ids: np.ndarray, tfs: np.ndarray) -> tuple[bytes, bytes]:
    """Delta-gap + varint encode a sorted docid array and its tf array."""
    doc_ids = np.asarray(doc_ids, dtype=np.uint64)
    deltas = np.empty_like(doc_ids)
    if len(doc_ids):
        deltas[0] = doc_ids[0]
        np.subtract(doc_ids[1:], doc_ids[:-1], out=deltas[1:])
    return varint_encode(deltas), varint_encode(np.asarray(tfs, dtype=np.uint64))


def decode_postings(
    docs_blob: bytes, tfs_blob: bytes, doc_freq: int | None = None
) -> tuple[np.ndarray, np.ndarray]:
    """Inverse of :func:`encode_postings` → (docids uint32, tfs uint32)."""
    deltas = varint_decode(docs_blob, doc_freq)
    doc_ids = np.cumsum(deltas, dtype=np.uint64).astype(np.uint32)
    tfs = varint_decode(tfs_blob, doc_freq).astype(np.uint32)
    return doc_ids, tfs


def encode_positions(pos_abs: np.ndarray, tfs: np.ndarray) -> bytes:
    """Token positions of one term, per-doc delta-gapped then varint.

    `pos_abs` is the concatenated ascending positions across the
    term's docs; `tfs` gives the per-doc span lengths (the posting
    list's tf array). First position of each doc is stored absolute."""
    p = np.asarray(pos_abs, dtype=np.uint64)
    if len(p) == 0:
        return b""
    tfs = np.asarray(tfs, dtype=np.int64)
    starts = np.cumsum(tfs) - tfs
    deltas = np.empty_like(p)
    deltas[0] = p[0]
    np.subtract(p[1:], p[:-1], out=deltas[1:])
    deltas[starts] = p[starts]
    return varint_encode(deltas)


def decode_positions(blob: bytes, tfs: np.ndarray) -> np.ndarray:
    """Inverse of :func:`encode_positions` → absolute positions."""
    tfs = np.asarray(tfs, dtype=np.int64)
    total = int(tfs.sum())
    deltas = varint_decode(blob, total)
    if total == 0:
        return np.zeros(0, dtype=np.uint64)
    c = np.cumsum(deltas, dtype=np.uint64)
    starts = np.cumsum(tfs) - tfs
    base = c[starts] - deltas[starts]
    return c - np.repeat(base, tfs)


def permute_position_stream(
    stream: np.ndarray, tfs: np.ndarray, order: np.ndarray
) -> np.ndarray:
    """Reorder a concatenated per-doc positions stream by a docid
    permutation: doc i's slice (length tfs[i]) moves as one run to its
    position under `order`. Pure index arithmetic (one vectorized slice
    gather, no Python loop) — shared by the merge executor and the
    kernel's chunk assembly, which must permute identically."""
    tfs = np.asarray(tfs, dtype=np.int64)
    starts = np.zeros(len(tfs) + 1, dtype=np.int64)
    np.cumsum(tfs, out=starts[1:])
    l_new = tfs[order].astype(np.int64)
    ends_new = np.cumsum(l_new)
    begins_new = ends_new - l_new
    idx = (
        np.arange(int(ends_new[-1]) if len(ends_new) else 0, dtype=np.int64)
        - np.repeat(begins_new, l_new)
        + np.repeat(starts[:-1][order], l_new)
    )
    return stream[idx]


def block_metadata(
    doc_ids: np.ndarray, tf_component: np.ndarray
) -> tuple[bytes, bytes]:
    """Per-128-doc-block (last docid, max tf-component) arrays as blobs.

    ``tf_component`` is the per-posting BM25 factor
    tf/(tf + k1*(1-b+b*dl/avgdl)) computed at build time with the
    segment's own avgdl; its block max yields a score upper bound
    idf*(k1+1)*max used by the WAND kernel to skip blocks.
    """
    n = len(doc_ids)
    if n == 0:
        return b"", b""
    nblocks = (n + BLOCK_SIZE - 1) // BLOCK_SIZE
    starts = np.arange(nblocks, dtype=np.int64) * BLOCK_SIZE
    last = np.asarray(doc_ids, dtype=np.uint32)[
        np.minimum(starts + BLOCK_SIZE - 1, n - 1)
    ]
    maxes = np.maximum.reduceat(np.asarray(tf_component, dtype=np.float32), starts)
    return last.astype("<u4").tobytes(), maxes.astype("<f4").tobytes()


def decode_block_metadata(
    block_last: bytes, block_max: bytes
) -> tuple[np.ndarray, np.ndarray]:
    return (
        np.frombuffer(block_last, dtype="<u4"),
        np.frombuffer(block_max, dtype="<f4"),
    )
