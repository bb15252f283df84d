"""Bitpacked posting-list codec (tantivy-style 128-doc blocks).

The reference's tantivy dependency stores docid deltas as bitpacked
128-value blocks: each block packs its values at the block's own
minimal bit width. Layout here, per posting list:

    repeat per 128-value block (last block may be short):
        u8  width                  (0..64 bits per value)
        u8[ceil(block_len*width/8)] packed little-endian bit stream

Self-describing rows: builder marks bitpacked rows with meta='bp' so
readers (kernel, merge) pick the decoder per row — varint and bitpack
segments coexist in one index.

Packing/unpacking rides numpy's C-speed packbits/unpackbits on a
(block_len, width) bit matrix — no per-value Python.
"""

from __future__ import annotations

import numpy as np

from quickwit_spark.codec.postings import BLOCK_SIZE


def bitpack_encode(values: np.ndarray) -> bytes:
    """Encode uint64 values into width-prefixed 128-value blocks."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    out = bytearray()
    for lo in range(0, len(v), BLOCK_SIZE):
        block = v[lo : lo + BLOCK_SIZE]
        mx = int(block.max()) if len(block) else 0
        width = mx.bit_length()
        out.append(width)
        if width:
            bits = (
                (block[:, None] >> np.arange(width, dtype=np.uint64)) & np.uint64(1)
            ).astype(np.uint8)
            out += np.packbits(bits.ravel(), bitorder="little").tobytes()
    return bytes(out)


def bitpack_decode(buf: bytes, count: int) -> np.ndarray:
    """Inverse of :func:`bitpack_encode` (needs the value count). A block
    header or block that runs past the buffer raises ValueError."""
    out = np.empty(count, dtype=np.uint64)
    b = memoryview(buf)
    pos = 0
    done = 0
    while done < count:
        block_len = min(BLOCK_SIZE, count - done)
        if pos >= len(b):
            raise ValueError(
                f"truncated bitpack blob: block header at byte {pos} of "
                f"{len(b)} ({done} of {count} values decoded)"
            )
        width = b[pos]
        pos += 1
        if width > 64:
            raise ValueError(f"corrupt bitpack blob: block width {width} > 64")
        if width == 0:
            out[done : done + block_len] = 0
        else:
            nbytes = (block_len * width + 7) // 8
            if pos + nbytes > len(b):
                raise ValueError(
                    f"truncated bitpack blob: block of {nbytes} bytes at "
                    f"byte {pos} of {len(b)}"
                )
            bits = np.unpackbits(
                np.frombuffer(b[pos : pos + nbytes], dtype=np.uint8),
                bitorder="little",
            )[: block_len * width].reshape(block_len, width)
            out[done : done + block_len] = (
                bits.astype(np.uint64)
                << np.arange(width, dtype=np.uint64)
            ).sum(axis=1)
            pos += nbytes
        done += block_len
    return out


_POW2 = (np.uint64(1) << np.arange(64, dtype=np.uint64))


def bitpack_encode_grouped(values: np.ndarray, group_starts: np.ndarray) -> list[bytes]:
    """Per-group bitpacked blobs (same contract as varint_encode_grouped).

    Vectorized across every term of the segment: block boundaries, widths
    and output offsets come from reduceat/cumsum over the concatenated
    postings; the bit streams are produced per width class with one
    ``unpackbits``/``packbits`` pair per (class, chunk) — no per-term and
    no per-block Python. Byte-identical to per-group
    :func:`bitpack_encode`.
    """
    v = np.ascontiguousarray(values, dtype=np.uint64)
    gs = np.asarray(group_starts, dtype=np.int64)
    ngroups = len(gs)
    n = len(v)
    if ngroups == 0:
        return []
    if n == 0:
        return [b""] * ngroups
    gends = np.append(gs[1:], n)
    glens = gends - gs
    nblocks = (glens + BLOCK_SIZE - 1) // BLOCK_SIZE
    total_blocks = int(nblocks.sum())
    block_group = np.repeat(np.arange(ngroups, dtype=np.int64), nblocks)
    excl = np.zeros(ngroups, dtype=np.int64)
    np.cumsum(nblocks[:-1], out=excl[1:])
    within = np.arange(total_blocks, dtype=np.int64) - excl[block_group]
    bstart = gs[block_group] + within * BLOCK_SIZE
    bend = np.minimum(bstart + BLOCK_SIZE, gends[block_group])
    blens = bend - bstart
    bmax = np.maximum.reduceat(v, bstart)
    # bit_length(x) == number of powers of two <= x (0 for x == 0)
    widths = np.searchsorted(_POW2, bmax, side="right").astype(np.int64)
    nbytes = (blens * widths + 7) >> 3
    out_sizes = 1 + nbytes
    out_offs = np.zeros(total_blocks, dtype=np.int64)
    np.cumsum(out_sizes[:-1], out=out_offs[1:])
    buf = np.zeros(int(out_offs[-1] + out_sizes[-1]), dtype=np.uint8)
    buf[out_offs] = widths.astype(np.uint8)
    col = np.arange(BLOCK_SIZE, dtype=np.int64)
    for w in np.unique(widths):
        w = int(w)
        if w == 0:
            continue
        sel = np.flatnonzero(widths == w)
        # narrowest power-of-two storage that holds w bits: unpackbits
        # then touches 8/16/32 bits per value instead of always 64
        sbits = 8 if w <= 8 else 16 if w <= 16 else 32 if w <= 32 else 64
        sdtype = {8: np.uint8, 16: np.uint16, 32: np.uint32, 64: np.uint64}[sbits]
        # bound the (chunk, BLOCK_SIZE, sbits)-bit intermediate to ~64 MiB
        chunk = max(1, (1 << 26) // (BLOCK_SIZE * sbits))
        full = blens[sel] == BLOCK_SIZE
        for s_all, is_full in ((sel[full], True), (sel[~full], False)):
            for lo in range(0, len(s_all), chunk):
                s = s_all[lo : lo + chunk]
                m = len(s)
                if m == 0:
                    continue
                idx = bstart[s, None] + col[None, :]
                if is_full:
                    vals = v[idx].astype(sdtype)
                else:
                    live = col[None, :] < blens[s, None]
                    vals = np.where(
                        live, v[np.minimum(idx, n - 1)], np.uint64(0)
                    ).astype(sdtype)
                # little-endian view -> per-value bits 0..sbits-1 in order
                allbits = np.unpackbits(
                    vals.view(np.uint8).reshape(m, BLOCK_SIZE * (sbits >> 3)),
                    axis=1,
                    bitorder="little",
                ).reshape(m, BLOCK_SIZE, sbits)
                packed = np.packbits(
                    np.ascontiguousarray(allbits[:, :, :w]).reshape(
                        m, BLOCK_SIZE * w
                    ),
                    axis=1,
                    bitorder="little",
                )
                bytecol = np.arange(packed.shape[1], dtype=np.int64)
                tgt = out_offs[s, None] + 1 + bytecol[None, :]
                if is_full:
                    buf[tgt.ravel()] = packed.ravel()
                else:
                    keep = bytecol[None, :] < nbytes[s, None]
                    buf[tgt[keep]] = packed[keep]
    gsizes = np.zeros(ngroups, dtype=np.int64)
    np.add.at(gsizes, block_group, out_sizes)
    gbounds = np.zeros(ngroups + 1, dtype=np.int64)
    np.cumsum(gsizes, out=gbounds[1:])
    blob = buf.tobytes()
    return [blob[gbounds[i] : gbounds[i + 1]] for i in range(ngroups)]
