"""Posting-list codec (format 2): sectioned varint runs with per-block
max-score metadata.

This is the engine's analog of the reference's residual codec
(``pylate/indexes/stanford_nlp/codecs/residual.py:180-223`` compress /
``:271-309`` decompress): a compact binary payload per index cell plus
the side metadata needed for pruning. Where the reference stores
bit-packed quantized residuals per centroid, we store, per (shard,
term) run of docid-ascending postings, one LEB128 varint stream in
three sections, the columnar layout of *Columnar Formatted Inverted
Index for Highly-Paralleled, Vectorized Query Processing* (ICDE 2025):

- **A**, per posting: ``gap << 1 | (tf == 1)``, the gap 0 at a block's
  first posting (its docid is the block's ``first``). Most tfs are 1,
  and they cost no byte of their own (Lucene's ``.frq`` trick).
- **B**, per posting: ``dl`` minus its block's ``min_dl``.
- **C**: each tf that is not 1, in posting order.

Per block of ``block_size`` postings the exact quantities a query-time
upper bound needs sit beside the payload: ``(first_docid, last_docid,
n, max_tf, min_dl, byte offset of its first A value)``. Blocks prune
scoring, not decoding: a run decodes whole, in one
:func:`varint_decode` split at ``n`` and ``2n``, which keeps the decode
one vector pass (per-block sections measured 25% slower in the kernel);
doc-range sharding caps a run at ``shard_size`` postings.
:func:`encode_runs` is the one writer of the layout.

Storing ``max_tf`` and ``min_dl`` (rather than a precomputed max score)
keeps block upper bounds valid under incremental corpus growth: BM25's
term score is monotonically increasing in tf and decreasing in dl, so
``ub = idf_now * tfn(max_tf, min_dl)`` is a true upper bound for any
current (N, avgdl, df) — the property the reference loses when
centroids go stale after ``IndexUpdater.add`` (it warns about exactly
this, ``pylate/indexes/fast_plaid.py:210-227``).

Everything here is numpy-vectorized; no per-value Python loops (the
loops below are over *byte positions* (≤10), not over postings).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

__all__ = ["encode_postings", "decode_postings", "PostingBlocks"]


# --- vectorized varint ----------------------------------------------------

def varint_encode_offsets(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """LEB128-encode a non-negative int array, fully vectorized.

    Returns ``(bytes_uint8, per_value_byte_offsets[n+1])`` — the single
    shared encoder core; the offsets let callers slice the stream at
    value boundaries (block offsets, per-group payload spans) without
    re-walking it. The loops below are over *byte positions* (≤10), not
    values.
    """
    v = np.ascontiguousarray(values, dtype=np.uint64)
    offs = np.zeros(v.size + 1, dtype=np.int64)
    if v.size == 0:
        return np.empty(0, dtype=np.uint8), offs
    # bytes needed per value: 1 + floor(bit_length / 7) for bit_length>0
    nb = np.ones(v.shape, dtype=np.int64)
    for shift in range(7, 64, 7):
        nb += (v >> np.uint64(shift)) > 0
    np.cumsum(nb, out=offs[1:])
    out = np.zeros(offs[-1], dtype=np.uint8)
    for k in range(int(nb.max())):
        mask = nb > k
        chunk = (v[mask] >> np.uint64(7 * k)).astype(np.uint64) & np.uint64(0x7F)
        cont = (nb[mask] - 1 > k).astype(np.uint8) << 7
        out[offs[:-1][mask] + k] = chunk.astype(np.uint8) | cont
    return out, offs


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a non-negative int64 array, fully vectorized."""
    return varint_encode_offsets(values)[0].tobytes()


def varint_decode(buf: bytes | np.ndarray) -> np.ndarray:
    """Decode a LEB128 stream to int64, fully vectorized.

    Pure integer path: one gather of each value's first byte, then one
    gather+shift per further byte position over only the values that
    have one (most values here are 1 byte; none is over 9), no float
    weights. Per-byte intermediates stay at 1 byte each and widen to
    int64 only per value: the decode is memory-bandwidth-bound in the
    query hot path, so traffic per posting matters more than
    instruction count.
    """
    b = np.frombuffer(buf, dtype=np.uint8) if isinstance(buf, (bytes, bytearray, memoryview)) else buf
    ends = np.flatnonzero(b < 0x80)
    if ends.size == b.size:
        return b.astype(np.int64)
    low = b & 0x7F
    starts = np.empty(ends.size, dtype=np.int64)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lens = ends - starts  # further bytes per value
    vals = low[starts].astype(np.int64)
    for j in range(1, int(lens.max()) + 1):
        idx = np.flatnonzero(lens >= j)
        vals[idx] |= low[starts[idx] + j].astype(np.int64) << (7 * j)
    return vals


# --- blocked posting payload ----------------------------------------------

@dataclass
class PostingBlocks:
    """Decoded side metadata for one term's payload (column arrays)."""

    first: np.ndarray   # int64 — first docid of each block (absolute)
    last: np.ndarray    # int64 — last docid of each block
    n: np.ndarray       # int32 — postings per block
    max_tf: np.ndarray  # int32
    min_dl: np.ndarray  # int32
    off: np.ndarray     # int64 — byte offset of the block's first A value in its run


def encode_runs(
    run_start: np.ndarray, docids: np.ndarray, tfs: np.ndarray, dls: np.ndarray, block_size: int
) -> tuple[np.ndarray, np.ndarray, PostingBlocks, np.ndarray]:
    """Encode many runs in one vectorized pass: the one writer of the
    format-2 layout (module docstring).

    ``run_start`` holds the index of each run's first posting; postings
    are docid-ascending within a run. Returns ``(payload bytes, byte
    offset of each run plus the end [runs+1], block metadata of all
    runs in order, blocks per run)``; ``blocks.off`` is relative to its
    run's first byte."""
    n = docids.size
    runs = run_start.size
    run_n = np.diff(np.append(run_start, n))
    rid = np.repeat(np.arange(runs), run_n)
    local = np.arange(n, dtype=np.int64) - run_start[rid]
    bs = np.flatnonzero(local % block_size == 0)
    bend = np.append(bs[1:], n)  # blocks never span runs
    b_n = bend - bs
    b_min_dl = np.minimum.reduceat(dls, bs)

    one = tfs == 1
    gaps = np.empty(n, dtype=np.int64)
    gaps[0] = 0
    gaps[1:] = docids[1:] - docids[:-1]
    gaps[bs] = 0
    # value positions: run r starts at 2·s + c, s its first posting and
    # c the C values of earlier runs; A fills [0, n_r) of it, B follows
    not_one = (~one).astype(np.int64)
    c_before = np.cumsum(not_one) - not_one
    v_start = 2 * run_start + c_before[run_start]
    pos_a = v_start[rid] + local
    vals = np.empty(2 * n + int(not_one.sum()), dtype=np.int64)
    vals[pos_a] = gaps << 1 | one
    vals[pos_a + run_n[rid]] = dls - np.repeat(b_min_dl, b_n)
    # C follows B: at 2·(s + n_r) + c, then one slot per own C value
    vals[2 * (run_start[rid] + run_n[rid])[~one] + c_before[~one]] = tfs[~one]
    payload, val_offs = varint_encode_offsets(vals)

    b_run = rid[bs]
    blocks = PostingBlocks(
        first=docids[bs],
        last=docids[bend - 1],
        n=b_n.astype(np.int32),
        max_tf=np.maximum.reduceat(tfs, bs).astype(np.int32),
        min_dl=b_min_dl.astype(np.int32),
        off=val_offs[pos_a[bs]] - val_offs[v_start[b_run]],
    )
    run_offs = np.append(val_offs[v_start], val_offs[-1])
    return payload, run_offs, blocks, np.bincount(b_run, minlength=runs)


def encode_postings(
    docids: np.ndarray, tfs: np.ndarray, dls: np.ndarray, block_size: int = 128
) -> tuple[bytes, PostingBlocks]:
    """Encode one run of docid-ascending postings into (payload, block
    metadata): :func:`encode_runs` on a single run."""
    docids = np.ascontiguousarray(docids, dtype=np.int64)
    if docids.size == 0:
        e = np.empty(0, dtype=np.int64)
        return b"", PostingBlocks(e, e, e.astype(np.int32), e.astype(np.int32), e.astype(np.int32), e)
    tfs, dls = (np.ascontiguousarray(a, dtype=np.int64) for a in (tfs, dls))
    payload, _, blocks, _ = encode_runs(np.zeros(1, dtype=np.int64), docids, tfs, dls, block_size)
    return payload.tobytes(), blocks


def decode_postings(
    payload: bytes | np.ndarray, blocks: PostingBlocks, select: np.ndarray | None = None
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode (docids, tfs, dls) from one run's payload; with
    ``select``, only the postings of those block indices (the run still
    decodes whole)."""
    buf = np.frombuffer(payload, dtype=np.uint8) if isinstance(payload, (bytes, bytearray, memoryview)) else payload
    if buf.size == 0 or (select is not None and len(select) == 0):
        z = np.empty(0, dtype=np.int64)
        return z, z, z
    vals = varint_decode(buf)
    ns = blocks.n
    n = int(ns.sum())
    g, dls = vals[:n], vals[n:2 * n]
    tfs = g & 1
    tfs[tfs == 0] = vals[2 * n:]
    # a block's first gap is stored as 0; put back its distance from
    # the previous block's last docid, so one cumsum yields every docid
    np.right_shift(g, 1, out=g)
    if ns.size == 1:  # most runs: scalar fix-ups
        g[0] = blocks.first[0]
        dls += blocks.min_dl[0]
    else:
        g[np.cumsum(ns) - ns] = blocks.first - np.append(0, blocks.last[:-1])
        dls += np.repeat(blocks.min_dl, ns)
    docids = np.cumsum(g, out=g)
    if select is None:
        return docids, tfs, dls
    keep = np.zeros(ns.size, dtype=bool)
    keep[select] = True
    keep = np.repeat(keep, ns)
    return docids[keep], tfs[keep], dls[keep]
