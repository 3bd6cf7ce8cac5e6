"""Segment assembly: many terms' posting lists encoded in one
vectorized pass.

The reference compresses each chunk's embeddings in a single batched
codec call (``ResidualCodec.compress``,
``/root/reference/pylate/indexes/stanford_nlp/codecs/residual.py:180-198``)
rather than per-vector — we do the same at the posting-list level:
:func:`encode_group_arrow` takes column arrays of ``(shard, bucket,
term, docid, tf, dl)`` rows sorted so that each (shard, term) group is
contiguous, and emits one segment row per group, computing deltas,
varint bytes, and per-block metadata for *all* groups simultaneously
with numpy; the per-group block-metadata lists and payload slices are
built as zero-copy ``pa.ListArray``/``pa.BinaryArray`` structures — no
per-group Python loop anywhere (contrast with ``applyInPandas``, which
would pay a Python call per (shard, term) group — millions per batch).

:func:`arrow_carry_iterator` adapts this to ``mapInArrow`` streams:
Arrow batches split groups arbitrarily, so the trailing (possibly
incomplete) group of each batch is held back and prepended to the next
— bounded memory, no per-group Spark overhead.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import types as T

from pylate_spark.functions.codec import PostingBlocks, varint_encode_offsets
from pylate_spark.worker import forget_archive_importers

SEGMENT_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("shard", T.LongType(), False),
        T.StructField("term", T.StringType(), False),
        T.StructField("df", T.LongType(), False),
        T.StructField("cf", T.LongType(), False),
        T.StructField("b_first", T.ArrayType(T.LongType()), False),
        T.StructField("b_last", T.ArrayType(T.LongType()), False),
        T.StructField("b_n", T.ArrayType(T.IntegerType()), False),
        T.StructField("b_max_tf", T.ArrayType(T.IntegerType()), False),
        T.StructField("b_min_dl", T.ArrayType(T.IntegerType()), False),
        T.StructField("b_off", T.ArrayType(T.LongType()), False),
        T.StructField("payload", T.BinaryType(), False),
    ]
)


def blocks_from_row(row) -> PostingBlocks:
    """Rehydrate :class:`PostingBlocks` from a segment row (pandas row,
    dict, or pyspark Row with the SEGMENT_SCHEMA block columns)."""
    return PostingBlocks(
        first=np.asarray(row["b_first"], dtype=np.int64),
        last=np.asarray(row["b_last"], dtype=np.int64),
        n=np.asarray(row["b_n"], dtype=np.int32),
        max_tf=np.asarray(row["b_max_tf"], dtype=np.int32),
        min_dl=np.asarray(row["b_min_dl"], dtype=np.int32),
        off=np.asarray(row["b_off"], dtype=np.int64),
    )


def encode_group_arrow(
    shard: np.ndarray,
    bucket: np.ndarray,
    term: np.ndarray,
    docid: np.ndarray,
    tf: np.ndarray,
    dl: np.ndarray,
    block_size: int,
):
    """Encode group-contiguous long rows into an Arrow RecordBatch of
    segment rows (one per (shard, term) group). Expects input sorted by
    (shard, term, docid); ``bucket`` is precomputed (crc32(term) % B, a
    native Spark column) so no Python hashing happens here either."""
    import pyarrow as pa

    n = docid.size
    change = np.empty(n, dtype=bool)
    change[0] = True
    change[1:] = (term[1:] != term[:-1]) | (shard[1:] != shard[:-1])
    gstart = np.flatnonzero(change)
    ngroups = gstart.size
    gn = np.diff(np.append(gstart, n))
    gid = np.cumsum(change) - 1
    pos_in_g = np.arange(n, dtype=np.int64) - gstart[gid]

    bs_mask = (pos_in_g % block_size) == 0
    bs = np.flatnonzero(bs_mask)
    bend = np.append(bs[1:], n) - 1  # inclusive; blocks never span groups

    deltas = np.empty(n, dtype=np.int64)
    deltas[0] = 0
    deltas[1:] = docid[1:] - docid[:-1]
    deltas[bs] = 0  # first posting of a block is its own base

    interleaved = np.empty(3 * n, dtype=np.int64)
    interleaved[0::3] = deltas
    interleaved[1::3] = tf
    interleaved[2::3] = dl
    payload, val_offs = varint_encode_offsets(interleaved)

    b_first = docid[bs]
    b_last = docid[bend]
    b_n = (bend - bs + 1).astype(np.int32)
    b_max_tf = np.maximum.reduceat(tf, bs).astype(np.int32)
    b_min_dl = np.minimum.reduceat(dl, bs).astype(np.int32)
    block_gid = gid[bs]
    b_off = val_offs[3 * bs] - val_offs[3 * gstart[block_gid]]

    g_cf = np.add.reduceat(tf, gstart).astype(np.int64)
    nblocks_per_g = np.bincount(block_gid, minlength=ngroups)
    boff = np.zeros(ngroups + 1, dtype=np.int32)
    np.cumsum(nblocks_per_g, out=boff[1:])
    list_offsets = pa.array(boff)

    # payload groups tile the byte stream contiguously → zero-copy binary
    pay_offs = np.empty(ngroups + 1, dtype=np.int32)
    pay_offs[:-1] = val_offs[3 * gstart]
    pay_offs[-1] = val_offs[-1]
    payload_arr = pa.Array.from_buffers(
        pa.binary(), ngroups,
        [None, pa.py_buffer(pay_offs.tobytes()), pa.py_buffer(payload.tobytes())],
    )

    def list_arr(vals, typ):
        return pa.ListArray.from_arrays(list_offsets, pa.array(vals, type=typ))

    return pa.RecordBatch.from_arrays(
        [
            pa.array(bucket[gstart], type=pa.int32()),
            pa.array(shard[gstart], type=pa.int64()),
            pa.array(term[gstart], type=pa.string()),
            pa.array(gn, type=pa.int64()),
            pa.array(g_cf, type=pa.int64()),
            list_arr(b_first, pa.int64()),
            list_arr(b_last, pa.int64()),
            list_arr(b_n, pa.int32()),
            list_arr(b_max_tf, pa.int32()),
            list_arr(b_min_dl, pa.int32()),
            list_arr(b_off, pa.int64()),
            payload_arr,
        ],
        names=[
            "bucket", "shard", "term", "df", "cf",
            "b_first", "b_last", "b_n", "b_max_tf", "b_min_dl", "b_off", "payload",
        ],
    )


def arrow_carry_iterator(batches, block_size: int):
    """mapInArrow adapter: encode complete (shard, term) groups per
    Arrow batch, carrying the trailing incomplete group forward.
    Input columns: shard, bucket, term, docid, tf, dl — sorted by
    (shard, term, docid) within the partition."""
    import pyarrow as pa

    forget_archive_importers()
    leftover = None
    for rb in batches:
        tbl = pa.Table.from_batches([rb])
        if leftover is not None and leftover.num_rows:
            tbl = pa.concat_tables([leftover, tbl])
            leftover = None
        if tbl.num_rows == 0:
            continue
        shard = tbl.column("shard").to_numpy()
        term = np.asarray(tbl.column("term").to_pandas(), dtype=object)
        last_s, last_t = shard[-1], term[-1]
        is_tail = (shard == last_s) & (term == last_t)
        nz = np.flatnonzero(~is_tail)
        tail_start = (nz[-1] + 1) if nz.size else 0
        leftover = tbl.slice(tail_start).combine_chunks()
        if tail_start:
            head = tbl.slice(0, tail_start)
            yield encode_group_arrow(
                shard[:tail_start],
                head.column("bucket").to_numpy(),
                term[:tail_start],
                head.column("docid").to_numpy(),
                head.column("tf").to_numpy().astype(np.int64),
                head.column("dl").to_numpy().astype(np.int64),
                block_size,
            )
    if leftover is not None and leftover.num_rows:
        yield encode_group_arrow(
            leftover.column("shard").to_numpy(),
            leftover.column("bucket").to_numpy(),
            np.asarray(leftover.column("term").to_pandas(), dtype=object),
            leftover.column("docid").to_numpy(),
            leftover.column("tf").to_numpy().astype(np.int64),
            leftover.column("dl").to_numpy().astype(np.int64),
            block_size,
        )

