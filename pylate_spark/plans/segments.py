"""Segment assembly: many terms' posting lists encoded in one
vectorized pass.

The reference compresses each chunk's embeddings in a single batched
codec call (``ResidualCodec.compress``,
``/root/reference/pylate/indexes/stanford_nlp/codecs/residual.py:180-198``)
rather than per-vector — we do the same at the posting-list level:
:func:`encode_group_arrow` takes column arrays of ``(shard, bucket,
term, docid, tf, dl)`` rows sorted so that each (shard, term) group is
contiguous, and emits one segment row per group. The codec's
:func:`~pylate_spark.functions.codec.encode_runs` writes *all* groups'
format-2 runs (gap, dl and tf sections, varint bytes, per-block
metadata) in one numpy pass; the per-group block-metadata lists and
payload slices are built as zero-copy ``pa.ListArray``/``pa.BinaryArray``
structures — no per-group Python loop anywhere (contrast with
``applyInPandas``, which would pay a Python call per (shard, term)
group — millions per batch).

:func:`arrow_carry_iterator` adapts this to ``mapInArrow`` streams:
Arrow batches split groups arbitrarily, so the trailing (possibly
incomplete) group of each batch is held back and prepended to the next
— bounded memory, no per-group Spark overhead.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import types as T

from pylate_spark.functions.codec import PostingBlocks, encode_runs
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
    payload, run_offs, blocks, nblocks_per_g = encode_runs(gstart, docid, tf, dl, block_size)

    boff = np.zeros(ngroups + 1, dtype=np.int32)
    np.cumsum(nblocks_per_g, out=boff[1:])
    list_offsets = pa.array(boff)
    # payload groups tile the byte stream contiguously → zero-copy binary
    payload_arr = pa.Array.from_buffers(
        pa.binary(), ngroups,
        [None, pa.py_buffer(run_offs.astype(np.int32).tobytes()), pa.py_buffer(payload.tobytes())],
    )

    def list_arr(vals, typ):
        return pa.ListArray.from_arrays(list_offsets, pa.array(vals, type=typ))

    return pa.RecordBatch.from_arrays(
        [
            pa.array(bucket[gstart], type=pa.int32()),
            pa.array(shard[gstart], type=pa.int64()),
            pa.array(term[gstart], type=pa.string()),
            pa.array(np.diff(np.append(gstart, n)), type=pa.int64()),
            pa.array(np.add.reduceat(tf, gstart), type=pa.int64()),
            list_arr(blocks.first, pa.int64()),
            list_arr(blocks.last, pa.int64()),
            list_arr(blocks.n, pa.int32()),
            list_arr(blocks.max_tf, pa.int32()),
            list_arr(blocks.min_dl, pa.int32()),
            list_arr(blocks.off, pa.int64()),
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

