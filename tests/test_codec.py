"""Codec round-trip goldens — the analog of the reference's
compress/decompress symmetry tests (``codecs/residual.py``) and index
reload tests (``tests/test_fast_plaid.py``)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pylate_spark.functions.codec import (
    decode_postings,
    encode_postings,
    varint_decode,
    varint_encode,
)
from pylate_spark.plans.segments import encode_group_arrow, blocks_from_row


def test_varint_golden():
    vals = np.array([0, 1, 127, 128, 129, 16383, 16384, 2**31, 10**12], dtype=np.int64)
    buf = varint_encode(vals)
    # 0..127 -> 1 byte, 128..16383 -> 2 bytes, etc.
    assert buf[0] == 0 and buf[1] == 1 and buf[2] == 127
    assert buf[3] == 0x80 and buf[4] == 0x01  # 128
    np.testing.assert_array_equal(varint_decode(buf), vals)


@settings(max_examples=50, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**52), max_size=200))
def test_varint_roundtrip_property(vals):
    arr = np.asarray(vals, dtype=np.int64)
    np.testing.assert_array_equal(varint_decode(varint_encode(arr)), arr)


def _random_postings(n, seed=0, max_docid=10**9):
    rng = np.random.Generator(np.random.Philox(key=seed, counter=0))
    docids = np.sort(rng.choice(max_docid, size=n, replace=False))
    tfs = rng.integers(1, 50, size=n)
    dls = rng.integers(5, 400, size=n)
    return docids.astype(np.int64), tfs.astype(np.int64), dls.astype(np.int64)


@pytest.mark.parametrize("n", [1, 5, 128, 129, 1000])
def test_postings_roundtrip(n):
    docids, tfs, dls = _random_postings(n)
    payload, blocks = encode_postings(docids, tfs, dls, block_size=128)
    d, t, l = decode_postings(payload, blocks)
    np.testing.assert_array_equal(d, docids)
    np.testing.assert_array_equal(t, tfs)
    np.testing.assert_array_equal(l, dls)
    # block metadata invariants
    assert blocks.first[0] == docids[0]
    assert blocks.last[-1] == docids[-1]
    assert blocks.n.sum() == n
    assert blocks.max_tf.max() == tfs.max()
    assert blocks.min_dl.min() == dls.min()


def _tfs(rng, n, tf1_share):
    """tf values of which about ``tf1_share`` are 1 (0 and 1 exactly)."""
    tfs = rng.integers(2, 1000, size=n).astype(np.int64)
    tfs[rng.random(n) < tf1_share] = 1
    return tfs


@settings(max_examples=60, deadline=None)
@given(
    docid_steps=st.lists(st.integers(min_value=1, max_value=2**42), min_size=1, max_size=300),
    tf_seed=st.integers(min_value=0, max_value=2**31),
    tf1_share=st.sampled_from([0.0, 0.8, 1.0]),
    const_dl=st.booleans(),
    block_size=st.sampled_from([1, 2, 64, 128, 1024]),
    base=st.sampled_from([0, 1, 2**31 - 1, 2**31, 10**12]),
)
def test_postings_roundtrip_property(docid_steps, tf_seed, tf1_share, const_dl, block_size, base):
    """Property form of the round-trip: ANY strictly-increasing int64
    docid sequence (including gaps past 2^40 and bases past int32 — the
    class of bug the round-2 overflow fix caught once), any tf/dl
    (all, most or none of the tfs 1; dl varying or constant, so every
    dl offset is 0), any block size must round-trip exactly, with valid
    block metadata."""
    docids = base + np.cumsum(np.asarray(docid_steps, dtype=np.int64))
    rng = np.random.Generator(np.random.Philox(key=tf_seed, counter=0))
    n = docids.size
    tfs = _tfs(rng, n, tf1_share)
    dls = np.full(n, 37, dtype=np.int64) if const_dl else rng.integers(1, 5000, size=n).astype(np.int64)
    payload, blocks = encode_postings(docids, tfs, dls, block_size=block_size)
    d, t, l = decode_postings(payload, blocks)
    np.testing.assert_array_equal(d, docids)
    np.testing.assert_array_equal(t, tfs)
    np.testing.assert_array_equal(l, dls)
    assert blocks.n.sum() == n
    assert blocks.first[0] == docids[0] and blocks.last[-1] == docids[-1]
    # per-block bounds are true bounds (the pruning-soundness inputs)
    off = 0
    for i in range(blocks.n.size):
        m = int(blocks.n[i])
        assert blocks.max_tf[i] == tfs[off:off + m].max()
        assert blocks.min_dl[i] == dls[off:off + m].min()
        assert blocks.first[i] == docids[off] and blocks.last[i] == docids[off + m - 1]
        off += m


@settings(max_examples=40, deadline=None)
@given(
    n=st.integers(min_value=1, max_value=600),
    seed=st.integers(min_value=0, max_value=2**31),
    tf1_share=st.sampled_from([0.0, 0.8, 1.0]),
    block_size=st.sampled_from([1, 2, 64, 128]),
    data=st.data(),
)
def test_select_equals_masked_full_decode(n, seed, tf1_share, block_size, data):
    """Decoding the blocks in ``select`` returns exactly the postings of
    those blocks out of the full decode, in order."""
    rng = np.random.Generator(np.random.Philox(key=seed, counter=0))
    docids = np.sort(rng.choice(10**9, size=n, replace=False)).astype(np.int64)
    payload, blocks = encode_postings(
        docids, _tfs(rng, n, tf1_share), rng.integers(1, 400, size=n), block_size=block_size
    )
    nb = blocks.n.size
    select = np.asarray(
        sorted(data.draw(st.sets(st.integers(min_value=0, max_value=nb - 1), max_size=nb))),
        dtype=np.int64,
    )
    full = decode_postings(payload, blocks)
    keep = np.repeat(np.isin(np.arange(nb), select), blocks.n)
    for got, want in zip(decode_postings(payload, blocks, select=select), full):
        np.testing.assert_array_equal(got, want[keep])


def test_selective_block_decode():
    docids, tfs, dls = _random_postings(1000, seed=3)
    payload, blocks = encode_postings(docids, tfs, dls, block_size=128)
    sel = np.array([0, 3, 7])
    d, t, l = decode_postings(payload, blocks, select=sel)
    expect = np.concatenate([np.arange(s * 128, min((s + 1) * 128, 1000)) for s in sel])
    np.testing.assert_array_equal(d, docids[expect])
    np.testing.assert_array_equal(t, tfs[expect])
    np.testing.assert_array_equal(l, dls[expect])


def test_format2_golden_bytes():
    """The format-2 layout of a 3-posting run, byte for byte: section A
    holds ``gap << 1 | (tf == 1)`` (0·2+1, 2·2+0, 293·2+1 = 587 as the
    varint cb 04), B holds ``dl - min_dl``, C the one tf that is not 1."""
    payload, blocks = encode_postings(
        np.array([5, 7, 300]), np.array([1, 3, 1]), np.array([10, 12, 10])
    )
    assert payload == bytes([0x01, 0x04, 0xCB, 0x04, 0x00, 0x02, 0x00, 0x03])
    assert blocks.first.tolist() == [5] and blocks.last.tolist() == [300]
    assert blocks.min_dl.tolist() == [10] and blocks.max_tf.tolist() == [3]
    assert blocks.off.tolist() == [0]
    # a second block's offset names its first A value, after block 0's
    payload, blocks = encode_postings(
        np.array([5, 7, 300]), np.array([1, 3, 1]), np.array([10, 12, 10]), block_size=2
    )
    assert blocks.off.tolist() == [0, 2]
    d, t, l = decode_postings(payload, blocks)
    assert (d.tolist(), t.tolist(), l.tolist()) == ([5, 7, 300], [1, 3, 1], [10, 12, 10])


def test_encode_group_arrow_matches_single_term_codec():
    """The production multi-group Arrow encoder must emit exactly what
    the single-term codec emits per (shard, term)."""
    import zlib

    rng = np.random.Generator(np.random.Philox(key=9, counter=0))
    frames = []
    expected = {}
    for shard in (0, 1):
        for term in ("alpha", "beta", "gamma"):
            n = int(rng.integers(1, 400))
            base = shard * 10_000
            docids = base + np.sort(rng.choice(5000, size=n, replace=False))
            tfs = rng.integers(1, 30, size=n)
            dls = rng.integers(5, 300, size=n)
            frames.append(
                pd.DataFrame({"shard": shard, "term": term, "docid": docids, "tf": tfs, "dl": dls})
            )
            expected[(shard, term)] = (docids.astype(np.int64), tfs.astype(np.int64), dls.astype(np.int64))
    pdf = pd.concat(frames).sort_values(["shard", "term", "docid"]).reset_index(drop=True)
    buckets = np.array([zlib.crc32(t.encode()) % 8 for t in pdf["term"]], dtype=np.int64)
    out = encode_group_arrow(
        pdf["shard"].to_numpy(np.int64),
        buckets,
        pdf["term"].to_numpy(object),
        pdf["docid"].to_numpy(np.int64),
        pdf["tf"].to_numpy(np.int64),
        pdf["dl"].to_numpy(np.int64),
        64,
    ).to_pandas()
    assert len(out) == 6
    for _, row in out.iterrows():
        docids, tfs, dls = expected[(row["shard"], row["term"])]
        payload, blocks = encode_postings(docids, tfs, dls, block_size=64)
        assert bytes(row["payload"]) == payload
        d, t, l = decode_postings(row["payload"], blocks_from_row(row))
        np.testing.assert_array_equal(d, docids)
        np.testing.assert_array_equal(t, tfs)
        np.testing.assert_array_equal(l, dls)
        assert row["df"] == len(docids)
        assert row["cf"] == tfs.sum()
