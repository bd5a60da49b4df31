"""Varint/delta codec round-trip — unit + hypothesis property tests
(SURVEY.md §5.2.2)."""

from __future__ import annotations

import random

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from visionsearch_spark.index.codec import (
    decode_blocks,
    decode_docids,
    decode_positions,
    decode_varint,
    encode_docids,
    encode_positions,
    encode_varint,
    fixed_values,
    payload,
    term_runs,
)


def test_empty():
    assert encode_varint(np.array([], dtype=np.uint64)) == b""
    assert decode_varint(b"", 0).size == 0
    assert encode_docids(np.array([], dtype=np.int64)) == b""


def test_known_values():
    assert encode_varint(np.array([0], dtype=np.uint64)) == b"\x00"
    assert encode_varint(np.array([127], dtype=np.uint64)) == b"\x7f"
    assert encode_varint(np.array([128], dtype=np.uint64)) == b"\x80\x01"
    assert encode_varint(np.array([300], dtype=np.uint64)) == b"\xac\x02"


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=500))
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert decode_varint(encode_varint(arr), len(vals)).tolist() == vals


def _leb128(vals):
    """Reference LEB128 encoder, one value at a time in pure Python."""
    out = bytearray()
    for v in vals:
        while True:
            byte, v = v & 0x7F, v >> 7
            out.append(byte | (0x80 if v else 0))
            if not v:
                break
    return bytes(out)


def test_varint_decode_mixes_every_width():
    """1- to 10-byte values interleaved, up to 2**64 - 1: the byte-position
    fold restores each value exactly (no float, no overflow at bit 63)."""
    edges = [0, 1, 2**64 - 1, 2**63, 2**63 - 1]
    for k in range(1, 10):
        edges += [2**(7 * k) - 1, 2**(7 * k), 2**(7 * k) + 1]
    rnd = random.Random(7)
    bits = [rnd.randint(1, 64) for _ in range(2000)]
    vals = edges + [(1 << (b - 1)) | rnd.getrandbits(b - 1) if b > 1 else 1
                    for b in bits]
    rnd.shuffle(vals)
    buf = _leb128(vals)
    assert encode_varint(np.array(vals, dtype=np.uint64)) == buf
    assert {len(_leb128([v])) for v in vals} == set(range(1, 11))
    assert decode_varint(buf, len(vals)).tolist() == vals
    # the one-byte fast path and a stream whose count disagrees
    assert decode_varint(bytes([0, 5, 127]), 3).tolist() == [0, 5, 127]
    with pytest.raises(ValueError):
        decode_varint(buf, len(vals) + 1)


@given(st.lists(st.integers(min_value=0, max_value=2**64 - 1), max_size=300))
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip_full_width(vals):
    assert decode_varint(_leb128(vals), len(vals)).tolist() == vals


@given(
    st.lists(st.integers(min_value=0, max_value=2**40), min_size=1, max_size=300, unique=True)
)
@settings(max_examples=200, deadline=None)
def test_docid_roundtrip(vals):
    arr = np.array(sorted(vals), dtype=np.int64)
    out = decode_docids(encode_docids(arr), len(vals))
    assert out.tolist() == sorted(vals)


def test_compression_is_real():
    # dense sorted docids compress far below 8 bytes each
    d = np.arange(10_000, dtype=np.int64) * 3
    assert len(encode_docids(d)) < 10_000 * 2


# ---- column decoders: decode_blocks / payload ----------------------------

_blocks = st.lists(
    st.lists(st.integers(min_value=0, max_value=2**40), min_size=1,
             max_size=128, unique=True).map(sorted),
    max_size=60,
)


def _encoded(blocks):
    return ([encode_docids(np.asarray(b, dtype=np.int64)) for b in blocks],
            np.asarray([len(b) for b in blocks], dtype=np.int64))


def _per_block(enc, ns):
    parts = [decode_docids(e, int(n)) for e, n in zip(enc, ns)]
    return (np.concatenate(parts) if parts
            else np.zeros(0, dtype=np.int64)).tolist()


@given(_blocks)
@settings(max_examples=100, deadline=None)
def test_decode_blocks_matches_per_block(blocks):
    enc, ns = _encoded(blocks)
    assert decode_blocks(pa.array(enc, type=pa.binary()), ns).tolist() \
        == _per_block(enc, ns)


@given(st.lists(
    st.lists(st.integers(min_value=0, max_value=2**31), min_size=1,
             max_size=8, unique=True).map(sorted),
    min_size=38, max_size=45,
))
@settings(max_examples=30, deadline=None)
def test_decode_blocks_sliced_array(blocks):
    enc, ns = _encoded(blocks)
    arr = pa.array(enc, type=pa.binary())[37:]
    assert arr.offset == 37
    assert decode_blocks(arr, ns[37:]).tolist() == _per_block(enc[37:],
                                                              ns[37:])


@given(_blocks, st.lists(st.integers(min_value=0, max_value=60),
                         max_size=4))
@settings(max_examples=100, deadline=None)
def test_decode_blocks_chunked(blocks, cuts):
    enc, ns = _encoded(blocks)
    arr = pa.array(enc, type=pa.binary())
    edges = sorted({0, len(enc), *(min(c, len(enc)) for c in cuts)})
    chunked = pa.chunked_array(
        [arr[a:b] for a, b in zip(edges[:-1], edges[1:])], type=pa.binary())
    assert decode_blocks(chunked, ns).tolist() == _per_block(enc, ns)
    # the large_binary widening term_runs applies decodes the same
    wide = chunked.cast(pa.large_binary())
    assert decode_blocks(wide, ns).tolist() == _per_block(enc, ns)


def test_decode_blocks_empty_and_zero_counts():
    empty = pa.array([], type=pa.binary())
    assert decode_blocks(empty, np.zeros(0, dtype=np.int64)).size == 0
    assert decode_blocks(pa.chunked_array([], type=pa.binary()),
                         []).size == 0
    assert decode_blocks(pa.array([b"", b"", b""]), [0, 0, 0]).size == 0
    # empty blocks between real ones repeat their base zero times
    enc, _ = _encoded([[4, 9], [7]])
    col = pa.array([b"", enc[0], b"", enc[1], b""])
    assert decode_blocks(col, [0, 2, 0, 1, 0]).tolist() == [4, 9, 7]
    with pytest.raises(ValueError):
        decode_blocks(col, [2, 1])


@given(st.lists(st.lists(st.integers(min_value=1, max_value=4),
                         min_size=1, max_size=20), max_size=20),
       st.integers(min_value=0, max_value=3))
@settings(max_examples=100, deadline=None)
def test_payload_positions_match_per_block(block_tfs, cut):
    rng = np.random.default_rng(len(block_tfs))
    bufs, tfs_list = [], []
    for tfs in block_tfs:
        t = np.asarray(tfs, dtype=np.int64)
        pos = np.concatenate([np.sort(rng.choice(50, size=n, replace=False))
                              for n in t])
        bufs.append(encode_positions(pos, t))
        tfs_list.append(t)
    tfs = (np.concatenate(tfs_list) if tfs_list
           else np.zeros(0, dtype=np.int64))
    arr = pa.array(bufs, type=pa.binary())
    cut = min(cut, len(bufs))
    col = pa.chunked_array([arr[:cut], arr[cut:]], type=pa.binary())
    expect = [decode_positions(b, t) for b, t in zip(bufs, tfs_list)]
    expect = np.concatenate(expect) if expect else np.zeros(0)
    assert decode_positions(payload(col), tfs).tolist() == expect.tolist()


def test_payload_null_slots_raise():
    """A NULL slot's offsets may still span real bytes of a shared stream
    (an Arrow array built over one buffer; only a parquet round trip
    empties them), so payload must refuse the column and callers filter
    the NULL slots out first."""
    tfs = [np.array([2, 1]), np.array([1, 2]), np.array([1])]
    pos = [np.array([0, 3, 5]), np.array([1, 2, 6]), np.array([4])]
    bufs = [encode_positions(p, t) for p, t in zip(pos, tfs)]
    offsets = np.concatenate(([0], np.cumsum([len(b) for b in bufs])))
    valid = np.array([True, False, True])
    col = pa.Array.from_buffers(
        pa.binary(), 3,
        [pa.py_buffer(np.packbits(valid, bitorder="little").tobytes()),
         pa.py_buffer(offsets.astype(np.int32)),
         pa.py_buffer(b"".join(bufs))],
        null_count=1,
    )
    assert col.null_count == 1 and col.is_null()[1].as_py()
    offsets = np.frombuffer(col.buffers()[1], dtype=np.int32)
    assert offsets[2] > offsets[1]  # the NULL slot spans real bytes
    with pytest.raises(ValueError, match="NULL"):
        payload(col)
    with pytest.raises(ValueError, match="NULL"):
        decode_blocks(col, [3, 2, 1])
    kept = col.filter(col.is_valid())
    ktfs = np.array([2, 1, 1], dtype=np.int64)  # blocks 0 and 2
    assert decode_positions(payload(kept), ktfs).tolist() == [0, 3, 5, 4]


def test_term_runs_groups_stably():
    tbl = pa.table({
        "term": ["b", "a", "b", "c", "a"],
        "n": pa.array([1, 2, 3, 4, 5], type=pa.int32()),
        "docids_bin": pa.array([b"1", b"2", b"3", b"4", b"5"]),
    })
    out, runs = term_runs(tbl)
    assert runs == {"a": (0, 2), "b": (2, 4), "c": (4, 5)}
    assert out["n"].to_pylist() == [2, 5, 1, 3, 4]
    assert out.schema.field("docids_bin").type == pa.large_binary()
    assert term_runs(tbl.slice(0, 0))[1] == {}


_widths = st.sampled_from([(pa.int32(), np.int32), (pa.int64(), np.int64)])


def _ints(np_type):
    info = np.iinfo(np_type)
    return st.lists(st.integers(min_value=int(info.min),
                                max_value=int(info.max)), max_size=200)


@given(_widths.flatmap(lambda w: st.tuples(
    st.just(w), _ints(w[1]), st.integers(min_value=0, max_value=250),
    st.lists(st.integers(min_value=0, max_value=200), max_size=4))))
@settings(max_examples=200, deadline=None)
def test_fixed_values_matches_to_numpy(case):
    """fixed_values == to_numpy() over a plain array, an arr[k:] slice,
    a multi-chunk ChunkedArray and the empty column."""
    (atype, np_type), vals, k, cuts = case
    arr = pa.array(vals, type=atype)
    cols = [arr, arr[min(k, len(arr)):], pa.chunked_array([], type=atype)]
    bounds = sorted({0, len(vals), *(min(c, len(vals)) for c in cuts)})
    cols.append(pa.chunked_array(
        [arr[a:b] for a, b in zip(bounds[:-1], bounds[1:])], type=atype))
    for col in cols:
        got = fixed_values(col)
        assert got.dtype == np_type
        assert np.array_equal(got, col.to_numpy()), col


def test_fixed_values_rejects_nulls_and_non_numeric():
    col = pa.chunked_array([pa.array([1, 2], pa.int64()),
                            pa.array([3, None], pa.int64())])
    with pytest.raises(ValueError, match="NULL"):
        fixed_values(col)
    with pytest.raises(ValueError, match="NULL"):
        fixed_values(pa.array([None, 1], pa.int32()))
    # sliced past the NULL slot: the view is null-free again
    assert fixed_values(pa.array([None, 7, 8], pa.int32())[1:]).tolist() \
        == [7, 8]
    with pytest.raises(TypeError):
        fixed_values(pa.array(["a"]))
