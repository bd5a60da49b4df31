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
    PostingRuns,
    payload,
)
from visionsearch_spark.index.store import DL_TERM


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
    # a large_binary column decodes the same
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


def _segment_batch(rows, extra_terms=(), plain=False):
    """A record batch of segment rows (term, shard, docids, tfs, positions),
    `term` dictionary-encoded over its terms plus `extra_terms` no row
    references (or a plain string column)."""
    terms = sorted({r[0] for r in rows} | set(extra_terms))
    at = {t: i for i, t in enumerate(terms)}
    return pa.RecordBatch.from_arrays([
        pa.array([r[0] for r in rows], pa.string()) if plain else
        pa.DictionaryArray.from_arrays(
            pa.array([at[r[0]] for r in rows], pa.int32()),
            pa.array(terms, pa.string())),
        pa.array([len(r[2]) for r in rows], pa.int32()),
        pa.array([encode_docids(np.asarray(r[2])) for r in rows],
                 pa.binary()),
        pa.array([encode_varint(np.asarray(r[3], dtype=np.uint64))
                  for r in rows], pa.binary()),
        pa.array([encode_positions(np.asarray(r[4]), np.asarray(r[3]))
                  for r in rows], pa.binary()),
        pa.array([max(r[3]) for r in rows], pa.int32()),
        pa.array([r[1] for r in rows], pa.int64()),
    ], names=["term", "n", "docids_bin", "tfs_bin", "pos_bin", "max_tf",
              "shard"])


def _random_rows(rng, n):
    out = []
    for _ in range(n):
        d = np.sort(rng.choice(500, size=int(rng.integers(1, 6)),
                               replace=False))
        tf = rng.integers(1, 4, size=d.size)
        pos = np.concatenate([np.sort(rng.choice(40, size=t, replace=False))
                              for t in tf])
        out.append((str(rng.choice(["a", "b", "c", "dd", DL_TERM])),
                    int(rng.integers(0, 4)), d.tolist(), tf.tolist(),
                    pos.tolist()))
    return out


@pytest.mark.parametrize("seed", range(6))
@pytest.mark.parametrize("shards", [None, [1, 3]])
def test_posting_runs_match_sorted_reference(seed, shards):
    """Unsorted batches, several per file, dictionaries with entries no
    row references (or plain term columns), with and without a shard
    subset: every term's df and decoded postings equal a stable sort of
    the kept rows by term, and each file's DocLengths its DL_TERM rows."""
    rng = np.random.default_rng(seed)
    files = [[_random_rows(rng, int(rng.integers(0, 12)))
              for _ in range(int(rng.integers(1, 4)))] for _ in range(3)]
    runs = PostingRuns(
        [[_segment_batch(rows, ["zz", "unused"], plain=seed % 2)
          for rows in f] for f in files], shards)
    kept = [(f, r) for f, batches in enumerate(files)
            for rows in batches for r in rows
            if shards is None or r[1] in shards]
    ref = sorted(kept, key=lambda fr: fr[1][0])  # stable: (file, row) kept
    terms = sorted({r[0] for _f, r in ref})
    assert sorted(t for t in runs.terms if runs.df[runs.ids[t]]) == terms
    assert "zz" not in runs.ids and "unused" not in runs.ids
    post = runs.decode(terms + ["zz"])
    for i, t in enumerate(terms):
        rows = [r for _f, r in ref if r[0] == t]
        span = post.span(i)
        assert post.docids[span].tolist() == sum((r[2] for r in rows), [])
        assert post.tf[span].tolist() == sum((r[3] for r in rows), [])
        assert post.max_tf[post.boff[i]:post.boff[i + 1]].tolist() == \
            [max(r[3]) for r in rows]
        assert runs.df[runs.ids[t]] == sum(len(r[2]) for r in rows)
    assert post.pos.tolist() == sum((r[4] for _f, r in sorted(
        ref, key=lambda fr: terms.index(fr[1][0]))), [])
    assert post.span(len(terms)) == slice(post.poff[-1], post.poff[-1])
    for f, lengths in enumerate(runs.doc_lengths()):
        dl = {d: x for g, r in kept if g == f and r[0] == DL_TERM
              for d, x in zip(r[2], r[3])}
        assert lengths.docids.tolist() == sorted(dl)
        assert lengths.dls.tolist() == [dl[d] for d in sorted(dl)]


def test_posting_runs_empty_input_and_sorted_file():
    """No file, a file of empty batches: no term, nothing decodes. A
    term-sorted batch gives one run per term."""
    for files in ([], [[]], [[_segment_batch([])]]):
        runs = PostingRuns(files)
        assert runs.terms == [] and runs.df.size == 0
        post = runs.decode(["a"])
        assert post.docids.size == 0 and post.span(0) == slice(0, 0)
        assert [x.docids.size for x in runs.doc_lengths()] == \
            [0] * len(files)
    rows = sorted(_random_rows(np.random.default_rng(7), 30))
    runs = PostingRuns([[_segment_batch(rows)]])
    assert runs.ptr.tolist() == list(range(len(runs.terms) + 1))
    # a NULL pos_bin (a store built without positions) is refused
    batch = _segment_batch(rows)
    no_pos = batch.set_column(4, "pos_bin", pa.nulls(len(rows), pa.binary()))
    with pytest.raises(ValueError, match="has no pos_bin"):
        PostingRuns([[no_pos]]).decode([rows[0][0]])


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
