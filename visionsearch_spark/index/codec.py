"""Delta + varint (LEB128) posting-list codec, numpy-vectorized.

Postings are stored as binary columns: docids delta-encoded within a block
(first value absolute) then varint-packed; tfs plain varint. Doc lengths
are stored once per doc, as the tfs of the reserved DL_TERM rows
(store.DL_TERM), never per posting. All
encode/decode paths are vectorized over whole arrays — byte positions are
looped (<= 10 iterations), elements never are. This is the Arrow-friendly
analog of the reference's contiguous float32 matrix
(`/root/reference/visionsearch/common_utils/aisearch/core.py:43`): a
compact, scan-friendly physical layout for the index payload.

Decode API. Every reader of more than one block goes through the column
decoders, never a per-block or per-row loop:
  decode_blocks(col, ns) -> int64 docids of every block of a binary
                            column, in row order (block i holds ns[i]);
  block_docids(raw, ns)  -> the same over the blocks' docids_bin bytes
                            already concatenated — the one block decoder
                            decode_blocks and LocalSearcher's first-touch
                            decode (query/serving.py) share;
  payload(col)           -> the column's value bytes as one uint8 array,
                            fed to decode_varint (tfs_bin) or
                            decode_positions (pos_bin);
  binary_parts(arr)      -> one binary array's (offsets, data) views, so
                            a row range's bytes are one numpy slice;
  term_runs(tbl)         -> a posting table sorted by term plus each
                            term's row range, so a term's blocks are one
                            zero-copy slice: the grouping of the Spark-side
                            readers (wand, boolean, fsck). It imports
                            pyarrow.compute where it runs; the serving tier
                            never calls it (it groups each file's rows in
                            place, numpy only);
  split_dl(tbl, runs)    -> term_runs' output split into the DL_TERM rows
                            and the term rows (with their shifted runs),
                            before any tf or positions decode;
  doc_lengths(rows)      -> DocLengths of DL_TERM rows: (docids
                            ascending, dl) and a dense docid -> dl table
                            (dl_lookup builds one from arrays);
  gather_dl(lens, ids)   -> the dl of each docid, looked up in a
                            DocLengths — the one per-posting dl lookup
                            of every reader and merge kernel.
  fixed_values(col)      -> a fixed-width (integer/float) column as one
                            numpy array (n, docid, shard, turn_idx, ...).
These cross the Arrow boundary through buffers, never through pyarrow's
converters (to_numpy, np.asarray of an Arrow array, pa.array), which
import pandas, and never through pyarrow.compute: the serving tier reads
everything through them and stays pandas- and compute-free
(query/serving.py).
The scalar decode_docids/decode_varint/decode_positions primitives stay
for callers that decode exactly ONE block (fsck's spot check).

Chunk rule: a column may be a ChunkedArray. Each chunk's value bytes are
read zero-copy from its data buffer over the span its offsets give
(honouring the array's slice offset), concatenated in numpy when there
are several, and decoded in one pass — never combine_chunks: one Arrow
binary chunk's int32 offsets cap it at 2 GiB (spimi._CHUNK_BYTE_LIMIT),
so a large column stays chunked.

Null rule: payload/decode_blocks/fixed_values raise on a column with
NULL slots. A NULL slot's offsets may still span real bytes of an
in-memory array built over a shared stream (only a parquet round trip
empties them), so callers filter NULL slots out first.

Round-trip property-tested in tests/test_codec.py (hypothesis).
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pyarrow as pa

from visionsearch_spark.index.store import DL_TERM

_MASK = np.uint64(0x7F)
_CONT = np.uint8(0x80)
_MASK7 = np.uint8(0x7F)


# ceil(bit_length/7) boundaries: value v needs 1 + (number of these <= v)
# LEB128 bytes — a searchsorted replaces the per-bit shift loop
_VARINT_POW = np.uint64(1) << (np.uint64(7) * np.arange(1, 10, dtype=np.uint64))


def varint_stream(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """uint64 array -> (LEB128 byte stream as uint8 array, per-value byte
    counts). ONE vectorized pass over the whole array; because LEB128
    values are self-delimiting, any slice of the stream at value
    boundaries (cumsum of the counts) is byte-identical to encode_varint
    of that value slice — the per-block encoder the batch builders slice
    from."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if v.size == 0:
        return np.zeros(0, dtype=np.uint8), np.zeros(0, dtype=np.int64)
    nbytes = np.searchsorted(_VARINT_POW, v, side="right").astype(np.int64) + 1
    total = int(nbytes.sum())
    out = np.zeros(total, dtype=np.uint8)
    # start offset of each value's byte run
    starts = np.concatenate(([0], np.cumsum(nbytes)[:-1]))
    max_len = int(nbytes.max())
    tmp = v.copy()
    for pos in range(max_len):
        alive = nbytes > pos
        idx = starts[alive] + pos
        chunk = (tmp[alive] & _MASK).astype(np.uint8)
        more = (nbytes[alive] - 1) > pos
        out[idx] = chunk | np.where(more, _CONT, np.uint8(0))
        tmp[alive] >>= np.uint64(7)
    return out, nbytes


def encode_varint(values: np.ndarray) -> bytes:
    """uint64 array -> LEB128 bytes."""
    return varint_stream(values)[0].tobytes()


def decode_varint(buf: bytes, n: int) -> np.ndarray:
    """LEB128 bytes -> uint64 array of n values. A fold over byte
    positions: each value's first byte, then the values still running OR
    in their byte at position 1, 2, ... (<= 10 passes, each over the
    values that long), so no per-byte scatter."""
    if n == 0:
        return np.zeros(0, dtype=np.uint64)
    raw = np.frombuffer(buf, dtype=np.uint8)
    is_last = (raw & _CONT) == 0
    if raw.size == n and is_last.all():
        # every value is one byte: the common case for tfs and doc
        # lengths
        return raw.astype(np.uint64)
    ends = np.flatnonzero(is_last)
    if ends.size != n:
        raise ValueError(f"LEB128 stream holds {ends.size} values, not {n}")
    starts = np.empty(n, dtype=np.int64)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    out = (raw[starts] & _MASK7).astype(np.uint64)
    extra = ends - starts  # bytes after each value's first
    live = np.flatnonzero(extra)
    pos = 1
    while live.size:
        out[live] |= ((raw[starts[live] + pos] & _MASK7).astype(np.uint64)
                      << np.uint64(7 * pos))
        live = live[extra[live] > pos]
        pos += 1
    return out


def encode_positions(pos: np.ndarray, tfs: np.ndarray) -> bytes:
    """Flat token-position array (ascending within each doc) for a run of
    postings with per-doc occurrence counts `tfs` -> per-doc delta
    (first-of-doc absolute) varint bytes. Because every doc's first delta
    is absolute, any doc-boundary-aligned SLICE of the delta stream is
    itself a valid encoding — compaction re-chunks and delete-masking
    filters by slicing deltas, never re-deriving absolutes."""
    p = np.ascontiguousarray(pos, dtype=np.int64)
    if p.size == 0:
        return b""
    t = np.ascontiguousarray(tfs, dtype=np.int64)
    deltas = np.empty_like(p)
    deltas[0] = p[0]
    np.subtract(p[1:], p[:-1], out=deltas[1:])
    starts = np.concatenate(([0], np.cumsum(t)[:-1]))
    deltas[starts] = p[starts]
    if (deltas < 0).any():
        raise ValueError("positions must be ascending within each doc")
    return encode_varint(deltas.astype(np.uint64))


def decode_positions(buf: bytes, tfs: np.ndarray) -> np.ndarray:
    """Inverse of encode_positions: flat absolute positions (int64),
    aligned with np.repeat(docids, tfs)."""
    t = np.ascontiguousarray(tfs, dtype=np.int64)
    n = int(t.sum())
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    deltas = decode_varint(buf, n).astype(np.int64)
    c = np.cumsum(deltas)
    ends = np.cumsum(t)
    seg_base = np.concatenate(([0], c[ends[:-1] - 1]))
    return c - np.repeat(seg_base, t)


def encode_docids(docids: np.ndarray) -> bytes:
    """Sorted int64 docids -> delta(first absolute) varint bytes."""
    d = np.ascontiguousarray(docids, dtype=np.int64)
    if d.size == 0:
        return b""
    deltas = np.empty_like(d)
    deltas[0] = d[0]
    np.subtract(d[1:], d[:-1], out=deltas[1:])
    if d.size > 1 and deltas[1:].min() <= 0:
        raise ValueError("docids must be strictly increasing within a block")
    return encode_varint(deltas.astype(np.uint64))


def decode_docids(buf: bytes, n: int) -> np.ndarray:
    deltas = decode_varint(buf, n).astype(np.int64)
    return np.cumsum(deltas)


def binary_parts(chunk: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """Zero-copy (offsets, data) views of one null-free binary array:
    value i is data[offsets[i]:offsets[i + 1]] (the array's slice offset
    honoured), so any row range's bytes are one numpy slice."""
    if chunk.null_count:
        raise ValueError("posting column has NULL slots; filter them out "
                         "before decoding (codec null rule)")
    data = chunk.buffers()[2]
    if len(chunk) == 0 or data is None:
        return (np.zeros(len(chunk) + 1, dtype=np.int64),
                np.zeros(0, dtype=np.uint8))
    odt = np.int64 if pa.types.is_large_binary(chunk.type) else np.int32
    off = np.frombuffer(chunk.buffers()[1], dtype=odt, count=len(chunk) + 1,
                        offset=chunk.offset * np.dtype(odt).itemsize)
    return off, np.frombuffer(data, dtype=np.uint8)


def _value_bytes(chunk: pa.Array) -> np.ndarray:
    """Zero-copy uint8 view of one binary chunk's values, concatenated."""
    off, data = binary_parts(chunk)
    return data[int(off[0]):int(off[-1])]


def _chunks(col: pa.Array | pa.ChunkedArray) -> list[pa.Array]:
    return col.chunks if isinstance(col, pa.ChunkedArray) else [col]


def _fixed_chunk(chunk: pa.Array, dt: np.dtype) -> np.ndarray:
    """Zero-copy numpy view of one fixed-width chunk's values."""
    if chunk.null_count:
        raise ValueError("column has NULL slots; filter them out before "
                         "viewing it (codec null rule)")
    if len(chunk) == 0:
        return np.zeros(0, dtype=dt)
    return np.frombuffer(chunk.buffers()[1], dtype=dt, count=len(chunk),
                         offset=chunk.offset * dt.itemsize)


def fixed_values(col: pa.Array | pa.ChunkedArray) -> np.ndarray:
    """A null-free integer or float column as one numpy array of its own
    width (zero-copy for a single chunk; chunks concatenate otherwise).
    Equal to col.to_numpy() without the pandas import behind it."""
    t = col.type
    if pa.types.is_integer(t):
        kind = "i" if pa.types.is_signed_integer(t) else "u"
    elif pa.types.is_floating(t):
        kind = "f"
    else:
        raise TypeError(f"not a fixed-width numeric column: {t}")
    dt = np.dtype(f"<{kind}{t.bit_width // 8}")
    parts = [_fixed_chunk(c, dt) for c in _chunks(col)]
    if len(parts) == 1:
        return parts[0]
    return np.concatenate(parts) if parts else np.zeros(0, dtype=dt)


def payload(col: pa.Array | pa.ChunkedArray) -> np.ndarray:
    """A binary column's value bytes as one uint8 array (zero-copy for a
    single chunk). LEB128 streams concatenate, so this feeds
    decode_varint/decode_positions for every block at once."""
    parts = [_value_bytes(c) for c in _chunks(col)]
    if len(parts) == 1:
        return parts[0]
    return np.concatenate(parts) if parts else np.zeros(0, dtype=np.uint8)


def decode_blocks(col: pa.Array | pa.ChunkedArray,
                  ns: np.ndarray) -> np.ndarray:
    """Docids of every block of a docids_bin column, concatenated in row
    order (block_docids over the column's payload). Equal to
    np.concatenate of decode_docids per block."""
    ns = np.asarray(ns, dtype=np.int64)
    if ns.size != len(col):
        raise ValueError(f"{ns.size} block counts for {len(col)} blocks")
    return block_docids(payload(col), ns)


def block_docids(raw: np.ndarray, ns: np.ndarray) -> np.ndarray:
    """Docids of consecutive docids_bin blocks whose bytes are
    concatenated in `raw` (block i holds ns[i] values): one decode_varint
    pass, then per-block absolutes restored by a segmented cumsum (each
    block's first delta is absolute)."""
    ns = np.asarray(ns, dtype=np.int64)
    deltas = decode_varint(raw, int(ns.sum())).astype(np.int64)
    if deltas.size == 0:
        return deltas
    starts = np.zeros(ns.size, dtype=np.int64)
    np.cumsum(ns[:-1], out=starts[1:])
    # empty blocks repeat their base zero times; clip keeps it in range
    starts = np.minimum(starts, deltas.size - 1)
    c = np.cumsum(deltas)
    return c - np.repeat(c[starts] - deltas[starts], ns)


def term_runs(tbl: pa.Table) -> tuple[pa.Table, dict[str, tuple[int, int]]]:
    """`tbl` stably sorted by its `term` column, and each term's
    [start, stop) row range in the sorted table — a term's blocks are
    then one zero-copy slice. Binary columns are widened to large_binary
    first: the sort gathers every chunk into one, and large_binary's
    int64 offsets lift the 2 GiB per-chunk cap. The Spark-side grouping
    (wand, boolean, fsck): the cast, the sort and the run-end encoding
    import pyarrow.compute, which the serving tier never loads."""
    import pyarrow.compute as pc

    tbl = tbl.cast(pa.schema([
        f.with_type(pa.large_binary()) if pa.types.is_binary(f.type) else f
        for f in tbl.schema
    ])).sort_by("term")
    # the sort's gather leaves `term` in one chunk: combining is a no-op
    ree = pc.run_end_encode(tbl["term"].combine_chunks())
    ends = fixed_values(ree.run_ends).astype(np.int64)
    starts = np.concatenate(([0], ends[:-1]))
    return tbl, dict(zip(ree.values.to_pylist(),
                         zip(starts.tolist(), ends.tolist())))


def split_dl(tbl: pa.Table, runs: dict[str, tuple[int, int]]
             ) -> tuple[pa.Table, pa.Table, dict[str, tuple[int, int]]]:
    """term_runs' (tbl, runs) -> (the DL_TERM rows, the term rows, the
    term rows' runs). DL_TERM sorts before every analyzer term, so both
    parts are zero-copy slices of the sorted table."""
    lo, hi = runs.get(DL_TERM, (0, 0))
    if lo:
        raise ValueError(f"a term sorts before {DL_TERM!r}")
    return tbl.slice(0, hi), tbl.slice(hi), {
        t: (a - hi, b - hi) for t, (a, b) in runs.items() if t != DL_TERM}


class DocLengths(NamedTuple):
    """A set of docs' lengths: (docids ascending, dl) plus the dense
    lookup table gather_dl indexes (table[d - lo] = dl of docid d, -1
    where the set has no entry)."""
    docids: np.ndarray
    dls: np.ndarray
    lo: int
    table: np.ndarray


def dl_lookup(docids: np.ndarray, dls: np.ndarray) -> DocLengths:
    """DocLengths of unique docids with lengths dls, in any order. The
    table spans the docids' range: a file's shards hold every docid of
    their span but the deleted ones, so it is about one slot per doc and
    never more than the staged row count."""
    if docids.size > 1 and (docids[1:] <= docids[:-1]).any():
        order = np.argsort(docids, kind="stable")
        docids, dls = docids[order], dls[order]
    lo = int(docids[0]) if docids.size else 0
    table = np.full(int(docids[-1]) - lo + 1 if docids.size else 0, -1,
                    dtype=np.int64)
    table[docids - lo] = dls
    return DocLengths(docids, dls, lo, table)


def doc_lengths(rows: pa.Table) -> DocLengths:
    """DocLengths of DL_TERM rows (columns n, docids_bin, tfs_bin): a
    DL_TERM block holds its docids like any term and their lengths where
    a term holds tfs."""
    ns = fixed_values(rows["n"]).astype(np.int64)
    return dl_lookup(decode_blocks(rows["docids_bin"], ns),
                     decode_varint(payload(rows["tfs_bin"]),
                                   int(ns.sum())).astype(np.int64))


def gather_dl(lengths: DocLengths, docids: np.ndarray) -> np.ndarray:
    """The dl of each docid: one table index per posting. A docid with no
    entry is corruption (fsck's `dl` check) and raises."""
    i = np.asarray(docids, dtype=np.int64) - lengths.lo
    inside = (i >= 0) & (i < lengths.table.size)
    if inside.all():
        out = lengths.table[i]
        if not (out < 0).any():
            return out
    raise ValueError("posting docid without a doc length in its file's "
                     "DL_TERM rows — run fsck (index/fsck.py)")
