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
  PostingRuns(files)     -> per-file record batches grouped in place into
                            term runs: the term dictionary, each term's
                            df, ONE decode pass over the runs of a list
                            of terms and each file's DL_TERM DocLengths —
                            the one posting reader of the query side;
  decode_blocks(col, ns) -> int64 docids of every block of a binary
                            column, in row order (block i holds ns[i]);
  block_docids(raw, ns)  -> the same over the blocks' docids_bin bytes
                            already concatenated — the one block decoder
                            decode_blocks and PostingRuns share;
  payload(col)           -> the column's value bytes as one uint8 array,
                            fed to decode_varint (tfs_bin) or
                            decode_positions (pos_bin);
  binary_parts(arr)      -> one binary array's (offsets, data) views, so
                            a row range's bytes are one numpy slice;
  doc_lengths(rows)      -> DocLengths of DL_TERM rows: (docids
                            ascending, dl) and a dense docid -> dl table
                            (dl_lookup builds one from arrays);
  gather_dl(lens, ids)   -> the dl of each docid, looked up in a
                            DocLengths — the one per-posting dl lookup
                            of every reader and merge kernel.
  fixed_values(col)      -> a fixed-width (integer/float) column as one
                            numpy array (n, docid, shard, turn_idx, ...).
The compaction and mask writers (index/spimi.py) decode whole tables
through decode_blocks/payload, to re-encode them in (term, shard) order.
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
empties them), so callers filter NULL slots out first. PostingRuns
reads a payload column with NULL slots (pos_bin) only over runs whose
rows are all valid, and raises otherwise.

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
    """Zero-copy (offsets, data) views of one binary (or string) array:
    value i is data[offsets[i]:offsets[i + 1]] (the array's slice offset
    honoured), so any row range's bytes are one numpy slice. A NULL
    slot's range may span real bytes (the null rule): read valid rows."""
    data = chunk.buffers()[2]
    if len(chunk) == 0 or data is None:
        return (np.zeros(len(chunk) + 1, dtype=np.int64),
                np.zeros(0, dtype=np.uint8))
    wide = pa.types.is_large_binary(chunk.type) \
        or pa.types.is_large_string(chunk.type)
    odt = np.int64 if wide else np.int32
    off = np.frombuffer(chunk.buffers()[1], dtype=odt, count=len(chunk) + 1,
                        offset=chunk.offset * np.dtype(odt).itemsize)
    return off, np.frombuffer(data, dtype=np.uint8)


def _value_bytes(chunk: pa.Array) -> np.ndarray:
    """Zero-copy uint8 view of one binary chunk's values, concatenated."""
    if chunk.null_count:
        raise ValueError("posting column has NULL slots; filter them out "
                         "before decoding (codec null rule)")
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


class Postings(NamedTuple):
    """PostingRuns.decode's output. Term i's blocks are rows
    boff[i]:boff[i + 1], in (file, row) order; block j's postings are
    docids[poff[j]:poff[j + 1]]. tf, pos (aligned with np.repeat(docids,
    tf)) and the block bounds max_tf/min_dl are None unless read."""
    boff: np.ndarray | None
    poff: np.ndarray
    docids: np.ndarray
    tf: np.ndarray | None
    pos: np.ndarray | None
    max_tf: np.ndarray | None
    min_dl: np.ndarray | None

    def span(self, i: int) -> slice:
        """Term i's postings."""
        return slice(int(self.poff[self.boff[i]]),
                     int(self.poff[self.boff[i + 1]]))


# the columns decode reads when a batch holds them: per block, or a
# payload per block (pos_bin is NULL on DL_TERM rows and positionless
# stores, so each payload view carries its valid rows, None if all are)
_FIXED = ("n", "max_tf", "min_dl")
_COLUMNS = _FIXED + ("docids_bin", "tfs_bin", "pos_bin")
_NONE = np.zeros(0, dtype=np.int64)


def _view(col: pa.Array):
    if pa.types.is_binary(col.type) or pa.types.is_large_binary(col.type):
        valid = None if not col.null_count else np.unpackbits(
            np.frombuffer(col.buffers()[0], dtype=np.uint8),
            bitorder="little")[col.offset:col.offset + len(col)] > 0
        return (*binary_parts(col), valid)
    return fixed_values(col)


class PostingRuns:
    """Segment record batches grouped in place into term runs, numpy
    only: the one posting reader of the wand and membership kernels,
    fsck and LocalSearcher. files[i] holds input file i's batches as
    read (`term` plain or dictionary-encoded); rows outside `shards`
    join no run. A run is a stretch of rows of one batch, all of one
    term: a term-sorted file gives one per term and batch, an unsorted
    file or a shard subset more, with the same postings.
      terms, ids  term id -> term (first-seen order), and back;
      ptr, runs   term id g owns the (batch, lo, hi) columns
                  runs[:, ptr[g]:ptr[g + 1]], in (file, row) order;
      df[g]       the postings of term id g."""

    def __init__(self, files, shards: list[int] | None = None):
        files = [list(f) for f in files]
        self.ids: dict[str, int] = {}
        self.batches: list[dict] = []  # per batch: column -> _view
        self.files: list[int] = []  # per batch: its input file
        self.n_files = len(files)
        found = []
        for f, b in ((f, b) for f, bs in enumerate(files) for b in bs
                     if b.num_rows):
            key = self._keys(b.column("term"))
            if shards is not None:
                key[~np.isin(fixed_values(b.column("shard")), shards)] = -1
            brk = np.flatnonzero(key[1:] != key[:-1]) + 1
            lo = np.concatenate(([0], brk))
            hi = np.concatenate((brk, [key.size]))
            lo, hi = lo[key[lo] >= 0], hi[key[lo] >= 0]
            view = {c: _view(b.column(c)) for c in _COLUMNS
                    if c in b.schema.names}
            cum = np.zeros(key.size + 1, dtype=np.int64)
            np.cumsum(view["n"], out=cum[1:])
            found.append((key[lo], np.full(lo.size, len(self.batches)),
                          lo, hi, cum[hi] - cum[lo]))
            self.batches.append(view)
            self.files.append(f)
        key, batch, lo, hi, n = (
            (np.concatenate(c) for c in zip(*found)) if found
            else (np.zeros(0, dtype=np.int64) for _ in range(5)))
        order = np.argsort(key, kind="stable")
        self.terms = list(self.ids)
        count = np.bincount(key, minlength=len(self.terms))
        self.ptr = np.concatenate(([0], np.cumsum(count))).astype(np.int64)
        self.runs = np.stack([batch, lo, hi])[:, order]
        self.df = np.bincount(key, weights=n, minlength=len(self.terms)
                              ).astype(np.int64)

    def _keys(self, term: pa.Array) -> np.ndarray:
        """Each row's term id. Only dictionary entries some row
        references become strs; a plain column is its own dictionary."""
        if pa.types.is_dictionary(term.type):
            idx, values = fixed_values(term.indices), term.dictionary
            used = np.flatnonzero(np.bincount(idx, minlength=len(values)))
        else:
            idx = used = np.arange(len(term))
            values = term
        off, data = binary_parts(values)
        raw, at = data[int(off[0]):int(off[-1])].tobytes(), off - off[0]
        ids = np.full(len(values), -1, dtype=np.int64)
        ids[used] = [self.ids.setdefault(raw[a:b].decode(), len(self.ids))
                     for a, b in zip(at[used].tolist(), at[used + 1].tolist())]
        return ids[idx]

    def decode(self, terms: list[str]) -> Postings:
        """The postings of `terms` (result term i is terms[i]; an unknown
        term has none) in ONE decode pass per column: docids, and tf,
        pos (which needs tf) and the bounds when their columns were read
        (with no batch at all, each decodes empty)."""
        sel = [self._runs_of(self.ids.get(t)) for t in terms]
        read = self.batches[0] if self.batches else _COLUMNS
        post = self._decode(np.concatenate([_NONE] + sel),
                            [c for c in _COLUMNS if c in read])
        # term i's blocks: the rows of its runs
        rows = [int((self.runs[2, r] - self.runs[1, r]).sum()) for r in sel]
        return post._replace(boff=np.concatenate(([0], np.cumsum(rows))))

    def _runs_of(self, g: int | None) -> np.ndarray:
        """The run columns of term id g (none for None)."""
        return _NONE if g is None else np.arange(self.ptr[g], self.ptr[g + 1])

    def doc_lengths(self) -> list[DocLengths]:
        """Per input file, the DocLengths of its DL_TERM runs (empty for
        a file whose batches hold none)."""
        sel = self._runs_of(self.ids.get(DL_TERM))
        of = np.asarray(self.files, dtype=np.int64)[self.runs[0, sel]]
        out = []
        for f in range(self.n_files):
            post = self._decode(sel[of == f], ["n", "docids_bin", "tfs_bin"])
            out.append(dl_lookup(post.docids, post.tf))
        return out

    def _decode(self, sel: np.ndarray, cols: list[str]) -> Postings:
        """Postings of the runs `sel` (columns of `runs`, in output
        order) over `cols`, boff unset. Each batch is sliced once per
        stretch of runs adjacent in it (a term-sorted file read for its
        terms alone is one stretch)."""
        b, lo, hi = self.runs[:, sel]
        first = np.flatnonzero(np.append(True, (b[1:] != b[:-1])
                                         | (lo[1:] != hi[:-1])))[:sel.size]
        last = np.append(first[1:], sel.size)[:first.size] - 1
        parts: dict[str, list] = {c: [] for c in cols}
        for i, s, e in zip(b[first].tolist(), lo[first].tolist(),
                           hi[last].tolist()):
            for c in cols:
                v = self.batches[i][c]
                if c in _FIXED:
                    parts[c].append(v[s:e])
                elif v[2] is not None and not v[2][s:e].all():
                    raise ValueError(f"a decoded run has no {c} (positions "
                                     "of a store built without them?)")
                else:
                    parts[c].append(v[1][int(v[0][s]):int(v[0][e])])
        got = {c: np.concatenate([np.zeros(0, dtype=np.int64 if c in _FIXED
                                           else np.uint8)] + parts[c])
               for c in cols}
        ns = got["n"].astype(np.int64)
        poff = np.concatenate(([0], np.cumsum(ns)))
        tf = pos = None
        if "tfs_bin" in got:
            tf = decode_varint(got["tfs_bin"], int(poff[-1])).astype(np.int64)
        if "pos_bin" in got:
            pos = decode_positions(got["pos_bin"], tf)
        return Postings(None, poff, block_docids(got["docids_bin"], ns), tf,
                        pos, got.get("max_tf"), got.get("min_dl"))
