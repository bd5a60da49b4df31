"""Per-segment-file term Bloom filters — file-level pruning for the
query planner.

Segment files are partitioned by SHARD (docid range), so every file
holds postings for most COMMON terms — but a rare term's postings live
in only a few shards, and the file-aligned query path still fans every
file out to a task just to discover "no row groups match". A per-file
Bloom filter over the file's DISTINCT terms lets the driver skip files
that cannot contain any query term BEFORE binning (the same idea as
Lucene's bloom postings format, applied at file granularity): tail-term
queries then schedule O(matching files) tasks instead of O(all files),
which is what matters once an LSM store holds thousands of files.

No false negatives by construction (every distinct term is inserted at
build time), so pruning NEVER changes results — a false positive just
schedules a task that scores nothing. Filters are sidecars
(``_bloom-<segment-file>.bin``) written by the same distributed pass
that wrote the segments, atomically (tmp -> rename); the ``_`` prefix
keeps them invisible to Spark and pyarrow dataset discovery. A file
with no sidecar (foreign writer, or a crash between the two writes) is
simply never pruned.

Hashing: the first 16 bytes of ``md5(term)`` split into two 64-bit
words h1, h2; probe positions ``(h1 + i*h2) mod m`` for i in 0..k-1
(standard double hashing) — engine-version-independent, so filters
written by one process are readable by any other.
"""

from __future__ import annotations

import hashlib
import os
import struct

import numpy as np

from visionsearch_spark.index.store import parquet_files

MAGIC = b"VSSB1\0"
BITS_PER_KEY = 10          # ~1% FPR at k=7
K_HASHES = 7
MIN_BITS = 1 << 10
CAP_BITS = 1 << 25         # 4 MiB of bits per file, FPR degrades past it


def _positions(term: str, m: int, k: int) -> np.ndarray:
    d = hashlib.md5(term.encode("utf-8")).digest()
    h1, h2 = struct.unpack("<QQ", d)
    return (h1 + h2 * np.arange(k, dtype=np.uint64)) % np.uint64(m)


def build_bloom(terms, bits_per_key: int = BITS_PER_KEY,
                k: int = K_HASHES) -> tuple[int, int, bytes]:
    """(m_bits, k, bits) over an iterable of distinct terms.

    Vectorized (r7): md5 digests are batched into ONE little-endian
    uint64 (n, 2) view, all n·k probe positions computed in a single
    broadcasted expression, and set with one ``bitwise_or.at`` scatter —
    byte-identical to the old per-term loop (pinned by
    test_bloom.test_vectorized_build_matches_per_term_reference) at
    ~20x the throughput (430 ms -> 22 ms for a 30k-term file; per-file
    vocabularies at real scale are what this pass is linear in)."""
    terms = list(terms)
    m = max(MIN_BITS, 1 << int(np.ceil(np.log2(
        max(1, bits_per_key * len(terms))))))
    m = min(m, CAP_BITS)
    bits = np.zeros(m // 8, dtype=np.uint8)
    if terms:
        digs = b"".join(
            hashlib.md5(t.encode("utf-8")).digest() for t in terms
        )
        hs = np.frombuffer(digs, dtype="<u8").reshape(-1, 2)
        pos = (
            (hs[:, 0][:, None]
             + hs[:, 1][:, None] * np.arange(k, dtype=np.uint64)[None, :])
            % np.uint64(m)
        ).ravel()
        # bitwise_or.at: plain fancy-index |= drops duplicate byte hits
        np.bitwise_or.at(
            bits, (pos >> np.uint64(3)).astype(np.int64),
            (1 << (pos & np.uint64(7))).astype(np.uint8),
        )
    return m, k, bits.tobytes()


def may_contain(m: int, k: int, bits: np.ndarray, term: str) -> bool:
    pos = _positions(term, m, k)
    return bool(np.all(
        (bits[pos >> np.uint64(3)] >> (pos & np.uint64(7)).astype(np.uint8))
        & 1
    ))


def bloom_path(segment_file: str) -> str:
    d, base = os.path.split(segment_file)
    return os.path.join(d, f"_bloom-{base}.bin")


def write_bloom_for_file(segment_file: str) -> None:
    """Build + atomically write the sidecar for one written segment file
    (runs inside an executor task; reads only the term column)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    col = pq.read_table(segment_file, columns=["term"],
                        use_threads=False).column("term")
    # Arrow-side unique: the term column is dictionary-friendly and
    # pc.unique avoids materializing every duplicate as a Python str
    terms = pc.unique(col.combine_chunks()).to_pylist()
    m, k, payload = build_bloom(terms)
    _write_payload(bloom_path(segment_file), m, k, payload)


def load_bloom(segment_file: str) -> tuple[int, int, np.ndarray] | None:
    """(m, k, bits) for a segment file, or None when no/invalid sidecar
    exists (the caller must then keep the file)."""
    p = bloom_path(segment_file)
    try:
        with open(p, "rb") as f:
            raw = f.read()
    except OSError:
        return None
    hdr = len(MAGIC) + 12
    if len(raw) < hdr or not raw.startswith(MAGIC):
        return None
    m, k = struct.unpack_from("<QI", raw, len(MAGIC))
    bits = np.frombuffer(raw, dtype=np.uint8, offset=hdr)
    if bits.size != m // 8:
        return None
    return int(m), int(k), bits


def _write_payload(out: str, m: int, k: int, payload: bytes) -> None:
    tmp = f"{out}.tmp.{os.getpid()}"
    with open(tmp, "wb") as f:
        f.write(MAGIC + struct.pack("<QI", m, k) + payload)
    os.replace(tmp, out)


def write_partition_bloom(scratch_dir: str, terms) -> None:
    """Write the CURRENT TASK's term Bloom filter to
    ``{scratch_dir}/pid-NNNNN.bin`` (N = Spark partition id). Called from
    inside the compaction kernel, which runs in the same stage as the
    one-file-per-partition segment write — the part file it will pair
    with carries the same partition number. Atomic per attempt; a
    retried or speculative attempt rewrites identical bytes (the
    partition's term set is deterministic), so concurrent attempts are
    safe."""
    from pyspark import TaskContext

    pid = TaskContext.get().partitionId()
    m, k, payload = build_bloom(terms)
    os.makedirs(scratch_dir, exist_ok=True)
    _write_payload(os.path.join(scratch_dir, f"pid-{pid:05d}.bin"),
                   m, k, payload)


def attach_scratch_blooms(segments_dir: str, scratch_dir: str) -> None:
    """Pair each written part file with its kernel-written scratch
    filter (part file number == partition id) and move it into place as
    the file's sidecar. A part file with no scratch filter — the one
    empty file Spark writes when the merge input is empty, whose kernel
    saw no terms — gets its sidecar from `write_bloom_for_file`, so
    sidecar coverage is total either way. Removes the scratch dir."""
    import shutil

    for seg in parquet_files(segments_dir):
        try:
            part_no = int(os.path.basename(seg).split("-")[1])
        except (IndexError, ValueError):
            part_no = -1
        src = os.path.join(scratch_dir, f"pid-{part_no:05d}.bin")
        if part_no >= 0 and os.path.exists(src):
            os.replace(src, bloom_path(seg))
        else:
            write_bloom_for_file(seg)
    shutil.rmtree(scratch_dir, ignore_errors=True)
