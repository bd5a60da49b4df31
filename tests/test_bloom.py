"""Per-file term Bloom sidecars: no false negatives, planner pruning
never changes results, sidecars track every segment-write path."""

from __future__ import annotations

import os

import pytest

from visionsearch_spark.index import bloom
from visionsearch_spark.index.spimi import build_index
from visionsearch_spark.query import wand
from visionsearch_spark.query.boolean import matching_docids


def test_build_has_no_false_negatives():
    terms = [f"term{i}" for i in range(5000)]
    m, k, payload = bloom.build_bloom(terms)
    import numpy as np

    bits = np.frombuffer(payload, dtype=np.uint8)
    assert all(bloom.may_contain(m, k, bits, t) for t in terms)


def test_vectorized_build_matches_per_term_reference():
    """build_bloom's batched md5 + single scatter (r7) must stay
    byte-identical to the straightforward per-term loop it replaced —
    sidecars written by either implementation are interchangeable."""
    import hashlib
    import struct

    import numpy as np

    def reference(terms, bits_per_key=bloom.BITS_PER_KEY,
                  k=bloom.K_HASHES):
        terms = list(terms)
        m = max(bloom.MIN_BITS, 1 << int(np.ceil(np.log2(
            max(1, bits_per_key * len(terms))))))
        m = min(m, bloom.CAP_BITS)
        bits = np.zeros(m // 8, dtype=np.uint8)
        for t in terms:
            d = hashlib.md5(t.encode("utf-8")).digest()
            h1, h2 = struct.unpack("<QQ", d)
            pos = (h1 + h2 * np.arange(k, dtype=np.uint64)) % np.uint64(m)
            np.bitwise_or.at(
                bits, (pos >> np.uint64(3)).astype(np.int64),
                (1 << (pos & np.uint64(7))).astype(np.uint8),
            )
        return m, k, bits.tobytes()

    for terms in ([], ["a"], [f"t{i}" for i in range(7)],
                  [f"term{i}" for i in range(3000)],
                  ["unicodeİ", "café", "\U0001f642"]):
        assert bloom.build_bloom(terms) == reference(terms), len(terms)


def test_false_positive_rate_reasonable():
    import numpy as np

    terms = [f"present{i}" for i in range(5000)]
    m, k, payload = bloom.build_bloom(terms)
    bits = np.frombuffer(payload, dtype=np.uint8)
    fp = sum(
        bloom.may_contain(m, k, bits, f"absent{i}") for i in range(5000)
    )
    assert fp / 5000 < 0.05


@pytest.fixture(scope="module")
def bloom_store(spark, transcripts, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("bloomidx"))
    return build_index(transcripts, root, n_partitions=8, n_shards=16)


def test_sidecar_per_segment_file(bloom_store):
    for d in bloom_store.segment_paths():
        seg = [f for f in os.listdir(d)
               if f.endswith(".parquet") and not f.startswith(("_", "."))]
        assert seg
        for f in seg:
            side = bloom.load_bloom(os.path.join(d, f))
            assert side is not None, f


def _assert_sidecars_match_file_terms(store):
    """Every sidecar must decode to EXACTLY the filter of its own file's
    distinct term set — catches any mispairing of kernel-written scratch
    filters with part files (a wrong pairing would be a false-negative
    filter, i.e. wrong pruning)."""
    import struct

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    checked = 0
    for d in store.segment_paths():
        for f in os.listdir(d):
            if not f.endswith(".parquet") or f.startswith(("_", ".")):
                continue
            seg = os.path.join(d, f)
            col = pq.read_table(seg, columns=["term"]).column("term")
            terms = pc.unique(col.combine_chunks()).to_pylist()
            m, k, payload = bloom.build_bloom(terms)
            with open(bloom.bloom_path(seg), "rb") as fh:
                raw = fh.read()
            expect = bloom.MAGIC + struct.pack("<QI", m, k) + payload
            assert raw == expect, seg
            checked += 1
    assert checked


def test_kernel_sidecars_match_file_terms(bloom_store):
    """The r7 fused path (compaction kernel writes scratch filters in
    the write stage; attach_scratch_blooms pairs them by part number)
    must yield sidecars byte-equal to a from-the-file recomputation."""
    _assert_sidecars_match_file_terms(bloom_store)


def test_stale_bloom_scratch_is_cleared(spark, transcripts,
                                        tmp_path_factory):
    """A crashed previous attempt can leave a scratch dir whose filters
    reflect THAT run's range boundaries; write_segments must clear it
    before the write so stale filters are never paired with fresh part
    files (false negatives = wrong pruning)."""
    from visionsearch_spark.index.spimi import (
        _bloom_scratch_path,
        build_index,
        compact_store,
    )
    from visionsearch_spark.index.store import IndexStore

    root = str(tmp_path_factory.mktemp("bloomstale"))
    build_index(transcripts, root, n_partitions=8, n_shards=16)
    store = IndexStore(root)
    next_ep = int(store.read_meta()["epoch"]) + 1
    scratch = _bloom_scratch_path(store, next_ep)
    os.makedirs(scratch, exist_ok=True)
    for pid in range(12):  # garbage filters for every plausible pid
        with open(os.path.join(scratch, f"pid-{pid:05d}.bin"), "wb") as f:
            f.write(bloom.MAGIC + b"\x00" * 12)  # m=0: rejects all terms
    compact_store(spark, root, n_partitions=8)
    store = IndexStore(root)
    assert not os.path.exists(scratch)
    _assert_sidecars_match_file_terms(store)


def test_build_and_compact_never_fall_back_to_rescan(
        spark, transcripts, tmp_path_factory):
    """Plan-shape pin for the r7 fused sidecar path: builds and full
    compactions must cover every part file from the kernel-written
    scratch filters alone — no per-file write_bloom_for_file fallback
    (it would re-read the fresh segments)."""
    from unittest import mock

    from visionsearch_spark.index.spimi import compact_store

    root = str(tmp_path_factory.mktemp("bloomfused"))

    def boom(*a, **k):
        raise AssertionError(f"sidecar fallback used: {a!r}")

    with mock.patch.object(bloom, "write_bloom_for_file", side_effect=boom):
        store = build_index(transcripts, root, n_partitions=8, n_shards=16)
        compact_store(spark, root, n_partitions=8)
    _assert_sidecars_match_file_terms(store)


def test_load_bloom_rejects_garbage(tmp_path):
    seg = str(tmp_path / "part-0.parquet")
    with open(bloom.bloom_path(seg), "wb") as f:
        f.write(b"not a bloom")
    assert bloom.load_bloom(seg) is None
    assert bloom.load_bloom(str(tmp_path / "missing.parquet")) is None


def _rare_term(bloom_store):
    """A term present in exactly one doc (df==1) -> lives in one file."""
    import pyarrow.dataset as pads
    import pyarrow.compute as pc

    t = pads.dataset(bloom_store.term_stats_paths()[0]).to_table()
    df = t.column("df").to_pylist()
    terms = t.column("term").to_pylist()
    for term, d in zip(terms, df):
        if d == 1:
            return term
    pytest.skip("fixture corpus has no df==1 term")


def test_prune_keeps_only_matching_files(bloom_store):
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    term = _rare_term(bloom_store)
    files = bloom_store.segment_files()
    kept = wand._bloom_prune(files, [term])
    # df==1 term lives in ONE of the 8 files; <5% FPR on the rest
    assert 1 <= len(kept) < len(files)
    holders = [
        p for _sz, p in files
        if pq.read_table(p, columns=["term"]).filter(
            pc.equal(pc.field("term"), term)).num_rows > 0
    ]
    assert holders and set(holders) <= {p for _sz, p in kept}


def test_missing_sidecar_file_is_kept(bloom_store, tmp_path):
    files = bloom_store.segment_files()
    victim = files[0][1]
    side = bloom.bloom_path(victim)
    saved = side + ".saved"
    os.rename(side, saved)
    try:
        wand._BLOOM_CACHE.clear()
        kept = wand._bloom_prune(files, ["zzzznotaword"])
        assert victim in [p for _s, p in kept]
    finally:
        os.rename(saved, side)
        wand._BLOOM_CACHE.clear()


def test_results_identical_with_and_without_prune(spark, bloom_store,
                                                  monkeypatch):
    term = _rare_term(bloom_store)
    queries = [(0, f"join filter {term}", 10), (1, term, 5),
               (2, "the stream", 10)]
    got = [tuple(r) for r in wand.batch_topk(
        spark, bloom_store, queries).collect()]
    monkeypatch.setattr(wand, "_bloom_prune", lambda files, terms: files)
    exp = [tuple(r) for r in wand.batch_topk(
        spark, bloom_store, queries).collect()]
    assert sorted(got) == sorted(exp)


def test_membership_identical_with_and_without_prune(spark, bloom_store,
                                                     monkeypatch):
    term = _rare_term(bloom_store)
    got = sorted(r.docid for r in matching_docids(
        spark, bloom_store, any_of=[term, "join"]).collect())
    monkeypatch.setattr(wand, "_bloom_prune", lambda files, terms: files)
    exp = sorted(r.docid for r in matching_docids(
        spark, bloom_store, any_of=[term, "join"]).collect())
    assert got == exp and got


def test_append_writes_sidecars_via_kernel(spark, transcripts,
                                           tmp_path_factory):
    """r7 (revisits r6's blooms=False deferral): appends now write delta
    sidecars through the fused kernel path — no post-write re-read job,
    no per-file fallback — so delta dirs are born prunable; every
    sidecar (base + delta + post-compaction) must match its own file's
    term set."""
    from unittest import mock

    from pyspark.sql import functions as F

    from visionsearch_spark.index.spimi import compact_store
    from visionsearch_spark.index.store import IndexStore
    from visionsearch_spark.streaming.incremental import incremental_build

    root = str(tmp_path_factory.mktemp("bloomappend"))
    base = transcripts.filter(F.col("conv_id") < "conv-000070")
    build_index(base, root, n_partitions=8, n_shards=16)

    def boom(*a, **k):
        raise AssertionError(f"sidecar fallback used: {a!r}")

    with mock.patch.object(bloom, "write_bloom_for_file", side_effect=boom):
        incremental_build(transcripts, root, n_partitions=8)
    store = IndexStore(root)
    assert len(store.segment_paths()) > 1  # base + delta dirs live
    _assert_sidecars_match_file_terms(store)
    compact_store(spark, root, n_partitions=8)
    _assert_sidecars_match_file_terms(IndexStore(root))
