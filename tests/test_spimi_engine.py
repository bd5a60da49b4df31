"""Optimized SPIMI/block-max path: rank identity vs the exhaustive oracle,
resume-after-failure, manifest metrics, and segment structure invariants
(SURVEY.md §5.2.1/2/4)."""

from __future__ import annotations

import math

import numpy as np
import pytest

from visionsearch_spark.index.codec import decode_docids, decode_varint
from visionsearch_spark.index.spimi import BLOCK_SIZE, build_index
from visionsearch_spark.index.store import DL_TERM, IndexStore
from visionsearch_spark.oracle import oracle_search
from visionsearch_spark.query import wand
from visionsearch_spark.query.serving import LocalSearcher
from visionsearch_spark.query.wand import batch_topk, topk

REL_TOL = 1e-9


@pytest.fixture(scope="module")
def built_store(spark, transcripts, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("idx"))
    return build_index(transcripts, root, n_partitions=8, n_shards=16)


def test_meta_and_manifest_metrics(built_store, oracle_index):
    meta = built_store.read_meta()
    assert meta["phase"] == "built"
    assert meta["n_docs"] == oracle_index.n_docs
    assert math.isclose(meta["avgdl"], oracle_index.avgdl, rel_tol=1e-12)
    manifests = [m for m in built_store.manifests() if m["status"] == "done"]
    assert manifests, "no committed partitions"
    total_postings = sum(m["postings_written"] for m in manifests)
    # postings == number of distinct (term, doc) pairs == sum of per-doc vocab
    expected = sum(len(c) for c in oracle_index.tfs)
    assert total_postings == expected
    assert all(m["bytes_compressed"] > 0 for m in manifests)
    assert all("fragment" in m["lineage"] for m in manifests)


def test_term_stats_match_oracle(spark, built_store, oracle_index):
    got = {
        r["term"]: r["df"]
        for r in spark.read.parquet(*built_store.term_stats_paths()).collect()
    }
    assert got == dict(oracle_index.df)


def test_segment_structure(spark, built_store):
    segs = spark.read.parquet(*built_store.segment_paths()).collect()
    meta = built_store.read_meta()
    R = meta["shard_range"]
    # each doc's length, once: the DL_TERM rows (tfs_bin holds the dl)
    lengths = {}
    for r in segs:
        if r["term"] == DL_TERM:
            d = decode_docids(r["docids_bin"], r["n"])
            lengths.update(zip(d.tolist(),
                               decode_varint(r["tfs_bin"], r["n"]).tolist()))
    staged = spark.read.parquet(built_store.staged_path).collect()
    assert lengths == {r["docid"]: r["dl"] for r in staged if r["dl"]}
    for r in segs:
        assert 1 <= r["n"] <= BLOCK_SIZE
        d = decode_docids(r["docids_bin"], r["n"])
        assert d[0] == r["min_docid"] and d[-1] == r["max_docid"]
        assert (np.diff(d) > 0).all()  # sorted, no dups
        assert r["min_docid"] // R == r["max_docid"] // R == r["shard"]
        # (max_tf, min_dl) must bound the block's actual postings exactly
        tfs = decode_varint(r["tfs_bin"], r["n"])
        dls = np.array([lengths[x] for x in d.tolist()])
        assert r["max_tf"] == int(tfs.max()) >= 1
        assert r["min_dl"] == int(dls.min()) >= 0
        assert (r["pos_bin"] is None) == (r["term"] == DL_TERM or
                                          not meta["positions"])


def test_hot_term_shard_fanout(spark, built_store, oracle_index):
    """Skew defense is structural: a hot term's postings must span many
    docid-range shards (merge/query work fans out with df), while a rare
    term stays in few. This is what makes the Zipf head parallelizable at
    10^12 turns (north rule: 'salted repartition-by-term')."""
    from pyspark.sql import functions as F

    segs = spark.read.parquet(*built_store.segment_paths())
    fanout = {
        r["term"]: r["n_shards"]
        for r in segs.groupBy("term")
        .agg(F.countDistinct("shard").alias("n_shards"))
        .filter(F.col("term").isin(["join", "xylophone"]))
        .collect()
    }
    n_shards_total = int(built_store.read_meta()["n_shards"])
    assert fanout["join"] >= n_shards_total * 0.8  # hot: nearly all shards
    assert fanout.get("xylophone", 0) <= 2         # rare marker: few


def test_rank_identity_full_query_set(spark, built_store, oracle_index, query_set):
    queries = [
        (int(r.query_id), r.query_text, int(r.k))
        for r in query_set.itertuples(index=False)
    ]
    got = batch_topk(spark, built_store, queries).collect()
    by_qid: dict[int, list] = {}
    for row in got:
        by_qid.setdefault(row["query_id"], []).append(row)
    mismatches = []
    for qid, text, k in queries:
        expected = oracle_search(oracle_index, text, k=k)
        rows = sorted(by_qid.get(qid, []), key=lambda r: r["rank"])
        if len(rows) != len(expected):
            mismatches.append((qid, "len", len(rows), len(expected)))
            continue
        for g, e in zip(rows, expected):
            if (g["docid"], g["conv_id"], g["turn_idx"]) != (e[0], e[1], e[2]):
                mismatches.append((qid, "ids", (g["docid"], g["rank"]), e))
                break
            if not math.isclose(g["score"], e[3], rel_tol=REL_TOL):
                mismatches.append((qid, "score", g["score"], e[3]))
                break
    assert not mismatches, f"{len(mismatches)} mismatches: {mismatches[:5]}"


def test_single_query_api(spark, built_store, oracle_index):
    exp = oracle_search(oracle_index, "xylophone", k=5)
    got = topk(spark, built_store, "xylophone", k=5).collect()
    assert [(r["docid"], r["rank"]) for r in got] == [
        (e[0], i + 1) for i, e in enumerate(exp)
    ]


def test_threshold_filter(spark, built_store, oracle_index):
    thr = 2.0
    exp = oracle_search(oracle_index, "join filter stream", k=30, threshold=thr)
    got = topk(spark, built_store, "join filter stream", k=30, threshold=thr).collect()
    assert len(got) == len(exp)
    assert all(r["score"] > thr for r in got)


def test_oov_returns_zero_rows(spark, built_store):
    assert topk(spark, built_store, "zzzznotaword", k=5).count() == 0


def test_resume_after_partition_failure(spark, transcripts, tmp_path_factory,
                                        oracle_index, query_set):
    """Kill the build mid-way (fault injection on two partitions), verify
    partial checkpoints survive, rerun to completion, and the resumed index
    answers rank-identically (ref contract: generate_captions.py:100-102)."""
    root = str(tmp_path_factory.mktemp("idx_resume"))
    from py4j.protocol import Py4JJavaError

    with pytest.raises(Exception):
        build_index(transcripts, root, n_partitions=8, n_shards=16,
                    fail_partitions={2, 5})
    store = IndexStore(root)
    done_before = store.done_partitions()
    assert done_before, "no partitions committed before failure"
    assert 2 not in done_before and 5 not in done_before
    # the half-built store answers no query: every reader names the fix
    with pytest.raises(ValueError, match="build_index"):
        batch_topk(spark, store, [(0, "join filter", 10)])
    with pytest.raises(ValueError, match="build_index"):
        LocalSearcher(store)
    store2 = build_index(transcripts, root, n_partitions=8, n_shards=16)
    assert store2.done_partitions() >= done_before | {2, 5}
    # resumed index must be fully correct
    for qid, text, k in [(0, "join filter", 10), (1, "xylophone", 5)]:
        exp = oracle_search(oracle_index, text, k=k)
        got = batch_topk(spark, store2, [(qid, text, k)]).collect()
        got = sorted(got, key=lambda r: r["rank"])
        assert [(r["docid"],) for r in got] == [(e[0],) for e in exp]
        for g, e in zip(got, exp):
            assert math.isclose(g["score"], e[3], rel_tol=REL_TOL)


def test_rebuild_is_idempotent(spark, transcripts, built_store, tmp_path_factory):
    """Re-running build on a completed index is a no-op for manifests."""
    before = {m["partition_id"]: m["ts"] for m in built_store.manifests()
              if m["status"] == "done"}
    build_index(transcripts, built_store.root, n_partitions=8, n_shards=16)
    after = {m["partition_id"]: m["ts"] for m in built_store.manifests()
             if m["status"] == "done"}
    assert before == after


def test_fast_path_plan_has_no_posting_shuffle(spark, built_store,
                                                monkeypatch):
    """Layout-invariant regression guard (PLANS.md §17): the batch plan
    must NOT move posting data through Spark — segment files are
    shard-complete per file and LSM dirs docid-disjoint, so the kernel
    runs over whole-file tasks with only the ~100-byte path exchange.
    Filtered queries ride the same file-aligned plan: each task reads
    the allow-set's docids over its own span, so no route_key exchange
    exists and segment files never appear in a Spark scan."""
    from pyspark.sql import functions as F

    seg_dirs = built_store.segment_paths()
    q = [(0, "join filter stream", 5)]
    fast = batch_topk(spark, built_store, q)
    fast.count()
    plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(shard" not in plan
    assert not any(d in plan for d in seg_dirs)
    # merge side: candidates broadcast into the docmap join, never a
    # docmap-wide shuffle (AQE converts at runtime on actual sizes)
    assert "BroadcastHashJoin" in plan

    allow = spark.range(0, 50).select(F.col("id").alias("docid"))
    # pin tiny bins so the fixture-sized store still fans out to >1 task
    # (r7 _n_bins floors task count by bytes x queries)
    monkeypatch.setattr(wand, "QUERY_BIN_BYTES", 1)
    filt = batch_topk(spark, built_store, q, docid_filter=allow)
    filt.count()
    fplan = filt._jdf.queryExecution().executedPlan().toString()
    assert not any(d in fplan for d in seg_dirs)
    assert "route_key" not in fplan


def test_route_key_hash_matches_spark(spark):
    """_mm3_long must equal Spark's F.hash for longs (the partitioning
    hash behind repartition(n, col)) — if this drifts, route keys stop
    landing one-per-partition. Balance only; correctness (equal keys
    co-locate) holds under any hash, which this test also pins by
    asserting the engineered keys really do land on distinct
    partitions."""
    from pyspark.sql import functions as F

    from visionsearch_spark.query.wand import _mm3_long, _route_keys

    vals = (list(range(-1000, 1000, 7))
            + [2**31, -(2**31), 2**62, -(2**62) + 3, (1 << 63) - 1,
               -(1 << 63)])
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    got = {r["v"]: r["h"]
           for r in df.select("v", F.hash("v").alias("h")).collect()}
    assert all(got[v] == _mm3_long(v) for v in vals)
    for n in (1, 3, 17, 32):
        kdf = spark.createDataFrame(
            [(k,) for k in _route_keys(n)], "route_key long"
        ).repartition(n, "route_key").select(
            F.spark_partition_id().alias("p")
        )
        assert sorted(r["p"] for r in kdf.collect()) == list(range(n))


def _sideband_oracle(oracle_index, query, k, allowed=None,
                     collapse=False):
    """Exhaustive expectation for a sideband query on a fresh build
    (oracle docids == store docids): allow-mask, then optional per-conv
    max collapse onto the conv's first unit, then the contract order."""
    hits = [h for h in oracle_search(oracle_index, query, k=10**6)
            if allowed is None or h[0] in allowed]
    if collapse:
        first: dict[str, int] = {}
        for d, (c, _t) in enumerate(oracle_index.docs):
            first.setdefault(c, d)
        best: dict[str, float] = {}
        for _d, c, _t, sc in hits:
            best[c] = max(sc, best.get(c, sc))
        hits = [(first[c], c, oracle_index.docs[first[c]][1], sc)
                for c, sc in best.items()]
    return sorted(hits, key=lambda h: (-h[3], h[1], h[2]))[:k]


def test_sideband_fast_path_matches_oracle(spark, built_store,
                                           oracle_index, monkeypatch):
    """The in-task allow-set read, the in-task collapse and their
    composition are exact — on a multi-term query and on a single-term
    one (the block-max path must stand down under either). Tiny bins
    fan the scan out, so under the one-docid allow-set every task but
    one finds no allowed docid in its span and must admit nothing."""
    from pyspark.sql import functions as F

    monkeypatch.setattr(wand, "QUERY_BIN_BYTES", 1)
    docmap = spark.read.parquet(built_store.docmap_path)
    allow = docmap.filter(F.col("docid") % 3 != 1).select("docid")
    allowed = {d for d in range(len(oracle_index.docs)) if d % 3 != 1}
    one = oracle_search(oracle_index, "join filter stream", k=1)[0][0]
    cases = [
        (dict(docid_filter=allow), allowed, False),
        (dict(collapse=True), None, True),
        (dict(docid_filter=allow, collapse=True), allowed, True),
        (dict(docid_filter=docmap.filter("false").select("docid")), set(),
         False),
        (dict(docid_filter=docmap.filter(F.col("docid") == one)
              .select("docid")), {one}, False),
    ]
    queries = [(0, "join filter stream", 7), (1, "xylophone", 4)]
    for kw, allowed_ids, collapse in cases:
        got = batch_topk(spark, built_store, queries, **kw) \
            .orderBy("query_id", "rank").collect()
        for qid, text, k in queries:
            rows = [r for r in got if r["query_id"] == qid]
            exp = _sideband_oracle(oracle_index, text, k, allowed_ids,
                                   collapse)
            # an empty or one-docid allow-set may leave a query no hit
            assert exp or (allowed_ids is not None
                           and len(allowed_ids) <= 1), (kw, text)
            assert [(r["docid"], r["conv_id"], r["turn_idx"])
                    for r in rows] == [e[:3] for e in exp], (kw, text)
            for r, e in zip(rows, exp):
                assert math.isclose(r["score"], e[3], rel_tol=REL_TOL)


def test_allow_scratch_removed_when_filter_fails(spark, built_store):
    """A filtered query writes its allow-set to `_allow-<uuid>` under
    the store root; the dir is removed even when evaluating the
    allow-set itself raises."""
    import os

    from pyspark.sql import functions as F

    @F.udf("long")
    def boom(v):
        raise RuntimeError("allow-set failed")

    bad = spark.range(0, 50).select(boom("id").alias("docid"))
    with pytest.raises(Exception, match="allow-set failed"):
        batch_topk(spark, built_store, [(0, "join filter stream", 5)],
                   docid_filter=bad).count()
    assert not [n for n in os.listdir(built_store.root)
                if n.startswith("_allow-")]
    # a driver killed before that cleanup leaves its dir behind: the next
    # gc removes it once a day old, never a live query's
    for name in ("_allow-old", "_allow-new"):
        os.makedirs(os.path.join(built_store.root, name, "part"))
    old = os.path.join(built_store.root, "_allow-old")
    os.utime(old, (os.path.getatime(old), os.path.getmtime(old) - 2 * 86400))
    built_store.gc_dirs()
    assert sorted(n for n in os.listdir(built_store.root)
                  if n.startswith("_allow-")) == ["_allow-new"]
    os.rmdir(os.path.join(built_store.root, "_allow-new", "part"))
    os.rmdir(os.path.join(built_store.root, "_allow-new"))


def test_segment_files_never_split_under_session_conf(
        spark, transcripts, tmp_path_factory):
    """The one-file-per-partition layout is a CORRECTNESS invariant of
    the file-aligned query path (each file must hold complete shards).
    A deployment-level spark.sql.files.maxRecordsPerFile would split
    shard blocks across files — the segment writes pin the no-split
    option per-write, so the session conf must not leak in."""
    old = spark.conf.get("spark.sql.files.maxRecordsPerFile", "0")
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "7")
    try:
        root = str(tmp_path_factory.mktemp("nosplit"))
        store = build_index(transcripts, root, n_partitions=4, n_shards=8)
        files = store.segment_files()
        assert 0 < len(files) <= 4, files  # never more files than pids
        got = topk(spark, store, "join filter", k=5).collect()
        # scores must be complete per-doc sums: compare against a store
        # built with the default (no-split) conf
        clean_root = str(tmp_path_factory.mktemp("nosplit_ref"))
        spark.conf.set("spark.sql.files.maxRecordsPerFile", "0")
        ref_store = build_index(transcripts, clean_root,
                                n_partitions=4, n_shards=8)
        ref = topk(spark, ref_store, "join filter", k=5).collect()
        assert [(r["docid"], r["score"]) for r in got] \
            == [(r["docid"], r["score"]) for r in ref]
    finally:
        spark.conf.set("spark.sql.files.maxRecordsPerFile", old)


def test_n_bins_work_proportional():
    """r7 task-granularity floor: bin count scales with bytes x queries,
    capped at min(n_tasks, n_files), never below 1 — and the cap side
    (big work) reproduces the old min(n_tasks, len(files)) exactly."""
    from visionsearch_spark.query.wand import _n_bins

    files_small = [(1 << 20, f"/s/{i}") for i in range(32)]  # 32 MB total
    # one interactive query over 32 MB -> 8 bins at the 4 MB default
    assert _n_bins(files_small, 32, 1) == 8
    # a 10-query batch is 10x the work -> full fan-out again
    assert _n_bins(files_small, 32, 10) == 32
    # fleet-sized store: cap unchanged from the pre-r7 rule
    files_big = [(1 << 30, f"/b/{i}") for i in range(500)]
    assert _n_bins(files_big, 32, 1) == 32
    assert _n_bins(files_big, 16, 1) == 16
    # degenerate: empty store still yields one bin (callers guard files)
    assert _n_bins([], 32, 1) == 1


def test_topk_results_invariant_to_bin_count(spark, built_store,
                                             monkeypatch):
    """ANY whole-file task assignment gives final per-partition scores:
    forcing 1 bin and forcing max fan-out must return identical rows."""
    q = "join filter stream"
    monkeypatch.setattr(wand, "QUERY_BIN_BYTES", 1 << 40)  # -> 1 bin
    one = topk(spark, built_store, q, k=7).collect()
    monkeypatch.setattr(wand, "QUERY_BIN_BYTES", 1)  # -> max bins
    many = topk(spark, built_store, q, k=7).collect()
    assert [tuple(r) for r in one] == [tuple(r) for r in many]
    assert len(one) == 7
