"""Incremental append: only-new-docs indexing, unchanged docids for old
docs, exact scores under refreshed corpus stats (oracle = full rebuild of
the combined corpus is NOT the contract — arrival-order docids are — so
the oracle here recomputes BM25 with arrival-order ids)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from visionsearch_spark.fixtures import TRANSCRIPTS_SCHEMA, make_transcripts_pdf
from visionsearch_spark.index.store import IndexStore
from visionsearch_spark.oracle import build_oracle_index, oracle_search
from visionsearch_spark.query.wand import topk
from visionsearch_spark.streaming.incremental import incremental_build, pending_rows


def test_streaming_ingestion(spark, transcripts_pdf, tmp_path_factory):
    """Structured Streaming path: file source -> foreachBatch incremental
    build with availableNow trigger; new files picked up by a second run."""
    from visionsearch_spark.streaming.incremental import (
        stream_transcripts_to_index,
    )

    base = tmp_path_factory.mktemp("stream")
    src = str(base / "src")
    root = str(base / "idx")
    ckpt = str(base / "ckpt")
    import os

    os.makedirs(src, exist_ok=True)
    convs = sorted(transcripts_pdf["conv_id"].unique())[:20]
    pdf = transcripts_pdf[transcripts_pdf["conv_id"].isin(convs)]
    half = pdf[pdf["conv_id"].isin(convs[:10])]
    schema = ("conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    spark.createDataFrame(half, schema=TRANSCRIPTS_SCHEMA).coalesce(1) \
        .write.mode("append").parquet(src)
    q = stream_transcripts_to_index(spark, src, root, ckpt, schema)
    q.awaitTermination(120)
    store = IndexStore(root)
    n1 = store.read_meta()["n_docs"]
    assert n1 == len(half)
    # second batch of files -> only the delta is indexed
    rest = pdf[pdf["conv_id"].isin(convs[10:])]
    spark.createDataFrame(rest, schema=TRANSCRIPTS_SCHEMA).coalesce(1) \
        .write.mode("append").parquet(src)
    q = stream_transcripts_to_index(spark, src, root, ckpt, schema)
    q.awaitTermination(120)
    assert store.read_meta()["n_docs"] == len(pdf)
    got = topk(spark, store, "join", k=5).collect()
    assert len(got) == 5


def test_incremental_append(spark, halves, tmp_path_factory):
    first_pdf, full_pdf = halves
    root = str(tmp_path_factory.mktemp("idx_incr"))
    first = spark.createDataFrame(first_pdf, schema=TRANSCRIPTS_SCHEMA)
    full = spark.createDataFrame(full_pdf, schema=TRANSCRIPTS_SCHEMA)

    store = incremental_build(first, root, n_partitions=4)
    n0 = store.read_meta()["n_docs"]
    assert n0 == len(first_pdf)

    # second call with the full corpus indexes ONLY the delta
    assert pending_rows(full, store).count() == len(full_pdf) - len(first_pdf)
    store = incremental_build(full, root, n_partitions=4)
    meta = store.read_meta()
    assert meta["n_docs"] == len(full_pdf)

    # docids of the first half are unchanged (append-only id space)
    docmap = {
        (r["conv_id"], r["turn_idx"]): r["docid"]
        for r in spark.read.parquet(store.docmap_path).collect()
    }
    first_keys = sorted(
        first_pdf[["conv_id", "turn_idx"]].itertuples(index=False, name=None)
    )
    for i, key in enumerate(first_keys):
        assert docmap[key] == i

    # third call: nothing pending, store untouched
    assert pending_rows(full, store).count() == 0
    incremental_build(full, root, n_partitions=4)
    assert store.read_meta()["n_docs"] == len(full_pdf)

    # scores are exact under the REFRESHED stats: oracle over the full
    # corpus (scores don't depend on docid numbering, only tie-break does;
    # within each increment ids follow (conv_id, turn_idx) order, and the
    # two queries below have no cross-increment ties)
    oracle = build_oracle_index(
        list(full_pdf[["conv_id", "turn_idx", "text"]].itertuples(index=False, name=None))
    )
    for q, k in [("xylophone", 5), ("join filter", 10)]:
        exp = oracle_search(oracle, q, k=k)
        got = topk(spark, store, q, k=k).collect()
        assert [(r["conv_id"], r["turn_idx"]) for r in got] == [
            (e[1], e[2]) for e in exp
        ], q
        for g, e in zip(got, exp):
            assert math.isclose(g["score"], e[3], rel_tol=1e-9)


def test_append_crash_repair(spark, halves, tmp_path_factory, monkeypatch):
    """Crash after the staged append but before SPIMI/merge: the next
    incremental_build must repair — the orphaned staged rows get postings,
    stats are refreshed, docids never collide (ADVICE r1: the anti-join
    must not hide staged-but-unindexed rows forever)."""
    import visionsearch_spark.streaming.incremental as inc

    first_pdf, full_pdf = halves
    convs = sorted(full_pdf["conv_id"].unique())
    three_q = full_pdf[full_pdf["conv_id"].isin(convs[: 3 * len(convs) // 4])]
    root = str(tmp_path_factory.mktemp("idx_crash"))
    first = spark.createDataFrame(first_pdf, schema=TRANSCRIPTS_SCHEMA)
    incremental_build(first, root, n_partitions=4)

    # crash injection: append commits, finish never runs
    def boom(*a, **kw):
        raise RuntimeError("injected crash after staged append")

    monkeypatch.setattr(inc, "_finish_append", boom)
    with pytest.raises(RuntimeError, match="injected"):
        incremental_build(
            spark.createDataFrame(three_q, schema=TRANSCRIPTS_SCHEMA),
            root, n_partitions=4,
        )
    monkeypatch.undo()
    store = IndexStore(root)
    meta = store.read_meta()
    assert meta["phase"] == "appending"          # intent record survives
    assert meta["n_docs"] == len(first_pdf)      # stats still old snapshot

    # next call: new delta (last quarter) + repair of the orphaned quarter
    store = incremental_build(
        spark.createDataFrame(full_pdf, schema=TRANSCRIPTS_SCHEMA),
        root, n_partitions=4,
    )
    meta = store.read_meta()
    assert meta["phase"] == "built"
    assert meta["n_docs"] == len(full_pdf)

    # docids are unique and dense 0..n-1 (no collisions from stale bases)
    docids = [r["docid"] for r in
              spark.read.parquet(store.docmap_path).select("docid").collect()]
    assert sorted(docids) == list(range(len(full_pdf)))

    # scores exact under refreshed stats, incl. docs staged by the crashed
    # append (they MUST be searchable — the round-1 bug made them ghosts)
    oracle = build_oracle_index(
        list(full_pdf[["conv_id", "turn_idx", "text"]]
             .itertuples(index=False, name=None))
    )
    for q, k in [("xylophone", 5), ("join filter", 10)]:
        exp = oracle_search(oracle, q, k=k)
        got = topk(spark, store, q, k=k).collect()
        assert [(r["conv_id"], r["turn_idx"]) for r in got] == [
            (e[1], e[2]) for e in exp
        ], q


def test_repair_noop_when_phase_appending_but_nothing_staged(
        spark, halves, tmp_path_factory):
    """Crash BETWEEN the intent write and the staged append: repair path
    re-merges (wasteful but idempotent) and flips back to built."""
    first_pdf, _ = halves
    root = str(tmp_path_factory.mktemp("idx_intent"))
    first = spark.createDataFrame(first_pdf, schema=TRANSCRIPTS_SCHEMA)
    store = incremental_build(first, root, n_partitions=4)
    meta = store.read_meta()
    meta["phase"] = "appending"
    store.write_meta(meta)
    store = incremental_build(first, root, n_partitions=4)
    meta = store.read_meta()
    assert meta["phase"] == "built"
    assert meta["n_docs"] == len(first_pdf)


def test_concurrent_reader_never_sees_torn_snapshot(
        spark, halves, tmp_path_factory):
    """A reader resolving the epoch pointer while an append merges must see
    either the old or the new snapshot — never a partial segments table
    (SURVEY §7 R4 snapshot contract; replaces in-place overwrite)."""
    import threading

    first_pdf, full_pdf = halves
    root = str(tmp_path_factory.mktemp("idx_swap"))
    store = incremental_build(
        spark.createDataFrame(first_pdf, schema=TRANSCRIPTS_SCHEMA),
        root, n_partitions=4,
    )
    old_segs = spark.read.parquet(*store.segment_paths()).count()
    observed, errors = [], []
    stop = threading.Event()

    def reader():
        while not stop.is_set():
            try:
                n_docs = store.read_meta()["n_docs"]
                n_segs = spark.read.parquet(*store.segment_paths()).count()
                observed.append((n_docs, n_segs))
            except Exception as e:  # noqa: BLE001
                errors.append(repr(e))
                return

    t = threading.Thread(target=reader)
    t.start()
    try:
        store = incremental_build(
            spark.createDataFrame(full_pdf, schema=TRANSCRIPTS_SCHEMA),
            root, n_partitions=4,
        )
    finally:
        stop.set()
        t.join(60)
    assert not errors, errors
    new_segs = spark.read.parquet(*store.segment_paths()).count()
    n0, n1 = len(first_pdf), len(full_pdf)
    for n_docs, n_segs in observed:
        assert n_docs in (n0, n1), f"torn meta: {n_docs}"
        assert n_segs in (old_segs, new_segs), (
            f"torn segments table: {n_segs} not in {(old_segs, new_segs)}"
        )


def test_append_dirs_additive_then_compaction_gcs(spark, halves,
                                                  tmp_path_factory):
    """LSM contract: appends ADD one O(delta) dir each (old dirs
    immutable), compact_store merges to one dir and retires the old set
    for exactly one more flip."""
    import math
    import os

    from visionsearch_spark.index.spimi import compact_store
    from visionsearch_spark.oracle import build_oracle_index, oracle_search

    first_pdf, full_pdf = halves
    convs = sorted(full_pdf["conv_id"].unique())
    root = str(tmp_path_factory.mktemp("idx_gc"))
    store = None
    for frac in (2, 3, 4):
        part = full_pdf[full_pdf["conv_id"].isin(convs[: len(convs) * frac // 4])]
        store = incremental_build(
            spark.createDataFrame(part, schema=TRANSCRIPTS_SCHEMA),
            root, n_partitions=4,
        )
    meta = store.read_meta()
    assert meta["epoch"] == 3  # initial build + two appends
    assert meta["segment_dirs"] == [
        "segments-000001", "segments-000002", "segments-000003"]

    def check_queries():
        oracle = build_oracle_index(
            list(full_pdf[["conv_id", "turn_idx", "text"]]
                 .itertuples(index=False, name=None)))
        for q, k in [("xylophone", 5), ("join filter", 10)]:
            exp = oracle_search(oracle, q, k=k)
            got = topk(spark, store, q, k=k).collect()
            assert [(r["conv_id"], r["turn_idx"]) for r in got] == [
                (e[1], e[2]) for e in exp], q
            for g, e in zip(got, exp):
                assert math.isclose(g["score"], e[3], rel_tol=1e-9)

    check_queries()  # union-of-dirs read is exact

    store = compact_store(spark, root)
    meta = store.read_meta()
    assert meta["segment_dirs"] == ["segments-000004"]
    assert "segments-000001" in meta["retired_dirs"]  # one-flip grace
    on_disk = {d for d in os.listdir(root) if d.startswith("segments")}
    assert on_disk == {f"segments-{i:06d}" for i in (1, 2, 3, 4)}
    check_queries()  # single compacted dir is exact too

    # next flip (an append) clears the retirement -> old dirs GC'd
    extra = full_pdf.iloc[:0]
    import pandas as pd
    extra = pd.DataFrame([{
        "conv_id": "zzz-new", "turn_idx": 1, "role": "user",
        "text": "a brand new appended row", "tool": "",
        "ts": full_pdf["ts"].iloc[0],
    }])
    store = incremental_build(
        spark.createDataFrame(pd.concat([full_pdf, extra]),
                              schema=TRANSCRIPTS_SCHEMA),
        root, n_partitions=4,
    )
    meta = store.read_meta()
    assert meta["segment_dirs"] == ["segments-000004", "segments-000005"]
    on_disk = {d for d in os.listdir(root) if d.startswith("segments")}
    assert on_disk == {"segments-000004", "segments-000005"}


def test_many_microbatches_bounded_dirs(spark, transcripts_pdf,
                                        tmp_path_factory):
    """10 streaming-style appends: live dir count stays bounded by the
    auto-compaction policy and results remain exact throughout."""
    import math

    from visionsearch_spark.oracle import build_oracle_index, oracle_search

    convs = sorted(transcripts_pdf["conv_id"].unique())[:40]
    pdf = transcripts_pdf[transcripts_pdf["conv_id"].isin(convs)]
    root = str(tmp_path_factory.mktemp("idx_micro"))
    store = None
    for i in range(0, 40, 4):  # initial build + 9 appends
        part = pdf[pdf["conv_id"].isin(convs[: i + 4])]
        store = incremental_build(
            spark.createDataFrame(part, schema=TRANSCRIPTS_SCHEMA),
            root, n_partitions=4, max_live_dirs=4,
        )
        assert len(store.read_meta()["segment_dirs"]) <= 5
    assert store.read_meta()["n_docs"] == len(pdf)
    oracle = build_oracle_index(
        list(pdf[["conv_id", "turn_idx", "text"]]
             .itertuples(index=False, name=None)))
    for q, k in [("join filter", 10), ("window", 5)]:
        exp = oracle_search(oracle, q, k=k)
        got = topk(spark, store, q, k=k).collect()
        assert [(r["conv_id"], r["turn_idx"]) for r in got] == [
            (e[1], e[2]) for e in exp], q
        for g, e in zip(got, exp):
            assert math.isclose(g["score"], e[3], rel_tol=1e-9)


def _mk_tx(spark, rows):
    """rows: (conv_id, turn_idx, text) -> transcripts DataFrame."""
    import pandas as pd

    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "text"])
    pdf["role"] = "user"
    pdf["tool"] = ""
    pdf["ts"] = pd.Timestamp("2024-01-01").as_unit("us")
    return spark.createDataFrame(
        pdf[["conv_id", "turn_idx", "role", "text", "tool", "ts"]],
        schema=TRANSCRIPTS_SCHEMA,
    )


def test_appended_store_boundary_tie_resolves_by_conv(spark, tmp_path_factory):
    """An appended conv with an EXACT score tie at the k boundary must win
    the (score desc, conv_id) tie-break even though its docid is the
    highest (docid order diverges from conv order after appends). Guards
    the per-partition k-cut: cutting to exactly k by docid inside one
    partition would drop the appended conv."""
    root = str(tmp_path_factory.mktemp("idx_tie"))
    # 3 docs, n_partitions=2 -> shard_range=2: shard1 spans the increment
    # boundary (docids 2=m02 and 3=a90), so within that shard docid order
    # (m02 first) diverges from conv order (a90 first).
    first = [(f"m{i:02d}", 1, "apple banana shared text") for i in range(3)]
    # n_shards pinned: the scenario NEEDS shard_range=2 (the straddling
    # shard); the default shard count is a tuning knob, not part of it
    incremental_build(_mk_tx(spark, first), root, n_partitions=2, n_shards=2)
    # appended convs: lexicographically FIRST, docids LAST (3..6)
    both = first + [(f"a9{i}", 1, "apple banana shared text")
                    for i in range(4)]
    store = incremental_build(_mk_tx(spark, both), root, n_partitions=2)
    assert store.read_meta()["n_docs"] == 7
    assert int(store.read_meta()["shard_range"]) == 2

    for q in ("apple banana", "apple"):  # multi-term and single-term paths
        # window-merge path, k=1: shard1 holds 2 tied docs (m02, a90); a
        # cut-to-exactly-k by docid drops a90, the global conv winner
        got = topk(spark, store, q, k=1, driver_merge=False).collect()
        assert [r["conv_id"] for r in got] == ["a90"], q
        # driver-merge path, k=3: the final merge must tie-break by conv,
        # not docid (pre-fix it returned m00,m01,m02)
        got = topk(spark, store, q, k=3, driver_merge=True).collect()
        assert [r["conv_id"] for r in got] == ["a90", "a91", "a92"], q
        assert len({round(r["score"], 9) for r in got}) == 1  # all tied


def test_append_stats_incremental_and_exact(spark, halves, tmp_path_factory):
    """Happy-path appends update corpus stats from meta + delta (no O(N)
    staged re-scan); the result must equal a direct recompute over the
    full staged table, and avgdl must be exactly sum_dl/n_docs."""
    first_pdf, full_pdf = halves
    root = str(tmp_path_factory.mktemp("idx_stats"))
    incremental_build(
        spark.createDataFrame(first_pdf, schema=TRANSCRIPTS_SCHEMA),
        root, n_partitions=4)
    store = incremental_build(
        spark.createDataFrame(full_pdf, schema=TRANSCRIPTS_SCHEMA),
        root, n_partitions=4)
    meta = store.read_meta()
    truth = spark.read.parquet(store.staged_path).agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s")).collect()[0]
    assert meta["n_docs"] == int(truth["n"])
    assert meta["sum_dl"] == int(truth["s"])
    assert meta["avgdl"] == int(truth["s"]) / int(truth["n"])


def test_direct_compact_on_crashed_store_repairs(
        spark, halves, tmp_path_factory, monkeypatch):
    """Operator runs the 'periodic full merge' compact_store DIRECTLY on
    a store whose append crashed (staged rows committed, no postings;
    plus one torn fragment): the compaction must re-SPIMI the orphaned
    staged pids and refresh stats — pre-fix it flipped phase='built'
    with those docs unsearchable (r3 review finding)."""
    import os

    import visionsearch_spark.streaming.incremental as inc
    from visionsearch_spark.index.spimi import compact_store, spimi_pending

    first_pdf, full_pdf = halves
    root = str(tmp_path_factory.mktemp("idx_directcompact"))
    incremental_build(
        spark.createDataFrame(first_pdf, schema=TRANSCRIPTS_SCHEMA),
        root, n_partitions=4)

    def boom(*a, **kw):
        raise RuntimeError("injected crash after staged append")

    monkeypatch.setattr(inc, "_finish_append", boom)
    with pytest.raises(RuntimeError, match="injected"):
        incremental_build(
            spark.createDataFrame(full_pdf, schema=TRANSCRIPTS_SCHEMA),
            root, n_partitions=4)
    monkeypatch.undo()

    store = IndexStore(root)
    # additionally tear one delta pid (fragment without manifest): only a
    # pid whose SPIMI is in flight can be torn — a compacted pid's
    # fragment is already GC'd
    torn_pid = int(spark.read.parquet(store.staged_path)
                   .agg(F.max("pid")).first()[0])
    spimi_pending(spark, store, int(store.read_meta()["shard_range"]), 4,
                  pending=spark.read.parquet(store.staged_path)
                  .filter(F.col("pid") == torn_pid))
    assert torn_pid not in store.read_meta()["compacted_pids"]
    os.remove(store.manifest_path(torn_pid))
    assert store.orphan_fragments() == [store.fragment_path(torn_pid)]

    store = compact_store(spark, root, n_partitions=4)
    meta = store.read_meta()
    assert meta["phase"] == "built"
    assert meta["n_docs"] == len(full_pdf)          # stats refreshed
    assert store.orphan_fragments() == []
    assert len(store.segment_paths()) == 1

    oracle = build_oracle_index(
        list(full_pdf[["conv_id", "turn_idx", "text"]]
             .itertuples(index=False, name=None)))
    ts = spark.read.parquet(*store.term_stats_paths())
    got_df = {r["term"]: r["df"] for r in
              ts.groupBy("term").agg(F.sum("df").alias("df")).collect()}
    assert got_df == dict(oracle.df)
    for q, k in [("join filter", 10), ("xylophone", 5)]:
        exp = oracle_search(oracle, q, k=k)
        got = topk(spark, store, q, k=k).collect()
        assert [(r["conv_id"], r["turn_idx"]) for r in got] == [
            (e[1], e[2]) for e in exp], q


def test_direct_compact_after_full_spimi_crash_refreshes_stats(
        spark, halves, tmp_path_factory, monkeypatch):
    """Crash AFTER every SPIMI manifest committed but BEFORE the meta
    flip: nothing is pending, yet stats are pre-append. A direct
    compact_store must refresh them (gated on phase='appending', not on
    pending work — r3 review round 3)."""
    import visionsearch_spark.streaming.incremental as inc
    from visionsearch_spark.index.spimi import compact_store, spimi_pending

    first_pdf, full_pdf = halves
    root = str(tmp_path_factory.mktemp("idx_statsgate"))
    incremental_build(
        spark.createDataFrame(first_pdf, schema=TRANSCRIPTS_SCHEMA),
        root, n_partitions=4)

    def boom(*a, **kw):
        raise RuntimeError("injected crash after staged append")

    monkeypatch.setattr(inc, "_finish_append", boom)
    with pytest.raises(RuntimeError, match="injected"):
        incremental_build(
            spark.createDataFrame(full_pdf, schema=TRANSCRIPTS_SCHEMA),
            root, n_partitions=4)
    monkeypatch.undo()

    store = IndexStore(root)
    meta = store.read_meta()
    # manually complete the SPIMI stage (the crash point under test)
    assert spimi_pending(spark, store, int(meta["shard_range"]), 4)
    assert store.read_meta()["n_docs"] == len(first_pdf)  # stale
    assert store.read_meta()["phase"] == "appending"

    store = compact_store(spark, root, n_partitions=4)
    meta = store.read_meta()
    assert meta["phase"] == "built"
    assert meta["n_docs"] == len(full_pdf)
    assert abs(
        meta["avgdl"] - meta["sum_dl"] / meta["n_docs"]
    ) < 1e-12

    oracle = build_oracle_index(
        list(full_pdf[["conv_id", "turn_idx", "text"]]
             .itertuples(index=False, name=None)))
    for q, k in [("join filter", 10)]:
        exp = oracle_search(oracle, q, k=k)
        got = topk(spark, store, q, k=k).collect()
        assert [(r["conv_id"], r["turn_idx"]) for r in got] == [
            (e[1], e[2]) for e in exp], q
        for g, e in zip(got, exp):
            assert math.isclose(g["score"], e[3], rel_tol=1e-9)


def test_fast_path_holds_at_many_live_dirs(spark, transcripts_pdf,
                                           tmp_path_factory):
    """LSM growth hardening (r5): with ~10 live segment dirs the
    file-aligned fast path must (a) still never scan segments through
    Spark, and (b) match the exhaustive oracle over the live rows for
    plain AND sideband queries — straddling dir-boundary shards
    included. Then one more append with a tight file budget must
    trigger the file-count compaction arm."""
    from visionsearch_spark.query.wand import _segment_files, batch_topk

    queries = [(0, "join filter stream", 7), (1, "vector", 4)]

    def oracle_rows(live_pdf, allowed_keys=None):
        # docids diverge from the oracle's after appends: match on
        # (conv_id, turn_idx, score) in the contract order
        idx = build_oracle_index(list(
            live_pdf[["conv_id", "turn_idx", "text"]]
            .itertuples(index=False, name=None)))
        out = []
        for qid, text, k in queries:
            hits = [h for h in oracle_search(idx, text, k=10**6)
                    if allowed_keys is None
                    or (h[1], h[2]) in allowed_keys]
            out += [(qid, c, t, sc) for _d, c, t, sc in hits[:k]]
        return out

    def assert_matches(got, exp):
        assert [(r["query_id"], r["conv_id"], r["turn_idx"])
                for r in got] == [e[:3] for e in exp]
        for r, e in zip(got, exp):
            assert math.isclose(r["score"], e[3], rel_tol=1e-9)

    root = str(tmp_path_factory.mktemp("idx_manydirs"))
    convs = sorted(transcripts_pdf["conv_id"].unique())[:48]
    pdf = transcripts_pdf[transcripts_pdf["conv_id"].isin(convs)]
    # founding build + 10 appends of 4 convs each, compaction disabled
    for i in range(11):
        chunk = pdf[pdf["conv_id"].isin(convs[: 4 * (i + 1)])]
        tx = spark.createDataFrame(chunk, schema=TRANSCRIPTS_SCHEMA)
        store = incremental_build(tx, root, n_partitions=4,
                                  max_live_dirs=100, max_live_files=10**6,
                                  n_shards=8)
    meta = store.read_meta()
    assert len(meta["segment_dirs"]) >= 10, meta["segment_dirs"]

    docmap = spark.read.parquet(store.docmap_path)
    allow = docmap.filter(F.col("docid") % 3 != 1).select("docid")
    allowed_keys = {(r["conv_id"], r["turn_idx"])
                    for r in docmap.join(allow, "docid").collect()}
    live = pdf[pdf["conv_id"].isin(convs[:44])]
    for kw, keys in (({}, None), ({"docid_filter": allow}, allowed_keys)):
        fast = batch_topk(spark, store, queries, **kw) \
            .orderBy("query_id", "rank")
        fast_rows = fast.collect()
        plan = fast._jdf.queryExecution().executedPlan().toString()
        assert not any(d in plan for d in store.segment_paths()), kw
        assert_matches(fast_rows, oracle_rows(live, keys))
    assert len(fast_rows) > 0

    # file-count compaction arm: next append (4 genuinely new convs —
    # a no-op delta early-returns before the policy) exceeds
    # max_live_files
    n_files = len(_segment_files(store))
    assert n_files >= 40  # 11 dirs x 4 partitions (minus small dirs)
    chunk = pdf  # all 48 convs, 4 of them new
    tx = spark.createDataFrame(chunk, schema=TRANSCRIPTS_SCHEMA)
    store = incremental_build(tx, root, n_partitions=4,
                              max_live_dirs=100, max_live_files=16,
                              n_shards=8)
    meta = store.read_meta()
    assert len(meta["segment_dirs"]) == 1, meta["segment_dirs"]
    assert len(_segment_files(store)) <= 4
    # post-compaction correctness on the new (4-convs-larger) corpus
    got = batch_topk(spark, store, queries).orderBy(
        "query_id", "rank").collect()
    assert_matches(got, oracle_rows(pdf))
