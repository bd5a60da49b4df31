"""Cursor pagination (search_after) across every query surface.

Contract under test:
- batch_topk(search_after={qid: (score, conv_id, turn_idx)}) returns the
  NEXT k rows of the frozen total order (score desc, conv_id, turn_idx);
  concatenating pages reproduces one big-k query exactly, for multi-term
  AND single-term queries (the cursor disables the block-max path), on
  the file-aligned fast path and the driver-merge path.
- ties AT the cursor score are split by the conv tie-break, never
  dropped or duplicated (the kernel keeps the whole tie run; the merge
  resolves it).
- composes with docid_filter and unit-collapse stores.
- LocalSearcher / ShardedSearcher paginate in their own (score desc,
  docid asc) order with a (score, docid) cursor.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from visionsearch_spark.index.spimi import build_index
from visionsearch_spark.query.serving import LocalSearcher, ShardedSearcher
from visionsearch_spark.query.wand import batch_topk, topk

PAGE_K = 7
N_PAGES = 3


@pytest.fixture(scope="module")
def store(transcripts, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("page") / "store")
    return build_index(transcripts, root, n_partitions=4)


def _rows(df):
    return sorted(df.collect(), key=lambda r: (r["query_id"], r["rank"]))


def _paged(spark, store, queries, n_pages, **kw):
    """Concatenate n_pages cursor pages per query."""
    out = {qid: [] for qid, _t, _k in queries}
    cursors = {}
    for _ in range(n_pages):
        live = [(qid, t, k) for qid, t, k in queries
                if not out[qid] or len(out[qid]) % PAGE_K == 0]
        if not live:
            break
        rows = _rows(batch_topk(spark, store, live,
                                search_after=cursors or None, **kw))
        got = {qid: [] for qid, _t, _k in live}
        for r in rows:
            got[r["query_id"]].append(r)
        for qid, rs in got.items():
            out[qid].extend(rs)
            if rs:
                last = rs[-1]
                cursors[qid] = (last["score"], last["conv_id"],
                                last["turn_idx"])
    return out


QUERIES = [
    (0, "join filter stream", PAGE_K),   # multi-term
    (1, "join", PAGE_K),                 # single-term (block-max path)
    (2, "zzzznotaword", PAGE_K),         # OOV
]


def _assert_pages_match(pages, full_rows):
    full = {}
    for r in full_rows:
        full.setdefault(r["query_id"], []).append(r)
    for qid, _t, _k in QUERIES:
        want = full.get(qid, [])[: N_PAGES * PAGE_K]
        got = pages.get(qid, [])
        assert [w["docid"] for w in want] == [g["docid"] for g in got], qid
        assert all(abs(w["score"] - g["score"]) < 1e-12
                   for w, g in zip(want, got)), qid


def test_pages_partition_full_ranking(spark, store):
    full = _rows(batch_topk(
        spark, store, [(q, t, N_PAGES * PAGE_K) for q, t, _ in QUERIES]))
    pages = _paged(spark, store, QUERIES, N_PAGES)
    _assert_pages_match(pages, full)


def test_pages_match_on_driver_merge_path(spark, store):
    full = _rows(batch_topk(
        spark, store, [(q, t, N_PAGES * PAGE_K) for q, t, _ in QUERIES],
        driver_merge=True))
    pages = _paged(spark, store, QUERIES, N_PAGES, driver_merge=True)
    _assert_pages_match(pages, full)


def test_tie_runs_split_exactly(spark, tmp_path):
    """60 identical docs -> one 60-deep tie run; pages of 7 must walk it
    by conv order with no dup or gap."""
    tx = spark.createDataFrame(
        [(f"conv-{i:04d}", 0, "user", "identical tie text", "", None)
         for i in range(60)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    store = build_index(tx, str(tmp_path / "ties"), n_partitions=4)
    q = [(0, "tie", PAGE_K)]
    seen = []
    cursor = None
    for _ in range(5):
        rows = _rows(batch_topk(spark, store, q,
                                search_after={0: cursor} if cursor else None))
        assert len(rows) == PAGE_K
        seen.extend(rows)
        last = rows[-1]
        cursor = (last["score"], last["conv_id"], last["turn_idx"])
    convs = [r["conv_id"] for r in seen]
    assert convs == [f"conv-{i:04d}" for i in range(5 * PAGE_K)]
    assert len({r["score"] for r in seen}) == 1


def test_composes_with_docid_filter(spark, store):
    allowed = spark.read.parquet(store.docmap_path) \
        .filter(F.col("docid") % 2 == 0).select("docid")
    q = [(0, "join filter stream", PAGE_K)]
    full = _rows(batch_topk(spark, store,
                            [(0, "join filter stream", 2 * PAGE_K)],
                            docid_filter=allowed))
    p1 = _rows(batch_topk(spark, store, q, docid_filter=allowed))
    last = p1[-1]
    p2 = _rows(batch_topk(
        spark, store, q, docid_filter=allowed,
        search_after={0: (last["score"], last["conv_id"], last["turn_idx"])}))
    got = [r["docid"] for r in p1 + p2]
    assert got == [r["docid"] for r in full]


def test_composes_with_unit_collapse(spark, store):
    """Doc-level (conv-collapsed) pagination: pages walk the collapsed
    ranking with the (score, conv_id) cursor. A transcripts store is
    unit-shaped already (units = turns, parent = conv)."""
    from visionsearch_spark.query.units import unit_batch_topk

    q = [(0, "join filter", PAGE_K)]
    full = unit_batch_topk(
        spark, store, [(0, "join filter", 2 * PAGE_K)]
    ).orderBy("rank").collect()
    p1 = unit_batch_topk(spark, store, q).orderBy("rank").collect()
    last = p1[-1]
    p2 = unit_batch_topk(
        spark, store, q,
        search_after={0: (last["score"], last["conv_id"])},
    ).orderBy("rank").collect()
    got = [r["conv_id"] for r in list(p1) + list(p2)]
    assert got == [r["conv_id"] for r in full]


def test_topk_convenience_cursor(spark, store):
    p1 = topk(spark, store, "join filter", k=PAGE_K).collect()
    last = sorted(p1, key=lambda r: r["rank"])[-1]
    p2 = topk(spark, store, "join filter", k=PAGE_K,
              search_after=(last["score"], last["conv_id"],
                            last["turn_idx"])).collect()
    full = topk(spark, store, "join filter", k=2 * PAGE_K).collect()
    got = sorted(p1, key=lambda r: r["rank"]) + \
        sorted(p2, key=lambda r: r["rank"])
    assert [r["docid"] for r in got] == \
        [r["docid"] for r in sorted(full, key=lambda r: r["rank"])]


def test_wrapper_surfaces_paginate(spark, store):
    """boolean_topk / prefix_topk expose the same cursor; two pages of k
    equal one page of 2k on each surface."""
    from visionsearch_spark.query.boolean import boolean_topk
    from visionsearch_spark.query.multiterm import prefix_topk

    def pages(fn, **kw):
        p1 = sorted(fn(k=PAGE_K, **kw).collect(), key=lambda r: r["rank"])
        last = p1[-1]
        p2 = sorted(
            fn(k=PAGE_K, search_after=(last["score"], last["conv_id"],
                                       last["turn_idx"]), **kw).collect(),
            key=lambda r: r["rank"])
        full = sorted(fn(k=2 * PAGE_K, **kw).collect(),
                      key=lambda r: r["rank"])
        return [r["docid"] for r in p1 + p2], [r["docid"] for r in full]

    got, want = pages(
        lambda **kw: boolean_topk(spark, store, must=["join"],
                                  should=None, must_not=["dup"], **kw))
    assert got == want
    got, want = pages(lambda **kw: prefix_topk(spark, store, "fil", **kw))
    assert got == want


def test_local_searcher_pagination(store):
    s = LocalSearcher(store)
    full = s.search("join filter stream", k=3 * PAGE_K)
    pages, cursor = [], None
    for _ in range(3):
        page = s.search("join filter stream", k=PAGE_K, search_after=cursor)
        if not page:
            break
        pages.extend(page)
        cursor = (page[-1][3], page[-1][0])  # (score, docid)
    assert [h[0] for h in pages] == [h[0] for h in full[: len(pages)]]
    assert len(pages) == min(3 * PAGE_K, len(full))


def test_sharded_searcher_pagination(store):
    s = ShardedSearcher(store, n_groups=3)
    full = s.search("join filter stream", k=3 * PAGE_K)
    pages, cursor = [], None
    for _ in range(3):
        page = s.search("join filter stream", k=PAGE_K, search_after=cursor)
        if not page:
            break
        pages.extend(page)
        cursor = (page[-1][3], page[-1][0])
    assert [h[0] for h in pages] == [h[0] for h in full[: len(pages)]]
