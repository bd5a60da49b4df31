"""Unit fan-out search (per-doc max collapse) and metadata-filtered BM25
vs the exhaustive pure-Python oracle — including doc-straddles-shard edges
(tiny shard_range), where one parent's units sit in several files."""

from __future__ import annotations

import math

import pytest

from visionsearch_spark.index.spimi import build_index
from visionsearch_spark.index.store import IndexStore
from visionsearch_spark.oracle import build_oracle_index, oracle_search
from visionsearch_spark.query.units import unit_batch_topk
from visionsearch_spark.query.wand import batch_topk

VOCAB = ["join", "filter", "stream", "shuffle", "spark", "index", "merge",
         "vector", "scan", "sort", "cache", "broadcast"]


def _unit_rows():
    """60 docs x 1..7 units; deterministic overlapping vocabulary."""
    rows = []
    for d in range(60):
        n_units = 1 + d % 7
        for u in range(1, n_units + 1):
            words = [VOCAB[(d + u * j) % len(VOCAB)] for j in range(1, 6 + d % 4)]
            rows.append((f"doc-{d:05d}", u, " ".join(words)))
    return rows


@pytest.fixture(scope="module")
def unit_store(spark, tmp_path_factory):
    rows = _unit_rows()
    root = str(tmp_path_factory.mktemp("unit_idx"))
    df = spark.createDataFrame(
        [(c, t, "user", x, "", None) for c, t, x in rows],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    # n_shards=40 over ~240 units -> shard_range ~6: docs with 7 units
    # MUST straddle shard edges
    store = build_index(df, root, n_partitions=4, n_shards=40)
    assert store.read_meta()["shard_range"] <= 8
    return store, rows


def _collapsed_oracle(rows, query, k):
    idx = build_oracle_index(rows)
    per_unit = oracle_search(idx, query, k=10**6)
    best: dict[str, float] = {}
    for _d, conv, _t, s in per_unit:
        if conv not in best or s > best[conv]:
            best[conv] = s
    ranked = sorted(best.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    return ranked


@pytest.mark.parametrize("query,k", [
    ("join filter", 10), ("vector scan merge", 7), ("cache", 5),
    ("zzznotaword", 3),
])
def test_unit_collapse_matches_oracle(spark, unit_store, query, k):
    store, rows = unit_store
    got = unit_batch_topk(spark, store, [(0, query, k)]).orderBy("rank").collect()
    exp = _collapsed_oracle(rows, query, k)
    assert [(r["conv_id"]) for r in got] == [c for c, _s in exp], query
    for g, (_c, s) in zip(got, exp):
        assert math.isclose(g["score"], s, rel_tol=1e-9)


def test_unit_collapse_rank_is_doc_level(spark, unit_store):
    """No doc appears twice, even when several of its units match."""
    store, _rows = unit_store
    got = unit_batch_topk(spark, store, [(0, "join filter stream", 30)]).collect()
    convs = [r["conv_id"] for r in got]
    assert len(convs) == len(set(convs))


def _filtered_oracle(rows, allowed_convs, query, k):
    idx = build_oracle_index(rows)
    per_doc = oracle_search(idx, query, k=10**6)
    hits = [(conv, t, s) for _d, conv, t, s in per_doc if conv in allowed_convs]
    return sorted(hits, key=lambda h: (-h[2], h[0], h[1]))[:k]


def test_docid_filter_matches_oracle(spark, unit_store):
    """Metadata filter: global stats, only allowed docids ranked. The
    allow-set masks BEFORE the per-partition k-cut (a post-filter of an
    unfiltered top-k would be WRONG — this asserts the difference)."""
    from pyspark.sql import functions as F

    store, rows = unit_store
    allowed_convs = {c for c, _t, _x in rows if c >= "doc-00030"}
    docmap = spark.read.parquet(store.docmap_path)
    allowed = docmap.filter(F.col("conv_id") >= "doc-00030").select("docid")
    for query, k in [("join filter", 8), ("vector", 5)]:
        got = batch_topk(
            spark, store, [(0, query, k)], docid_filter=allowed
        ).orderBy("rank").collect()
        exp = _filtered_oracle(rows, allowed_convs, query, k)
        assert [(r["conv_id"], r["turn_idx"]) for r in got] == [
            (c, t) for c, t, _s in exp
        ], query
        for g, (_c, _t, s) in zip(got, exp):
            assert math.isclose(g["score"], s, rel_tol=1e-9)
        # the unfiltered top-k would contain disallowed docs — i.e. the
        # filter is doing real work, not vacuously passing
        unfiltered = batch_topk(spark, store, [(0, query, k)]).collect()
        assert any(r["conv_id"] not in allowed_convs for r in unfiltered)


def test_filter_and_collapse_compose(spark, unit_store):
    """allow-filter + unit collapse in one pass: best allowed doc by max
    allowed-unit score."""
    from pyspark.sql import functions as F

    store, rows = unit_store
    allowed_convs = {c for c, _t, _x in rows if c < "doc-00040"}
    docmap = spark.read.parquet(store.docmap_path)
    allowed = docmap.filter(F.col("conv_id") < "doc-00040").select("docid")
    got = batch_topk(
        spark, store, [(0, "join filter", 6)],
        docid_filter=allowed,
        collapse=True,
    ).orderBy("rank").collect()
    exp_units = _filtered_oracle(rows, allowed_convs, "join filter", 10**6)
    best: dict[str, float] = {}
    for c, _t, s in exp_units:
        if c not in best or s > best[c]:
            best[c] = s
    exp = sorted(best.items(), key=lambda kv: (-kv[1], kv[0]))[:6]
    assert [r["conv_id"] for r in got] == [c for c, _s in exp]


def test_local_searcher_unit_collapse_matches_spark(spark, unit_store):
    """Serving-path doc collapse (LocalSearcher.search_docs) is
    rank-identical with the distributed unit_batch_topk path."""
    import math

    from visionsearch_spark.query.serving import LocalSearcher

    store, _rows = unit_store
    ls = LocalSearcher(store)
    for query, k in [("join filter", 10), ("vector scan merge", 6),
                     ("zzznotaword", 4)]:
        spark_res = unit_batch_topk(spark, store, [(0, query, k)]) \
            .orderBy("rank").collect()
        served = ls.search_docs(query, k=k)
        assert [(r["conv_id"]) for r in spark_res] == [c for _d, c, _s in served]
        for r, (_d, _c, s) in zip(spark_res, served):
            assert math.isclose(r["score"], s, rel_tol=1e-9)


def test_unit_collapse_after_append_split_parent(spark, tmp_path_factory):
    """A parent that gains units in a LATER append owns two non-adjacent
    docid runs. Collapse must still produce ONE row per parent with the
    max over ALL its units, in both the distributed and serving paths."""
    import math

    from visionsearch_spark.query.serving import LocalSearcher
    from visionsearch_spark.streaming.incremental import incremental_build

    schema = ("conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    inc1 = [("doc-A", 1, "user", "join filter", "", None),
            ("doc-A", 2, "user", "spark index merge", "", None),
            ("doc-B", 1, "user", "join stream scan", "", None)]
    inc2 = inc1 + [("doc-A", 3, "user", "join filter stream", "", None),
                   ("doc-C", 1, "user", "filter cache", "", None)]
    root = str(tmp_path_factory.mktemp("idx_split"))
    incremental_build(spark.createDataFrame(inc1, schema), root,
                      n_partitions=2)
    store = incremental_build(spark.createDataFrame(inc2, schema), root,
                              n_partitions=2)

    exp = _collapsed_oracle(
        [(c, t, x) for c, t, _r, x, _tl, _ts in inc2], "join filter", 10)
    assert exp[0][0] == "doc-A"  # best unit is the APPENDED one
    got = unit_batch_topk(spark, store, [(0, "join filter", 10)]) \
        .orderBy("rank").collect()
    assert [r["conv_id"] for r in got] == [c for c, _s in exp]
    for g, (_c, s) in zip(got, exp):
        assert math.isclose(g["score"], s, rel_tol=1e-9)
    # only one row per parent even though doc-A spans two docid runs
    assert len({r["conv_id"] for r in got}) == len(got)

    served = LocalSearcher(store).search_docs("join filter", k=10)
    assert [c for _d, c, _s in served] == [c for c, _s in exp]
    for (_d, _c, s), (_c2, s2) in zip(served, exp):
        assert math.isclose(s, s2, rel_tol=1e-9)

    # a k that cuts: the split parent's two runs sit in one task and
    # must take ONE of its k slots, leaving the other for the runner-up
    inc1 = [(c, 1, "user", x, "", None) for c, x in
            [("a", "zebra"), ("b", "zebra filter"), ("c", "join"),
             ("d", "stream scan")]]
    inc2 = inc1 + [("a", 2, "user", "zebra zebra zebra", "", None)]
    root = str(tmp_path_factory.mktemp("idx_split_cut"))
    incremental_build(spark.createDataFrame(inc1, schema), root,
                      n_partitions=2)
    store = incremental_build(spark.createDataFrame(inc2, schema), root,
                              n_partitions=2)
    exp = _collapsed_oracle(
        [(c, t, x) for c, t, _r, x, _tl, _ts in inc2], "zebra", 2)
    assert [c for c, _s in exp] == ["a", "b"]
    for n_tasks in (1, 4):
        got = unit_batch_topk(spark, store, [(0, "zebra", 2)],
                              n_tasks=n_tasks).orderBy("rank").collect()
        assert [r["conv_id"] for r in got] == [c for c, _s in exp], n_tasks
        for g, (_c, s) in zip(got, exp):
            assert math.isclose(g["score"], s, rel_tol=1e-9)
    served = LocalSearcher(store).search_docs("zebra", k=2)
    assert [c for _d, c, _s in served] == [c for c, _s in exp]
    for (_d, _c, s), (_c2, s2) in zip(served, exp):
        assert math.isclose(s, s2, rel_tol=1e-9)


def test_unit_collapse_plan_has_no_exchange_below_kernel(spark, unit_store,
                                                         monkeypatch):
    """A collapsing query runs on the one-stage scan: each task reads its
    units' conv_ids itself, so no Exchange sits beneath the kernel (the
    conv-level merge above it may shuffle). Tiny bins pinned so the
    fixture-sized store fans out to more than one task."""
    import visionsearch_spark.query.wand as wand
    from test_positions import _kernel_subtree

    store, _rows = unit_store
    monkeypatch.setattr(wand, "QUERY_BIN_BYTES", 1)
    res = batch_topk(spark, store, [(0, "join filter", 5)], collapse=True)
    res.count()
    plan = res._jdf.queryExecution().executedPlan().toString()
    sub = _kernel_subtree(plan)
    assert any("Range (" in ln for ln in sub), plan
    assert not any("Exchange" in ln for ln in sub), plan
    assert "route_key" not in plan
