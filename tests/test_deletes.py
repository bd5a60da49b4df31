"""Document deletes: tombstone sidecars, query-time masking, purge fold.

Contract under test (visionsearch_spark/index/deletes.py):
- delete is O(delta), additive, idempotent; segments/stats untouched
  ("stale stats" until compaction — the Lucene liveness rule).
- every query surface masks pending tombstones BEFORE its k-cut:
  batch_topk (fast path + single-term), boolean membership,
  LocalSearcher.
- compact_store folds tombstones: dead postings leave the segments,
  stats recompute over survivors, pending dirs move to applied, and
  deleted docs can never resurface through later appends/compactions.
"""

from __future__ import annotations

import math
import shutil

import pytest
from pyspark.sql import functions as F

from visionsearch_spark.fixtures import TRANSCRIPTS_SCHEMA
from visionsearch_spark.index.deletes import (
    delete_convs,
    delete_docs,
    n_deleted,
    pending_tombstones,
)
from visionsearch_spark.index.spimi import build_index, compact_store
from visionsearch_spark.index.store import IndexStore
from visionsearch_spark.query import wand
from visionsearch_spark.query.wand import batch_topk

REL_TOL = 1e-9
Q = [(0, "join filter stream", 10)]


@pytest.fixture(scope="module")
def base_store(spark, transcripts, tmp_path_factory):
    """One immutable base index; tests copy it before mutating."""
    root = str(tmp_path_factory.mktemp("del_base") / "store")
    return build_index(transcripts, root, n_partitions=4)


@pytest.fixture()
def store(base_store, tmp_path):
    dst = str(tmp_path / "store")
    shutil.copytree(base_store.root, dst)
    return IndexStore(dst)


def _top(spark, store, q=Q, **kw):
    rows = batch_topk(spark, store, q, **kw).collect()
    return sorted(rows, key=lambda r: (r["query_id"], r["rank"]))


def _victims(spark, store, n=2):
    rows = _top(spark, store)
    return sorted({r["conv_id"] for r in rows[:n]})


def _delete(spark, store, convs):
    vdf = spark.createDataFrame([(c,) for c in convs], "conv_id string")
    return delete_convs(spark, store, vdf)


def test_delete_masks_and_matches_allow_complement(spark, store):
    victims = _victims(spark, store)
    meta0 = store.read_meta()
    n = _delete(spark, store, victims)
    assert n > 0
    after = _top(spark, store)
    assert not ({r["conv_id"] for r in after} & set(victims))

    # stale stats: delete moves NO corpus stat until compaction
    meta1 = store.read_meta()
    assert (meta1["n_docs"], meta1["avgdl"]) == (meta0["n_docs"],
                                                meta0["avgdl"])

    # deny semantics == allow-complement semantics (both stale-stats):
    # hide the tombstones and rank with the explicit complement
    docmap = spark.read.parquet(store.docmap_path).select("docid", "conv_id")
    allow = docmap.filter(~F.col("conv_id").isin(victims)).select("docid")
    td = meta1.pop("tombstone_dirs")
    store.write_meta(meta1)
    ref = _top(spark, store, docid_filter=allow)
    meta1["tombstone_dirs"] = td
    store.write_meta(meta1)
    assert [(r["conv_id"], r["turn_idx"]) for r in after] == \
        [(r["conv_id"], r["turn_idx"]) for r in ref]
    for a, b in zip(after, ref):
        assert math.isclose(a["score"], b["score"], rel_tol=REL_TOL)


def test_single_term_and_composed_filter_masked(spark, store):
    victims = _victims(spark, store)
    _delete(spark, store, victims)
    # single-term queries must leave the block-max path for the exact one
    got = _top(spark, store, q=[(0, "join", 8)])
    assert got and not ({r["conv_id"] for r in got} & set(victims))
    # deny composes with an explicit allow filter (both sidebands active)
    docmap = spark.read.parquet(store.docmap_path).select("docid", "conv_id")
    allow = docmap.filter(F.col("conv_id") <= "conv-000200").select("docid")
    both = _top(spark, store, docid_filter=allow)
    assert not ({r["conv_id"] for r in both} & set(victims))
    assert all(r["conv_id"] <= "conv-000200" for r in both)


def test_delete_idempotent_unknown_and_counts(spark, store):
    victims = _victims(spark, store)
    n = _delete(spark, store, victims)
    assert _delete(spark, store, victims) == 0  # re-delete: no-op
    ghost = spark.createDataFrame([(10**9,)], "docid long")
    assert delete_docs(spark, store, ghost) == 0  # unknown docid: no-op
    assert n_deleted(store) == (n, 0)
    assert pending_tombstones(spark, store).count() == n
    # meta lists exactly one tombstone dir (the two no-ops added none)
    assert len(store.read_meta()["tombstone_dirs"]) == 1


def test_purge_folds_and_matches_fresh_rebuild(spark, store, transcripts,
                                               tmp_path):
    victims = _victims(spark, store)
    _delete(spark, store, victims)
    n_before = store.read_meta()["n_docs"]
    store = compact_store(spark, store.root)
    meta = store.read_meta()
    assert meta["tombstone_dirs"] == []
    assert len(meta["applied_tombstone_dirs"]) == 1
    assert meta["n_docs"] < n_before
    assert n_deleted(store) == (0, n_before - meta["n_docs"])

    purged = _top(spark, store)
    fresh_root = str(tmp_path / "fresh")
    fresh = build_index(
        transcripts.filter(~F.col("conv_id").isin(victims)),
        fresh_root, n_partitions=4,
    )
    ref = _top(spark, fresh)
    # scores now reflect survivor-only stats — identical to an index
    # that never contained the deleted docs (docids differ: purge keeps
    # original ids, the rebuild re-ranks; compare on conv keys + score)
    assert [(r["conv_id"], r["turn_idx"]) for r in purged] == \
        [(r["conv_id"], r["turn_idx"]) for r in ref]
    for a, b in zip(purged, ref):
        assert math.isclose(a["score"], b["score"], rel_tol=REL_TOL)
    # term stats folded too: df of a term the victims contained shrank
    from visionsearch_spark.query.wand import _lookup_term_dfs
    old = _lookup_term_dfs(spark, fresh, ["join"])
    new = _lookup_term_dfs(spark, store, ["join"])
    assert new.get("join") == old.get("join")


def test_append_after_delete_keeps_dead_out(spark, store, transcripts_pdf):
    from visionsearch_spark.streaming.incremental import incremental_build

    victims = _victims(spark, store)
    _delete(spark, store, victims)
    extra = transcripts_pdf.head(40).copy()
    extra["conv_id"] = extra["conv_id"].str.replace("conv-", "zzzz-")
    new_tx = spark.createDataFrame(extra, schema=TRANSCRIPTS_SCHEMA)
    store = incremental_build(new_tx, store.root, n_partitions=4)
    meta = store.read_meta()
    # stale rule holds across appends: pending deletes still counted
    assert meta["n_docs"] == len(transcripts_pdf) + len(extra)
    assert meta["tombstone_dirs"], "append must not drop pending tombstones"
    got = _top(spark, store, q=[(0, "join filter stream", 30)])
    assert not ({r["conv_id"] for r in got} & set(victims))
    # appended docs are live and searchable alongside the tombstones
    appended_hits = _top(
        spark, store, q=[(0, "join filter stream", 500)]
    )
    assert any(r["conv_id"].startswith("zzzz-") for r in appended_hits)

    # compaction AFTER the append folds the union and drops the dead
    n_dead = n_deleted(store)[0]
    store = compact_store(spark, store.root)
    meta = store.read_meta()
    assert meta["n_docs"] == len(transcripts_pdf) + len(extra) - n_dead
    got = _top(spark, store, q=[(0, "join filter stream", 30)])
    assert not ({r["conv_id"] for r in got} & set(victims))


def test_second_round_of_deletes_after_purge(spark, store):
    v1 = _victims(spark, store)
    _delete(spark, store, v1)
    store = compact_store(spark, store.root)
    v2 = _victims(spark, store)  # next-best convs, still alive
    assert not (set(v1) & set(v2))
    _delete(spark, store, v2)
    got = _top(spark, store)
    assert not ({r["conv_id"] for r in got} & (set(v1) | set(v2)))
    # second compaction merges the live dir (already purged of v1) and
    # masks only the pending v2 — v1 must not resurface
    store = compact_store(spark, store.root)
    meta = store.read_meta()
    assert len(meta["applied_tombstone_dirs"]) == 2
    got = _top(spark, store)
    assert not ({r["conv_id"] for r in got} & (set(v1) | set(v2)))


def test_local_searcher_masks_deletes(spark, store):
    from visionsearch_spark.query.serving import LocalSearcher

    victims = _victims(spark, store)
    _delete(spark, store, victims)
    dist = batch_topk(spark, store, [(0, "join filter stream", 10)],
                      driver_merge=True).collect()
    dist = sorted(dist, key=lambda r: r["rank"])
    ls = LocalSearcher(store)
    local = ls.search("join filter stream", k=10)
    assert [(r["docid"], r["conv_id"]) for r in dist] == \
        [(d, c) for d, c, _t, _s in local]
    for r, (_d, _c, _t, s) in zip(dist, local):
        assert math.isclose(r["score"], s, rel_tol=REL_TOL)
    assert not ({c for _d, c, _t, _s in local} & set(victims))


def test_matching_docids_excludes_deleted(spark, store):
    from visionsearch_spark.query.boolean import matching_docids

    before = {
        r["docid"]
        for r in matching_docids(spark, store, all_of=["join"]).collect()
    }
    docmap = spark.read.parquet(store.docmap_path).select("docid", "conv_id")
    some = sorted(before)[:5]
    delete_docs(spark, store,
                spark.createDataFrame([(d,) for d in some], "docid long"))
    after = {
        r["docid"]
        for r in matching_docids(spark, store, all_of=["join"]).collect()
    }
    assert after == before - set(some)


def test_http_delete_endpoint(spark, store, tmp_path):
    """POST /delete tombstones conversations durably (on-disk dir via
    the driver-side pyarrow path) and masks the RUNNING searcher
    immediately; fresh searchers and Spark queries see the same state."""
    import json as _json
    import threading
    import urllib.request

    from visionsearch_spark.query.serving import LocalSearcher
    from visionsearch_spark.sources.http_api import ServingApp

    searcher = LocalSearcher(store)
    app = ServingApp(searcher, spool_dir=str(tmp_path / "spool"))
    srv = app.make_server(port=0)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    url = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        victims = sorted({
            c for _d, c, _t, _s in searcher.search("join filter stream",
                                                   k=2)
        })

        def post(payload):
            req = urllib.request.Request(
                f"{url}/delete", data=_json.dumps(payload).encode(),
                headers={"Content-Type": "application/json"},
            )
            with urllib.request.urlopen(req, timeout=10) as r:
                return r.status, _json.loads(r.read())

        status, body = post({"conv_ids": victims})
        assert status == 200 and body["deleted_units"] > 0
        # running searcher: immediate
        live = {c for _d, c, _t, _s in searcher.search(
            "join filter stream", k=10)}
        assert not (live & set(victims))
        # durable: a fresh searcher and the Spark path both mask
        fresh = {c for _d, c, _t, _s in LocalSearcher(store).search(
            "join filter stream", k=10)}
        assert not (fresh & set(victims))
        got = _top(spark, store)
        assert not ({r["conv_id"] for r in got} & set(victims))
        # idempotent re-delete through the API
        status, body = post({"conv_ids": victims})
        assert status == 200 and body["deleted_units"] == 0
        # malformed bodies: 400, no state change
        import urllib.error
        for bad in ({}, {"conv_ids": []}, {"conv_ids": [1, 2]}):
            try:
                status, _ = post(bad)
            except urllib.error.HTTPError as e:
                status = e.code
            assert status == 400
    finally:
        srv.shutdown()


def test_deny_rides_fast_path_plan(spark, store, monkeypatch):
    """Tombstoned stores keep the zero-posting-shuffle plan: deny packs
    shuffle on route_key; segment dirs never appear in a Spark FileScan.
    Tiny bins pinned so the fixture-sized store fans out to >1 task —
    with one bin the route_key exchange legitimately collapses to
    SinglePartition (r7 _n_bins work-proportional floor)."""
    victims = _victims(spark, store)
    _delete(spark, store, victims)
    seg_dirs = store.segment_paths()
    monkeypatch.setattr(wand, "QUERY_BIN_BYTES", 1)
    res = batch_topk(spark, store, Q)
    res.count()
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert not any(d in plan for d in seg_dirs)
    assert "hashpartitioning(route_key" in plan


def test_mask_fragments_reencodes_hit_blocks(spark):
    """The purge kernel on hand-built fragments: untouched blocks pass
    through byte-identical, fully deleted blocks vanish, partly deleted
    blocks equal the per-block encoders over their kept postings (with
    min/max_docid, n, max_tf, min_dl recomputed), and a NULL pos_bin
    stays NULL. A store is positional or not, so positional and NULL
    pos_bin blocks are masked as two inputs; one input mixing them is
    refused."""
    import numpy as np

    from visionsearch_spark.index.codec import (
        encode_docids,
        encode_positions,
        encode_varint,
    )
    from visionsearch_spark.index.spimi import _mask_fragments
    from visionsearch_spark.index.store import SEGMENT_SCHEMA_DDL

    def block(term, docids, tfs, dls, pos_flat):
        d = np.asarray(docids, dtype=np.int64)
        t = np.asarray(tfs, dtype=np.int64)
        L = np.asarray(dls, dtype=np.int64)
        pb = (encode_positions(np.asarray(pos_flat, dtype=np.int64), t)
              if pos_flat is not None else None)
        return (term, int(d[0]), int(d[-1]), len(d),
                bytes(encode_docids(d)),
                bytes(encode_varint(t.astype(np.uint64))),
                bytes(encode_varint(L.astype(np.uint64))),
                int(t.max()), int(L.min()), pb)

    rows = [
        # untouched: no dead docid inside [min_docid, max_docid]
        block("alpha", [1, 5, 9], [1, 2, 1], [4, 7, 3], [2, 0, 5, 1]),
        # range holds dead 6 but the block does not: re-encoded as is
        block("beta", [4, 8], [3, 1], [9, 8], [0, 2, 7, 3]),
        # partly deleted (drops 6 and 7), positional
        block("beta", [2, 6, 7, 30], [2, 1, 3, 1], [5, 2, 9, 6],
              [1, 4, 0, 2, 5, 8, 3]),
        # fully deleted
        block("gamma", [40, 41], [1, 1], [3, 3], [0, 1]),
    ]
    # partly deleted, NULL pos_bin (a positionless store)
    nopos = [block("delta", [3, 50, 60], [2, 5, 1], [8, 7, 6], None)]
    dead = spark.createDataFrame([(6,), (7,), (40,), (41,), (50,)],
                                 "docid long")

    def mask(blocks):
        frags = spark.createDataFrame(blocks, SEGMENT_SCHEMA_DDL)
        return _mask_fragments(frags, dead, 1000, n_tasks=2).collect()

    def norm(r):
        return tuple(bytes(v) if isinstance(v, (bytes, bytearray)) else v
                     for v in r)

    assert sorted(norm(r) for r in mask(rows)) == sorted([
        rows[0],
        rows[1],
        block("beta", [2, 30], [2, 1], [5, 6], [1, 4, 3]),
    ])
    assert [norm(r) for r in mask(nopos)] == [
        block("delta", [3, 60], [2, 1], [8, 6], None)]
    # two partly deleted blocks of one shard: one task sees the mix
    with pytest.raises(Exception, match="run fsck"):
        mask([rows[2], block("eps", [41, 42], [1, 1], [4, 4], None)])
