"""Postings are stored once: a fragment lives only until a committed meta
lists its pid in `compacted_pids`, then IndexStore.gc_dirs deletes it.

Contract under test (index/spimi.py `_merge_input`, index/store.py
`gc_dirs`):
- build_index, incremental_build and compact_store each flip meta and
  then GC; a crash before the flip or part-way through the GC is
  repaired by re-running the same call — results match the oracle and
  no posting is counted twice;
- a full compaction merges the live segment dirs (plus uncovered
  fragments), so compacting an already compacted store rewrites the
  same postings and term_stats;
- after every build, append and compaction `fragments/` holds no
  compacted pid.
"""

from __future__ import annotations

import math
import os
import shutil

import numpy as np
import pandas as pd
import pytest

from visionsearch_spark.fixtures import TRANSCRIPTS_SCHEMA
from visionsearch_spark.index.codec import (
    decode_blocks,
    decode_varint,
    fixed_values,
    payload,
)
from visionsearch_spark.index.deletes import delete_convs
from visionsearch_spark.index.fsck import fsck
from visionsearch_spark.index.spimi import build_index, compact_store
from visionsearch_spark.index.store import IndexStore, read_columns
from visionsearch_spark.oracle import build_oracle_index, oracle_search
from visionsearch_spark.query.wand import topk
from visionsearch_spark.streaming.incremental import (
    incremental_build,
    upsert_convs,
)

QUERIES = [("join filter", 10), ("window", 5)]


class Crash(RuntimeError):
    pass


def _tx(spark, pdf):
    return spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA)


def _oracle(pdf):
    return build_oracle_index(list(
        pdf[["conv_id", "turn_idx", "text"]].itertuples(index=False,
                                                        name=None)))


def _df_totals(store: IndexStore) -> dict[str, int]:
    ts = read_columns(store.term_stats_paths(), ["term", "df"])
    out: dict[str, int] = {}
    for t, d in zip(ts["term"].to_pylist(), ts["df"].to_pylist()):
        out[t] = out.get(t, 0) + int(d)
    return out


def _postings(store: IndexStore) -> np.ndarray:
    """Every live posting as (term, docid, tf, dl), sorted."""
    tbl = read_columns(store.segment_paths(),
                       ["term", "n", "docids_bin", "tfs_bin", "dls_bin"])
    ns = fixed_values(tbl["n"]).astype(np.int64)
    total = int(ns.sum())
    rows = np.rec.fromarrays([
        np.repeat(np.asarray(tbl["term"].to_pylist(), dtype=object), ns),
        decode_blocks(tbl["docids_bin"], ns),
        decode_varint(payload(tbl["tfs_bin"]), total).astype(np.int64),
        decode_varint(payload(tbl["dls_bin"]), total).astype(np.int64),
    ], names="term,docid,tf,dl")
    return rows[np.lexsort((rows.docid, rows.term))]


def _compacted_fragments(store: IndexStore) -> set[int]:
    covered = set(store.read_meta().get("compacted_pids") or [])
    return {pid for pid, _p in store.fragment_files()} & covered


def _check_oracle(spark, store: IndexStore, pdf) -> None:
    oracle = _oracle(pdf)
    assert _df_totals(store) == dict(oracle.df)  # nothing doubled or lost
    for q, k in QUERIES:
        exp = oracle_search(oracle, q, k=k)
        got = topk(spark, store, q, k=k).collect()
        assert [(r["conv_id"], r["turn_idx"]) for r in got] == [
            (e[1], e[2]) for e in exp], q
        for g, e in zip(got, exp):
            assert math.isclose(g["score"], e[3], rel_tol=1e-9)


def _crash_before_flip(monkeypatch) -> None:
    """The meta write that moves the epoch is the flip: raise instead."""
    real = IndexStore.write_meta

    def write_meta(self, meta):
        if meta.get("epoch") != self.current_epoch():
            raise Crash("before the meta flip")
        real(self, meta)

    monkeypatch.setattr(IndexStore, "write_meta", write_meta)


def _crash_mid_gc(monkeypatch) -> None:
    """Delete one fragment, then die on the next."""
    real = os.remove
    removed: list[str] = []

    def remove(path, *a, **kw):
        if os.path.basename(path).startswith("fragment-"):
            if removed:
                raise Crash("part-way through fragment GC")
            removed.append(path)
        real(path, *a, **kw)

    monkeypatch.setattr(os, "remove", remove)


@pytest.fixture(scope="module")
def bases(spark, halves, tmp_path_factory):
    """Per operation, the store it runs on (None = a fresh root)."""
    first_pdf, full_pdf = halves
    d = tmp_path_factory.mktemp("commit_bases")
    built = str(d / "built")
    build_index(_tx(spark, first_pdf), built, n_partitions=4)
    # an append that crashed before its flip: the delta pids' fragments
    # are committed but uncovered — the compaction below covers them
    crashed = str(d / "crashed_append")
    shutil.copytree(built, crashed)
    with pytest.MonkeyPatch.context() as mp:
        _crash_before_flip(mp)
        with pytest.raises(Crash):
            incremental_build(_tx(spark, full_pdf), crashed, n_partitions=4)
    return {"build_index": None, "incremental_build": built,
            "compact_store": crashed}


@pytest.mark.parametrize("crash", [_crash_before_flip, _crash_mid_gc],
                         ids=["before_flip", "mid_gc"])
@pytest.mark.parametrize("op", ["build_index", "incremental_build",
                                "compact_store"])
def test_crash_at_commit_point_then_rerun(spark, halves, bases, tmp_path,
                                          monkeypatch, op, crash):
    first_pdf, full_pdf = halves
    root = str(tmp_path / "store")
    if bases[op] is not None:
        shutil.copytree(bases[op], root)
    pdf = first_pdf if op == "build_index" else full_pdf

    def run():
        if op == "build_index":
            build_index(_tx(spark, pdf), root, n_partitions=4)
        elif op == "incremental_build":
            incremental_build(_tx(spark, pdf), root, n_partitions=4)
        else:
            compact_store(spark, root, n_partitions=4)

    crash(monkeypatch)
    with pytest.raises(Crash):
        run()
    monkeypatch.undo()
    run()

    store = IndexStore(root)
    report = fsck(root)
    assert all(rec["ok"] for rec in report.values()), report
    assert not [name for name, rec in report.items()
                if rec["warnings"] and name != "fragments"], report
    _check_oracle(spark, store, pdf)
    if _compacted_fragments(store):
        # a no-op rerun does not flip: the GC leftover stays, flagged,
        # until the next flip deletes it
        assert report["fragments"]["warnings"]
        compact_store(spark, root, n_partitions=4)
        _check_oracle(spark, store, pdf)
    assert not _compacted_fragments(store)
    assert not [w for rec in fsck(root).values() for w in rec["warnings"]]


def test_compaction_of_compacted_store_is_row_identical(spark, halves,
                                                        tmp_path):
    """build -> upsert -> delete -> compact -> compact again: the second
    compaction reads the first one's live dir (nothing pending to mask)
    and must rewrite exactly the same postings and term_stats; df equals
    the oracle's over the live corpus."""
    _first_pdf, full_pdf = halves
    root = str(tmp_path / "store")
    store = build_index(_tx(spark, full_pdf), root, n_partitions=4)
    assert not _compacted_fragments(store)

    convs = sorted(full_pdf["conv_id"].unique())
    replaced, deleted = convs[:3], convs[3:5]
    repl = full_pdf[full_pdf["conv_id"].isin(replaced)
                    & (full_pdf["turn_idx"] == 1)].copy()
    repl["text"] = "xyzreplacement " + repl["text"]
    upsert_convs(_tx(spark, repl), root, n_partitions=4)
    assert not _compacted_fragments(store)
    delete_convs(spark, store,
                 spark.createDataFrame([(c,) for c in deleted],
                                       "conv_id string"))

    compact_store(spark, root)
    assert not _compacted_fragments(store)
    once = (_postings(store), _df_totals(store))
    compact_store(spark, root)
    assert not _compacted_fragments(store)
    assert np.array_equal(_postings(store), once[0])
    assert _df_totals(store) == once[1]

    live = pd.concat([
        full_pdf[~full_pdf["conv_id"].isin(replaced + deleted)], repl])
    assert once[1] == dict(_oracle(live).df)
    assert not [e for rec in fsck(root).values() for e in rec["errors"]]


def test_legacy_store_with_applied_tombstones_asks_for_reindex(
        spark, bases, tmp_path):
    """A pre-LSM meta (no compacted_pids) merges from its fragments,
    which still hold the postings its applied tombstones purged — only a
    reindex can rebuild it."""
    root = str(tmp_path / "store")
    shutil.copytree(bases["incremental_build"], root)
    store = IndexStore(root)
    meta = store.read_meta()
    del meta["compacted_pids"]
    meta["applied_tombstone_dirs"] = ["tombstones-000001"]
    store.write_meta(meta)
    with pytest.raises(ValueError, match="run reindex"):
        compact_store(spark, root)
