"""Segment layout 2: each doc's length is stored once, in the reserved
DL_TERM rows of the file that holds its postings (index/store.py).

Contract under test:
- DL_TERM is no term: on a corpus that contains the real token `dl`,
  df, top-k (Spark and LocalSearcher), `/suggest`, did_you_mean and the
  term_stats rows all match the oracle, across a build, an append, a
  delete and a compaction, and the reserved term shows up in none of
  them;
- the wand kernel's per-worker doc-length cache changes no result:
  a task over files of two LSM dirs scores the same with the cache
  empty, warm, or evicting on every insert;
- the segment write maps shards to files from the shard span alone:
  compacting the same input twice gives the same per-file shard sets,
  and no partition is left empty when there are at least as many shards
  as tasks.
"""

from __future__ import annotations

import json
import math
import threading
import urllib.request

import pandas as pd
import pyarrow.parquet as pq
import pytest

from visionsearch_spark.fixtures import TRANSCRIPTS_SCHEMA
from visionsearch_spark.index.deletes import delete_convs
from visionsearch_spark.index.fsck import fsck
from visionsearch_spark.index.spimi import build_index, compact_store
from visionsearch_spark.index.store import (
    DL_TERM,
    IndexStore,
    parquet_files,
    read_columns,
)
from visionsearch_spark.oracle import build_oracle_index, oracle_search
from visionsearch_spark.query.serving import LocalSearcher
from visionsearch_spark.query import wand
from visionsearch_spark.query.wand import _lookup_term_dfs, topk
from visionsearch_spark.sources.http_api import ServingApp
from visionsearch_spark.streaming.incremental import incremental_build

DL_TEXTS = ["dl dl join", "the dl of a doc", "dlx dlq filter", "dl",
            "window dl dl dl stream", "dk dm"]


def _with_dl_convs(pdf: pd.DataFrame, tag: str) -> pd.DataFrame:
    """`pdf` plus a few conversations that use the token `dl` (and its
    near neighbours) as ordinary text."""
    extra = pd.DataFrame({
        "conv_id": [f"{tag}-{i // 2:03d}" for i in range(len(DL_TEXTS))],
        "turn_idx": [i % 2 for i in range(len(DL_TEXTS))],
        "text": DL_TEXTS,
    })
    for col in pdf.columns:
        if col not in extra:
            extra[col] = pdf[col].iloc[0]
    return pd.concat([pdf, extra[pdf.columns]], ignore_index=True)


def _tx(spark, pdf):
    return spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA)


def _term_stats(store: IndexStore) -> dict[str, int]:
    ts = read_columns(store.term_stats_paths(), ["term", "df"])
    out: dict[str, int] = {}
    for t, d in zip(ts["term"].to_pylist(), ts["df"].to_pylist()):
        out[t] = out.get(t, 0) + int(d)
    return out


def _suggest_http(searcher: LocalSearcher, prefix: str, spool: str) -> list:
    srv = ServingApp(searcher, spool_dir=spool).make_server(port=0)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        url = (f"http://127.0.0.1:{srv.server_address[1]}"
               f"/suggest?prefix={prefix}&n=50")
        with urllib.request.urlopen(url, timeout=10) as r:
            return [(s["term"], s["df"])
                    for s in json.loads(r.read())["suggestions"]]
    finally:
        srv.shutdown()


def _check(spark, store: IndexStore, live: pd.DataFrame) -> None:
    oracle = build_oracle_index(list(
        live[["conv_id", "turn_idx", "text"]].itertuples(index=False,
                                                         name=None)))
    ts = _term_stats(store)
    assert ts == dict(oracle.df)
    assert DL_TERM not in ts and ts["dl"] == oracle.df["dl"]
    searcher = LocalSearcher(store)
    assert searcher.df("dl") == oracle.df["dl"]
    assert searcher.df(DL_TERM) == 0
    assert DL_TERM not in searcher._blocks
    assert not [t for t in searcher._terms if t.startswith("\x00")]
    assert _lookup_term_dfs(spark, store, ["dl", DL_TERM]) == {
        "dl": oracle.df["dl"]}
    exp_suggest = sorted(
        ((t, d) for t, d in oracle.df.items() if t.startswith("d")),
        key=lambda p: (-p[1], p[0]))[:50]
    assert searcher.suggest("d", n=50) == exp_suggest
    assert _suggest_http(searcher, "d", store.root + "-spool") == exp_suggest
    fix = searcher.did_you_mean("xl")
    assert fix is None or "\x00" not in fix[0]
    for q, k in [("dl", 10), ("dl join", 5), ("dl dl window", 5)]:
        exp = oracle_search(oracle, q, k=k)
        got = topk(spark, store, q, k=k).collect()
        assert [(r["conv_id"], r["turn_idx"]) for r in got] == [
            (e[1], e[2]) for e in exp], q
        for g, e in zip(got, exp):
            assert math.isclose(g["score"], e[3], rel_tol=1e-9)
        served = searcher.search(q, k=k)
        assert [(c, t) for _d, c, t, _s in served] == [
            (e[1], e[2]) for e in exp], q
    assert not [e for rec in fsck(store.root).values()
                for e in rec["errors"]]


def test_reserved_dl_term_never_leaks(spark, halves, tmp_path):
    first_pdf, full_pdf = halves
    base = _with_dl_convs(first_pdf, "dla")
    root = str(tmp_path / "store")
    store = build_index(_tx(spark, base), root, n_partitions=4)
    _check(spark, store, base)

    full = _with_dl_convs(_with_dl_convs(full_pdf, "dla"), "dlb")
    incremental_build(_tx(spark, full), root, n_partitions=4)
    assert len(store.read_meta()["segment_dirs"]) == 2
    _check(spark, store, full)

    gone = ["dla-000", "dlb-001"]
    delete_convs(spark, store,
                 spark.createDataFrame([(c,) for c in gone],
                                       "conv_id string"))
    compact_store(spark, root)
    _check(spark, store, full[~full["conv_id"].isin(gone)])


def test_kernel_doc_length_cache_is_transparent(spark, halves, tmp_path,
                                               monkeypatch):
    import pyarrow as pa

    first_pdf, full_pdf = halves
    root = str(tmp_path / "store")
    store = build_index(_tx(spark, first_pdf), root, n_partitions=2)
    incremental_build(_tx(spark, full_pdf), root, n_partitions=2)
    paths = [p for _n, p in store.segment_files()]
    assert len(store.read_meta()["segment_dirs"]) == 2 and len(paths) > 2
    qplans = [(0, [("join", 1.5), ("stream", 0.7)], 10),
              (1, [("filter", 2.0)], 5), (2, [("window", 1.1)], 10)]
    score = wand._make_score_fn(
        qplans, float(store.read_meta()["avgdl"]), 0.0,
        sorted({t for _q, ts, _k in qplans for t, _w in ts}))

    def run() -> list:
        out = [pa.Table.from_batches(list(score(ps))).to_pylist()
               for ps in [paths, paths[:1], paths[-1:]]]
        return [sorted(r, key=lambda x: sorted(x.items())) for r in out]

    wand._DL_CACHE.clear()
    cold = run()
    assert {k for k in wand._DL_CACHE} == {wand._dl_key(p) for p in paths}
    assert run() == cold
    monkeypatch.setattr(wand, "_DL_CACHE_MAX_DOCS", 1)
    wand._DL_CACHE.clear()
    assert run() == cold
    assert len(wand._DL_CACHE) == 1
    assert all(cold)


def _file_shards(store: IndexStore) -> list[tuple[int, ...]]:
    out = []
    for d in store.segment_paths():
        for p in parquet_files(d):
            col = pq.read_table(p, columns=["shard"])["shard"]
            out.append(tuple(sorted(set(col.to_pylist()))))
    return out


@pytest.mark.parametrize("n_shards,n_tasks", [(5, 4), (8, 3), (3, 4)])
def test_shard_to_file_map_is_deterministic(spark, transcripts, tmp_path,
                                            n_shards, n_tasks):
    root = str(tmp_path / "store")
    store = build_index(transcripts, root, n_partitions=n_tasks,
                        n_shards=n_shards)
    built = _file_shards(store)
    compact_store(spark, root, n_partitions=n_tasks)
    once = _file_shards(store)
    compact_store(spark, root, n_partitions=n_tasks)
    assert _file_shards(store) == once == built
    n_seen = len({s for f in once for s in f})
    # contiguous shard runs, every partition non-empty, shards complete
    assert len(once) == min(n_tasks, n_seen)
    assert all(f == tuple(range(f[0], f[-1] + 1)) for f in once)
    assert sum(len(f) for f in once) == n_seen
    assert not [e for rec in fsck(root).values() for e in rec["errors"]]
