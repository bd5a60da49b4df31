"""The serving tier stands alone: LocalSearcher/ShardedSearcher and the
/search, /suggest and /healthz handlers import neither pyspark/py4j nor
pandas/pyarrow.dataset/pyarrow.compute and start no thread of their own
before serving (query/serving.py's import rule); their load reads each
segment file's term runs in place yet decodes exactly what a sorted
copy of the rows of read_columns gives; and their spell correction and
completion answer from the searcher's in-memory block dictionary exactly
as query/multiterm answers from term_stats."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pytest

from visionsearch_spark.bm25 import tf_weight
from visionsearch_spark.index.codec import (
    decode_blocks,
    decode_varint,
    doc_lengths,
    fixed_values,
    gather_dl,
    payload,
)
from visionsearch_spark.index.spimi import build_index, compact_store
from visionsearch_spark.index.store import DL_TERM, parquet_files, read_columns
from visionsearch_spark.query import multiterm
from visionsearch_spark.query.serving import LocalSearcher, ShardedSearcher

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HEAVY = ("pandas", "pyspark", "py4j", "pyarrow.dataset", "pyarrow.compute")

# runs in a fresh interpreter: argv = spool dir, store roots... The
# thread count is read after the imports and again once every searcher
# is built and has answered, before any HTTP server thread starts
_PROBE = r"""
import json, sys, threading, urllib.request
from visionsearch_spark.index.store import IndexStore
from visionsearch_spark.query.serving import LocalSearcher, ShardedSearcher
from visionsearch_spark.sources.http_api import ServingApp

def get(url):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read())

def threads():
    with open("/proc/self/status") as f:
        return next(int(line.split()[1]) for line in f
                    if line.startswith("Threads:"))

before = threads()
searchers = [s for root in sys.argv[2:]
             for s in (LocalSearcher(IndexStore(root)),
                       ShardedSearcher(IndexStore(root), n_groups=2))]
hits = [[list(h) for h in s.search("join filter", k=5)] for s in searchers]
after = threads()
out = []
for s, h in zip(searchers, hits):
    srv = ServingApp(s, spool_dir=sys.argv[1]).make_server(port=0)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    url = f"http://127.0.0.1:{srv.server_address[1]}"
    out.append({
        "hits": h,
        "dym": s.did_you_mean("joinx filterx"),
        "suggest": [list(p) for p in s.suggest("fil", n=5)],
        "n_docs": s.n_docs,
        "http_hit": get(url + "/search?q=join+filter&k=5"),
        "http_oov": get(url + "/search?q=joinx+filterx&k=5"),
        "http_suggest": get(url + "/suggest?prefix=fil&n=5"),
        "http_healthz": get(url + "/healthz"),
    })
    srv.shutdown()
    srv.server_close()
heavy = %r
print(json.dumps({"loaded": [m for m in heavy if m in sys.modules],
                  "threads": [before, after], "runs": out}))
""" % (HEAVY,)


@pytest.fixture(scope="module")
def plain_store(spark, transcripts, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("lean_plain"))
    return build_index(transcripts, root, n_partitions=4)


@pytest.fixture(scope="module")
def lsm_store(spark, transcripts_pdf, tmp_path_factory):
    """Appended (two live dirs) with pending tombstones, not compacted."""
    from visionsearch_spark.fixtures import TRANSCRIPTS_SCHEMA
    from visionsearch_spark.index.deletes import delete_convs
    from visionsearch_spark.streaming.incremental import incremental_build

    convs = sorted(transcripts_pdf["conv_id"].unique())
    first = transcripts_pdf[transcripts_pdf["conv_id"].isin(convs[:60])]
    root = str(tmp_path_factory.mktemp("lean_lsm"))
    incremental_build(spark.createDataFrame(first, schema=TRANSCRIPTS_SCHEMA),
                      root, n_partitions=4)
    store = incremental_build(
        spark.createDataFrame(transcripts_pdf, schema=TRANSCRIPTS_SCHEMA),
        root, n_partitions=4)
    delete_convs(spark, store, spark.createDataFrame(
        [(c,) for c in convs[::9]], "conv_id string"))
    assert len(store.segment_paths()) == 2 and store.tombstone_paths()
    return store


@pytest.fixture(scope="module")
def compacted_store(spark, lsm_store, tmp_path_factory):
    """lsm_store copied and fully compacted: one live dir, deletes folded."""
    root = str(tmp_path_factory.mktemp("lean_compacted") / "store")
    shutil.copytree(lsm_store.root, root)
    store = compact_store(spark, root)
    assert len(store.segment_paths()) == 1 and not store.tombstone_paths()
    return store


def test_serving_imports_no_spark_pandas_or_dataset(plain_store, lsm_store,
                                                    tmp_path):
    proc = subprocess.run(
        [sys.executable, "-c", _PROBE, str(tmp_path / "spool"),
         plain_store.root, lsm_store.root],
        cwd=REPO, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert res["loaded"] == [], res["loaded"]
    before, after = res["threads"]
    assert after <= before, f"loading and searching started " \
        f"{after - before} thread(s) (an Arrow pool?)"
    assert len(res["runs"]) == 4
    for run in res["runs"]:
        assert run["hits"], "a known-term query must hit"
        assert [[h["docid"], h["conv_id"], h["turn_idx"], h["score"]]
                for h in run["http_hit"]["hits"]] == run["hits"]
        assert run["dym"] is not None
        assert run["http_oov"]["hits"] == []
        assert run["http_oov"]["did_you_mean"] == run["dym"][0]
        assert [[p["term"], p["df"]] for p in
                run["http_suggest"]["suggestions"]] == run["suggest"]
        assert run["http_healthz"]["n_docs"] == run["n_docs"]


def _assert_dictionary_parity(store):
    """Searcher dictionaries == the term_stats scan: every (term, df),
    did_you_mean and suggest — term_stats df == Σ block n."""
    vocab = sorted(multiterm._driver_vocab(store, None, None))
    top = [t for t, _df in sorted(vocab, key=lambda p: (-p[1], p[0]))
           if len(t) >= 4][:12]
    known = {t for t, _df in vocab}
    typos = [t[:-1] + ("q" if t[-1] != "q" else "x") for t in top]
    typos = [t for t in typos if t not in known]
    assert len(typos) >= 6
    queries = typos + [
        f"{top[0]} {typos[1]}", f"{typos[2]} {typos[3]} {top[1]}",
        top[2], "qqqqqqqqqqqqqqqqqqqq", "", "...",
    ]
    want_dym = {q: multiterm.did_you_mean(store, q) for q in queries}
    assert sum(w is not None for w in want_dym.values()) >= 6
    prefixes = [("s", 5), ("s", 50), ("fil", 5), ("j", 10), (top[0][:2], 3),
                ("zzzz", 5), ("S", 5)]
    want_sug = {pn: multiterm.expand_prefix(None, store, *pn,
                                            use_spark=False)
                for pn in prefixes}
    for s in (LocalSearcher(store), ShardedSearcher(store, n_groups=2)):
        assert sorted(s._vocab(None, None)) == vocab
        for q, w in want_dym.items():
            assert s.did_you_mean(q) == w, q
        for (p, n), w in want_sug.items():
            assert s.suggest(p, n) == w, (p, n)
        for bad in ("", "no*pe", "two words"):
            with pytest.raises(ValueError):
                s.suggest(bad)


def test_dictionary_parity_appended_deleted_then_compacted(lsm_store,
                                                           compacted_store):
    _assert_dictionary_parity(lsm_store)
    store = compacted_store
    _assert_dictionary_parity(store)
    # the fold lowers n_docs but not the top docid: the router's shard
    # groups must still cover the tail shard
    single, router = LocalSearcher(store), ShardedSearcher(store, n_groups=2)
    for q in ("join filter", "window", "customer stream"):
        assert router.search(q, k=10) == single.search(q, k=10), q


def _sorted_copy_load(store, shards=None):
    """The load the searcher's in-place runs replace: the segment rows of
    read_columns (rows outside `shards` filtered first) stably sorted by
    term and cut into one row range per term, the DL_TERM range (which
    sorts first) split off before any decode. Returns (terms in order,
    {term: (docids, tf_weight, df)}, DocLengths)."""
    import pyarrow.compute as pc

    cols = ["term", "n", "docids_bin", "tfs_bin"]
    seg = read_columns(store.segment_paths(), cols + ["shard"])
    if shards is not None:
        seg = seg.filter(pc.is_in(seg["shard"], value_set=pa.array(
            shards, type=seg.schema.field("shard").type)))
    # large_binary: the sort gathers every chunk into one
    seg = seg.select(cols)
    seg = seg.cast(pa.schema([
        f.with_type(pa.large_binary()) if pa.types.is_binary(f.type) else f
        for f in seg.schema])).sort_by("term")
    ree = pc.run_end_encode(seg["term"].combine_chunks())
    ends = fixed_values(ree.run_ends).astype(np.int64)
    runs = dict(zip(ree.values.to_pylist(),
                    zip(np.concatenate(([0], ends[:-1])).tolist(),
                        ends.tolist())))
    dl_lo, dl_hi = runs.pop(DL_TERM)
    assert dl_lo == 0
    lengths = doc_lengths(seg.slice(0, dl_hi))
    avgdl = float(store.read_meta()["avgdl"])
    ns = fixed_values(seg["n"]).astype(np.int64)
    post = {}
    for t, (lo, hi) in runs.items():
        total = int(ns[lo:hi].sum())
        d = decode_blocks(seg["docids_bin"].slice(lo, hi - lo), ns[lo:hi])
        tf = decode_varint(payload(seg["tfs_bin"].slice(lo, hi - lo)), total)
        order = np.argsort(d, kind="stable")
        tfw = tf_weight(tf.astype(np.float64),
                        gather_dl(lengths, d).astype(np.float64), avgdl)
        post[t] = (d[order], tfw[order], total)
    return list(runs), post, lengths


def _same(a: np.ndarray, b: np.ndarray) -> bool:
    return a.dtype == b.dtype and np.array_equal(a, b)


def _assert_transparent(searcher, store, shards=None):
    terms, post, lengths = _sorted_copy_load(store, shards)
    assert terms and searcher._terms == terms
    assert searcher._dfs.tolist() == [post[t][2] for t in terms]
    got = searcher._lengths
    assert got.lo == lengths.lo
    for f in ("docids", "dls", "table"):
        assert _same(getattr(got, f), getattr(lengths, f)), f
    for t in terms:
        d, tfw = searcher._get_postings(t)
        want_d, want_tfw, want_df = post[t]
        assert _same(d, want_d) and _same(tfw, want_tfw), t
        assert searcher.df(t) == want_df, t


def test_load_is_transparent(spark, transcripts, plain_store, lsm_store,
                             compacted_store, tmp_path):
    """Built, appended with pending tombstones, compacted, and shard
    subsets: every term's decoded (docids, tf_weight), its df, the term
    order and the DocLengths equal the sorted-copy load, exactly."""
    for store in (plain_store, lsm_store, compacted_store):
        _assert_transparent(LocalSearcher(store), store)
    router = ShardedSearcher(lsm_store, n_groups=2)
    assert len(router.searchers) == 2
    for s in router.searchers:
        _assert_transparent(s, lsm_store, s.shards)
    # four shards per file: a subset of them splits a term's rows of one
    # file into several runs
    multi = build_index(transcripts, str(tmp_path / "multi"),
                        n_partitions=2, n_shards=8)
    router = ShardedSearcher(multi, n_groups=3)
    for s in router.searchers:
        _assert_transparent(s, multi, s.shards)
    assert any(np.diff(s._runs.ptr).max() > len(s._runs.batches)
               for s in router.searchers)


def test_load_is_transparent_over_unsorted_files(plain_store, tmp_path):
    """A segment file whose rows are not term-sorted, read in several
    record batches, loads the same: a term then has several runs per file."""
    import pyarrow.parquet as pq

    root = str(tmp_path / "shuffled")
    shutil.copytree(plain_store.root, root)
    shuffled = type(plain_store)(root)
    rng = np.random.default_rng(5)
    for d in shuffled.segment_paths():
        for f in parquet_files(d):
            tbl = pq.read_table(f)
            pq.write_table(tbl.take(rng.permutation(tbl.num_rows)), f,
                           row_group_size=max(1, tbl.num_rows // 3))
    searcher = LocalSearcher(shuffled)
    assert max(np.diff(searcher._runs.ptr)) > 1
    _assert_transparent(searcher, plain_store)
    for q in ("join filter", "window", "customer stream"):
        assert searcher.search(q, k=10) == \
            LocalSearcher(plain_store).search(q, k=10), q
