"""Store integrity checker — clean stores pass, each corruption class is
caught by its named check, warnings never fail a store."""

from __future__ import annotations

import json
import os
import shutil

import pytest

from visionsearch_spark.index.fsck import StoreCorruption, fsck
from visionsearch_spark.index.spimi import build_index, compact_store
from visionsearch_spark.index.store import IndexStore


@pytest.fixture(scope="module")
def base_store(spark, transcripts, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("fsck_base") / "store")
    return build_index(transcripts, root, n_partitions=4)


@pytest.fixture()
def store(base_store, tmp_path):
    dst = str(tmp_path / "store")
    shutil.copytree(base_store.root, dst)
    return IndexStore(dst)


def _errors(report):
    return {name: rec["errors"] for name, rec in report.items()
            if rec["errors"]}


def test_clean_store_passes(store):
    report = fsck(store.root, strict=True)
    assert not _errors(report)
    assert set(report) == {"meta", "stats", "segments", "dl", "epochs",
                           "manifests", "fragments", "tombstones", "blooms"}


def test_clean_store_with_appends_deletes_and_purge_passes(
        spark, store, transcripts_pdf):
    from visionsearch_spark.index.deletes import delete_convs
    from visionsearch_spark.streaming.incremental import incremental_build

    extra = transcripts_pdf.head(20).copy()
    extra["conv_id"] = extra["conv_id"].str.replace("conv-", "fsck-")
    from visionsearch_spark.fixtures import TRANSCRIPTS_SCHEMA
    incremental_build(
        spark.createDataFrame(extra, schema=TRANSCRIPTS_SCHEMA),
        store.root, n_partitions=4)
    delete_convs(
        spark, store,
        spark.createDataFrame([("fsck-000001",)], "conv_id string"))
    assert not _errors(fsck(store.root))          # pending tombstones
    compact_store(spark, store.root)
    assert not _errors(fsck(store.root, strict=True))  # applied fold


def test_missing_listed_dir_is_fatal(store):
    d = store.segment_paths()[0]
    shutil.rmtree(d)
    report = fsck(store.root)
    assert "meta" in _errors(report)
    with pytest.raises(StoreCorruption):
        fsck(store.root, strict=True)


def test_tampered_ndocs_caught(store):
    meta = store.read_meta()
    meta["n_docs"] = int(meta["n_docs"]) + 5
    store.write_meta(meta)
    assert "stats" in _errors(fsck(store.root))


def test_shard_overlap_between_files_caught(store):
    # duplicate one segment file inside its dir: two files now cover the
    # same shard interval — the fast-path invariant violation
    d = store.segment_paths()[0]
    files = [f for f in sorted(os.listdir(d)) if f.endswith(".parquet")]
    shutil.copy(os.path.join(d, files[0]),
                os.path.join(d, "part-zz-dup.parquet"))
    report = fsck(store.root)
    assert "segments" in _errors(report)
    assert "PARTIAL" in _errors(report)["segments"][0]


def test_double_tombstone_caught(spark, store, transcripts):
    from visionsearch_spark.index.deletes import delete_convs

    conv = transcripts.select("conv_id").first()["conv_id"]
    delete_convs(
        spark, store, spark.createDataFrame([(conv,)], "conv_id string"))
    meta = store.read_meta()
    # corrupt: mark the same dir applied AND pending
    meta["applied_tombstone_dirs"] = list(meta["tombstone_dirs"])
    store.write_meta(meta)
    report = fsck(store.root)
    errs = _errors(report)
    assert "meta" in errs or "tombstones" in errs


def test_dangling_tombstone_caught(spark, store):
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = os.path.join(store.root, "tombstones-000001")
    os.makedirs(out)
    pq.write_table(
        pa.table({"docid": pa.array([10 ** 12], pa.int64()),
                  "dl": pa.array([1], pa.int64())}),
        os.path.join(out, "part-00000.parquet"))
    meta = store.read_meta()
    meta["tombstone_dirs"] = ["tombstones-000001"]
    store.write_meta(meta)
    report = fsck(store.root)
    assert "tombstones" in _errors(report)


def test_crash_leftover_is_warning_not_error(spark, store, transcripts_pdf):
    """A staged pid without its manifest (mid-append crash) must be
    reported repairable, not corrupt."""
    from visionsearch_spark.fixtures import TRANSCRIPTS_SCHEMA
    from visionsearch_spark.streaming.incremental import incremental_build

    extra = transcripts_pdf.head(10).copy()
    extra["conv_id"] = extra["conv_id"].str.replace("conv-", "crash-")
    incremental_build(
        spark.createDataFrame(extra, schema=TRANSCRIPTS_SCHEMA),
        store.root, n_partitions=4)
    # simulate the crash: drop one manifest committed by the append
    pids = sorted(store.done_partitions())
    os.remove(store.manifest_path(pids[-1]))
    report = fsck(store.root)
    assert not _errors(report)
    assert report["manifests"]["warnings"]


def test_uncovered_pid_without_fragment_is_fatal(store):
    """A committed pid that compacted_pids does not list keeps its
    postings only in its fragment: without it the next merge drops
    them."""
    meta = store.read_meta()
    pid = meta["compacted_pids"].pop()
    store.write_meta(meta)
    assert not os.path.exists(store.fragment_path(pid))
    errs = _errors(fsck(store.root))
    assert list(errs) == ["fragments"]
    assert str(pid) in errs["fragments"][0]


def test_fragment_of_compacted_pid_is_warning(store):
    """A fragment whose pid a committed meta covers is a GC leftover (a
    crash between the flip and gc_dirs): flagged, never an error."""
    from visionsearch_spark.index.store import parquet_files

    pid = store.read_meta()["compacted_pids"][0]
    shutil.copy(parquet_files(store.segment_paths()[0])[0],
                store.fragment_path(pid))
    report = fsck(store.root, strict=True)
    assert not _errors(report)
    assert str(pid) in report["fragments"]["warnings"][0]


def _rewrite_dl_rows(store, edit) -> None:
    """Rewrite the first live segment file with `edit` applied to the
    list of its DL_TERM rows (dicts)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from visionsearch_spark.index.store import DL_TERM, parquet_files

    path = parquet_files(store.segment_paths()[0])[0]
    tbl = pq.read_table(path)
    rows = tbl.to_pylist()
    dl = [r for r in rows if r["term"] == DL_TERM]
    assert dl
    rest = [r for r in rows if r["term"] != DL_TERM]
    pq.write_table(pa.Table.from_pylist(edit(dl) + rest, schema=tbl.schema),
                   path)


def test_dropped_dl_block_caught(store):
    """Term postings whose docs lost their DL_TERM entry cannot be
    scored: the `dl` check names the file."""
    _rewrite_dl_rows(store, lambda dl: dl[1:])
    errs = _errors(fsck(store.root))
    assert list(errs) == ["dl"]
    assert "no '\\x00dl' entry" in errs["dl"][0]


def test_changed_dl_value_caught(store):
    """A stored doc length that differs from the staged dl is caught."""
    import numpy as np

    from visionsearch_spark.index.codec import decode_varint, encode_varint

    def bump(dl):
        r = dl[0]
        v = decode_varint(r["tfs_bin"], r["n"])
        v[0] += np.uint64(1)
        return [{**r, "tfs_bin": encode_varint(v)}] + dl[1:]

    _rewrite_dl_rows(store, bump)
    errs = _errors(fsck(store.root))
    assert list(errs) == ["dl"]
    assert "differ from the staged dl" in errs["dl"][0]


@pytest.mark.parametrize("damage", ["torn_docids", "stray_leading_row"])
def test_undecodable_dl_rows_reported(store, damage):
    """A DL_TERM row whose docids_bin holds one value too many (the
    bytes of a torn write), or a stray reserved row sorting before
    DL_TERM, is reported as a `dl` error, not raised out of fsck."""
    def torn(dl):
        return [{**dl[0], "docids_bin": dl[0]["docids_bin"] + b"\x05"}] \
            + dl[1:]

    def stray(dl):
        # a reserved "\x00" tag that sorts before DL_TERM ("\x00dl")
        return [{**dl[0], "term": "\x00bogus"}] + dl

    _rewrite_dl_rows(store, torn if damage == "torn_docids" else stray)
    errs = _errors(fsck(store.root))
    assert "docids/tfs do not decode" in " ".join(errs["dl"])


def test_dl_row_in_term_stats_caught(store):
    """DL_TERM is no term: a term_stats row for it would leak into df,
    idf and the term dictionary."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from visionsearch_spark.index.store import DL_TERM

    d = store.term_stats_paths()[0]
    pq.write_table(
        pa.table({"term": pa.array([DL_TERM]),
                  "df": pa.array([5], pa.int64())}),
        os.path.join(d, "part-zz-dl.parquet"))
    errs = _errors(fsck(store.root))
    assert list(errs) == ["dl"]
    assert "lists the reserved" in errs["dl"][0]


def test_cli_json_output(store, capsys):
    from visionsearch_spark.index.fsck import main

    assert main([store.root, "--json"]) == 0
    out = json.loads(capsys.readouterr().out)
    assert out["ok"] is True
