"""Hardlink snapshots: point-in-time clones that stay correct while
either side mutates (immutable-file LSM property)."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from visionsearch_spark.index.fsck import fsck
from visionsearch_spark.index.snapshot import snapshot_store
from visionsearch_spark.index.spimi import build_index, compact_store
from visionsearch_spark.index.store import IndexStore
from visionsearch_spark.query.wand import batch_topk

Q = [(0, "join filter stream", 15)]


@pytest.fixture(scope="module")
def base_store(spark, transcripts, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("snap_base") / "store")
    return build_index(transcripts, root, n_partitions=4)


@pytest.fixture()
def store(base_store, tmp_path):
    dst = str(tmp_path / "store")
    shutil.copytree(base_store.root, dst)
    return IndexStore(dst)


def _top(spark, store):
    rows = batch_topk(spark, store, Q).collect()
    return [(r["conv_id"], r["turn_idx"], round(r["score"], 9))
            for r in sorted(rows, key=lambda r: r["rank"])]


def test_snapshot_is_equal_and_fsck_clean(spark, store, tmp_path):
    # "_"-prefixed scratch (a filtered query's allow-set copy) may lose
    # files mid-walk to its owner: the snapshot never clones it
    os.makedirs(os.path.join(store.root, "_allow-x"))
    with open(os.path.join(store.root, "_allow-x", "part-0.parquet"),
              "wb") as f:
        f.write(b"PAR1")
    dst = str(tmp_path / "clone")
    info = snapshot_store(store.root, dst)
    assert info["files"] > 0
    assert not os.path.exists(os.path.join(dst, "_allow-x"))
    clone = IndexStore(dst)
    assert _top(spark, clone) == _top(spark, store)
    assert all(r["ok"] for r in fsck(dst, strict=True).values())


def test_snapshot_untouched_by_source_mutation(spark, store, tmp_path,
                                               transcripts_pdf):
    from visionsearch_spark.fixtures import TRANSCRIPTS_SCHEMA
    from visionsearch_spark.index.deletes import delete_convs
    from visionsearch_spark.streaming.incremental import incremental_build

    dst = str(tmp_path / "clone")
    snapshot_store(store.root, dst)
    clone = IndexStore(dst)
    before = _top(spark, clone)
    # mutate the SOURCE: append, delete, compact (GC unlinks its names)
    extra = transcripts_pdf.head(15).copy()
    extra["conv_id"] = extra["conv_id"].str.replace("conv-", "snapx-")
    incremental_build(
        spark.createDataFrame(extra, schema=TRANSCRIPTS_SCHEMA),
        store.root, n_partitions=4)
    victims = [before[0][0]]
    delete_convs(
        spark, store,
        spark.createDataFrame([(v,) for v in victims], "conv_id string"))
    compact_store(spark, store.root)
    # source moved on...
    src_now = _top(spark, store)
    assert victims[0] not in {c for c, _t, _s in src_now}
    # ...the clone did not
    assert _top(spark, clone) == before
    assert all(r["ok"] for r in fsck(dst, strict=True).values())


def test_snapshot_is_independently_mutable(spark, store, tmp_path,
                                           transcripts_pdf):
    from visionsearch_spark.fixtures import TRANSCRIPTS_SCHEMA
    from visionsearch_spark.streaming.incremental import incremental_build

    dst = str(tmp_path / "clone")
    snapshot_store(store.root, dst)
    src_before = _top(spark, store)
    extra = transcripts_pdf.head(10).copy()
    extra["conv_id"] = extra["conv_id"].str.replace("conv-", "snapy-")
    clone = incremental_build(
        spark.createDataFrame(extra, schema=TRANSCRIPTS_SCHEMA),
        dst, n_partitions=4)
    clone = compact_store(spark, dst)
    hits = batch_topk(spark, clone, [(0, "join filter stream", 500)]
                      ).collect()
    assert any(r["conv_id"].startswith("snapy-") for r in hits)
    # the source never sees the clone's append
    assert _top(spark, store) == src_before
    assert all(r["ok"] for r in fsck(store.root, strict=True).values())
    assert all(r["ok"] for r in fsck(dst, strict=True).values())


def test_snapshot_carries_tombstones_and_bounds(spark, store, tmp_path,
                                                transcripts):
    from visionsearch_spark.index.deletes import delete_convs, n_deleted

    conv = _top(spark, store)[0][0]
    delete_convs(
        spark, store, spark.createDataFrame([(conv,)], "conv_id string"))
    # a non-epoch sidecar dir beside the epochs travels with the store
    spark.range(3).write.parquet(os.path.join(store.root, "sidecar"))
    dst = str(tmp_path / "clone")
    snapshot_store(store.root, dst)
    clone = IndexStore(dst)
    assert n_deleted(clone)[0] == n_deleted(store)[0] > 0
    assert conv not in {c for c, _t, _s in _top(spark, clone)}
    assert spark.read.parquet(os.path.join(dst, "sidecar")).count() == 3


def test_snapshot_refuses_existing_target(store, tmp_path):
    dst = str(tmp_path / "clone")
    snapshot_store(store.root, dst)
    with pytest.raises(FileExistsError):
        snapshot_store(store.root, dst)
