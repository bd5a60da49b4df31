"""Reindex — the migration path between layouts: rebuild a store in the
current layout (store.LAYOUT), optionally under new index options, with
IDENTICAL docids (the Lucene/ES `_reindex` + alias-flip migration).
Every other reader and writer refuses a store of another layout
(IndexStore.read_meta), including the legacy ones: pre-LSM metas
without `compacted_pids`, un-suffixed or pre-list epoch dirs, metas
without `sum_dl`. Reindex reads only the source's staged table,
tombstone dirs and geometry keys, which every layout has, so it reads
the source meta's raw JSON.

The staged table is the store's source of truth and already carries the
docid assignment, so reindexing never re-runs docid assignment: the
staged parquet is copied verbatim, a fresh meta is seeded at
phase="staged" with the new option flags (positions, n_partitions), and
the ordinary build pipeline (spimi_pending → merge → commit — the exact
resume path an interrupted build takes) rebuilds fragments and segments
from it. Tombstones copy across as PENDING — including the source's
already-APPLIED dirs, because the copied staged table still contains
those purged rows — and the closing compact_store folds them all, so
the destination ends value-identical to the source after a purge
compaction (the bm25_after_purge-tested path). Every piece here is a
tested existing code path; reindex only sequences them.

Cost: one staged copy + one full build over the SAME staged bytes —
O(corpus), embarrassingly parallel, no shuffle beyond the build's own.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from visionsearch_spark.index.store import IndexStore, fresh_meta


def reindex(
    spark: SparkSession,
    src_root: str,
    dst_root: str,
    positions: bool | None = None,
    n_partitions: int | None = None,
) -> IndexStore:
    """Rebuild `src_root` at `dst_root` (must not exist) with the given
    option overrides (None = keep the source's). Returns the READY
    destination store (built + fully compacted, tombstones folded)."""
    from visionsearch_spark.index.spimi import build_index, compact_store

    src = IndexStore(src_root)
    if not os.path.exists(src.meta_path):
        raise ValueError(f"{src_root} is not a built store")
    if os.path.exists(dst_root):
        raise ValueError(f"reindex target {dst_root} already exists")
    with open(src.meta_path) as f:
        smeta = json.load(f)  # any layout: this is the migration
    dst = IndexStore(dst_root)
    dst.ensure_dirs()

    shutil.copytree(src.staged_path, dst.staged_path)
    # ALL source tombstone dirs (pending AND applied) become PENDING in
    # the destination: the copied staged table still holds rows the
    # source already purged from its segments
    tomb_dirs = list(smeta.get("tombstone_dirs") or []) \
        + list(smeta.get("applied_tombstone_dirs") or [])
    for d in tomb_dirs:
        shutil.copytree(os.path.join(src_root, d),
                        os.path.join(dst_root, d))

    # staged-derived stats INCLUDING purged rows — the honest value for
    # a store whose deletes are all pending; the closing compaction
    # recomputes live stats when it folds them
    st = spark.read.parquet(dst.staged_path).agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s")).collect()[0]
    n_docs, sum_dl = int(st["n"]), int(st["s"] or 0)
    dst.write_meta(fresh_meta(
        n_docs=n_docs,
        sum_dl=sum_dl,
        avgdl=(sum_dl / n_docs) if n_docs else 0.0,
        shard_range=int(smeta["shard_range"]),
        n_partitions=int(n_partitions or smeta["n_partitions"]),
        n_shards=int(smeta.get("n_shards") or 0) or None,
        block_size=smeta.get("block_size"),
        positions=bool(smeta.get("positions")
                       if positions is None else positions),
        tombstone_dirs=tomb_dirs,
        phase="staged",
    ))
    dummy = spark.createDataFrame(
        [], "conv_id string, turn_idx int, text string")
    build_index(dummy, dst_root,
                n_partitions=int(n_partitions or smeta["n_partitions"]))
    if tomb_dirs:
        compact_store(spark, dst_root)
    return IndexStore(dst_root)
