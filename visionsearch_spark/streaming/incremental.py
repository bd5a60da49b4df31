"""Incremental index maintenance: only-new-docs appends and streaming
ingestion.

The reference's incremental contract: scan only unindexed rows
(`ImageAsset.objects.filter(embedding_index__isnull=True)`,
`/root/reference/visionsearch/common_utils/adapters/django_adapter.py:4-8`),
skip already-indexed ids during build (`aisearch/core.py:34-36`), append to
the existing index (FAISS positions grow monotonically), write ids back
(`django_adapter.py:10-12`).

Spark-first translation — append into the SAME store:
  1. delta = anti-join(new transcripts, docmap) on (conv_id, turn_idx)
     (the NULL-docid scan / P2 membership filter).
  2. delta docids start at current n_docs (monotone append, the FAISS
     `index.add` analog). NOTE: this preserves docid *stability* for
     existing docs (they are never renumbered), at the cost of the global
     (conv_id, turn_idx) sort invariant holding only WITHIN each
     increment — exactly the reference's semantics, where docID is
     arrival position (`aisearch/main.py:28-33` sorted order applies to
     the initial corpus; later adds append).
  3. SPIMI the delta into new fragments/manifests (new pid range), then
     hand ONLY the delta fragments to the one epoch writer
     (`spimi._write_epoch`, shared with build and compaction): one NEW
     segments dir with its Bloom sidecars, which the one flip
     (`spimi._flip`) adds to the live list. O(delta) — existing dirs are
     immutable; their (max_tf, min_dl) block bounds are
     avgdl-independent, so refreshed corpus stats can't stale them.
     Scoring stays exact under current stats because segments store
     tf and doc length (DL_TERM rows), not weights. Fragments are
     transient: once the flip lists the delta pids in `compacted_pids`
     their fragments are GC'd, and the postings live only in the dir.
  4. Query path reads the UNION of live segment dirs (same shard
     repartition — blocks of one docid still land in one task);
     spimi.compact_store() is the periodic full merge.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from visionsearch_spark.analyzer import token_count_col
from visionsearch_spark.docid import assign_docids_with_count
from visionsearch_spark.index.store import (
    SEGMENT_SCHEMA_DDL,
    IndexStore,
    count_rows,
)


def pending_rows(transcripts: DataFrame, store: IndexStore) -> DataFrame:
    """New rows not yet LIVE in the docmap — the reference's NULL-docid
    scan (anti-join form; AQE broadcasts the smaller side automatically).
    Tombstoned rows (index/deletes.py) don't block: deleting a (conv,
    turn) makes that key ingestible again — the delete-then-re-add
    contract `upsert_convs` builds on. Without the exclusion a replaced
    conversation would be silently skipped forever (its dead rows still
    sit in the docmap until a purge)."""
    spark = transcripts.sparkSession
    if not os.path.exists(store.docmap_path):
        return transcripts
    docmap = spark.read.parquet(store.docmap_path).select(
        "docid", "conv_id", "turn_idx"
    )
    from visionsearch_spark.index.deletes import all_tombstones

    dead = all_tombstones(spark, store)
    if dead is not None:
        docmap = docmap.join(dead.select("docid"), "docid", "left_anti")
    return transcripts.join(docmap.select("conv_id", "turn_idx"),
                            ["conv_id", "turn_idx"], "left_anti")


def incremental_build(transcripts: DataFrame, root: str,
                      n_partitions: int | None = None,
                      max_live_dirs: int = 8,
                      max_live_files: int = 512,
                      n_shards: int | None = None) -> IndexStore:
    """Index only rows absent from the docmap, appending to the store.

    Crash-safe append protocol (the staged parquet IS the docmap, so an
    un-indexed staged row would otherwise be hidden forever by the
    pending_rows anti-join):

      1. intent  — meta.phase = "appending" is written BEFORE the staged
                   append; corpus stats in meta still describe the current
                   (old) snapshot, so concurrent readers stay consistent.
      2. append  — delta rows staged (job-commit atomic: readers ignore
                   in-flight _temporary files).
      3. finish  — SPIMI every staged pid lacking a committed manifest,
                   merge the fragments of pids no live dir covers into
                   a NEW epoch dir, then flip meta (stats + epoch +
                   compacted_pids + phase="built") in one atomic
                   os.replace; IndexStore.gc_dirs then deletes the
                   fragments the flip covered.

    A crash anywhere after (1) leaves phase="appending"; the next call
    detects it and re-runs (3), which is idempotent: docid/pid bases are
    derived from max() over the staged table — never from possibly-stale
    meta — and committed pids are skipped via their manifests.

    Appends are O(delta) and each adds one live segments dir; when the
    live set exceeds max_live_dirs, OR the total segment FILE count
    exceeds max_live_files, a full compact_store() runs inline (the LSM
    merge policy — steady-state scan locality stays bounded regardless
    of how many micro-batches streamed in). The file-count arm exists
    because the query fast path assigns whole FILES to tasks: file
    count = Σ live dirs × that build's n_partitions, so a store built
    wide (large n_partitions) fragments into fine-grained LPT bins well
    before the dir-count arm fires, and per-file fixed costs (footer
    read, scanner open) start to dominate small queries.
    """
    from visionsearch_spark.index.spimi import build_index

    spark = transcripts.sparkSession
    store = IndexStore(root)
    if not os.path.exists(store.meta_path):
        # n_shards applies to the FOUNDING build only: appends inherit
        # shard_range from meta (docid-range geometry is immutable)
        return build_index(transcripts, root, n_partitions=n_partitions,
                           n_shards=n_shards)

    meta = store.read_meta()
    needs_repair = meta.get("phase") == "appending"
    n_partitions = n_partitions or int(meta["n_partitions"])
    delta = pending_rows(
        transcripts.select("conv_id", "turn_idx", "text"), store
    )
    delta_stats = None
    if delta.isEmpty():
        if not needs_repair:
            return store
    else:
        # docid/pid bases come from the STAGED table (the source of truth),
        # not meta["n_docs"]: after a crashed append meta is stale and
        # would assign colliding docids to the orphaned staged rows.
        bounds = spark.read.parquet(store.staged_path).agg(
            F.max("docid").alias("d"), F.max("pid").alias("p")
        ).collect()[0]
        base = int(bounds["d"]) + 1
        pid_base = int(bounds["p"]) + 1
        cache_handle: list = []
        with_ids, n_new = assign_docids_with_count(
            delta, n_partitions, unpersist_handle=cache_handle
        )
        toks = (
            with_ids.withColumn("docid", F.col("docid") + F.lit(base))
            .select("docid", "conv_id", "turn_idx", "text")
            .withColumn("dl", token_count_col("text"))
        )
        rows_per_pid = max(1, -(-n_new // n_partitions))
        staged = toks.withColumn(
            "pid",
            (F.lit(pid_base)
             + (F.col("docid") - F.lit(base)) / F.lit(rows_per_pid))
            .cast("int"),
        )
        meta["phase"] = "appending"  # intent record BEFORE the append
        store.write_meta(meta)
        # delta stats observed during the append write: the happy path
        # updates corpus stats incrementally (meta n_docs/sum_dl + delta)
        # instead of re-scanning the whole staged table — the one
        # remaining O(N) step of an append. Repair paths (crash between
        # this write and the meta flip) full-scan instead: the staged
        # table stays the source of truth.
        from pyspark.sql import Observation

        obs = Observation("delta_stats")
        staged.observe(
            obs, F.count(F.lit(1)).alias("n"), F.sum("dl").alias("sum_dl")
        ).write.mode("append").parquet(store.staged_path)
        delta_stats = (int(obs.get["n"]), int(obs.get["sum_dl"] or 0))
        for cached in cache_handle:  # staged parquet supersedes the cache
            cached.unpersist()

    store = _finish_append(
        spark, store, meta, n_partitions,
        delta_stats=None if needs_repair else delta_stats,
    )
    n_dirs = len(store.read_meta()["segment_dirs"])
    if n_dirs > max_live_dirs:
        needs_compact = True
    elif n_dirs > 1:
        # file-count arm: O(n_files) driver listing, only consulted on
        # multi-dir stores (a single dir is already fully compacted)
        needs_compact = len(store.segment_files()) > max_live_files
    else:
        needs_compact = False
    if needs_compact:
        from visionsearch_spark.index.spimi import compact_store

        store = compact_store(spark, store.root, n_partitions)
    return store


def upsert_convs(transcripts: DataFrame, root: str,
                 n_partitions: int | None = None,
                 max_live_dirs: int = 8,
                 max_live_files: int = 512) -> IndexStore:
    """Insert-or-replace whole conversations (Lucene updateDocument
    semantics): tombstone every live unit of the delta's conv_ids, then
    append the delta as new docids — `pending_rows` ignores tombstoned
    rows, so replaced content re-indexes even when byte-identical. Convs
    not yet in the store are plain inserts. O(delta) end to end.

    Delete-FIRST ordering makes every crash window benign:
      * crash between the tombstone flip and the append commit — the
        convs are temporarily ABSENT (never visible twice); re-running
        the same call completes the append, and the repeated delete is
        an idempotent no-op (delete_docs anti-joins prior tombstones).
      * crash mid-append — `incremental_build`'s own phase="appending"
        repair finishes it; the staged write is job-atomic, so the
        anti-join sees either all of the delta or none of it.
    Re-running after full success is also safe: it replaces the new copy
    with an identical one (one more tombstone epoch until compaction) —
    the live hit set and its order are unchanged; under the stale rule
    the dead copy keeps counting in df/N/avgdl until the next compaction
    folds it (scores drift by that stats shift, then snap back exactly
    at the fold).

    The reference's only update path is a full index rebuild
    (`/root/reference/visionsearch/common_utils/aisearch/core.py:44-56`
    overwrites index_path/ids_path); this is its O(delta) equivalent."""
    store = IndexStore(root)
    if os.path.exists(store.meta_path):
        from visionsearch_spark.index.deletes import delete_convs

        delete_convs(transcripts.sparkSession, store,
                     transcripts.select("conv_id"))
    return incremental_build(transcripts, root, n_partitions=n_partitions,
                             max_live_dirs=max_live_dirs,
                             max_live_files=max_live_files)


def _finish_append(spark: SparkSession, store: IndexStore, meta: dict,
                   n_partitions: int,
                   delta_stats: tuple[int, int] | None = None) -> IndexStore:
    """Complete (or repair) an append: SPIMI every staged pid without a
    committed manifest, compact the not-yet-covered fragments into one new
    live dir, flip meta atomically. Idempotent — safe to re-run after any
    crash.

    delta_stats = (delta_rows, delta_sum_dl) from the just-committed
    append write: with it corpus stats update incrementally from meta
    — no O(N) staged re-scan per append. Repair re-runs fall back to the
    full scan; the staged table remains the source of truth either way."""
    from visionsearch_spark.index.spimi import (
        _flip,
        _write_epoch,
        spimi_pending,
    )

    if delta_stats is not None:
        # meta stats already exclude APPLIED tombstones (purge fold,
        # spimi.compact_store) — the increment keeps that property
        n_docs = int(meta["n_docs"]) + delta_stats[0]
        sum_dl = int(meta["sum_dl"]) + delta_stats[1]
    else:
        # full-scan fallback: staged keeps purged rows (append-only
        # source of truth), so subtract applied tombstones; PENDING
        # ones still count — stale-stats rule (deletes move stats only
        # at compaction, index/deletes.py)
        from visionsearch_spark.index.deletes import live_corpus_stats

        n_docs, sum_dl = live_corpus_stats(spark, store,
                                           include_pending=True)
    avgdl = (sum_dl / n_docs) if n_docs else 0.0

    spimi_pending(spark, store, int(meta["shard_range"]), n_partitions)

    # O(delta) merge: compact ONLY the fragments no live dir covers into
    # ONE new segments/term_stats dir and ADD it to the live lists — old
    # dirs are immutable and their (max_tf, min_dl) bounds are avgdl-
    # independent, so an append never rewrites or re-reads the existing
    # index (LSM contract; compact_store() is the periodic full merge).
    # The delta dir is born with its Bloom sidecars, like every epoch.
    delta_pids = sorted(store.done_partitions() - set(meta["compacted_pids"]))
    if delta_pids:
        frags = spark.read.schema(SEGMENT_SCHEMA_DDL).parquet(
            *[store.fragment_path(p) for p in delta_pids])
        # the delta's docids continue past every live dir's: its first
        # one (manifest lineage) starts the shard span of the new dir
        lineage = [json.loads(m["lineage"]) for m in store.manifests()
                   if m["partition_id"] in delta_pids]
        first_docid = min((ln["docid_min"] for ln in lineage
                           if ln.get("docid_min") is not None),
                          default=count_rows(store.staged_path) - 1)
        epoch = _write_epoch(store, meta, frags, n_partitions,
                             first_docid=first_docid)
        meta.update({
            **epoch,
            "segment_dirs": meta["segment_dirs"] + epoch["segment_dirs"],
            "term_stats_dirs": meta["term_stats_dirs"]
            + epoch["term_stats_dirs"],
            # dirs retired by the previous full compaction are now two
            # flips old — no reader can still hold them
            "retired_dirs": [],
        })
    meta.update({"n_docs": n_docs, "avgdl": avgdl, "sum_dl": sum_dl,
                 "phase": "built"})
    _flip(store, meta)
    return store


def stream_transcripts_to_index(
    spark: SparkSession,
    input_path: str,
    root: str,
    checkpoint: str,
    schema: str,
    trigger_once: bool = True,
):
    """Structured Streaming ingestion: file source -> foreachBatch
    incremental build. availableNow processes the backlog then stops —
    the batch/stream unification point; the checkpoint dir gives
    exactly-once batch tracking on top of our idempotent anti-join."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        incremental_build(batch_df, root)

    reader = spark.readStream.schema(schema).parquet(input_path)
    writer = reader.writeStream.foreachBatch(handle).option(
        "checkpointLocation", checkpoint
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
