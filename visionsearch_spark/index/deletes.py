"""Document deletes: tombstone sidecars + query-time masking.

Lucene-style liveness model (the proven design for immutable-segment
indexes, which this store is — segments are immutable LSM epochs):

- `delete_docs` writes an O(delta) tombstone dir (docid, dl) and flips
  `meta.tombstone_dirs` atomically — segments, staged and corpus stats
  are all UNTOUCHED. Deletes are cheap and additive, exactly like
  appends.
- Queries mask tombstoned docids BEFORE every top-k cut ("stale stats"
  semantics: df / N / avgdl keep their as-built values until the next
  compaction — the same contract Lucene serves between merges). No
  query ships the deny set: every reader takes the pending dirs from
  its own meta snapshot and reads them with `store.tombstone_docids` —
  LocalSearcher once per load, each Spark scan or membership task once
  per dir and worker, cut to the docids of its own files.
- `compact_store` FOLDS tombstones: postings of dead docids are dropped
  during the merge, corpus stats (n_docs / avgdl / per-term df) are
  recomputed over survivors, and the folded dirs move from
  `tombstone_dirs` (pending — queries must mask) to
  `applied_tombstone_dirs` (reflected in live segments and stats;
  queries ignore them). Compaction merges the live segment dirs, which
  no longer hold those postings, so later compactions mask only PENDING
  tombstones. Applied dirs stay listed because staged keeps the dead
  rows (append-only source of truth): `live_corpus_stats` subtracts
  them, and `delete_docs`/`pending_rows` must still see those docids
  as dead.

Reference parity: the reference rebuilds its FAISS index from scratch
to remove items (`/root/reference/visionsearch/common_utils/aisearch/
core.py:44-56` — `build` overwrites `index_path`/`ids_path`); this
module gives the same end state (purged index) without the O(corpus)
rebuild, plus queryable deletes in between.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from visionsearch_spark.index.store import IndexStore

TOMBSTONE_SCHEMA_DDL = "docid long, dl long"


def _dir_list(meta: dict, key: str) -> list[str]:
    return list(meta.get(key) or [])


def all_tombstones(spark: SparkSession,
                   store: IndexStore) -> DataFrame | None:
    """Pending + applied (docid, dl) — every docid that is dead in the
    staged table: delete_docs skips them (idempotence) and pending_rows
    lets their (conv, turn) keys be ingested again."""
    paths = store.tombstone_paths() + store.tombstone_paths(applied=True)
    if not paths:
        return None
    return spark.read.schema(TOMBSTONE_SCHEMA_DDL).parquet(*paths)


def live_corpus_stats(spark: SparkSession, store: IndexStore,
                      include_pending: bool = True) -> tuple[int, int]:
    """(n_docs, sum_dl) over the staged table minus tombstoned docs.

    include_pending=True (stale-stats rule): pending tombstones still
    COUNT — stats only move at compaction. The False form is the
    purge-time recompute over survivors only. Applied tombstones are
    always subtracted: staged keeps their rows (append-only source of
    truth) but they left the stats at their fold."""
    staged = spark.read.parquet(store.staged_path).select("docid", "dl")
    paths = store.tombstone_paths(applied=True)
    if not include_pending:
        paths = paths + store.tombstone_paths()
    if paths:
        dead = spark.read.schema(TOMBSTONE_SCHEMA_DDL).parquet(*paths) \
            .select("docid")
        staged = staged.join(dead, "docid", "left_anti")
    row = staged.agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("sum_dl")
    ).collect()[0]
    return int(row["n"]), int(row["sum_dl"] or 0)


def delete_docs(spark: SparkSession, store: IndexStore,
                docids: DataFrame) -> int:
    """Tombstone the given docids (DataFrame with a `docid` column).

    O(delta): one anti-join against existing tombstones + one join
    against the docmap (keeps only docids that exist, and fetches dl so
    stats folds never re-scan staged), one new parquet dir, one atomic
    meta flip. Idempotent — re-deleting already-dead or unknown docids
    writes nothing. Returns the number of NEWLY tombstoned docs."""
    meta = store.read_meta()
    docmap = spark.read.parquet(store.docmap_path).select("docid", "dl")
    dead = docids.select("docid").dropDuplicates(["docid"]) \
        .join(docmap, "docid")
    prior = all_tombstones(spark, store)
    if prior is not None:
        dead = dead.join(prior.select("docid"), "docid", "left_anti")
    n_dirs = len(_dir_list(meta, "tombstone_dirs")) \
        + len(_dir_list(meta, "applied_tombstone_dirs"))
    name = f"tombstones-{n_dirs + 1:06d}"
    out = os.path.join(store.root, name)
    dead.select(F.col("docid").cast("long"),
                F.col("dl").cast("long")).write.mode("overwrite").parquet(out)
    n_new = spark.read.parquet(out).count()
    if n_new == 0:
        import shutil
        shutil.rmtree(out, ignore_errors=True)
        return 0
    meta["tombstone_dirs"] = _dir_list(meta, "tombstone_dirs") + [name]
    store.write_meta(meta)  # atomic flip: readers see all-or-nothing
    return n_new


def delete_convs(spark: SparkSession, store: IndexStore,
                 conv_ids: DataFrame) -> int:
    """Delete every unit of the given conversations (DataFrame with a
    `conv_id` column) — the user-facing key; unit fan-out stores drop
    all their sentence/field units in one call."""
    docmap = spark.read.parquet(store.docmap_path).select("docid", "conv_id")
    docids = conv_ids.select("conv_id").dropDuplicates(["conv_id"]) \
        .join(docmap, "conv_id").select("docid")
    return delete_docs(spark, store, docids)


def delete_convs_local(store: IndexStore, conv_ids: list[str]) -> int:
    """Driver-side delete (no Spark session) — the serving-tier DELETE
    endpoint's path, mirroring spool_upload's pure-pyarrow style.
    Resolves conv_ids through a column-pruned docmap scan, subtracts
    already-dead docids, writes the tombstone dir atomically
    (tmp dir -> os.rename) and flips meta. Same layout and semantics as
    the Spark `delete_docs`; the two interleave safely on one store
    (each new dir gets the next index from the current meta snapshot)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as pads
    import pyarrow.parquet as pq

    if not conv_ids:
        return 0
    meta = store.read_meta()
    dm = pads.dataset(store.docmap_path).to_table(
        columns=["docid", "dl"],
        filter=pc.field("conv_id").isin(list(set(conv_ids))),
    )
    docids = np.asarray(dm.column("docid"), dtype=np.int64)
    dls = np.asarray(dm.column("dl"), dtype=np.int64)
    if docids.size:
        order = np.argsort(docids)
        docids, dls = docids[order], dls[order]
        prior = store.tombstone_paths() + store.tombstone_paths(applied=True)
        if prior:
            pt = pads.dataset([pads.dataset(p) for p in prior]).to_table(
                columns=["docid"]
            )
            dead = np.unique(np.asarray(pt.column("docid"), dtype=np.int64))
            if dead.size:
                pos = np.minimum(np.searchsorted(dead, docids),
                                 dead.size - 1)
                keep = dead[pos] != docids
                docids, dls = docids[keep], dls[keep]
    if not docids.size:
        return 0
    n_dirs = len(_dir_list(meta, "tombstone_dirs")) \
        + len(_dir_list(meta, "applied_tombstone_dirs"))
    name = f"tombstones-{n_dirs + 1:06d}"
    out = os.path.join(store.root, name)
    tmp = out + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    pq.write_table(
        pa.table({"docid": pa.array(docids, pa.int64()),
                  "dl": pa.array(dls, pa.int64())}),
        os.path.join(tmp, "part-00000.parquet"),
    )
    if os.path.isdir(out):
        import shutil
        shutil.rmtree(out)
    os.rename(tmp, out)
    meta["tombstone_dirs"] = _dir_list(meta, "tombstone_dirs") + [name]
    store.write_meta(meta)
    return int(docids.size)


def n_deleted(store: IndexStore) -> tuple[int, int]:
    """(pending, applied) tombstone counts from parquet metadata only —
    no Spark job (serving-tier introspection)."""
    import pyarrow.dataset as pads

    def count(paths: list[str]) -> int:
        return sum(
            pads.dataset(p, format="parquet").count_rows() for p in paths
        )

    return (count(store.tombstone_paths()),
            count(store.tombstone_paths(applied=True)))
