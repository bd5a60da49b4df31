"""Adapters from the driver's flat tables to the engine's transcript shape,
plus a process-level index cache for repeated queries over the same corpus.

`documents.parquet` (doc_id, text, lang, source, n_chars) is treated as a
single-turn-per-conversation corpus: conv_id = 'doc-%010d' % doc_id (zero
padded so lexicographic order == numeric order), turn_idx = 1. docid then
equals the rank of doc_id — deterministic, matching the reference's
sorted-corpus enumerate (`/root/reference/visionsearch/common_utils/aisearch/main.py:28-33`).
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from visionsearch_spark.index.spimi import build_index
from visionsearch_spark.index.store import LAYOUT, IndexStore

CACHE_VERSION = "v3"  # v3: positional postings (pos_bin) in the main store


def _cached_store(tag: str, sf_dir: str) -> IndexStore:
    """The process-shared temp store for one (corpus, variant), at a path
    keyed on (tag, sf_dir) alone. A stamp file inside records the
    CACHE_VERSION and store LAYOUT the store was built under; a dir with
    no stamp or another one is deleted first, so a version or layout
    bump rebuilds the store in place instead of leaving the old one
    behind under a key nothing opens again."""
    key = hashlib.sha1(
        f"{tag}:{os.path.abspath(sf_dir)}".encode()
    ).hexdigest()[:12]
    root = os.path.join(tempfile.gettempdir(), f"vss_idx_{key}")
    stamp_path = os.path.join(root, "_cache_stamp")
    stamp = f"{CACHE_VERSION} layout{LAYOUT}"
    try:
        with open(stamp_path) as f:
            current = f.read() == stamp
    except OSError:
        current = False
    if not current:
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root)
        with open(stamp_path + ".tmp", "w") as f:
            f.write(stamp)
        os.replace(stamp_path + ".tmp", stamp_path)
    return IndexStore(root)


def documents_as_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return docs.select(
        F.format_string("doc-%010d", F.col("doc_id")).alias("conv_id"),
        F.lit(1).alias("turn_idx"),
        F.lit("user").alias("role"),
        F.col("text"),
        F.lit("").alias("tool"),
        F.lit(None).cast("timestamp").alias("ts"),
    )


def doc_id_col(conv_id_col: str = "conv_id"):
    """Invert the 'doc-%010d' mapping."""
    return F.substring(F.col(conv_id_col), 5, 10).cast("long")


def get_documents_index(spark: SparkSession, sf_dir: str,
                        n_partitions: int = 8) -> IndexStore:
    """Build (once per process+corpus) the compressed index over documents."""
    store = _cached_store("", sf_dir)
    if os.path.exists(store.meta_path) and store.read_meta().get("phase") == "built":
        return store
    tx = documents_as_transcripts(spark, sf_dir)
    # positions=True: the shared contract store exercises the positional
    # phrase/proximity verify (bm25_phrase / bm25_proximity rows)
    return build_index(tx, store.root, n_partitions=n_partitions,
                       positions=True)


# deterministic delete set for the delete/purge contract rows: every
# 13th document (shared with the DuckDB oracles via `doc_id % 13 = 0`)
DELETE_MOD = 13


def _deleted_conv_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return docs.filter(F.col("doc_id") % DELETE_MOD == 0).select(
        F.format_string("doc-%010d", F.col("doc_id")).alias("conv_id")
    )


def get_documents_deleted_index(spark: SparkSession, sf_dir: str,
                                n_partitions: int = 8) -> IndexStore:
    """Documents index with every DELETE_MOD-th doc tombstoned but NOT
    compacted: queries mask at runtime under stale (as-built) stats —
    index/deletes.py semantics between delete and purge."""
    from visionsearch_spark.index.deletes import delete_convs

    store = _cached_store("-tomb", sf_dir)
    if (os.path.exists(store.meta_path)
            and store.read_meta().get("phase") == "built"
            and store.read_meta().get("tombstone_dirs")):
        return store
    if not (os.path.exists(store.meta_path)
            and store.read_meta().get("phase") == "built"):
        build_index(documents_as_transcripts(spark, sf_dir), store.root,
                    n_partitions=n_partitions)
    delete_convs(spark, store, _deleted_conv_ids(spark, sf_dir))
    return store


def get_documents_purged_index(spark: SparkSession, sf_dir: str,
                               n_partitions: int = 8) -> IndexStore:
    """Documents index with the DELETE_MOD set deleted AND folded by a
    purge compaction: postings gone, stats recomputed over survivors."""
    from visionsearch_spark.index.deletes import delete_convs
    from visionsearch_spark.index.spimi import compact_store

    store = _cached_store("-purged", sf_dir)
    if os.path.exists(store.meta_path):
        meta = store.read_meta()
        if (meta.get("phase") == "built"
                and meta.get("applied_tombstone_dirs")
                and not meta.get("tombstone_dirs")):
            return store
    if not (os.path.exists(store.meta_path)
            and store.read_meta().get("phase") == "built"):
        build_index(documents_as_transcripts(spark, sf_dir), store.root,
                    n_partitions=n_partitions)
    if not store.read_meta().get("tombstone_dirs"):
        delete_convs(spark, store, _deleted_conv_ids(spark, sf_dir))
    return compact_store(spark, store.root)


# deterministic upsert set for the bm25_after_upsert contract row: every
# 7th document gets its text suffixed (DuckDB twin: doc_id % 7 = 0 →
# text || ' revised edition'); the suffix changes dl and avgdl, so a
# value match proves the replaced text AND the recomputed stats
UPSERT_MOD = 7
UPSERT_SUFFIX = " revised edition"


def get_documents_upserted_index(spark: SparkSession, sf_dir: str,
                                 n_partitions: int = 8) -> IndexStore:
    """Documents index after upserting every UPSERT_MOD-th doc with
    suffixed text (streaming/incremental.upsert_convs) and a purge
    compaction: equivalent to an index built fresh over the modified
    corpus (same stats, same postings; internal docids differ —
    results compare on conv keys)."""
    from visionsearch_spark.streaming.incremental import upsert_convs
    from visionsearch_spark.index.spimi import compact_store

    store = _cached_store("-upsert", sf_dir)
    if os.path.exists(store.meta_path):
        meta = store.read_meta()
        if (meta.get("phase") == "built"
                and meta.get("applied_tombstone_dirs")
                and not meta.get("tombstone_dirs")):
            return store
    if not (os.path.exists(store.meta_path)
            and store.read_meta().get("phase") == "built"):
        build_index(documents_as_transcripts(spark, sf_dir), store.root,
                    n_partitions=n_partitions)
    if not store.read_meta().get("tombstone_dirs"):
        delta = documents_as_transcripts(spark, sf_dir).filter(
            doc_id_col() % UPSERT_MOD == 0
        ).withColumn("text", F.concat(F.col("text"), F.lit(UPSERT_SUFFIX)))
        upsert_convs(delta, store.root, n_partitions=n_partitions)
    return compact_store(spark, store.root)


def documents_as_unit_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-unit fan-out of the documents corpus: one doc -> N units,
    unit key = (conv_id='doc-%010d', turn_idx=1-based split ordinal).

    The reference's caption variant indexes one image as N caption
    sentences (`VisionAISearchWithCaption.build`,
    `/root/reference/visionsearch/common_utils/aisearch/core.py:82-111`,
    split at `scripts/generate_captions.py:95`). Zero-token parts are
    dropped AFTER ordinal assignment (so unit numbering matches the SQL
    oracle's parallel-unnest numbering) and excluded from unit corpus
    stats."""
    from visionsearch_spark.analyzer import SENT_SPLIT_RE_STR, tokens_col

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    parts = docs.select(
        F.format_string("doc-%010d", F.col("doc_id")).alias("conv_id"),
        F.posexplode(F.split(F.col("text"), SENT_SPLIT_RE_STR)).alias(
            "pos", "part"
        ),
    )
    return parts.filter(F.size(tokens_col("part")) > 0).select(
        "conv_id",
        (F.col("pos") + 1).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.col("part").alias("text"),
        F.lit("").alias("tool"),
        F.lit(None).cast("timestamp").alias("ts"),
    )


def documents_as_field_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two typed fields per document as units (query/fielded.py BM25F):
    field 1 = TITLE (first sentence), field 2 = BODY (remaining sentences
    joined with a space — tokenization is separator-insensitive so the
    join matches the SQL oracle's array_to_string). Zero-token fields are
    dropped (a one-sentence doc has no body unit) and excluded from unit
    corpus stats, like sentence units."""
    from visionsearch_spark.analyzer import SENT_SPLIT_RE_STR, tokens_col

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    pa = F.split(F.col("text"), SENT_SPLIT_RE_STR)
    fields = F.array(
        F.struct(F.lit(1).cast("int").alias("turn_idx"),
                 F.element_at(pa, 1).alias("text")),
        F.struct(
            F.lit(2).cast("int").alias("turn_idx"),
            F.array_join(
                F.slice(pa, 2, F.greatest(F.size(pa) - 1, F.lit(0))), " "
            ).alias("text"),
        ),
    )
    rows = docs.select(
        F.format_string("doc-%010d", F.col("doc_id")).alias("conv_id"),
        F.explode(fields).alias("f"),
    ).select("conv_id", "f.turn_idx", "f.text")
    return rows.filter(F.size(tokens_col("text")) > 0).select(
        "conv_id", "turn_idx",
        F.lit("user").alias("role"), "text",
        F.lit("").alias("tool"), F.lit(None).cast("timestamp").alias("ts"),
    )


def get_documents_field_index(spark: SparkSession, sf_dir: str,
                              n_partitions: int = 8) -> IndexStore:
    """Field-unit index (title/body units per doc) for fielded_topk."""
    store = _cached_store("-fields", sf_dir)
    if (os.path.exists(store.meta_path)
            and store.read_meta().get("phase") == "built"):
        return store
    tx = documents_as_field_transcripts(spark, sf_dir)
    return build_index(tx, store.root, n_partitions=n_partitions)


def get_documents_unit_index(spark: SparkSession, sf_dir: str,
                             n_partitions: int = 8) -> IndexStore:
    """Unit-level index (one indexed unit per sentence) for
    units.unit_topk; the collapse reads its parents from the docmap."""
    store = _cached_store("-units", sf_dir)
    if (os.path.exists(store.meta_path)
            and store.read_meta().get("phase") == "built"):
        return store
    tx = documents_as_unit_transcripts(spark, sf_dir)
    return build_index(tx, store.root, n_partitions=n_partitions)
