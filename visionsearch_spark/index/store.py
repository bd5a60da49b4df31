"""IndexStore — on-disk layout + snapshot/manifest contract for the index.

Layout (Parquet-dir catalog; the same contract an Iceberg catalog would
give us — SURVEY.md §7 R4 fallback since no iceberg-spark-runtime jar is
bundled in this sandbox):

    root/
      meta.json         build parameters + corpus stats (n_docs, sum_dl,
                        avgdl, shard docid range R, n_partitions), the
                        `layout` stamp (== LAYOUT) and the live-set lists
                        `segment_dirs`, `term_stats_dirs`, `compacted_pids`
      staged/           parquet (pid, docid, conv_id, turn_idx, dl, text)
                        — the source of truth; the docmap is its
                        column-pruned view
      fragments/        per-build-partition parquet, written ATOMICALLY by
                        executor tasks (tmp -> rename): fragment-{pid}.parquet.
                        TRANSIENT: a fragment is the SPIMI output of a pid
                        no live dir covers yet; once a committed meta lists
                        the pid in `compacted_pids` its postings live in the
                        segment dirs and gc_dirs deletes the fragment
      manifest/         manifest-{pid}.json per partition — the checkpoint/
                        lineage/metrics record (north rule: postings_written,
                        terms_merged, bytes_compressed per segment)
      segments-NNNNNN/  compacted posting blocks (term, min_docid, max_docid,
                        n, docids_bin, tfs_bin, max_tf, min_dl, pos_bin,
                        shard), one immutable dir per epoch; each file
                        also holds the DL_TERM rows of its shards (every
                        indexed doc's length, stored once per doc)
      term_stats-NNNNNN/ parquet (term, df), paired with its segments dir
      tombstones-NNNNNN/ parquet (docid, dl) per delete (index/deletes.py)

One layout is supported: `read_meta` refuses any meta whose `layout` is
not LAYOUT, and every reader and writer resolves meta through it. A
store written under another layout is rebuilt by index/reindex.py, the
migration path; a layout change bumps LAYOUT.

The fragment+manifest pair written together per partition is the
distributed analog of the reference's index+ids sidecar pair
(`/root/reference/visionsearch/common_utils/aisearch/core.py:54-56`) and its
per-item checkpointed caption sink
(`/root/reference/visionsearch/scripts/generate_captions.py:53-56,98`):
progress persisted at partition granularity, idempotent re-run, graceful
interrupt.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass

# The one store layout this code reads and writes (meta["layout"]).
# Layout 2 stores each doc's length once, in DL_TERM rows; layout 1
# repeated it per posting in a `dls_bin` column.
LAYOUT = 2

# Reserved row tag: "\x00" never appears in analyzer output ([0-9a-z]+),
# so DL_TERM rows share the segment schema with the postings and sort
# before every term. They are stored: the doc lengths of a file's shards, built like
# any term's blocks (<= BLOCK_SIZE docs, never crossing a shard;
# docids_bin = the docids, tfs_bin = their dl, pos_bin NULL), so they
# travel through the shard partitioning with the postings they describe.
# Readers split them off before decoding tfs or positions and look dl up
# by docid (codec.gather_dl); term_stats, the term dictionary and df()
# never list them.
DL_TERM = "\x00dl"

# Per-block pruning metadata is (max_tf, min_dl), NOT a precomputed
# tf-weight bound: tf_weight is monotone up in tf and down in dl, so
# tf_weight(max_tf, min_dl, avgdl_now) is a valid upper bound under ANY
# current avgdl — blocks never go stale when appends shift corpus stats,
# which is what makes segments immutable across appends. A term block's
# min_dl is taken over the dl of its docids, looked up in the DL_TERM rows.
# pos_bin (nullable, r6): per-doc delta+varint token positions aligned
# with the block's postings (occurrence counts = decoded tfs_bin) —
# written only for stores built with positions=True (meta["positions"]),
# and NULL on DL_TERM rows in every store. Scoring kernels never select
# it, so parquet column pruning keeps the ranked path byte-identical in
# cost; phrase/proximity verify reads it instead of re-tokenizing staged
# text (query/boolean.py).
SEGMENT_SCHEMA_DDL = (
    "term string, min_docid long, max_docid long, n int, "
    "docids_bin binary, tfs_bin binary, "
    "max_tf int, min_dl int, pos_bin binary"
)

# A filtered query's `_allow-<uuid>` scratch dir (query/wand.py) lives
# as long as the query; one this old was left by a killed driver.
ALLOW_SCRATCH_AGE_S = 24 * 3600

MANIFEST_SCHEMA_DDL = (
    "partition_id int, status string, postings_written long, "
    "terms_merged long, bytes_compressed long, lineage string, ts string"
)


def fresh_meta(**fields) -> dict:
    """The meta a store is founded with (build_index, reindex): the
    layout stamp and empty live-set lists, which every later writer
    read-modify-writes — a missing key never means "fresh build"."""
    return {"layout": LAYOUT, "segment_dirs": [], "term_stats_dirs": [],
            "compacted_pids": [], **fields}


def parquet_files(d: str) -> list[str]:
    """A table dir's data files: its non-hidden *.parquet files, sorted
    (Spark's _SUCCESS marker and .crc checksums are skipped)."""
    return sorted(
        os.path.join(d, f) for f in os.listdir(d)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )


def count_rows(d: str) -> int:
    """Rows in a table dir, from the parquet footers alone."""
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in parquet_files(d))


def file_tables(dirs: list[str], columns: list[str],
                read_dictionary: list[str] | None = None) -> list:
    """`columns` of every data file in `dirs`, one pyarrow Table per file
    as read. Reads are single-threaded, so no Arrow thread pool starts
    (the serving tier keeps its process to the threads it made);
    `read_dictionary` columns come back dictionary-encoded, one value
    object per distinct value of a file."""
    import pyarrow.parquet as pq

    out = []
    for d in dirs:
        for f in parquet_files(d):
            with pq.ParquetFile(f, read_dictionary=read_dictionary) as pf:
                out.append(pf.read(columns=columns, use_threads=False))
    return out


def read_columns(dirs: list[str], columns: list[str]):
    """`columns` of every data file in `dirs`, as one pyarrow Table (the
    file_tables concatenated, in file order). The untargeted reader: no
    predicate pushdown, single-threaded, and deliberately not
    pyarrow.dataset, whose import pulls in pandas (readers that need
    pushdown use pyarrow.dataset)."""
    import pyarrow as pa

    # "default" promotion unifies field nullability: files of one table
    # written by different jobs may disagree on it
    return pa.concat_tables(file_tables(dirs, columns),
                            promote_options="default")


def tombstone_docids(dirs: list[str]):
    """The docids of tombstone dirs (index/deletes.py) as one sorted
    unique int64 array: the deny set that LocalSearcher, the wand and
    membership kernels and the compaction mask kernel each read for
    themselves. Single-threaded file_tables reads, numpy only, so the
    serving tier may call it."""
    import numpy as np

    from visionsearch_spark.index.codec import fixed_values

    return np.unique(np.concatenate(
        [np.zeros(0, dtype=np.int64)]
        + [fixed_values(t["docid"]).astype(np.int64)
           for t in file_tables(dirs, ["docid"])]))


@dataclass
class IndexStore:
    root: str

    @property
    def meta_path(self) -> str:
        return os.path.join(self.root, "meta.json")

    @property
    def docmap_path(self) -> str:
        """The docmap (docid, conv_id, turn_idx, dl) is a column-pruned
        view of the staged table — parquet column pruning skips the heavy
        `text` column, so a separate materialization would only buy a
        second copy of the same bytes. Readers must select their columns."""
        return os.path.join(self.root, "staged")

    @property
    def fragments_dir(self) -> str:
        return os.path.join(self.root, "fragments")

    @property
    def manifest_dir(self) -> str:
        return os.path.join(self.root, "manifest")

    @property
    def staged_path(self) -> str:
        return os.path.join(self.root, "staged")

    # ---- snapshot pointer: atomic swap + additive appends (LSM-style) ----
    # segments/term_stats live in IMMUTABLE per-epoch directories
    # (segments-000001/, ...). meta.json's `segment_dirs`/`term_stats_dirs`
    # lists name the live set; flipping the list is one atomic os.replace,
    # so readers resolve either the old snapshot or the new one — never a
    # torn table. An APPEND adds one new dir holding only the delta's
    # blocks (O(delta) work — old dirs untouched; their (max_tf, min_dl)
    # bounds are avgdl-independent so they can't go stale). A FULL
    # COMPACTION (compact_store) replaces the whole list with one merged
    # dir; the superseded dirs are retired for one flip (covering readers
    # that resolved the pointer just before), then GC'd.

    def current_epoch(self) -> int | None:
        if not os.path.exists(self.meta_path):
            return None
        ep = self.read_meta().get("epoch")
        return None if ep is None else int(ep)

    def snapshot(self) -> "IndexStore":
        """This store pinned to one meta read: every read_meta of the
        returned store gives that same snapshot, so a reader that
        resolves stats, term_stats, segments and tombstones through it
        never mixes two flips (the dirs a compaction retires stay on
        disk for one flip)."""
        return _Pinned(self.root, self.read_meta())

    def _live_dirs(self, key: str) -> list[str]:
        return [os.path.join(self.root, d) for d in self.read_meta()[key]]

    def segment_paths(self) -> list[str]:
        return self._live_dirs("segment_dirs")

    def term_stats_paths(self) -> list[str]:
        return self._live_dirs("term_stats_dirs")

    def segment_files(self) -> list[tuple[int, str]]:
        """Every live segment data file across the LSM dirs, as
        (size_bytes, path) — O(n_files) driver listing + stat."""
        return [(os.path.getsize(p), p)
                for d in self.segment_paths() for p in parquet_files(d)]

    def tombstone_paths(self, applied: bool = False) -> list[str]:
        """Absolute paths of the PENDING tombstone dirs (queries mask
        these); applied=True returns the folded-into-segments dirs
        instead (index/deletes.py)."""
        meta = self.read_meta()
        key = "applied_tombstone_dirs" if applied else "tombstone_dirs"
        return [os.path.join(self.root, d) for d in meta.get(key) or []]

    def epoch_path(self, prefix: str, epoch: int) -> str:
        return os.path.join(self.root, f"{prefix}-{epoch:06d}")

    def gc_dirs(self) -> None:
        """The retire-then-GC step run right after every meta flip. Delete
        segments-*/term_stats-* dirs that are neither live nor retired
        (meta `retired_dirs` — the set superseded by the LAST full
        compaction, kept one flip for in-flight readers), and the fragment
        of every pid the COMMITTED meta lists in `compacted_pids` (a live
        dir holds its postings; no merge reads it again). Reads meta from
        disk, so it can only ever delete what a committed flip covers; a
        crash part-way leaves files the next flip deletes. Also deletes
        a filtered query's `_allow-*` scratch dir older than
        ALLOW_SCRATCH_AGE_S: its driver died before its own cleanup."""
        import shutil
        import time

        meta = self.read_meta()
        keep = set(meta["segment_dirs"]) | set(meta["term_stats_dirs"]) \
            | set(meta.get("retired_dirs") or [])
        pat = re.compile(r"^(segments|term_stats)-\d{6}$")
        for name in os.listdir(self.root):
            path = os.path.join(self.root, name)
            if pat.match(name) and name not in keep:
                shutil.rmtree(path, ignore_errors=True)
            elif name.startswith("_allow-"):
                try:
                    age = time.time() - os.path.getmtime(path)
                except OSError:  # its query removed it meanwhile
                    continue
                if age > ALLOW_SCRATCH_AGE_S:
                    shutil.rmtree(path, ignore_errors=True)
        covered = set(meta["compacted_pids"])
        for pid, path in self.fragment_files():
            if pid in covered:
                os.remove(path)

    def ensure_dirs(self) -> None:
        for d in (self.root, self.fragments_dir, self.manifest_dir):
            os.makedirs(d, exist_ok=True)

    def write_meta(self, meta: dict) -> None:
        tmp = self.meta_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f, indent=2, sort_keys=True)
        os.replace(tmp, self.meta_path)

    def read_meta(self) -> dict:
        """meta.json, refused unless it carries the supported layout
        stamp — the one place the layout is decided."""
        with open(self.meta_path) as f:
            meta = json.load(f)
        if meta.get("layout") != LAYOUT:
            raise ValueError(
                f"{self.root}: store layout {meta.get('layout')!r}, this "
                f"version reads layout {LAYOUT} only; run reindex "
                "(index/reindex.py) to rebuild it")
        return meta

    def built_meta(self) -> dict:
        """read_meta of a store a query can read. A build that stopped
        after staging leaves phase "staged" and no live dir; its readers
        raise this ValueError instead of an opaque Arrow error or an
        empty answer. Reads meta.json only (serving-safe)."""
        meta = self.read_meta()
        if not meta["term_stats_dirs"] and meta.get("phase") != "built":
            raise ValueError(
                f"{self.root}: the store is not built (phase "
                f"{meta.get('phase')!r}): its build stopped before the "
                "first merge; rerun build_index")
        return meta

    def has_positions(self) -> bool:
        """True iff this store was built with the positional-postings
        option (meta['positions']) — the flag is fixed at build time so
        every live dir is consistent."""
        return bool(self.read_meta()["positions"])

    def fragment_path(self, pid: int) -> str:
        return os.path.join(self.fragments_dir, f"fragment-{pid:05d}.parquet")

    def manifest_path(self, pid: int) -> str:
        return os.path.join(self.manifest_dir, f"manifest-{pid:05d}.json")

    def done_partitions(self) -> set[int]:
        """Partitions with a committed checkpoint (resume anti-join set)."""
        if not os.path.isdir(self.manifest_dir):
            return set()
        done = set()
        for name in os.listdir(self.manifest_dir):
            if name.startswith("manifest-") and name.endswith(".json"):
                with open(os.path.join(self.manifest_dir, name)) as f:
                    m = json.load(f)
                if m.get("status") == "done":
                    done.add(int(m["partition_id"]))
        return done

    def fragment_files(self) -> list[tuple[int, str]]:
        """(pid, path) of every committed-name fragment file on disk
        (in-flight `.tmp` files excluded), sorted by pid."""
        out = []
        if os.path.isdir(self.fragments_dir):
            for name in os.listdir(self.fragments_dir):
                m = re.match(r"fragment-(\d+)\.parquet$", name)
                if m:
                    out.append((int(m.group(1)),
                                os.path.join(self.fragments_dir, name)))
        return sorted(out)

    def orphan_fragments(self) -> list[str]:
        """Fragment files whose pid has NO committed manifest — a crash
        landed between the fragment os.replace and the manifest
        os.replace in spimi.flush. They are uncommitted work (resume
        re-SPIMIs those pids from staged), so compact_store drops them
        first: the re-SPIMI rewrites the pid's fragment from staged."""
        done = self.done_partitions()
        return [p for pid, p in self.fragment_files() if pid not in done]

    def manifests(self) -> list[dict]:
        out = []
        if os.path.isdir(self.manifest_dir):
            for name in sorted(os.listdir(self.manifest_dir)):
                if name.endswith(".json"):
                    with open(os.path.join(self.manifest_dir, name)) as f:
                        out.append(json.load(f))
        return out


@dataclass
class _Pinned(IndexStore):
    """An IndexStore whose meta is the one snapshot it was made with
    (IndexStore.snapshot); readers only, writers read the live meta."""
    meta: dict

    def read_meta(self) -> dict:
        return dict(self.meta)

    def write_meta(self, meta: dict) -> None:
        raise TypeError(f"{self.root}: a pinned meta snapshot is read-only")

    def snapshot(self) -> IndexStore:
        return self
