"""Top-k BM25 over compressed segments: block-max, vectorized, batch-of-queries.

Design (SURVEY.md §3.1 "our lifecycle"):
  driver:   tokenize queries (tiny), look up df per term from term_stats,
            compute idf — broadcast a {query -> [(term, idf)]} plan.
  executor: whole segment FILES per task (bloom-pruned, LPT-packed
            bins); each task reads its files in-task with `term IN (...)`
            pushed into the parquet scan (row-group pruning via the sorted
            term column). Files are shard-complete and LSM dirs own
            disjoint docid ranges, so every block touching a docid lives
            in exactly one task and per-partition score sums are FINAL
            scores — postings never shuffle (`_partial_scores`).
  mapInArrow: decode each column once per task (codec.PostingRuns),
            score vectorized in float64 through query/score_core: per
            doc a left-to-right sum in query-term rank order, the
            oracle's summation order (SURVEY.md §7 R2), then masks,
            collapse and a keep-ties top-k per query per partition.
            The task reads what gates its candidates next to the data
            (PAPERS.md: ICDE 2025, Koios): the meta snapshot's pending
            tombstones, cut to its files' docids, for a unit collapse
            the docmap's conv_id over its docid span, and for a
            caller's allow-set the docids over that span of the
            scratch copy `_partial_scores` wrote. One plan shape for
            every ranked query.
  global:   row_number window per query over (score desc, conv_id,
            turn_idx) — k rows per query; ≤ #partitions·k rows ever cross
            the wire.

Pruning: exact scoring is vectorized rather than doc-at-a-time WAND —
per the columnar-inverted-index argument (PAPERS.md, ICDE 2025): SIMD
scoring of whole blocks beats pointer-chasing WAND at low selectivity.
Blocks carry (max_tf, min_dl) — tf_weight is monotone up in tf, down in
dl, so tf_weight(max_tf, min_dl, avgdl_NOW) is a safe upper bound under
whatever the corpus stats are at query time (appends can't stale it).
It powers two *safe* skips:
  (1) whole-partition skip when Σ_t idf·max_block_bound ≤ threshold;
  (2) single-term queries: blocks processed in descending bound order
      with an exact top-k cutoff (classic block-max pruning, always safe
      because one term ⇒ block bound is the doc bound).
The reference's threshold filter (`aisearch/core.py:58,61-63`) maps to the
`threshold` parameter; OOV queries return 0 rows — never the reference's
asset_ids[-1] padding bug (`aisearch/core.py:62`).
"""

from __future__ import annotations

import os
import shutil
import uuid
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from visionsearch_spark.analyzer import tokenize
from visionsearch_spark.bm25 import idf as idf_fn
from visionsearch_spark.bm25 import tf_weight
from visionsearch_spark.index.codec import DocLengths
from visionsearch_spark.index.store import (
    DL_TERM,
    IndexStore,
    tombstone_docids,
)
from visionsearch_spark.query import score_core

RESULT_DDL = "query_id long, rank int, docid long, conv_id string, turn_idx int, score double"
RESULT_COLUMNS = ["query_id", "rank", "docid", "conv_id", "turn_idx", "score"]
PARTIAL_DDL = "query_id long, docid long, score double"
# segment bytes per scan task, per query in the batch (_n_bins)
QUERY_BIN_BYTES = 4 << 20


def _local_df(spark: SparkSession, rows: list[tuple], ddl: str,
              columns: list[str]) -> DataFrame:
    """Small driver-side rows as an Arrow-backed DataFrame.
    createDataFrame(list) parallelizes into defaultParallelism slices, so
    even collecting k rows schedules a 32-task job (~0.35 s at local[32],
    measured); the pandas/Arrow path ships one batch and schedules one
    task (~0.05 s) — pure fixed-overhead on the interactive query path."""
    pdf = pd.DataFrame(rows, columns=columns)
    return spark.createDataFrame(pdf, ddl)

# DL_TERM is defined in index/store.py: the serving tier reads DL_TERM
# rows and must not import this module's pyspark.


def _make_score_fn(qplans: list[tuple[int, list[tuple[str, float]], int]],
                   avgdl: float, threshold: float, hit_terms: list[str],
                   tombstones: list[str] | None = None,
                   docmap: str | None = None, allow: str | None = None,
                   cursors: dict[int, float] | None = None):
    """File-aligned kernel `score(paths)`: reads the task's
    segment FILES directly into one codec.PostingRuns (`_scan_runs`: one
    pushed-down, single-threaded pyarrow dataset scan), decodes every
    block of its terms in ONE pass (PostingRuns.decode), looks each
    posting's dl up by docid in the files' DL_TERM rows (codec.gather_dl
    over `_doc_lengths`, decoded once per file and worker), and scores.

    qplans: [(query_id, [(term, idf)], k)], each query's terms in sorted
    unique-term order (the summation order).

    tombstones: the meta snapshot's pending tombstone dirs (None when
    there are none). The task reads them itself (`_task_deny`: once per
    dir and worker, cut to the docids of its own files) and masks them
    before every cut; the single-term block-max path masks block by
    block.

    docmap: the docmap dir when units collapse to their conversation
    (batch_topk(collapse=True)), else None. The task reads (docid,
    conv_id) over the docid span of its postings (`_conv_codes`, docid
    pushdown) and keeps each conv's max, represented by its lowest
    candidate docid, before the k-cut: a conv's units in one task take
    one of its k slots however many docid runs they form.

    allow: the scratch dir holding a caller's allow-set (docid-sorted
    parquet, written once by `_partial_scores`), else None. The task
    reads the allowed docids inside its files' docid span (`_docid_span`,
    docid pushdown) and masks candidates before every cut. A task whose
    span holds no allowed docid admits nothing: the mode follows from
    the dir being passed, never from what the task finds in it.

    cursors: per-query search_after score ceiling (pagination). Every
    per-partition cut keeps boundary ties (score_core.cut): on an
    appended store docid order diverges from conv order, so only the
    merge, which has the conv key, may split a tie run."""
    from visionsearch_spark.index.codec import gather_dl

    threshold = score_core.check_threshold(threshold)
    cursors = cursors or {}
    # cursored queries take the exact path: block-max pruning targets the
    # TOP of the score range, which a ceiling excludes
    single_term_q = {
        qid: terms[0][0] for qid, terms, _k in qplans
        if len(terms) == 1 and qid not in cursors
    }
    cols = ["term", "n", "docids_bin", "tfs_bin", "max_tf", "min_dl"]

    def score(paths: list[str]) -> Iterator[pa.RecordBatch]:
        # a file whose doc lengths this worker has not cached yet adds
        # its DL_TERM rows to the same scan
        keys = [_dl_key(p) for p in paths]
        cold = any(k not in _DL_CACHE for k in keys)
        runs = _scan_runs(paths, cols, hit_terms + [DL_TERM] * cold)
        present = [t for t in hit_terms if t in runs.ids]
        if not present:
            return
        lengths = _doc_lengths(keys, runs)
        deny = _task_deny(tombstones or [], lengths)
        allowed = None if allow is None else np.unique(_docid_span(
            allow, lengths.lo, lengths.lo + lengths.table.size - 1,
            ["docid"])["docid"].to_numpy().astype(np.int64))
        conv = None  # the docmap span, read on the first collapse
        # every block of the task's terms in one decode pass; term i's
        # blocks are rows boff[i]:boff[i + 1], block j's postings
        # poff[j]:poff[j + 1]
        post = runs.decode(present)
        poff, docids = post.poff, post.docids
        tfw = tf_weight(post.tf.astype(np.float64),
                        gather_dl(lengths, docids).astype(np.float64), avgdl)
        # tf_weight(max_tf, min_dl) under the CURRENT avgdl >= tf_weight
        # of every posting in the block (monotonicity) — safe and never
        # stale across appends
        bmax = tf_weight(post.max_tf, post.min_dl, avgdl)
        blocks = {t: (post.boff[i], post.boff[i + 1])
                  for i, t in enumerate(present)}
        spans = {t: post.span(i) for i, t in enumerate(present)}

        def single_term_topk(b0: int, b1: int, w: float, k: int):
            """Exact top-k with block-max pruning: descending block-bound
            order, stop only when the bound is STRICTLY below the kth
            best — a block whose bound equals the kth score may still
            hold a doc that wins the (score desc, docid asc) tie-break."""
            best_d: list[np.ndarray] = []
            best_s: list[np.ndarray] = []
            kth = threshold
            count = 0
            for i in b0 + np.argsort(-bmax[b0:b1], kind="stable"):
                if count >= k and w * bmax[i] < kth:
                    break
                d, s = score_core.admit(docids[poff[i]:poff[i + 1]],
                                        w * tfw[poff[i]:poff[i + 1]], deny)
                keep = s > threshold
                if keep.any():
                    best_d.append(d[keep])
                    best_s.append(s[keep])
                    count += int(keep.sum())
                    if count >= k:
                        alls = np.concatenate(best_s)
                        kth = max(kth, np.partition(alls, -k)[-k]
                                  if alls.size >= k else threshold)
            if not best_d:
                return np.zeros(0, dtype=np.int64), np.zeros(0)
            d, s = np.concatenate(best_d), np.concatenate(best_s)
            keep = score_core.cut(s, k)
            return d[keep], s[keep]

        out_qid: list[np.ndarray] = []
        out_docid: list[np.ndarray] = []
        out_score: list[np.ndarray] = []
        for qid, terms, k in qplans:
            hit = [(t, w) for t, w in terms if t in blocks]
            if not hit:
                continue
            ub = sum(w * bmax[slice(*blocks[t])].max() for t, w in hit)
            if ub <= threshold:
                continue  # safe partition skip: no doc here can pass
            if qid in single_term_q and allowed is None and docmap is None:
                # block-max pruning counts every admitted doc as a
                # candidate; under an allow-filter or a unit collapse
                # the exact path below applies them before the cut
                t, w = hit[0]
                uniq, sums = single_term_topk(*blocks[t], w, k)
            else:
                # exact path, in the oracle's summation order
                uniq, sums = score_core.accumulate(
                    [(docids[spans[t]], w * tfw[spans[t]])
                     for t, w in hit], threshold)
                uniq, sums = score_core.admit(uniq, sums, deny, allowed)
                if docmap is not None:  # unit -> its conv, max per conv
                    if conv is None:
                        conv = _conv_codes(docmap, int(docids.min()),
                                           int(docids.max()))
                    code = conv[1][np.searchsorted(conv[0], uniq)]
                    _code, sums, uniq = score_core.collapse(code, sums,
                                                            uniq)
                keep = score_core.cut(sums, k, cursors.get(qid))
                uniq, sums = uniq[keep], sums[keep]
            if uniq.size:
                out_qid.append(np.full(uniq.size, qid, dtype=np.int64))
                out_docid.append(uniq)
                out_score.append(sums)
        if out_qid:
            yield pa.RecordBatch.from_arrays(
                [pa.array(np.concatenate(out_qid)),
                 pa.array(np.concatenate(out_docid)),
                 pa.array(np.concatenate(out_score))],
                names=["query_id", "docid", "score"],
            )

    return score


# per-process memo of term->df lookups, keyed by store root (the executor-
# side analog is the reference's load-once-at-startup index + model cache,
# `aisearch/main.py:26-36`, `analyze_image.py:34-44`). Only queried terms
# are memoized — at 10^12-turn scale the full vocabulary cannot live on
# the driver, but a serving process's working set of query terms can.
_TERM_DF_MEMO: dict[str, dict[str, int]] = {}


def _lookup_term_dfs(spark: SparkSession, store: IndexStore,
                     terms: list[str]) -> dict[str, int]:
    import json

    import pyarrow.compute as pc
    import pyarrow.dataset as pads

    # the meta snapshot is the key: every flip (append, compaction)
    # writes a new meta, so stale df values age out automatically, and
    # the dirs read below are the ones that snapshot names
    store = store.snapshot()
    key = f"{store.root}:{json.dumps(store.built_meta(), sort_keys=True)}"
    memo = _TERM_DF_MEMO.setdefault(key, {})
    missing = [t for t in terms if t not in memo]
    if missing:
        # driver-side pyarrow scan, NOT a Spark job: a per-query handful
        # of point lookups against a sorted parquet table (row-group
        # stats prune) doesn't justify ~0.3 s of job scheduling. The
        # store lives on shared storage in a cluster, so the driver can
        # read it the same way the LocalSearcher does.
        ds = pads.dataset([pads.dataset(p) for p in store.term_stats_paths()])
        tbl = ds.to_table(
            columns=["term", "df"],
            filter=pc.field("term").isin(missing),
        )
        # a term's df is the SUM across live dirs (append adds a dir)
        found: dict[str, int] = {}
        for t, x in zip(tbl.column("term").to_pylist(),
                        tbl.column("df").to_pylist()):
            found[t] = found.get(t, 0) + int(x)
        for t in missing:
            memo[t] = found.get(t, 0)  # memoize absent terms as df=0
    return {t: memo[t] for t in terms if memo[t] > 0}


def invalidate_term_df_memo(root: str | None = None) -> None:
    """Drop memoized df lookups (belt-and-braces; the meta-snapshot key
    already ages out stale entries after an append)."""
    if root is None:
        _TERM_DF_MEMO.clear()
    else:
        for k in [k for k in _TERM_DF_MEMO if k.startswith(f"{root}:")]:
            _TERM_DF_MEMO.pop(k, None)


def _mm3_long(v: int, seed: int = 42) -> int:
    """Spark's Murmur3_x86_32.hashLong (the hash behind
    `DataFrame.repartition(n, col)` for a LongType column, seed 42),
    returned as a SIGNED 32-bit int. Pinned against F.hash by
    test_route_key_hash_matches_spark — if Spark ever changed the
    partitioning hash, route keys would stop landing one-per-partition
    (balance would degrade; correctness would NOT: equal keys co-locate
    under any hash)."""
    def rotl(x: int, r: int) -> int:
        return ((x << r) | (x >> (32 - r))) & 0xFFFFFFFF

    def mixk1(k: int) -> int:
        k = (k * 0xCC9E2D51) & 0xFFFFFFFF
        k = rotl(k, 15)
        return (k * 0x1B873593) & 0xFFFFFFFF

    def mixh1(h: int, k: int) -> int:
        h ^= k
        h = rotl(h, 13)
        return (h * 5 + 0xE6546B64) & 0xFFFFFFFF

    v &= (1 << 64) - 1
    h1 = mixh1(seed & 0xFFFFFFFF, mixk1(v & 0xFFFFFFFF))
    h1 = mixh1(h1, mixk1(v >> 32))
    h1 ^= 8
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & 0xFFFFFFFF
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & 0xFFFFFFFF
    h1 ^= h1 >> 16
    return h1 - (1 << 32) if h1 >= (1 << 31) else h1


_ROUTE_KEYS_MEMO: dict[int, list[int]] = {}


def _route_keys(n: int) -> list[int]:
    """keys[i] = smallest long whose Spark hash-partition over n
    partitions is i. Repartitioning n rows keyed by these lands exactly
    one row per partition DETERMINISTICALLY — unlike round-robin (whose
    count-exactness depends on the input partitioning) or hashing a
    plain bin index (which leaves ~1/e of partitions empty). Java's
    `pmod(hash, n)` equals Python's `% n` for positive n (both
    non-negative), so the probe is a direct modulo. Expected probes
    n·H(n) ≈ n ln n — driver-side trivia, memoized per process."""
    keys = _ROUTE_KEYS_MEMO.get(n)
    if keys is None:
        found: dict[int, int] = {}
        k = 0
        while len(found) < n:
            p = _mm3_long(k) % n
            if p not in found:
                found[p] = k
            k += 1
        keys = [found[i] for i in range(n)]
        _ROUTE_KEYS_MEMO[n] = keys
    return keys


# per-file doc-length cache (the decoded DL_TERM rows, codec.DocLengths):
# files are immutable, keyed (path, mtime) like the bloom cache, so
# a worker decodes a file's lengths once, not once per query batch.
# Bounded by the docs it holds (about 24 B each with the table).
_DL_CACHE: dict[tuple[str, float], DocLengths] = {}
_DL_CACHE_MAX_DOCS = 1 << 21


def _dl_key(path: str) -> tuple[str, float]:
    import os

    return path, os.path.getmtime(path)


def _doc_lengths(keys: list[tuple[str, float]], runs) -> DocLengths:
    """The docid -> dl lookup of a task's segment files (`_dl_key`s):
    each file's DL_TERM rows (its shards' docs, spimi._dl_batches)
    decoded once per worker process and cached. `runs` (the task's
    codec.PostingRuns, one input file per key) holds every file's
    DL_TERM rows whenever one of the files is not cached."""
    from visionsearch_spark.index.codec import dl_lookup

    fresh = None
    parts = []
    for i, key in enumerate(keys):
        got = _DL_CACHE.get(key)
        if got is None:
            fresh = fresh or runs.doc_lengths()
            got = fresh[i]
            while _DL_CACHE and got.docids.size + sum(
                    v.docids.size for v in _DL_CACHE.values()
            ) > _DL_CACHE_MAX_DOCS:
                _DL_CACHE.pop(next(iter(_DL_CACHE)))
            _DL_CACHE[key] = got
        parts.append(got)
    if len(parts) == 1:
        return parts[0]
    return dl_lookup(np.concatenate([p.docids for p in parts]),
                     np.concatenate([p.dls for p in parts]))


def _scan_runs(paths: list[str], columns: list[str], terms: list[str]):
    """The rows of `terms` in the segment files `paths`, as one
    codec.PostingRuns with an input file per path. One pyarrow dataset
    scan: the term filter prunes row groups off the footer min/max
    stats, `term` is read plain (it keeps few rows; dictionary-encoded
    reading costs more than the strs it saves), and use_threads=False,
    because parallelism belongs to the task scheduler, not a nested
    Arrow pool fighting its sibling tasks. Each batch's file is the
    fragment the scan tags it with."""
    import pyarrow.compute as pc
    import pyarrow.dataset as pads

    from visionsearch_spark.index.codec import PostingRuns

    files: dict[str, list[pa.RecordBatch]] = {p: [] for p in paths}
    for tagged in pads.dataset(paths, format="parquet").scanner(
            columns=columns, filter=pc.field("term").isin(terms),
            use_threads=False).scan_batches():
        files[tagged.fragment.path].append(tagged.record_batch)
    return PostingRuns(files.values())


# per-dir tombstone cache: a tombstone dir is written once (deletes.py)
# and never changed, keyed (path, mtime) like the doc-length cache, so a
# worker reads each pending dir once, not once per query batch. Bounded
# by the docids it holds.
_DENY_CACHE: dict[tuple[str, float], np.ndarray] = {}
_DENY_CACHE_MAX_DOCS = 1 << 22


def _pending_deny(dirs: list[str]) -> np.ndarray:
    """Sorted unique docids of the pending tombstone `dirs`
    (store.tombstone_docids), each dir read once per worker process."""
    parts = []
    for key in (_dl_key(d) for d in dirs):
        got = _DENY_CACHE.get(key)
        if got is None:
            got = tombstone_docids([key[0]])
            while _DENY_CACHE and got.size + sum(
                    v.size for v in _DENY_CACHE.values()
            ) > _DENY_CACHE_MAX_DOCS:
                _DENY_CACHE.pop(next(iter(_DENY_CACHE)))
            _DENY_CACHE[key] = got
        parts.append(got)
    if len(parts) == 1:
        return parts[0]
    return np.unique(np.concatenate([np.zeros(0, dtype=np.int64)] + parts))


def _task_deny(dirs: list[str], lengths: DocLengths) -> np.ndarray:
    """The pending tombstones among a task's own docs: `lengths` (its
    files' DL_TERM rows) holds every docid those files index."""
    deny = _pending_deny(dirs)
    i = deny - lengths.lo
    inside = (i >= 0) & (i < lengths.table.size)
    inside[inside] = lengths.table[i[inside]] >= 0
    return deny[inside]


def _docid_span(path: str, lo: int, hi: int, columns: list[str]
                ) -> pa.Table:
    """The `columns` of the rows with lo <= docid <= hi in the parquet
    dir `path` (the docmap, an allow-set): the docid filter prunes row
    groups off the footer stats of docid-sorted files."""
    import pyarrow.compute as pc
    import pyarrow.dataset as pads

    return pads.dataset(path).to_table(
        columns=columns,
        filter=(pc.field("docid") >= lo) & (pc.field("docid") <= hi),
        use_threads=False,
    )


def _conv_codes(docmap: str, lo: int, hi: int
                ) -> tuple[np.ndarray, np.ndarray]:
    """(docids ascending, conv code of each) for the docmap rows with
    lo <= docid <= hi. Equal codes mean one conversation (codes compare
    within one call only)."""
    tbl = _docid_span(docmap, lo, hi, ["docid", "conv_id"])
    d = tbl["docid"].to_numpy()
    codes = tbl["conv_id"].combine_chunks().dictionary_encode() \
        .indices.to_numpy()
    order = np.argsort(d, kind="stable")
    return d[order], codes[order]


# per-file bloom cache: files are immutable (LSM append-only), keyed
# (path, mtime). Count-bounded; worst-case entry is CAP_BITS/8 bytes.
_BLOOM_CACHE: dict[tuple[str, float], object] = {}
_BLOOM_CACHE_MAX = 2048


def _bloom_prune(files: list[tuple[int, str]],
                 terms: list[str]) -> list[tuple[int, str]]:
    """Drop files whose term Bloom sidecar proves they contain NONE of
    the query terms (index/bloom.py — no false negatives, so pruning
    never changes results; a file without a sidecar is kept). This is
    what keeps tail-term queries at O(matching files) tasks on stores
    with thousands of LSM files."""
    import os

    from visionsearch_spark.index import bloom

    if not terms:
        return files
    kept = []
    for sz, p in files:
        key = (p, os.path.getmtime(p))
        if key not in _BLOOM_CACHE:
            while len(_BLOOM_CACHE) >= _BLOOM_CACHE_MAX:
                _BLOOM_CACHE.pop(next(iter(_BLOOM_CACHE)))
            _BLOOM_CACHE[key] = bloom.load_bloom(p)
        b = _BLOOM_CACHE[key]
        if b is None or any(bloom.may_contain(*b, t) for t in terms):
            kept.append((sz, p))
    return kept


def _n_bins(files: list[tuple[int, str]], n_tasks: int,
            n_queries: int) -> int:
    """Task count for the file-aligned scan: one bin per
    QUERY_BIN_BYTES of segment bytes PER QUERY in the batch, capped at
    min(n_tasks, n_files) as before. A local[32] 32-task job costs
    ~0.2 s job + ~6 ms/task scheduling (measured r7), so slicing a 6 MB
    store into 32 bins for ONE interactive query is pure fixed
    overhead; sizing parallelism to the work (bytes x queries) keeps
    small scans at a handful of tasks while a fleet-sized store — or a
    big batch — still fans out exactly as before (the floor only ever
    REDUCES task count, never caps it below the work)."""
    total = sum(sz for sz, _p in files)
    by_work = -(-(total * max(1, n_queries)) // max(1, QUERY_BIN_BYTES))
    return max(1, min(n_tasks, len(files), by_work))


def _lpt_bins(files: list[tuple[int, str]], n_bins: int) -> list[list[str]]:
    """Greedy LPT: files in size-descending order, each into the
    currently-lightest bin — balanced BYTES per bin even when Zipf-heavy
    terms concentrate a store's bytes in a few shards. The bins (not the
    files) are the unit Spark distributes: ONE bin per task."""
    import heapq

    heap = [(0, i) for i in range(n_bins)]  # (bytes, bin)
    heapq.heapify(heap)
    bins: list[list[str]] = [[] for _ in range(n_bins)]
    for sz, p in sorted(files, key=lambda t: (-t[0], t[1])):
        load, i = heapq.heappop(heap)
        bins[i].append(p)
        heapq.heappush(heap, (load + sz, i))
    return [b for b in bins if b]


def _file_bins(spark: SparkSession, store: IndexStore, terms: list[str],
               n_tasks: int | None, n_queries: int) -> list[list[str]]:
    """The live segment files that may hold `terms` (bloom-pruned),
    LPT-packed into `_n_bins` byte-balanced bins — ONE BIN PER TASK.
    Parallelism caps at the file count (= build n_partitions per live
    dir — size n_partitions for the query fleet, not just the build).
    [] when no file can hold any term."""
    files = _bloom_prune(store.segment_files(), terms)
    if not files:
        return []
    n_tasks = n_tasks or spark.sparkContext.defaultParallelism
    return _lpt_bins(files, _n_bins(files, n_tasks, n_queries))


def _launch_bins(spark: SparkSession, bins: list[list[str]],
                 kernel, ddl: str) -> DataFrame:
    """ONE-STAGE job running `kernel(paths) -> Iterator[RecordBatch]`
    once per bin: spark.range(n, numPartitions=n) puts id i in partition
    i deterministically, so the bins ride the task closure and NO
    exchange (or driver-side pandas frame) exists at all — the older
    shape paid a LocalTableScan + repartition exchange (~0.1 s/job at
    local[32]) purely to place one row per task (r7)."""
    def by_bin_id(batches: Iterator[pa.RecordBatch]
                  ) -> Iterator[pa.RecordBatch]:
        for b in batches:
            for i in b.column("id").to_pylist():
                yield from kernel(bins[i])

    return spark.range(0, len(bins), 1, len(bins)).mapInArrow(by_bin_id, ddl)


def _partial_scores(
    spark: SparkSession,
    store: IndexStore,
    queries: list[tuple[int, str, int]],
    threshold: float,
    n_tasks: int | None,
    docid_filter: DataFrame | None,
    collapse: bool,
    cursors: dict[int, float] | None = None,
    term_boosts: dict[int, dict[str, float]] | None = None,
) -> tuple[DataFrame | None, list]:
    """Shared plan prefix: query planning (driver-side df lookups), then
    the scan+score stage. Returns (partials, qplans) — partials is
    (query_id, docid, score), per-partition-cut to each query's k (with
    boundary ties kept); None when every term is OOV. Stats, term_stats,
    segments and tombstones all come from ONE meta snapshot
    (IndexStore.snapshot), so a flip mid-plan cannot mix two of them.

    FILE-ALIGNED PLAN — ZERO data shuffle. Every live segment dir is
    written by the ONE epoch writer, `spimi._write_epoch` (contiguous
    shard runs per partition + maxRecordsPerFile=0 — build, compact, and
    append all call it), so each segment FILE holds complete shards —
    all terms' blocks and the DL_TERM rows for a shard co-located — and
    LSM increments own disjoint docid ranges; therefore ANY whole-file
    task assignment computes complete per-docid sums, and the
    per-partition k-cut stays exact. Tasks receive their bin of file
    PATHS in the task closure (`_launch_bins`, one stage), read their
    files in-task, score, and emit ≤ k+ties rows per query. Pending
    tombstones, a unit collapse and a caller's allow-set ride this same
    plan: the kernel reads them itself (`_make_score_fn`). Collapse stays
    exact per task: a conv's best unit lives in exactly one
    (docid-disjoint) file, that task emits the conv's global max, and
    other tasks' lower partials lose in the final conv-level max merge
    (batch_topk).

    An allow-set (docid_filter) is written once, docid-sorted, to a
    "_"-prefixed scratch dir under the store root (`_allow-<uuid>`,
    invisible to dataset discovery, gc_dirs and fsck); each task reads
    the part inside its own docid span. The partials are then collected
    (≤ bins·(k+ties) rows) and returned as a local frame, and the
    scratch dir is removed whether the write, the scan or neither
    failed."""
    store = store.snapshot()
    meta = store.read_meta()
    avgdl, n_docs = float(meta["avgdl"]), int(meta["n_docs"])
    qtoks = {qid: sorted(set(tokenize(text))) for qid, text, _k in queries}
    all_terms = sorted({t for ts in qtoks.values() for t in ts})
    if not all_terms or n_docs == 0:
        return None, []
    dfs = _lookup_term_dfs(spark, store, all_terms)
    qplans = []
    for qid, _text, k in queries:
        # term_boosts scale each term's contribution (Lucene query-time
        # boost): the kernel already multiplies per-term weights into the
        # score sum, so boosting is a pure plan-time reweight — zero
        # execution-path change, block-max bounds stay safe (they scale
        # by the same factor)
        boosts = (term_boosts or {}).get(qid) or {}
        terms = [
            (t, idf_fn(n_docs, dfs[t]) * float(boosts.get(t, 1.0)))
            for t in qtoks[qid]
            if t in dfs
        ]
        if terms:
            qplans.append((qid, terms, k))
    if not qplans:
        return None, []
    hit_terms = sorted({t for _q, ts, _k in qplans for t, _w in ts})
    bins = _file_bins(spark, store, hit_terms, n_tasks, len(qplans))
    if not bins:  # store with no committed segments: nothing to hit
        return None, []
    allow = None if docid_filter is None else os.path.join(
        store.root, f"_allow-{uuid.uuid4().hex}")
    partials = _launch_bins(spark, bins, _make_score_fn(
        qplans, avgdl, threshold, hit_terms, store.tombstone_paths(),
        docmap=store.docmap_path if collapse else None, allow=allow,
        cursors=cursors), PARTIAL_DDL)
    if allow is None:
        return partials, qplans
    try:
        docid_filter.select(F.col("docid").cast("long")) \
            .sortWithinPartitions("docid").write.parquet(allow)
        rows = partials.collect()
    finally:
        shutil.rmtree(allow, ignore_errors=True)
    return _local_df(spark, rows, PARTIAL_DDL,
                     ["query_id", "docid", "score"]), qplans


# "no cut": larger than any docid count a partition can hold
UNCUT_K = 1 << 62


def unit_scores(
    spark: SparkSession,
    store: IndexStore,
    queries: list[tuple[int, str]],
    threshold: float = 0.0,
    n_tasks: int | None = None,
) -> DataFrame:
    """ALL (query_id, docid, conv_id, turn_idx, score) above threshold —
    no k-cut anywhere. The building block for collapses the max-collapse
    fast path cannot express: a per-partition k-cut is only exact when
    the doc score is the MAX over its units; a weighted SUM over fields
    (BM25F, fielded.py) needs every unit score, aggregated downstream."""
    partials, _qplans = _partial_scores(
        spark, store, [(qid, text, UNCUT_K) for qid, text in queries],
        threshold, n_tasks, None, False,
    )
    if partials is None:
        return _local_df(
            spark, [],
            "query_id long, docid long, conv_id string, "
            "turn_idx int, score double",
            ["query_id", "docid", "conv_id", "turn_idx", "score"])
    docmap = spark.read.parquet(store.docmap_path).select(
        "docid", "conv_id", "turn_idx"
    )
    return partials.join(docmap, "docid").select(
        "query_id", "docid", "conv_id", "turn_idx", "score"
    )


def batch_topk(
    spark: SparkSession,
    store: IndexStore,
    queries: list[tuple[int, str, int]],
    threshold: float = 0.0,
    n_tasks: int | None = None,
    driver_merge: bool = False,
    docid_filter: DataFrame | None = None,
    collapse: bool = False,
    search_after: dict[int, tuple[float, str, int]] | None = None,
    term_boosts: dict[int, dict[str, float]] | None = None,
) -> DataFrame:
    """queries: [(query_id, query_text, k)] -> DataFrame(RESULT_DDL).

    One Spark job scores ALL queries (batch-at-a-time amortizes the scan —
    the opposite of the reference's one-HTTP-request-one-scan loop).

    driver_merge=True is the low-latency serving path: per-partition
    top-k candidates (≤ n_tasks·k + boundary-tie rows — tiny by
    construction) are merged on the driver instead of through a
    shuffle+window, and the docmap lookup becomes a docid-IN-pushdown
    scan. Identical results: the conv keys are looked up for ALL
    candidates before the final cut, so the (score desc, conv_id,
    turn_idx) tie-break holds even on appended stores where docid order
    diverges from conv order.

    docid_filter: DataFrame with a `docid` column — metadata-filtered
    search (predicate ∧ top-k): only these docids are ranked, with
    UNCHANGED global stats (df/N/avgdl), i.e. filter-the-results
    semantics, the reference's S2 prefix-filter composed with search.
    The set is written once, docid-sorted, to a scratch dir under the
    store root; each scan task reads the part inside its files' docid
    span (no shuffle, no broadcast) and masks candidates BEFORE the
    per-partition k-cut, so the cut stays exact. The filter and the scan
    are evaluated when batch_topk is called, not when the returned frame
    is: it holds the collected per-task candidates.

    collapse: rank PARENT documents (unit fan-out stores, units.py):
    per-unit scores collapse to the max per conv_id BEFORE the k-cut
    (the cut is exact at conv level: a conv's best-unit task gives its
    global max, so fewer than k convs can outrank it there), ranked
    (score desc, conv_id). Result (docid, turn_idx) = the conv's first
    unit in the store, looked up for the k winners only.

    search_after: {query_id: (score, conv_id, turn_idx)} — the LAST row
    of the previous page; the query returns the NEXT k rows of the same
    total order (score desc, conv_id, turn_idx), i.e. cursor pagination
    without re-fetching earlier pages. Cost stays O(k) per partition at
    any page depth (the kernel ceilings scores at the cursor before its
    cut — unlike offset paging, which must haul offset+k rows per task).
    The cursor score must be the engine's own full-precision float
    (e.g. from a previous batch_topk result); scores are deterministic,
    so the strict-after comparison is exact.

    Under collapse a conv ranks once, so the cursor's turn_idx is
    never compared.

    term_boosts: {query_id: {term: boost}} — Lucene-style query-time
    boosting; each matching term's BM25 contribution is multiplied by
    its boost (default 1.0). Plan-time reweight only.
    """
    if driver_merge and collapse:
        raise ValueError("driver_merge does not support collapse")
    partials, qplans = _partial_scores(
        spark, store, queries, threshold, n_tasks, docid_filter, collapse,
        cursors={qid: float(s) for qid, (s, _c, _t) in search_after.items()}
        if search_after else None,
        term_boosts=term_boosts,
    )
    if partials is None:
        return _local_df(spark, [], RESULT_DDL, RESULT_COLUMNS)
    docmap = spark.read.parquet(store.docmap_path).select(
        "docid", "conv_id", "turn_idx"
    )

    def _after_filter(df: DataFrame, keys: list[str]) -> DataFrame:
        # strict-after predicate in the (score desc, *keys) total order;
        # the kernel ceiling already dropped everything ABOVE the cursor
        # score, this resolves the tie run AT it
        if not search_after:
            return df
        cdf = _local_df(
            spark,
            [(qid, float(s), c, int(t))
             for qid, (s, c, t) in search_after.items()],
            "query_id long, c_score double, c_conv string, c_turn int",
            ["query_id", "c_score", "c_conv", "c_turn"],
        )
        after = F.lit(False)
        for key, cur in reversed(list(zip(keys, ("c_conv", "c_turn")))):
            after = (F.col(key) > F.col(cur)) \
                | ((F.col(key) == F.col(cur)) & after)
        strict = (
            F.col("c_score").isNull()
            | (F.col("score") < F.col("c_score"))
            | ((F.col("score") == F.col("c_score")) & after)
        )
        return (df.join(F.broadcast(cdf), "query_id", "left")
                .filter(strict).drop("c_score", "c_conv", "c_turn"))

    def k_of() -> DataFrame:
        return F.broadcast(_local_df(
            spark, [(qid, k) for qid, _t, k in qplans],
            "query_id long, k int", ["query_id", "k"]))

    if collapse:
        # the final collapse merges the per-task maxes of a conv whose
        # units sit in several tasks (a run straddling a file edge, a
        # turn appended in a later increment), then cuts at k
        w = Window.partitionBy("query_id").orderBy(
            F.desc("score"), F.asc("conv_id")
        )
        winners = (
            _after_filter(
                partials.join(docmap, "docid")
                .groupBy("query_id", "conv_id")
                .agg(F.max("score").alias("score")), ["conv_id"])
            .withColumn("rank", F.row_number().over(w))
            .join(k_of(), "query_id")
            .filter(F.col("rank") <= F.col("k"))
        )
        # representative (docid, turn_idx): the conv's first unit in the
        # store, resolved for the <= k winners per query only
        return (
            docmap.join(F.broadcast(winners), "conv_id")
            .groupBy("query_id", "rank", "conv_id", "score")
            .agg(F.min(F.struct("docid", "turn_idx")).alias("_first"))
            .select("query_id", "rank", F.col("_first.docid").alias("docid"),
                    "conv_id", F.col("_first.turn_idx").alias("turn_idx"),
                    "score")
        )
    if driver_merge:
        rows = partials.collect()
        if not rows:
            return _local_df(spark, [], RESULT_DDL, RESULT_COLUMNS)
        qids = np.array([r["query_id"] for r in rows], dtype=np.int64)
        docs = np.array([r["docid"] for r in rows], dtype=np.int64)
        scores = np.array([r["score"] for r in rows], dtype=np.float64)
        # conv lookup BEFORE the final cut: the contract tie-break is
        # (score desc, conv_id, turn_idx), and on an appended store docid
        # order diverges from conv order — candidates are ≤ tasks·k rows,
        # so looking all of them up costs the same O(k) row groups.
        # driver-side pyarrow point lookup (docid-sorted staged files →
        # row-group prune touches O(k) groups); avoids a second Spark job
        # on the interactive path
        import pyarrow.compute as pc
        import pyarrow.dataset as pads

        dm = pads.dataset(store.docmap_path).to_table(
            columns=["docid", "conv_id", "turn_idx"],
            filter=pc.field("docid").isin(np.unique(docs).tolist()),
        )
        pos = pc.index_in(pa.array(docs), value_set=dm.column(
            "docid").combine_chunks()).to_numpy()
        convs = np.asarray(dm.column("conv_id").to_pylist(), dtype=object)[pos]
        turns = dm.column("turn_idx").to_numpy()[pos]
        merged: list[tuple[int, int, int, str, int, float]] = []
        for qid, _t, k in qplans:
            m = np.flatnonzero(qids == qid)
            sel = m[score_core.select(
                k, scores[m], convs[m], turns[m], docs[m],
                after=(search_after or {}).get(qid))]
            merged.extend(
                (qid, rank, int(docs[i]), convs[i], int(turns[i]),
                 float(scores[i]))
                for rank, i in enumerate(sel, start=1))
        return _local_df(spark, merged, RESULT_DDL, RESULT_COLUMNS)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("conv_id"), F.asc("turn_idx")
    )
    return (
        _after_filter(partials.join(docmap, "docid"),
                      ["conv_id", "turn_idx"])
        .withColumn("rank", F.row_number().over(w))
        .join(k_of(), "query_id")
        .filter(F.col("rank") <= F.col("k"))
        .select("query_id", "rank", "docid", "conv_id", "turn_idx", "score")
    )


def topk(spark: SparkSession, store: IndexStore, query_text: str, k: int = 5,
         threshold: float = 0.0, driver_merge: bool = True,
         search_after: tuple[float, str, int] | None = None) -> DataFrame:
    """Single-query convenience mirroring `VisionAISearch.search`
    (`/root/reference/visionsearch/common_utils/aisearch/core.py:58-69`).
    Defaults to the low-latency driver-merge path (interactive serving).
    search_after: (score, conv_id, turn_idx) of the previous page's last
    row — returns the next k rows (cursor pagination)."""
    return batch_topk(
        spark, store, [(0, query_text, k)], threshold,
        driver_merge=driver_merge,
        search_after={0: search_after} if search_after else None,
    ).select("rank", "docid", "conv_id", "turn_idx", "score")
