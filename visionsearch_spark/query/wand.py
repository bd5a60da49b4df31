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
  mapInArrow: decode each payload column once (codec.decode_blocks),
            score vectorized in float64 through query/score_core: per
            doc a left-to-right sum in query-term rank order, the
            oracle's summation order (SURVEY.md §7 R2), then masks,
            collapse and a keep-ties top-k per query per partition.
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

from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from visionsearch_spark.analyzer import tokenize
from visionsearch_spark.bm25 import idf as idf_fn
from visionsearch_spark.bm25 import tf_weight
from visionsearch_spark.index.store import IndexStore
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

# Sideband row tags: "\x00" never appears in analyzer output ([0-9a-z]+),
# so these rows share the segment schema with the postings — each task
# receives exactly its files' shards' allow-list / doc-boundary docids
# (routed by route_key), with no broadcast of unbounded sets.
ALLOW_TERM = "\x00allow"
BOUNDS_TERM = "\x00bounds"
# tombstoned docids (index/deletes.py): masked before every k-cut.
# Unlike ALLOW, absence of deny rows in a task is safe — it means "no
# deleted docs in these shards", not "everything deleted".
DENY_TERM = "\x00deny"


def _sideband_rows(docids_df: DataFrame, shard_range: int, tag: str) -> DataFrame:
    """Pack a docid set into segment-schema rows (one per shard): the
    docids are delta+varint encoded with the posting codec and delivered
    to the task that reads the blocks they gate."""
    from visionsearch_spark.index.codec import encode_docids

    @F.pandas_udf("binary")
    def pack(lst: pd.Series) -> pd.Series:
        return lst.map(
            lambda v: encode_docids(np.asarray(v, dtype=np.int64))
        )

    return (
        docids_df.select("docid")
        .withColumn("shard", (F.col("docid") / F.lit(shard_range)).cast("long"))
        .groupBy("shard")
        .agg(
            F.sort_array(F.collect_list("docid")).alias("ds"),
            F.count(F.lit(1)).cast("int").alias("n"),
        )
        .select(
            F.lit(tag).alias("term"),
            "shard",
            "n",
            pack("ds").alias("docids_bin"),
            F.lit(b"").alias("tfs_bin"),
            F.lit(b"").alias("dls_bin"),
            F.lit(0).cast("int").alias("max_tf"),
            F.lit(0).cast("int").alias("min_dl"),
        )
    )


def _make_score_fn(qplans: list[tuple[int, list[tuple[str, float]], int]],
                   avgdl: float, threshold: float, hit_terms: list[str],
                   has_filter: bool = False, has_bounds: bool = False,
                   cursors: dict[int, float] | None = None):
    """File-aligned kernel `score(paths, side=None)`: reads the task's
    segment FILES directly (pyarrow dataset; term-IN filter prunes row
    groups off the footer min/max stats; use_threads=False because
    parallelism belongs to the task scheduler, not a nested Arrow pool
    fighting 32 sibling tasks), decodes each payload column ONCE for the
    whole task (codec.decode_blocks), and scores.

    qplans: [(query_id, [(term, idf)], k)], each query's terms in sorted
    unique-term order (the summation order).

    `side` holds the task's sideband rows (allow-lists / collapse bounds
    / tombstones) as an Arrow table (term, n, docids_bin) — per-shard
    packs routed by route_key to the task owning the files whose shard
    ranges cover them (`_partial_scores`).

    has_filter/has_bounds are PLAN-level flags: a task whose shards hold
    no allowed docids receives zero allow sideband rows, which must mean
    'allowed set empty here' — inferring the mode from row presence would
    silently disable the filter in exactly those tasks.

    cursors: per-query search_after score ceiling (pagination). Every
    per-partition cut keeps boundary ties (score_core.cut): on an
    appended store docid order diverges from conv order, so only the
    merge, which has the conv key, may split a tie run."""
    from visionsearch_spark.index.codec import (
        decode_blocks,
        decode_varint,
        payload,
        term_runs,
    )

    threshold = score_core.check_threshold(threshold)
    cursors = cursors or {}
    # cursored queries take the exact path: block-max pruning targets the
    # TOP of the score range, which a ceiling excludes
    single_term_q = {
        qid: terms[0][0] for qid, terms, _k in qplans
        if len(terms) == 1 and qid not in cursors
    }
    cols = ["term", "n", "docids_bin", "tfs_bin", "dls_bin", "max_tf",
            "min_dl"]

    def side_docids(side: pa.Table | None, tag: str) -> np.ndarray:
        import pyarrow.compute as pc

        if side is None:
            return np.empty(0, dtype=np.int64)
        rows = side.filter(pc.equal(side["term"], tag))
        return np.unique(decode_blocks(rows["docids_bin"],
                                       rows["n"].to_numpy()))

    def score(paths: list[str], side: pa.Table | None = None
              ) -> Iterator[pa.RecordBatch]:
        import pyarrow.compute as pc
        import pyarrow.dataset as pads

        tbl, runs = term_runs(pads.dataset(paths, format="parquet").scanner(
            columns=cols,
            filter=pc.field("term").isin(hit_terms),
            use_threads=False,
        ).to_table())
        if not runs:
            return
        allow = side_docids(side, ALLOW_TERM) if has_filter else None
        bounds = side_docids(side, BOUNDS_TERM) if has_bounds else None
        if bounds is not None and not bounds.size:
            # carry rows cover every shard from the first doc on, so a
            # block-bearing task with no bounds is a wiring bug — fail
            # loudly rather than emit un-collapsed units
            raise RuntimeError("collapse requested but no bounds rows")
        # deny differs from allow: a task whose shards hold no dead docs
        # legitimately receives zero rows (nothing to mask) — per-task
        # presence IS the constraint, so no plan-flag trap here. A task
        # that does hold deny rows skips the single-term block-max path
        # below (masking must precede the k-cut).
        deny = side_docids(side, DENY_TERM)
        has_sideband = has_filter or has_bounds or deny.size > 0
        # every block of the task in one pass per payload column; a
        # term's blocks are the contiguous row run term_runs reports,
        # its postings the matching run of poff
        ns = tbl["n"].to_numpy().astype(np.int64)
        poff = np.concatenate(([0], np.cumsum(ns)))
        total = int(poff[-1])
        docids = decode_blocks(tbl["docids_bin"], ns)
        tfw = tf_weight(
            decode_varint(payload(tbl["tfs_bin"]), total).astype(np.float64),
            decode_varint(payload(tbl["dls_bin"]), total).astype(np.float64),
            avgdl)
        # tf_weight(max_tf, min_dl) under the CURRENT avgdl >= tf_weight
        # of every posting in the block (monotonicity) — safe and never
        # stale across appends
        bmax = tf_weight(tbl["max_tf"].to_numpy(), tbl["min_dl"].to_numpy(),
                         avgdl)
        spans = {t: slice(poff[b0], poff[b1]) for t, (b0, b1) in runs.items()}

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
                s = w * tfw[poff[i]:poff[i + 1]]
                keep = s > threshold
                if keep.any():
                    best_d.append(docids[poff[i]:poff[i + 1]][keep])
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
            present = [(t, w) for t, w in terms if t in runs]
            if not present:
                continue
            ub = sum(w * bmax[slice(*runs[t])].max() for t, w in present)
            if ub <= threshold:
                continue  # safe partition skip: no doc here can pass
            if qid in single_term_q and not has_sideband:
                # block-max pruning assumes every decoded doc is a
                # candidate; with an allow-filter or unit-collapse active
                # the exact path below applies the mask/collapse first
                t, w = present[0]
                uniq, sums = single_term_topk(*runs[t], w, k)
            else:
                # exact path, in the oracle's summation order
                uniq, sums = score_core.accumulate(
                    [(docids[spans[t]], w * tfw[spans[t]])
                     for t, w in present], threshold)
                uniq, sums = score_core.admit(uniq, sums, deny, allow)
                if bounds is not None:  # unit -> parent doc, max per parent
                    parent = score_core.parents(bounds, uniq)
                    uniq, sums, _rep = score_core.collapse(parent, sums,
                                                           parent)
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
    import os

    import pyarrow.compute as pc
    import pyarrow.dataset as pads

    # meta.json mtime in the key: an incremental append rewrites meta, so
    # stale df values age out automatically even across serving processes
    key = f"{store.root}:{os.path.getmtime(store.meta_path)}"
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
    """Drop memoized df lookups (belt-and-braces; the meta-mtime key
    already ages out stale entries after an append)."""
    if root is None:
        _TERM_DF_MEMO.clear()
    else:
        for k in [k for k in _TERM_DF_MEMO if k.startswith(f"{root}:")]:
            _TERM_DF_MEMO.pop(k, None)


# above this shard count the carry forward-fill runs in Spark instead of
# a driver loop (one python tuple per shard stops being "metadata" at
# ~10^6+ shards; below it the driver loop avoids two extra tiny jobs)
CARRY_DRIVER_MAX_SHARDS = 4096

_CARRY_DDL = ("term string, shard long, n int, docids_bin binary, "
              "tfs_bin binary, dls_bin binary, max_tf int, min_dl int")


def _carry_bounds_rows(spark: SparkSession, bounds: DataFrame,
                       shard_range: int, n_docs: int) -> DataFrame:
    """A parent doc's units can straddle a shard edge: the later shard
    holds units whose boundary docid lives in an earlier shard. Forward-
    fill the last boundary per shard and emit it as one extra sideband
    row per shard (the carried bound each shard sees from its past).

    Small stores: driver loop over one int per shard (bounded metadata,
    no extra jobs). Past CARRY_DRIVER_MAX_SHARDS: the same forward-fill
    as a Spark last-ignorenulls window over the shard sequence — one
    8-byte row per shard through a single-task sort (64 MB at 8M shards),
    never an O(n_shards) driver materialization."""
    from visionsearch_spark.index.codec import encode_docids

    max_shard = max(0, (n_docs - 1) // shard_range)
    per = (
        bounds.select("docid")
        .withColumn("shard", (F.col("docid") / F.lit(shard_range)).cast("long"))
        .groupBy("shard").agg(F.max("docid").alias("m"))
    )
    if max_shard + 1 > CARRY_DRIVER_MAX_SHARDS:
        return _carry_bounds_spark(spark, per, max_shard)
    per_shard = {int(r["shard"]): int(r["m"]) for r in per.collect()}
    rows, cur = [], None
    for s in range(max_shard + 1):
        if cur is not None:
            rows.append(
                (BOUNDS_TERM, s, 1,
                 bytes(encode_docids(np.asarray([cur], dtype=np.int64))),
                 b"", b"", 0, 0)
            )
        if s in per_shard:
            cur = per_shard[s]
    return _local_df(
        spark, rows, _CARRY_DDL,
        ["term", "shard", "n", "docids_bin", "tfs_bin", "dls_bin",
         "max_tf", "min_dl"],
    )


def _carry_bounds_spark(spark: SparkSession, per: DataFrame,
                        max_shard: int) -> DataFrame:
    """Distributed carry: shard s carries the max boundary of any shard
    < s (strictly-preceding window; rows with no predecessor drop out,
    matching the driver loop's leading-None skip)."""
    from visionsearch_spark.index.codec import encode_docids

    @F.pandas_udf("binary")
    def pack_one(v: pd.Series) -> pd.Series:
        return v.map(
            lambda x: bytes(encode_docids(np.asarray([x], dtype=np.int64)))
        )

    shards = spark.range(0, max_shard + 1).select(F.col("id").alias("shard"))
    w = Window.orderBy("shard").rowsBetween(Window.unboundedPreceding, -1)
    carried = (
        shards.join(per, "shard", "left")
        .withColumn("cur", F.last("m", ignorenulls=True).over(w))
        .filter(F.col("cur").isNotNull())
    )
    return carried.select(
        F.lit(BOUNDS_TERM).alias("term"),
        "shard",
        F.lit(1).cast("int").alias("n"),
        pack_one("cur").alias("docids_bin"),
        F.lit(b"").alias("tfs_bin"),
        F.lit(b"").alias("dls_bin"),
        F.lit(0).cast("int").alias("max_tf"),
        F.lit(0).cast("int").alias("min_dl"),
    )


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


# per-file shard range cache: files are immutable (LSM dirs append, never
# rewrite in place), keyed (path, mtime) belt-and-braces. Bounded.
_SHARD_RANGE_CACHE: dict[tuple[str, float], tuple[int, int]] = {}
_SHARD_RANGE_CACHE_MAX = 8192


def _file_shard_range(path: str) -> tuple[int, int]:
    """(min_shard, max_shard) of one segment file from its parquet
    footer (row-group stats on the shard column — O(1) metadata, no data
    read). Needed to route per-shard sideband rows to the task that owns
    the file: range partitioning makes a file's shards contiguous, and a
    dir-boundary shard straddling two LSM dirs simply appears in both
    files' ranges (the sideband row is duplicated to both tasks;
    np.unique in the kernel absorbs it)."""
    import os

    import pyarrow.parquet as pq

    key = (path, os.path.getmtime(path))
    rng = _SHARD_RANGE_CACHE.get(key)
    if rng is None:
        md = pq.ParquetFile(path).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        si = idx["shard"]
        lo, hi = None, None
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(si).statistics
            if st is None or not st.has_min_max:
                # stats absent (foreign writer): one column read, still
                # cheap, and cached
                import pyarrow.parquet as _pq

                col = _pq.read_table(path, columns=["shard"])["shard"]
                lo = int(pa.compute.min(col).as_py())
                hi = int(pa.compute.max(col).as_py())
                break
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        rng = (int(lo), int(hi))
        while len(_SHARD_RANGE_CACHE) >= _SHARD_RANGE_CACHE_MAX:
            _SHARD_RANGE_CACHE.pop(next(iter(_SHARD_RANGE_CACHE)))
        _SHARD_RANGE_CACHE[key] = rng
    return rng


def _segment_files(store: IndexStore) -> list[tuple[int, str]]:
    """Every live segment parquet file across all LSM dirs, as
    (size_bytes, path). Listing + stat is O(n_files) driver metadata."""
    import os

    files = []
    for d in store.segment_paths():
        for f in sorted(os.listdir(d)):
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                p = os.path.join(d, f)
                files.append((os.path.getsize(p), p))
    return files


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
    files = _bloom_prune(_segment_files(store), terms)
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


def _tombstone_docids(spark: SparkSession, store: IndexStore,
                      meta: dict) -> DataFrame | None:
    """PENDING tombstones (index/deletes.py) as DataFrame('docid long'),
    or None when there are none. Read from the caller's OWN meta
    snapshot — the one its stats came from — so a concurrent
    delete/compact flip can't mix masked segments with an un-matching
    deny list. Stores that never delete pay nothing."""
    import os

    from visionsearch_spark.index.deletes import TOMBSTONE_SCHEMA_DDL

    dirs = meta.get("tombstone_dirs") or []
    if not dirs:
        return None
    return spark.read.schema(TOMBSTONE_SCHEMA_DDL).parquet(
        *[os.path.join(store.root, d) for d in dirs]
    ).select("docid")


def _partial_scores(
    spark: SparkSession,
    store: IndexStore,
    queries: list[tuple[int, str, int]],
    threshold: float,
    n_tasks: int | None,
    docid_filter: DataFrame | None,
    collapse_bounds: DataFrame | None,
    cursors: dict[int, float] | None = None,
    term_boosts: dict[int, dict[str, float]] | None = None,
) -> tuple[DataFrame | None, list]:
    """Shared plan prefix: query planning (driver-side df lookups), then
    one of two physical strategies for the scan+score stage. Returns
    (partials, qplans) — partials is (query_id, docid, score),
    per-partition-cut to each query's k (with boundary ties kept); None
    when every term is OOV.

    FILE-ALIGNED FAST PATH (no sidebands — the hot batch/serving path):
    ZERO data shuffle. Every live segment dir is written by the ONE
    shared `spimi.write_segments` (`repartitionByRange(n_partitions,
    "shard")` + maxRecordsPerFile=0 — build, compact, and append all
    call it), so each segment FILE holds complete shards —
    all terms' blocks for a shard co-located — and LSM increments own
    disjoint docid ranges; therefore ANY whole-file task assignment
    computes complete per-docid sums, and the per-partition k-cut stays
    exact. Tasks receive their bin of file PATHS in the task closure
    (`_launch_bins`, one stage), read their files in-task, score, and
    emit ≤ k+ties rows per query.
    The r3 scaling decomposition blamed the residual efficiency gap on
    shuffle serialization of the filtered posting KBs through one host
    memory bus — this path removes that exchange entirely instead of
    tuning it.

    SIDEBAND QUERIES (docid_filter / collapse_bounds / pending
    tombstones) ride the SAME file-aligned plan since r5: the gating
    rows stay per-shard packs and are routed to their blocks' task by
    each file's footer shard range, shuffling ONLY the packs on
    route_key — postings never move. Collapse stays exact per task: a
    parent's best unit lives in exactly one (docid-disjoint) file, that
    task emits the parent's global max, and other tasks' lower partials
    lose in the final conv-level max merge (batch_topk). The filter
    masks before the k-cut."""
    meta = store.read_meta()
    avgdl, n_docs = float(meta["avgdl"]), int(meta["n_docs"])
    shard_range = int(meta["shard_range"])
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
    docid_deny = _tombstone_docids(spark, store, meta)
    bins = _file_bins(spark, store, hit_terms, n_tasks, len(qplans))
    if not bins:  # store with no committed segments: nothing to hit
        return None, []
    has_filter = docid_filter is not None
    has_bounds = collapse_bounds is not None
    has_deny = docid_deny is not None
    score_files = _make_score_fn(
        qplans, avgdl, threshold, hit_terms, has_filter=has_filter,
        has_bounds=has_bounds, cursors=cursors)
    if not has_filter and not has_bounds and not has_deny:
        return _launch_bins(spark, bins, score_files, PARTIAL_DDL), qplans
    # SIDEBAND PATH (r5): allow/bounds/deny rows stay DISTRIBUTED
    # per-shard packs (never an unbounded driver materialization or
    # broadcast) and ride ONE small shuffle keyed by route_key to the
    # task owning the files whose shard range covers them. The
    # shard→task map is a STAB QUERY against per-file (shard_lo,
    # shard_hi) intervals read from parquet footers: the sorted interval
    # arrays (n_files entries — driver metadata) ship in a pandas_udf
    # closure, each shard binary-searches them (prefix-max-hi early
    # exit), and the matching route keys explode into rows.
    # O(shards · log files), unlike the broadcast range join it
    # replaced, whose nested-loop predicate was O(shards · files) — a
    # real cost once a fleet-sized store holds 10^4+ files. Equal route
    # keys co-locate under ANY hash, so correctness (every gating row
    # reaches its blocks' task) never depends on the engineered-key
    # balance. A dir-boundary shard straddling several files (tiny
    # appends can slice one shard across many dirs) routes to ALL their
    # tasks (np.unique in the kernel absorbs duplicates).
    rkeys = _route_keys(len(bins))
    intervals = sorted(
        (*_file_shard_range(p), rkeys[i])
        for i, b in enumerate(bins) for p in b
    )
    _los = np.array([t[0] for t in intervals], dtype=np.int64)
    _his = np.array([t[1] for t in intervals], dtype=np.int64)
    _rks = np.array([t[2] for t in intervals], dtype=np.int64)
    _pmax = np.maximum.accumulate(_his)

    @F.pandas_udf("array<long>")
    def _routes_of(shard: pd.Series) -> pd.Series:
        s = shard.to_numpy(dtype=np.int64)
        start = np.searchsorted(_los, s, side="right") - 1
        out = []
        for v, j in zip(s, start):
            acc = set()
            k = int(j)
            # every interval at index <= j has lo <= v; stop once
            # even the largest hi to the left cannot reach v
            while k >= 0 and _pmax[k] >= v:
                if _his[k] >= v:
                    acc.add(int(_rks[k]))
                k -= 1
            out.append(sorted(acc))
        return pd.Series(out)

    union_ddl = ("route_key long, paths array<string>, term string, "
                 "shard long, n int, docids_bin binary")
    union_cols = ["route_key", "paths", "term", "shard", "n",
                  "docids_bin"]
    parts = [_local_df(
        spark,
        [(rkeys[i], b, None, None, None, None)
         for i, b in enumerate(bins)],
        union_ddl, union_cols,
    )]

    def routed(side: DataFrame) -> DataFrame:
        return side.select(
            F.explode(_routes_of(F.col("shard"))).alias("route_key"),
            F.lit(None).cast("array<string>").alias("paths"),
            "term", "shard", "n", "docids_bin",
        )

    for side_df, tag in ((docid_filter, ALLOW_TERM), (docid_deny, DENY_TERM),
                         (collapse_bounds, BOUNDS_TERM)):
        if side_df is not None:
            parts.append(routed(_sideband_rows(side_df, shard_range, tag)))
    if has_bounds:
        parts.append(routed(
            _carry_bounds_rows(spark, collapse_bounds, shard_range, n_docs)
        ))
    seg = parts[0]
    for p_ in parts[1:]:
        seg = seg.unionByName(p_)

    def score_routed(batches: Iterator[pa.RecordBatch]
                     ) -> Iterator[pa.RecordBatch]:
        import pyarrow.compute as pc

        got = list(batches)
        if not got:
            return
        tbl = pa.Table.from_batches(got)
        is_bin = pc.is_valid(tbl["paths"])
        paths = pc.list_flatten(tbl["paths"].filter(is_bin)).to_pylist()
        if paths:
            yield from score_files(paths, tbl.filter(pc.invert(is_bin)))

    partials = seg.repartition(len(bins), "route_key").mapInArrow(
        score_routed, PARTIAL_DDL)
    return partials, qplans


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
        threshold, n_tasks, None, None,
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
    collapse_bounds: DataFrame | None = None,
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
    The set is delivered per docid-range shard as sideband rows routed
    to the task reading those shards' files (no unbounded broadcast), and masks
    candidates BEFORE the per-partition k-cut, so the cut stays exact.

    collapse_bounds: DataFrame with a `docid` column holding the FIRST
    unit docid of each parent document (unit fan-out stores, units.py):
    per-unit scores collapse to per-document max BEFORE the k-cut (the
    cut is exact at doc level: a doc's best-unit partition gives its
    global max, so fewer than k docs can outrank it there). Result docid
    = the parent's first-unit docid.

    search_after: {query_id: (score, conv_id, turn_idx)} — the LAST row
    of the previous page; the query returns the NEXT k rows of the same
    total order (score desc, conv_id, turn_idx), i.e. cursor pagination
    without re-fetching earlier pages. Cost stays O(k) per partition at
    any page depth (the kernel ceilings scores at the cursor before its
    cut — unlike offset paging, which must haul offset+k rows per task).
    The cursor score must be the engine's own full-precision float
    (e.g. from a previous batch_topk result); scores are deterministic,
    so the strict-after comparison is exact.

    term_boosts: {query_id: {term: boost}} — Lucene-style query-time
    boosting; each matching term's BM25 contribution is multiplied by
    its boost (default 1.0). Plan-time reweight only.
    """
    if driver_merge and collapse_bounds is not None:
        raise ValueError("driver_merge does not support collapse_bounds")
    partials, qplans = _partial_scores(
        spark, store, queries, threshold, n_tasks, docid_filter,
        collapse_bounds,
        cursors={qid: float(s) for qid, (s, _c, _t) in search_after.items()}
        if search_after else None,
        term_boosts=term_boosts,
    )
    if partials is None:
        return _local_df(spark, [], RESULT_DDL, RESULT_COLUMNS)
    docmap = spark.read.parquet(store.docmap_path).select(
        "docid", "conv_id", "turn_idx"
    )

    def _after_filter(df: DataFrame) -> DataFrame:
        # strict-after predicate in the (score desc, conv_id, turn_idx)
        # total order; the kernel ceiling already dropped everything
        # ABOVE the cursor score, this resolves the tie run AT it
        if not search_after:
            return df
        cdf = _local_df(
            spark,
            [(qid, float(s), c, int(t))
             for qid, (s, c, t) in search_after.items()],
            "query_id long, c_score double, c_conv string, c_turn int",
            ["query_id", "c_score", "c_conv", "c_turn"],
        )
        strict = (
            F.col("c_score").isNull()
            | (F.col("score") < F.col("c_score"))
            | ((F.col("score") == F.col("c_score"))
               & ((F.col("conv_id") > F.col("c_conv"))
                  | ((F.col("conv_id") == F.col("c_conv"))
                     & (F.col("turn_idx") > F.col("c_turn")))))
        )
        return (df.join(F.broadcast(cdf), "query_id", "left")
                .filter(strict).drop("c_score", "c_conv", "c_turn"))

    if collapse_bounds is not None:
        # final collapse keys on the PARENT (conv_id), not the run-start
        # docid: partitions sharing a straddling run each emit a partial
        # max, and a parent whose units were appended in a later increment
        # owns several runs — the conv-level max re-merges both cases.
        # Representative (docid, turn_idx) = the parent's first unit.
        partials = (
            partials.join(docmap, "docid")
            .groupBy("query_id", "conv_id")
            .agg(
                F.max("score").alias("score"),
                F.min(F.struct("docid", "turn_idx")).alias("_first"),
            )
            .select(
                "query_id", "conv_id", "score",
                F.col("_first.docid").alias("docid"),
                F.col("_first.turn_idx").alias("turn_idx"),
            )
        )
        kdf = _local_df(spark, [(qid, k) for qid, _t, k in qplans],
                        "query_id long, k int", ["query_id", "k"])
        w = Window.partitionBy("query_id").orderBy(
            F.desc("score"), F.asc("conv_id")
        )
        return (
            _after_filter(partials)
            .withColumn("rank", F.row_number().over(w))
            .join(F.broadcast(kdf), "query_id")
            .filter(F.col("rank") <= F.col("k"))
            .select("query_id", "rank", "docid", "conv_id", "turn_idx",
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
    kdf = _local_df(spark, [(qid, k) for qid, _t, k in qplans],
                    "query_id long, k int", ["query_id", "k"])
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("conv_id"), F.asc("turn_idx")
    )
    return (
        _after_filter(partials.join(docmap, "docid"))
        .withColumn("rank", F.row_number().over(w))
        .join(F.broadcast(kdf), "query_id")
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
