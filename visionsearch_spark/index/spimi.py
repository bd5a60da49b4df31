"""SPIMI index build: per-partition posting construction inside mapInArrow,
per-partition checkpoint commits, then a docid-range-sharded compaction.

Pipeline (SURVEY.md §3.2 "ours"):
  1. STAGE    docid assignment (deterministic, docid.py) + JVM token
              COUNT; staged table (pid, docid, conv_id, turn_idx, dl,
              text) written once — raw text, NOT the token array (the
              array would re-encode every text byte plus offsets,
              doubling the build's one non-scaling write). pid on a
              fresh build = the docid-range partition the row already
              sits in (r7) — recorded in staged, so resume/repair group
              by its VALUE and stay partition-stable; appends assign
              fresh pid ranges per delta (incremental.py).
  2. SPIMI    fresh builds map the kernel straight over the cached
              docid frame (already pid-partitioned and docid-sorted —
              the corpus crosses an exchange exactly ONCE per build);
              resume/repair/append shuffle pending staged rows by pid
              (spimi_pending). The kernel re-tokenizes text (frozen
              spec: Python lower + RE2 split, fuzz-pinned), aggregates
              postings with one dictionary-encode + int lexsort, cuts
              blocks at 128 docs AND docid-shard boundaries (R), and
              varint-encodes the whole partition in one stream per
              payload (_build_block_batches), each doc's length once as
              DL_TERM rows (_dl_batches); fragment parquet +
              manifest json commit ATOMICALLY per pid, committed pids
              are skipped (resume).
  3. MERGE    `_write_epoch`, the one epoch writer (build, append and
              compaction all end in it): blocks -> term_stats (sum of
              block df) and compacted segments partitioned by shard
              (query-side docid co-location comes from this), one Bloom
              sidecar per file, two independent jobs run overlapped.
              A full merge feeds it the live segment dirs + the
              fragments of committed pids no live dir covers yet
              (`_merge_input`; on a fresh build that is every fragment).
              Blocks of one term have globally disjoint docid ranges, so
              merging is concat-in-min_docid-order + re-chunk — never a
              posting-level merge sort — over ONE shard exchange (each
              partition a contiguous run of shards, no sampled bounds)
              whose output order is already the final file order.
              Sharding by docid range bounds per-task work for hot terms
              (the salted-repartition skew defense of the north rule:
              fanout grows with df because a hot term spans more shards).
  4. COMMIT   `_flip`, the one publish step: the meta.json snapshot flip
              (`compacted_pids` now lists every merged pid), then
              IndexStore.gc_dirs deletes the covered fragments — each
              posting is stored once, in the live segment dirs — and
              the store's df memo is dropped.

Scale notes: every stage is linear in its partition; nothing funnels
through the driver except the tiny offsets array (docid.py) and meta.
At 10^12 turns the knobs are n_partitions (SPIMI fan-out) and n_shards
(merge/query fan-out); both stream through Arrow batches.
"""

from __future__ import annotations

import json
import os
import time
from typing import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from visionsearch_spark.analyzer import TOKEN_SEP_RE, token_count_col
from visionsearch_spark.docid import assign_docids_with_count
from visionsearch_spark.index.codec import DocLengths
from visionsearch_spark.index.store import (
    DL_TERM,
    MANIFEST_SCHEMA_DDL,
    SEGMENT_SCHEMA_DDL,
    IndexStore,
    count_rows,
    fresh_meta,
)

BLOCK_SIZE = 128

# mapInArrow output must match the declared DDL types EXACTLY (no coercion)
_MANIFEST_PA_SCHEMA = pa.schema(
    [
        ("partition_id", pa.int32()),
        ("status", pa.string()),
        ("postings_written", pa.int64()),
        ("terms_merged", pa.int64()),
        ("bytes_compressed", pa.int64()),
        ("lineage", pa.string()),
        ("ts", pa.string()),
    ]
)

_FRAGMENT_PA_SCHEMA = pa.schema(
    [
        ("term", pa.string()),
        ("min_docid", pa.int64()),
        ("max_docid", pa.int64()),
        ("n", pa.int32()),
        ("docids_bin", pa.binary()),
        ("tfs_bin", pa.binary()),
        ("max_tf", pa.int32()),
        ("min_dl", pa.int32()),
        ("pos_bin", pa.binary()),
    ]
)


# one Arrow binary column's offsets are int32: chunk the output so every
# chunk's payload stream stays below this (2 GiB minus slack)
_CHUNK_BYTE_LIMIT = (1 << 31) - (1 << 16)


def _binary_col(stream: np.ndarray, boffs: np.ndarray) -> pa.Array:
    """Zero-copy Arrow binary column over a shared byte stream: per-block
    values are SLICES of `stream` at byte offsets `boffs` (len n_blocks+1)
    — the offsets array IS the Arrow offsets buffer, so no per-block bytes
    objects are ever materialized (guide §4.2: re-slice, don't copy)."""
    n = boffs.size - 1
    base = int(boffs[0])
    off32 = (boffs - base).astype(np.int32)
    data = np.ascontiguousarray(stream[base:int(boffs[-1])])
    return pa.Array.from_buffers(
        pa.binary(), n, [None, pa.py_buffer(off32), pa.py_buffer(data)],
    )


def _build_block_batches(
    terms: np.ndarray, docids: np.ndarray, tfs: np.ndarray,
    dls: np.ndarray, shard_range: int,
    pos_flat: np.ndarray | None = None,
    with_shard: bool = False,
    term_values: np.ndarray | None = None,
) -> tuple[list[pa.RecordBatch], dict]:
    """Vectorized block assembly for a whole partition's postings (sorted
    by term, docid; `pos_flat` aligned with np.repeat(docids, tfs)).

    Cuts blocks of <=BLOCK_SIZE that never cross a term or docid-shard
    boundary and encodes EVERY payload in one varint pass per column
    (codec.varint_stream), then assembles the binary columns zero-copy
    from byte-offset slices — byte-identical to per-block
    encode_docids/encode_varint/encode_positions, with no per-term or
    per-block Python loop (the r7 kernel-vectorization: the old loop
    cost ~330 us/block in tiny-array numpy calls).

    Pruning metadata stays (max_tf, min_dl) — avgdl-independent, so
    blocks remain valid across appends that shift corpus stats. `dls`
    (each posting's doc length) feeds min_dl only: lengths are stored
    once per doc, in the DL_TERM rows `_dl_batches` builds.

    Without `pos_flat` every block's pos_bin is NULL. `term_values`:
    when `terms` holds int run keys (cheap comparisons for the
    compaction kernel), the string looked up per output block is
    term_values[key]. Returns (record batches, stats)."""
    schema = _FRAGMENT_PA_SCHEMA
    if with_shard:
        schema = schema.append(pa.field("shard", pa.int64()))
    n = int(docids.size)
    if n == 0:
        return [], {"postings": 0, "terms": 0, "n_blocks": 0, "bytes": 0}
    shards = docids // shard_range
    segc = np.ones(n, dtype=bool)
    segc[1:] = (terms[1:] != terms[:-1]) | (shards[1:] != shards[:-1])
    seg_starts = np.flatnonzero(segc)
    idx_in_seg = np.arange(n, dtype=np.int64) \
        - seg_starts[np.cumsum(segc) - 1]
    bstarts = np.flatnonzero(idx_in_seg % BLOCK_SIZE == 0)
    bnd = np.concatenate((bstarts, [n]))
    bends = bnd[1:]

    deltas = np.empty(n, dtype=np.int64)
    deltas[0] = docids[0]
    np.subtract(docids[1:], docids[:-1], out=deltas[1:])
    deltas[bstarts] = docids[bstarts]
    bad = deltas <= 0
    bad[bstarts] = False
    if bad.any():
        raise ValueError("docids must be strictly increasing within a block")

    from visionsearch_spark.index.codec import varint_stream

    d_stream, d_nb = varint_stream(deltas.astype(np.uint64))
    t_stream, t_nb = varint_stream(tfs.astype(np.uint64))
    off = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(d_nb, out=off[1:])
    d_boffs = off[bnd]
    off = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(t_nb, out=off[1:])
    t_boffs = off[bnd]

    p_stream = p_boffs = None
    if pos_flat is not None:
        occ = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(tfs, out=occ[1:])
        p = np.ascontiguousarray(pos_flat, dtype=np.int64)
        pdeltas = np.empty(p.size, dtype=np.int64)
        if p.size:
            pdeltas[0] = p[0]
            np.subtract(p[1:], p[:-1], out=pdeltas[1:])
            pdeltas[occ[:-1]] = p[occ[:-1]]
        if (pdeltas < 0).any():
            raise ValueError("positions must be ascending within each doc")
        p_stream, p_nb = varint_stream(pdeltas.astype(np.uint64))
        poff = np.zeros(p.size + 1, dtype=np.int64)
        np.cumsum(p_nb, out=poff[1:])
        p_boffs = poff[occ[bnd]]

    n_blocks = bstarts.size
    max_tf = np.maximum.reduceat(tfs, bstarts).astype(np.int32)
    min_dl = np.minimum.reduceat(dls, bstarts).astype(np.int32)
    min_docid = docids[bstarts]
    max_docid = docids[bends - 1]
    blens = (bends - bstarts).astype(np.int32)

    batches: list[pa.RecordBatch] = []
    start = 0
    while start < n_blocks:
        # largest end keeping every stream's chunk under the int32 cap
        end = n_blocks
        for boffs in (d_boffs, t_boffs, p_boffs):
            if boffs is None:
                continue
            lim = int(np.searchsorted(
                boffs, boffs[start] + _CHUNK_BYTE_LIMIT, side="right")) - 1
            end = min(end, max(lim, start + 1))
        sl = slice(start, end)
        sl1 = slice(start, end + 1)
        if p_boffs is None:
            pos_col = pa.nulls(end - start, pa.binary())
        else:
            pos_col = _binary_col(p_stream, p_boffs[sl1])
        blk_terms = (term_values[terms[bstarts[sl]]]
                     if term_values is not None else terms[bstarts[sl]])
        cols = [
            pa.array(blk_terms, type=pa.string()),
            pa.array(min_docid[sl], type=pa.int64()),
            pa.array(max_docid[sl], type=pa.int64()),
            pa.array(blens[sl], type=pa.int32()),
            _binary_col(d_stream, d_boffs[sl1]),
            _binary_col(t_stream, t_boffs[sl1]),
            pa.array(max_tf[sl], type=pa.int32()),
            pa.array(min_dl[sl], type=pa.int32()),
            pos_col,
        ]
        if with_shard:
            cols.append(pa.array(shards[bstarts[sl]], type=pa.int64()))
        batches.append(pa.RecordBatch.from_arrays(cols, schema=schema))
        start = end
    stats = {
        "postings": n,
        "terms": int((terms[1:] != terms[:-1]).sum()) + 1,
        "n_blocks": int(n_blocks),
        "bytes": int(d_boffs[-1] + t_boffs[-1]),
    }
    return batches, stats


def _dl_batches(docids: np.ndarray, dls: np.ndarray, shard_range: int,
                with_shard: bool = False) -> list[pa.RecordBatch]:
    """The DL_TERM rows of docs `docids` (ascending, unique) with
    lengths `dls`: built by _build_block_batches as the postings of one
    term whose tfs are the lengths, so its blocks hold <= BLOCK_SIZE docs,
    never cross a shard and carry a NULL pos_bin."""
    return _build_block_batches(
        np.zeros(docids.size, dtype=np.int64), docids, dls, dls,
        shard_range, with_shard=with_shard,
        term_values=np.array([DL_TERM], dtype=object))[0]


def _make_spimi_fn(store_root: str, shard_range: int,
                   fail_pids: frozenset[int], positions: bool = False):
    """Returns the mapInArrow function for the SPIMI stage. With
    `positions` the kernel accumulates the OCCURRENCE stream (term,
    docid, dl, pos) instead of pre-counted postings — ~tf/posting more
    rows through the flush sort, which is why the feature is an opt-in
    store flag rather than always-on (meta['positions'])."""

    def spimi(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow.compute as pc

        store = IndexStore(store_root)
        # occurrence-stream accumulator per pid:
        # (tokens pa.Array, docid_rep, dl_rep[, pos]) per batch slice
        acc: list[tuple] = []
        cur_pid: int | None = None

        def flush(pid: int) -> dict:
            if pid in fail_pids:
                # test-only: let sibling tasks commit their checkpoints
                # before this one aborts the job (deterministic resume test)
                time.sleep(5)
                raise RuntimeError(f"fault injection: partition {pid}")
            frag_tmp = store.fragment_path(pid) + ".tmp"
            man_tmp = store.manifest_path(pid) + ".tmp"
            if os.path.exists(store.manifest_path(pid)):
                return {"partition_id": pid, "status": "already-done",
                        "postings_written": 0, "terms_merged": 0,
                        "bytes_compressed": 0, "lineage": "{}",
                        "ts": str(time.time())}
            # ---- vectorized aggregation over the pid's occurrence stream:
            # dictionary-encode tokens ONCE, rank codes in lexicographic
            # vocab order (ranks sort exactly like the strings), lexsort
            # int keys, detect posting runs — replaces the per-batch
            # pandas explode+groupby and the object-dtype flush sort
            # (identical postings, ~5x less kernel CPU; r7)
            if acc:
                tok_all = pa.concat_arrays([a[0] for a in acc])
                docid_all = np.concatenate([a[1] for a in acc])
                dl_all = np.concatenate([a[2] for a in acc])
                pos_all = (np.concatenate([a[3] for a in acc])
                           if positions else None)
            else:
                tok_all = pa.array([], type=pa.string())
                docid_all = np.zeros(0, dtype=np.int64)
                dl_all = np.zeros(0, dtype=np.int64)
                pos_all = np.zeros(0, dtype=np.int64) if positions else None
            enc = pc.dictionary_encode(tok_all)
            vocab = np.asarray(enc.dictionary.to_pylist(), dtype=object)
            codes = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
            order = np.argsort(vocab) if vocab.size else \
                np.zeros(0, dtype=np.int64)
            rank = np.empty(vocab.size, dtype=np.int64)
            rank[order] = np.arange(vocab.size, dtype=np.int64)
            vocab_sorted = vocab[order]
            r = rank[codes]
            pos_flat: np.ndarray | None = None
            if positions:
                perm = np.lexsort((pos_all, docid_all, r))
                pos_flat = pos_all[perm]
            else:
                perm = np.lexsort((docid_all, r))
            r_s = r[perm]
            d_s = docid_all[perm]
            newp = np.ones(r_s.size, dtype=bool)
            if r_s.size > 1:
                newp[1:] = (r_s[1:] != r_s[:-1]) | (d_s[1:] != d_s[:-1])
            pstarts = np.flatnonzero(newp)
            terms = r_s[pstarts]  # int ranks; strings via vocab_sorted
            docids = d_s[pstarts]
            dls = dl_all[perm][pstarts]
            tfs = np.diff(np.concatenate((pstarts, [r_s.size])))
            batches_out, bstats = _build_block_batches(
                terms, docids, tfs, dls, shard_range,
                pos_flat=pos_flat if positions else None,
                term_values=vocab_sorted,
            )
            # each doc's length once: every posting of a doc carries the
            # same dl (counted from this token stream above)
            doc_ids, first = np.unique(docids, return_index=True)
            batches_out = _dl_batches(doc_ids, dls[first], shard_range) \
                + batches_out
            tbl = (pa.Table.from_batches(batches_out)
                   if batches_out else _FRAGMENT_PA_SCHEMA.empty_table())
            pq.write_table(tbl, frag_tmp, compression="zstd")
            os.replace(frag_tmp, store.fragment_path(pid))
            manifest = {
                "partition_id": pid,
                "status": "done",
                "postings_written": int(tfs.size),
                "terms_merged": int(bstats["terms"]),
                "bytes_compressed": int(bstats["bytes"]),
                "lineage": json.dumps({
                    "fragment": os.path.basename(store.fragment_path(pid)),
                    "docid_min": int(docids.min()) if docids.size else None,
                    "docid_max": int(docids.max()) if docids.size else None,
                    "n_blocks": int(bstats["n_blocks"]),
                }),
                "ts": str(time.time()),
            }
            with open(man_tmp, "w") as f:
                json.dump(manifest, f)
            os.replace(man_tmp, store.manifest_path(pid))
            return manifest

        out: list[dict] = []
        for batch in batches:
            pids = batch.column("pid").to_numpy()
            if pids.size == 0:
                continue
            # pid-grouped slices (input arrives pid-sorted from the
            # repartition+sort; stable-sort defensively if not)
            if pids.size > 1 and (np.diff(pids) < 0).any():
                o = np.argsort(pids, kind="stable")
                batch = batch.take(pa.array(o))
                pids = pids[o]
            gstarts = np.flatnonzero(
                np.concatenate(([True], pids[1:] != pids[:-1])))
            gends = np.concatenate((gstarts[1:], [pids.size]))
            docid_col = batch.column("docid").to_numpy().astype(np.int64)
            text_col = batch.column("text")
            for gs, ge in zip(gstarts, gends):
                pid = int(pids[gs])
                if cur_pid is not None and pid != cur_pid:
                    out.append(flush(cur_pid))
                    acc.clear()
                cur_pid = pid
                # re-tokenize from staged text with the frozen spec:
                # PYTHON str.lower (full Unicode case mapping —
                # pc.utf8_lower's simple mapping diverges on e.g.
                # U+0130), then RE2 split + list flatten in Arrow C++
                # (split parity on lowered input is fuzz-pinned by
                # test_analyzer); empties dropped — identical tokens to
                # analyzer.tokenize
                texts = text_col.slice(gs, int(ge - gs)).to_pylist()
                low = pa.array(
                    [t.lower() if t is not None else None for t in texts],
                    type=pa.string())
                toks = pc.split_pattern_regex(low, TOKEN_SEP_RE.pattern)
                flat = pc.list_flatten(toks)
                parent = pc.list_parent_indices(toks).to_numpy(
                    zero_copy_only=False).astype(np.int64)
                keep = pc.not_equal(flat, "")
                flat = flat.filter(keep)
                parent = parent[keep.to_numpy(zero_copy_only=False)]
                docid_rep = docid_col[gs:ge][parent]
                # dl derived from THIS token stream (= len(tokenize(text)),
                # the frozen spec) — the kernel never reads staged's dl
                # column, so the SPIMI input is (pid, docid, text) only
                dl_doc = np.bincount(parent, minlength=int(ge - gs))
                dl_rep = dl_doc[parent]
                if positions:
                    # token index within the ANALYZED list (empties
                    # dropped first) — the coordinate the phrase verify
                    # intersects on, identical to analyzer.tokenize order
                    runs = np.flatnonzero(np.concatenate(
                        ([True], parent[1:] != parent[:-1])))
                    lens = np.diff(np.concatenate((runs, [parent.size])))
                    pos = np.arange(parent.size, dtype=np.int64) \
                        - np.repeat(runs, lens)
                    acc.append((flat, docid_rep, dl_rep, pos))
                else:
                    acc.append((flat, docid_rep, dl_rep))
        if cur_pid is not None:
            out.append(flush(cur_pid))
        if out:
            tbl = pa.Table.from_pylist(out).select(
                [f.name for f in _MANIFEST_PA_SCHEMA]
            ).cast(_MANIFEST_PA_SCHEMA)
            yield from tbl.to_batches()

    return spimi


def build_index(
    transcripts: DataFrame,
    root: str,
    n_partitions: int | None = None,
    n_shards: int | None = None,
    fail_partitions: frozenset[int] | set[int] = frozenset(),
    positions: bool = False,
) -> IndexStore:
    """Build (or resume) the compressed index at `root`.

    `fail_partitions` injects a task failure before the given pids commit —
    used by the resume tests to simulate an interrupted build
    (the reference's KeyboardInterrupt-then-rerun contract,
    `generate_captions.py:100-102`).

    `positions` writes per-term token-position payloads (pos_bin) into
    every block — the store flag is fixed here and inherited by appends
    and compactions, so live dirs are always internally consistent;
    phrase/proximity queries then verify on the index instead of
    re-tokenizing staged text (query/boolean.py positional path).
    """
    spark = transcripts.sparkSession
    n_partitions = n_partitions or spark.sparkContext.defaultParallelism
    store = IndexStore(root)
    store.ensure_dirs()
    stage_sec: dict[str, float] = {}
    t_last = time.perf_counter()

    def mark(name: str) -> None:
        nonlocal t_last
        now = time.perf_counter()
        stage_sec[name] = round(now - t_last, 3)
        t_last = now

    fresh_staged = None  # cache-backed staged frame (fresh builds only)
    cache_handle: list = []
    if not os.path.exists(store.meta_path):
        with_ids, n_docs = assign_docids_with_count(
            transcripts.select("conv_id", "turn_idx", "text"), n_partitions,
            unpersist_handle=cache_handle,
        )
        mark("assign_docids")
        # shard = query-time unit of docid-range co-location. Target ~128k
        # docs per shard (posting decode stays cache-friendly), but never
        # fewer shards than build partitions (query parallelism floor).
        # (A 4x-partitions floor was tried for file occupancy and
        # regressed build 17-40% at sf0.1 — more shards fragment every
        # cross-shard term's blocks; occupancy is solved in
        # write_segments by RANGE-partitioning instead.)
        n_shards_eff = n_shards or max(n_partitions, n_docs // 131072)
        shard_range = max(1, -(-n_docs // n_shards_eff))  # ceil div
        # pid = the docid-range partition the row already sits in (the
        # cached frame is range-partitioned by the docid order key), so
        # FRESH builds can SPIMI straight off the cache with no further
        # shuffle (r7; the old uniform docid//rows_per_pid grid never
        # aligned with the sampled partition bounds and forced a full
        # re-shuffle of every text byte). pid stays a plain recorded
        # column of staged — resume/repair/append group by its VALUE
        # (spimi_pending), so the derivation is free to change.
        # staged-write diet: stage RAW text + dl, not the token array —
        # the array re-encodes nearly every text byte plus offsets,
        # roughly doubling the one big non-scaling write of the build
        # (r1 scaling evidence: stage_write 1.4x for 4x cores). dl is
        # counted JVM-side here, AFTER the cache (computing it before
        # the range exchange re-ran the ~1 s/pass tokens_col projection
        # in the partitioner's sampling and shuffle-map passes — r7
        # measured 1.3 s -> 5.0 s assign regression before reverting);
        # the SPIMI kernel derives dl from its own token stream and
        # never reads this column.
        staged = with_ids.select(
            "docid", "conv_id", "turn_idx", "text"
        ).withColumn("dl", token_count_col("text")) \
            .withColumn("pid", F.spark_partition_id().cast("int"))
        # corpus stats observed DURING the staged write — no extra
        # aggregation job. sum_dl persists in meta so appends can update
        # stats incrementally (O(delta)) instead of re-scanning staged.
        from pyspark.sql import Observation

        obs = Observation("staged_stats")
        staged.observe(obs, F.sum("dl").alias("sum_dl")).write.mode(
            "overwrite"
        ).parquet(store.staged_path)
        sum_dl = int(obs.get["sum_dl"] or 0)
        mark("stage_write")
        store.write_meta(fresh_meta(
            n_docs=n_docs,
            avgdl=(sum_dl / n_docs) if n_docs else 0.0,
            sum_dl=sum_dl,
            shard_range=shard_range,
            n_partitions=n_partitions,
            n_shards=n_shards_eff,
            block_size=BLOCK_SIZE,
            positions=bool(positions),
            phase="staged",
        ))
        fresh_staged = staged
    meta = store.read_meta()

    # ---- SPIMI over pending partitions (resume = skip committed pids) ----
    if fresh_staged is not None:
        # FRESH fast path: every pid is pending and the cached frame is
        # already pid-partitioned and docid-sorted, so the kernel maps
        # straight over it — zero shuffle, no staged re-scan. Runs ONLY
        # after the phase="staged" meta commit above, so a crash mid-
        # kernel resumes exactly like before (manifests committed so
        # far are honored by spimi_pending on the retry).
        spimi_fn = _make_spimi_fn(store.root, int(meta["shard_range"]),
                                  frozenset(fail_partitions),
                                  positions=store.has_positions())
        try:
            (
                fresh_staged.select("pid", "docid", "text")
                .mapInArrow(spimi_fn, MANIFEST_SCHEMA_DDL)
                .count()
            )
        finally:
            for cached in cache_handle:  # fragments+staged supersede it
                cached.unpersist()
    else:
        for cached in cache_handle:
            cached.unpersist()
        spimi_pending(spark, store, int(meta["shard_range"]), n_partitions,
                      fail_pids=frozenset(fail_partitions))
    mark("spimi")

    # ---- merge -> term_stats + segments (next epoch), then the flip ----
    epoch = _write_epoch(store, meta, _merge_input(spark, store, meta),
                         int(meta["n_partitions"]), first_docid=0)
    mark("term_stats+compact_write")
    meta.update({
        **epoch,
        "retired_dirs": meta["segment_dirs"] + meta["term_stats_dirs"],
        "phase": "built",
    })
    meta["stage_sec"] = {**meta.get("stage_sec", {}), **stage_sec}
    _flip(store, meta)
    return store


def _write_epoch(store: IndexStore, meta: dict, frags: DataFrame,
                 n_partitions: int, first_docid: int) -> dict:
    """THE epoch writer (build, append and compaction all end here): turn
    the blocks `frags` into a fresh segments/term_stats dir pair for the
    next epoch. The blocks hold docids `first_docid` (0 for a full merge,
    the delta's first docid for an append) up to the last staged docid,
    which fixes the shard span `write_segments` spreads over its files.
    Returns the meta fields naming it — `epoch`, the two new dirs as
    one-element `segment_dirs`/`term_stats_dirs` lists, and
    `compacted_pids` — which the caller folds into its own meta (a full
    merge replaces the live lists, an append extends them) and publishes
    with `_flip`. Until then nothing points at the new dirs: a reader
    concurrent with the write serves the previous snapshot.

    term_stats and the segment merge are INDEPENDENT jobs over the same
    immutable blocks — submitted from two driver threads so the merge's
    tasks back-fill cores the tiny term_stats agg leaves idle (guide
    §2.6 overlap-independent-jobs)."""
    epoch = int(meta.get("epoch") or 0) + 1
    shard_range = int(meta["shard_range"])
    last_docid = max(count_rows(store.staged_path) - 1, first_docid)
    _run_overlapped(
        lambda: frags.filter(F.col("term") != DL_TERM)
        .groupBy("term").agg(F.sum("n").alias("df"))
        .write.mode("overwrite")
        .parquet(store.epoch_path("term_stats", epoch)),
        lambda: write_segments(frags, shard_range, n_partitions,
                               store.epoch_path("segments", epoch),
                               _bloom_scratch_path(store, epoch),
                               (first_docid // shard_range,
                                last_docid // shard_range)),
    )
    return {
        "epoch": epoch,
        "segment_dirs": [f"segments-{epoch:06d}"],
        "term_stats_dirs": [f"term_stats-{epoch:06d}"],
        "compacted_pids": sorted(store.done_partitions()),
    }


def _flip(store: IndexStore, meta: dict) -> None:
    """Publish `meta` — the one commit of build, append and compaction:
    the atomic meta write (one os.replace — readers resolve the old
    snapshot or the new one, never a torn table), then the GC of what it
    retired or covered, then the df memo of this root (df/N moved)."""
    from visionsearch_spark.query.wand import invalidate_term_df_memo

    store.write_meta(meta)
    store.gc_dirs()
    invalidate_term_df_memo(store.root)


def _bloom_scratch_path(store: IndexStore, epoch: int) -> str:
    """Scratch dir for kernel-written Bloom sidecars of one epoch's
    segment write — "_"-prefixed (invisible to dataset discovery),
    removed by attach_scratch_blooms; a crash in between leaves only an
    inert underscore dir the next epoch never reads."""
    return os.path.join(store.root, f"_bloomstage-{epoch:06d}")


def _run_overlapped(*thunks) -> None:
    """Run independent Spark actions from driver threads so one job's
    task tail back-fills executors the other leaves idle (guide §2.6).
    Job descriptions/groups are thread-local, so labels stay correct;
    exceptions re-raise in submission order."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futs = [pool.submit(t) for t in thunks]
        for f in futs:
            f.result()


def spimi_pending(spark: SparkSession, store: IndexStore, shard_range: int,
                  n_partitions: int,
                  fail_pids: frozenset[int] = frozenset(),
                  pending: DataFrame | None = None) -> bool:
    """Run the SPIMI stage over every staged pid WITHOUT a committed
    manifest (resume/repair/build all share this exact pipeline — a
    drifted copy silently diverges the repair path from the build path,
    hence ONE implementation). Returns True iff any pid was pending."""
    staged = spark.read.parquet(store.staged_path)
    if pending is None:
        done = store.done_partitions()
        pending = staged
        if done:
            pending = staged.filter(~F.col("pid").isin(sorted(done)))
    if pending.isEmpty():
        return False
    # the store-level positions flag (set once at build) decides whether
    # THIS run emits pos_bin — builds, appends and repairs all agree
    spimi_fn = _make_spimi_fn(store.root, shard_range, fail_pids,
                              positions=store.has_positions())
    (
        pending.select("pid", "docid", "text")
        .repartition(n_partitions, "pid")
        .sortWithinPartitions("pid", "docid")
        .mapInArrow(spimi_fn, MANIFEST_SCHEMA_DDL)
        .count()  # execute; manifests + fragments are the real output
    )
    return True


def _has_positions(pos_col: pa.Array | pa.ChunkedArray) -> bool:
    """True iff the TERM blocks of a merge input carry pos_bin (callers
    split the DL_TERM rows, always NULL, off first). A store's positions
    flag is fixed at build and inherited by every append and compaction,
    so its term blocks are all positional or all NULL; a mix is
    corruption, refused here rather than merged."""
    nulls = pos_col.null_count
    if 0 < nulls < len(pos_col):
        raise ValueError(
            f"{nulls} of {len(pos_col)} merge-input blocks have a NULL "
            "pos_bin: positional and positionless blocks mixed in one "
            "store — run fsck (index/fsck.py)")
    return nulls == 0 and len(pos_col) > 0


def _mask_blocks(hits: pa.RecordBatch, deny: np.ndarray,
                 shard_range: int,
                 lengths: DocLengths) -> list[pa.RecordBatch]:
    """Blocks with their `deny` docids dropped: every block
    decoded in one pass per payload column, masked, and re-encoded by
    _build_block_batches with ONE run key per input block. A block holds
    <= BLOCK_SIZE postings of one shard, so each survivor re-encodes
    byte-identically to per-block encode_docids/encode_varint/
    encode_positions of its kept postings, with min/max_docid, n, max_tf
    and min_dl (dl looked up in `lengths`, codec.doc_lengths of the
    shards' DL_TERM rows) recomputed; an emptied block vanishes and a
    NULL pos_bin stays NULL. DL_TERM blocks mask the same way, as a
    separate call: their tfs ARE the lengths and their pos_bin is NULL."""
    from visionsearch_spark.index.codec import (
        decode_blocks,
        decode_positions,
        decode_varint,
        gather_dl,
        payload,
    )

    ns = hits["n"].to_numpy().astype(np.int64)
    total = int(ns.sum())
    docids = decode_blocks(hits["docids_bin"], ns)
    tfs = decode_varint(payload(hits["tfs_bin"]), total).astype(np.int64)
    dls = gather_dl(lengths, docids)
    keep = deny[np.minimum(np.searchsorted(deny, docids), deny.size - 1)] \
        != docids
    pos_flat = None
    if _has_positions(hits["pos_bin"]):
        # positions are per-doc reset, so dropping whole docs keeps the
        # rest exact
        pos_flat = decode_positions(payload(hits["pos_bin"]), tfs)[
            np.repeat(keep, tfs)]
    run = np.repeat(np.arange(ns.size), ns)
    batches, _stats = _build_block_batches(
        run[keep], docids[keep], tfs[keep], dls[keep], shard_range,
        pos_flat=pos_flat,
        term_values=hits["term"].to_numpy(zero_copy_only=False),
    )
    return batches


def _mask_fragments(frags: DataFrame, tombstones: list[str],
                    shard_range: int,
                    n_tasks: int | None = None) -> DataFrame:
    """Drop the docids of the `tombstones` dirs from merge-input blocks
    (the purge half of index/deletes.py — compaction folds deletes into
    the new segments).

    Each task reads the deny set itself (store.tombstone_docids). The
    blocks move by shard, and DL_TERM sorts before every analyzer term,
    so the kernel sees its shards' DL_TERM rows before any term block.
    Blocks whose [min_docid, max_docid] range contains no dead docid —
    the overwhelming majority under realistic delete rates — pass
    through as an Arrow filter with ZERO decode/encode work; only
    intersecting blocks re-encode (`_mask_blocks`), DL_TERM blocks
    included, so a dead doc's length goes with its postings. Emptied
    blocks vanish (term df then falls out of the post-mask groupBy
    naturally)."""
    from visionsearch_spark.index.codec import dl_lookup, doc_lengths
    from visionsearch_spark.index.store import tombstone_docids

    in_cols = ["term", "min_docid", "max_docid", "n", "docids_bin",
               "tfs_bin", "max_tf", "min_dl", "pos_bin"]

    def mask_runs(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow.compute as pc

        deny = tombstone_docids(tombstones)
        dl_parts: list[pa.RecordBatch] = []
        lengths: DocLengths | None = None

        def masked(blocks: pa.RecordBatch) -> Iterator[pa.RecordBatch]:
            mins = blocks["min_docid"].to_numpy()
            maxs = blocks["max_docid"].to_numpy()
            if deny.size:
                lo = np.searchsorted(deny, mins)
                hit = (lo < deny.size) & (
                    deny[np.minimum(lo, deny.size - 1)] <= maxs
                )
            else:
                hit = np.zeros(blocks.num_rows, dtype=bool)
            if not hit.all():
                yield blocks.filter(pa.array(~hit)).cast(_FRAGMENT_PA_SCHEMA)
            if hit.any():
                yield from _mask_blocks(blocks.filter(pa.array(hit)), deny,
                                        shard_range, lengths)

        def dl_rows() -> Iterator[pa.RecordBatch]:
            # sort order: every DL_TERM row precedes the term blocks, so
            # the lengths are complete here
            nonlocal lengths
            lengths = dl_lookup(*(np.empty(0, dtype=np.int64),) * 2)
            if dl_parts:
                rows = pa.Table.from_batches(dl_parts).combine_chunks() \
                    .to_batches()[0]
                lengths = doc_lengths(rows)
                yield from masked(rows)

        for batch in batches:
            is_dl = pc.equal(batch["term"], DL_TERM)
            rows = batch.filter(is_dl).select(in_cols)
            if rows.num_rows:
                dl_parts.append(rows)
            blocks = batch.filter(pc.invert(is_dl)).select(in_cols)
            if not blocks.num_rows:
                continue
            if lengths is None:
                yield from dl_rows()
            yield from masked(blocks)
        if lengths is None:  # no term block came
            yield from dl_rows()

    n_tasks = n_tasks or frags.sparkSession.sparkContext.defaultParallelism
    return (
        frags.select(*in_cols)
        .repartition(n_tasks,
                     (F.col("min_docid") / F.lit(shard_range)).cast("long"))
        .sortWithinPartitions("term", "min_docid")
        .mapInArrow(mask_runs, SEGMENT_SCHEMA_DDL)
    )


def _merge_input(spark: SparkSession, store: IndexStore,
                 meta: dict) -> DataFrame:
    """The blocks a full merge (build_index, compact_store) rewrites: the
    live segment dirs plus the fragments of committed pids that meta's
    `compacted_pids` does not list — those exist only after a fresh
    build's SPIMI (whose meta lists no dir and no pid) or a crashed
    append that the caller just repaired. Live dirs are already purged
    of APPLIED tombstones, so the caller masks only pending ones."""
    uncovered = store.done_partitions() - set(meta["compacted_pids"])
    paths = store.segment_paths() \
        + [store.fragment_path(pid) for pid in sorted(uncovered)]
    if not paths:
        return spark.createDataFrame([], SEGMENT_SCHEMA_DDL)
    return spark.read.schema(SEGMENT_SCHEMA_DDL).parquet(*paths)


def compact_store(spark: SparkSession, root: str,
                  n_partitions: int | None = None) -> IndexStore:
    """Full compaction (the LSM maintenance job): merge the live segment
    dirs and any uncovered fragments (`_merge_input`) into ONE fresh
    segments/term_stats dir pair, fold pending tombstones, and flip the
    live-dir lists to it atomically. Appends are O(delta)
    (incremental.py) and accumulate one small dir each; run this
    periodically to restore single-dir scan locality. Superseded dirs
    are retired for one flip (in-flight readers), then GC'd; fragments
    the flip covers are GC'd at once."""
    store = IndexStore(root)
    meta = store.read_meta()
    n_partitions = n_partitions or int(meta["n_partitions"])
    for path in store.orphan_fragments():
        os.remove(path)  # uncommitted crash leftovers; staged re-SPIMI covers them
    # repair BEFORE merging: staged pids without a committed manifest
    # (crashed append/build) must be re-SPIMI'd here, not silently
    # dropped — a direct compact_store call on a crashed store would
    # otherwise flip phase to 'built' with those docs unsearchable
    # (r3 review finding; the orphan sweep above removed their torn
    # fragments, this regenerates them from the staged source of truth).
    repaired = spimi_pending(
        spark, store, int(meta["shard_range"]), n_partitions
    )
    frags = _merge_input(spark, store, meta)
    # FOLD TOMBSTONES (index/deletes.py): the live dirs are already purged
    # of applied tombstones, so only PENDING ones are masked; they leave
    # the query-time deny set at this flip (physically absent from the
    # new segments and excluded from stats).
    from visionsearch_spark.index.deletes import live_corpus_stats

    tombstones = store.tombstone_paths()
    if tombstones:
        frags = _mask_fragments(frags, tombstones, int(meta["shard_range"]))
    if repaired or meta.get("phase") == "appending" or tombstones:
        # stats in meta are stale after a crashed append or before a
        # fold — staged minus every tombstone is the truth, same rule as
        # _finish_append's repair. The phase check matters on its own: a
        # crash AFTER every SPIMI manifest committed but BEFORE the meta
        # flip leaves nothing pending yet stats still pre-append.
        n_docs, sum_dl = live_corpus_stats(spark, store,
                                           include_pending=False)
        meta.update({
            "n_docs": n_docs,
            "sum_dl": sum_dl,
            "avgdl": (sum_dl / n_docs) if n_docs else 0.0,
        })
    epoch = _write_epoch(store, meta, frags, n_partitions, first_docid=0)
    meta.update({
        **epoch,
        "retired_dirs": meta["segment_dirs"] + meta["term_stats_dirs"],
        "phase": "built",
    })
    if meta.get("tombstone_dirs"):
        meta["applied_tombstone_dirs"] = (
            (meta.get("applied_tombstone_dirs") or [])
            + meta["tombstone_dirs"]
        )
        meta["tombstone_dirs"] = []
    _flip(store, meta)
    return store


def write_segments(blocks: DataFrame, shard_range: int, n_partitions: int,
                   path: str, bloom_scratch: str,
                   shards: tuple[int, int]) -> None:
    """THE segment write (called only by `_write_epoch`): merge `blocks`
    with `_compact_segments` and write one file per partition of its
    output, with one term Bloom sidecar per file. ONE FILE PER PARTITION
    is a correctness invariant, not a perf preference — the query fast
    path assigns whole FILES to tasks and relies on each file holding
    complete shards (PLANS.md §17); a deployment-level maxRecordsPerFile
    would silently split a shard's term blocks across files and turn
    per-task sums partial. Build, compaction and append all reach it
    through the one epoch writer, so the invariant cannot drift.

    Partitioning/order contract (established by the _compact_segments
    call below, the one exchange between the blocks and the files):
      * each partition takes a CONTIGUOUS run of the span `shards`
        (min_shard, max_shard), computed from the shard span alone:
        equal shards stay together (shard-complete files hold), and with
        at least as many shards as partitions every partition fills.
        The map is a pure function of (span, n_partitions), so the same
        blocks always land in the same files — no sampled bounds.
      * WITHIN each file rows sort TERM-FIRST with bounded row groups
        (8 MB): row-group statistics on the term column then cover
        narrow term ranges, so a query's term-IN filter PRUNES row
        groups instead of merely post-filtering rows. File completeness
        comes from the partitioning alone; the in-file order serves the
        read path. Trade-off: LocalSearcher(shards=...) per-shard loads
        scan more row groups — a once-per-process load, vs pruning on
        every query."""
    import shutil

    from visionsearch_spark.index.bloom import attach_scratch_blooms

    # clear BEFORE the write job starts: a crashed previous attempt may
    # have run over other blocks or another partition count, and pairing
    # its stale filter with a fresh part file would be a FALSE-NEGATIVE
    # bloom — wrong pruning, wrong results. Empty scratch + rerun is
    # always safe: this run's tasks repopulate it.
    shutil.rmtree(bloom_scratch, ignore_errors=True)
    (
        _compact_segments(blocks, shard_range, shards, n_tasks=n_partitions,
                          bloom_scratch=bloom_scratch)
        .write.option("maxRecordsPerFile", 0)
        .option("parquet.block.size", 8 * 1024 * 1024)
        .mode("overwrite")
        .parquet(path)
    )
    # per-file term Bloom sidecars (planner file pruning; index/bloom.py):
    # the compaction kernel runs in THIS write's stage and sees every
    # term of its partition anyway, so it wrote each partition's filter
    # to the scratch dir; pair them with the part files (part number ==
    # partition id) instead of re-reading the fresh segments in a second
    # Spark job. The attach runs before the meta flip, so a crash
    # part-way through it leaves an epoch no meta names; the rerun
    # writes that epoch again from a cleared scratch dir.
    attach_scratch_blooms(path, bloom_scratch)


def _compact_segments(frags: DataFrame, shard_range: int,
                      shards: tuple[int, int],
                      n_tasks: int | None = None,
                      bloom_scratch: str | None = None) -> DataFrame:
    """Re-chunk per (term, shard): fragment blocks of one term never overlap
    in docid and never cross shard boundaries, so compaction is
    concat-in-min_docid-order + re-chunk to BLOCK_SIZE (a metadata-level
    merge, never a posting-level merge sort). The input is
    `_merge_input`'s blocks (build, compaction) or an append's delta
    fragments; write_segments is its one production caller.

    Partitioned by contiguous runs of the shard span `shards` —
    min(n_tasks, span) partitions, shard s in partition
    (s - lo) * n_parts // span, each routed to its own partition by a
    `wand._route_keys` key — and sorted (term, shard, min_docid), so the
    kernel's output leaves each partition already in final file order
    and write_segments writes it with NO second exchange.

    The kernel is fully vectorized (r7): ALL blocks of the partition are
    varint-decoded in one pass each (LEB128 streams concatenate), merged
    runs are re-cut and re-encoded by the same batch builder the SPIMI
    flush uses — byte-identical output to the old per-run loop, with no
    per-run or per-block Python. The DL_TERM rows (sorted first) are
    split off before any tf or positions decode: they re-cut into
    `_dl_batches` and give the term blocks' min_dl (codec.gather_dl).
    pos_bin is decoded and re-cut the same way when the store is
    positional; an input mixing positional and NULL term blocks raises
    (`_has_positions`).

    bloom_scratch: each kernel task ALSO writes its partition's term
    Bloom filter to `{bloom_scratch}/pid-NNNNN.bin` — the partition's
    distinct terms are already in hand as the sorted run boundaries, and
    because write_segments emits ONE file per partition in the SAME
    stage (part file number == partition id), the sidecars cost no
    re-read of the fresh segments (guide §1.2 step 1: remove a pass).
    write_segments attaches the scratch filters to the final file names
    after the write commits. Atomic per attempt (tmp+replace);
    retried/speculative attempts rewrite identical bytes, so last-wins
    is safe. None (a kernel run with no write) writes no filters."""
    from visionsearch_spark.index.codec import (
        decode_blocks,
        decode_positions,
        decode_varint,
        doc_lengths,
        gather_dl,
        payload,
    )
    from visionsearch_spark.query.wand import _route_keys

    in_cols = ["term", "min_docid", "max_docid", "n", "docids_bin",
               "tfs_bin", "max_tf", "min_dl", "pos_bin", "shard"]

    def compact_runs(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow.compute as pc

        got = list(batches)
        if not got:
            return
        tbl = pa.Table.from_batches(got).select(in_cols)
        if not tbl.num_rows:
            return
        # DL_TERM sorts before every term: its rows lead the partition
        n_dl = int(pc.sum(pc.equal(tbl["term"], DL_TERM)).as_py() or 0)
        lengths = doc_lengths(tbl.slice(0, n_dl))
        tbl = tbl.slice(n_dl)
        out_batches = _dl_batches(lengths.docids, lengths.dls, shard_range,
                                  with_shard=True)
        run_terms = np.zeros(0, dtype=object)
        if tbl.num_rows:
            terms_b = tbl["term"]
            shards_b = tbl["shard"].to_numpy()
            ns = tbl["n"].to_numpy().astype(np.int64)  # always >= 1
            total = int(ns.sum())
            # one decode per payload column for the WHOLE partition
            docids = decode_blocks(tbl["docids_bin"], ns)
            tfs = decode_varint(payload(tbl["tfs_bin"]),
                                total).astype(np.int64)
            # (term, shard) runs -> int keys; builder cuts on key+shard
            runc = np.ones(ns.size, dtype=bool)
            runc[1:] = pc.not_equal(terms_b[1:], terms_b[:-1]).to_numpy() \
                | (shards_b[1:] != shards_b[:-1])
            run_id_b = np.cumsum(runc) - 1
            run_terms = terms_b.filter(pa.array(runc)).to_numpy()
            term_keys = np.repeat(run_id_b, ns)

            pos_flat = None
            if _has_positions(tbl["pos_bin"]):
                pos_flat = decode_positions(payload(tbl["pos_bin"]), tfs)
            out_batches += _build_block_batches(
                term_keys, docids, tfs, gather_dl(lengths, docids),
                shard_range, pos_flat=pos_flat, with_shard=True,
                term_values=run_terms,
            )[0]
        if bloom_scratch is not None:
            from visionsearch_spark.index.bloom import write_partition_bloom

            # distinct terms of this partition = run boundaries of the
            # (term, shard)-sorted run_terms (a term repeats per shard),
            # plus DL_TERM: the filter covers every term of the file
            uniq = np.ones(run_terms.size, dtype=bool)
            if run_terms.size > 1:
                uniq[1:] = run_terms[1:] != run_terms[:-1]
            write_partition_bloom(
                bloom_scratch,
                ([DL_TERM] if n_dl else []) + run_terms[uniq].tolist())
        yield from out_batches

    n_tasks = n_tasks or frags.sparkSession.sparkContext.defaultParallelism
    lo, hi = shards
    span = hi - lo + 1
    n_parts = max(1, min(n_tasks, span))
    part = F.least(F.greatest(
        F.expr(f"(shard - {lo}) * {n_parts} div {span}"),
        F.lit(0)), F.lit(n_parts - 1))
    route = F.array(*[F.lit(k).cast("long") for k in _route_keys(n_parts)])
    return (
        frags.withColumn(
            "shard", (F.col("min_docid") / F.lit(shard_range)).cast("long")
        )
        .withColumn("route_key", F.element_at(route, (part + 1).cast("int")))
        .repartition(n_parts, "route_key")
        .drop("route_key")
        .sortWithinPartitions("term", "shard", "min_docid")
        .mapInArrow(compact_runs, SEGMENT_SCHEMA_DDL + ", shard long")
    )
