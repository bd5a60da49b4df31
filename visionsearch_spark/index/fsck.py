"""Store integrity checker (fsck): verify every on-disk invariant the
query paths rely on, from parquet METADATA only — no Spark session, no
posting decode; runs in seconds on stores whose segments hold terabytes.

Checked invariants (each one is load-bearing for a specific path):

  meta        the layout stamp is store.LAYOUT (any other layout is an
              error that asks for reindex — the only migration),
              phase == "built", required stat keys present, every live /
              tombstone dir listed in meta exists on disk, pending and
              applied tombstone lists are disjoint. (Everything reads
              through meta; a torn flip would surface here.)
  stats       n_docs == staged rows − applied-tombstone rows and
              avgdl == sum_dl / n_docs: the purge fold keeps meta stats
              equal to the live corpus; BM25 idf/length-norm are wrong
              everywhere if this drifts. Staged docids must be 0..N−1
              (unique + contiguous — verified from footer stats alone);
              a collision would corrupt every posting list that cites it.
  segments    within each live dir, per-file (shard_lo, shard_hi) footer
              intervals are pairwise DISJOINT — the segment-write
              invariant (one shard's postings complete in one file) that
              makes whole-file task assignment exact on the zero-shuffle
              fast path (wand._partial_scores). A violated interval
              means per-partition scores are partial and top-k silently
              wrong: the single worst corruption this store can have.
  epochs      segments and term_stats live lists are the same length
              (each epoch writes the pair together), and no dir is both
              live and retired.
  manifests   every staged pid has a committed manifest; pids without
              one are crash leftovers (repairable by the next
              incremental_build — reported as a WARNING, not an error).
  fragments   every committed pid NOT in meta `compacted_pids` has its
              fragment file — the next merge reads its postings from
              there and nowhere else (missing = ERROR: those docs would
              vanish). A fragment of a compacted pid is a GC leftover
              (crash between the meta flip and IndexStore.gc_dirs) —
              a WARNING; the next flip deletes it.
  tombstones  no docid appears in both pending and applied sets; every
              tombstoned docid exists in the docmap (a dangling
              tombstone signals id reuse — fatal for delete masking).
  blooms      every segment file's Bloom sidecar loads (absent is legal
              — pruning just skips; unreadable is a WARNING).

Returns {check: {"ok": bool, "warnings": [...], "errors": [...]}};
`fsck(root, strict=True)` raises StoreCorruption on any error.
Reference parity: the reference has no integrity tooling — its recovery
story is "rebuild" (`aisearch/core.py:44-56`); an LSM store with crash
repair needs a checkable contract instead.
"""

from __future__ import annotations

import json
import os

import numpy as np

from visionsearch_spark.index.codec import fixed_values
from visionsearch_spark.index.store import (
    IndexStore,
    count_rows,
    parquet_files,
    read_columns,
)


class StoreCorruption(RuntimeError):
    pass


def _docid_set(paths: list[str]) -> np.ndarray:
    if not paths:
        return np.empty(0, dtype=np.int64)
    return np.unique(fixed_values(
        read_columns(paths, ["docid"])["docid"]).astype(np.int64))


def fsck(root: str, strict: bool = False) -> dict:
    import pyarrow.parquet as pq

    store = IndexStore(root)
    report: dict[str, dict] = {}

    def check(name):
        rec = {"ok": True, "warnings": [], "errors": []}
        report[name] = rec
        return rec

    def err(rec, msg):
        rec["ok"] = False
        rec["errors"].append(msg)

    # ---- meta ----------------------------------------------------------
    rec = check("meta")
    if not os.path.exists(store.meta_path):
        err(rec, "meta.json missing")
        _finish(report, strict)
        return report
    try:
        meta = store.read_meta()
    except ValueError as e:  # another layout: nothing below applies
        err(rec, str(e))
        _finish(report, strict)
        return report
    if meta.get("phase") != "built":
        rec["warnings"].append(
            f"phase={meta.get('phase')!r}: an append is in flight or "
            "crashed (repairable by the next incremental_build)")
    for key in ("n_docs", "avgdl", "sum_dl", "shard_range", "n_partitions"):
        if key not in meta:
            err(rec, f"meta missing required key {key!r}")
    pend = set(store.tombstone_paths())
    appl = set(store.tombstone_paths(applied=True))
    if pend & appl:
        both = {os.path.relpath(p, root) for p in pend & appl}
        err(rec, f"tombstone dirs both pending and applied: {both}")
    for p in (store.segment_paths() + store.term_stats_paths()
              + sorted(pend | appl)):
        if not os.path.isdir(p):
            err(rec, f"meta references missing dir "
                     f"{os.path.relpath(p, root)!r}")
    if not rec["ok"]:
        _finish(report, strict)
        return report

    # ---- stats ---------------------------------------------------------
    rec = check("stats")
    staged_rows = count_rows(store.staged_path)
    applied_rows = sum(count_rows(p) for p in sorted(appl))
    live_rows = staged_rows - applied_rows
    if int(meta["n_docs"]) != live_rows:
        err(rec, f"meta n_docs={meta['n_docs']} != staged − applied = "
                 f"{staged_rows} − {applied_rows} = {live_rows}")
    if int(meta["n_docs"]) > 0:
        want = float(meta["sum_dl"]) / float(meta["n_docs"])
        if abs(want - float(meta["avgdl"])) > 1e-9 * max(1.0, want):
            err(rec, f"avgdl={meta['avgdl']} != sum_dl/n_docs={want}")
    # docid space: build assigns 0..N−1 and appends continue from max+1,
    # so (min == 0) ∧ (max − min + 1 == rows) ⇔ unique AND contiguous —
    # checked from row-group footer stats alone (O(files), no data read)
    lo, hi = None, None
    for p in parquet_files(store.staged_path):
        md = pq.ParquetFile(p).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(idx["docid"]).statistics
            if st is None or not st.has_min_max:
                continue
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
    if lo is not None:
        if lo != 0:
            err(rec, f"staged docids start at {lo}, expected 0")
        if hi - lo + 1 != staged_rows:
            err(rec, f"staged docid span {hi - lo + 1} != row count "
                     f"{staged_rows} (duplicate or missing docids)")

    # ---- segments: the fast-path file invariant -------------------------
    # the load-bearing property is "every shard's blocks are COMPLETE in
    # exactly one file of its dir". Footer (min,max) intervals are only
    # a proxy, so compare the actual per-file shard SETS: one int32
    # column read per file, O(block rows) — segments hold block
    # summaries, not postings, so this stays cheap even when the
    # postings are terabytes. It is the query path's safety net: a
    # violation is the one corruption that silently truncates scores.
    rec = check("segments")
    for d in store.segment_paths():
        seen: dict[int, str] = {}
        for p in parquet_files(d):
            col = pq.read_table(p, columns=["shard"]).column("shard")
            for s in np.unique(np.asarray(col, dtype=np.int64)).tolist():
                if s in seen:
                    err(rec, f"{os.path.basename(d)}: shard {s} split "
                             f"across {seen[s]} and {os.path.basename(p)}"
                             " — whole-file task scores are PARTIAL; "
                             "rebuild this dir via compact_store")
                else:
                    seen[s] = os.path.basename(p)

    # ---- positions sidecar column (positional stores only) ---------------
    if meta.get("positions"):
        rec = check("positions")
        from visionsearch_spark.index.codec import (
            decode_positions,
            decode_varint,
        )

        for d in store.segment_paths():
            for p in parquet_files(d):
                pf = pq.ParquetFile(p)
                md = pf.metadata
                idx = {md.schema.column(i).name: i
                       for i in range(md.num_columns)}
                if "pos_bin" not in idx:
                    err(rec, f"{os.path.basename(p)}: positional store "
                             "but no pos_bin column — rebuild via "
                             "compact_store")
                    continue
                nulls = sum(
                    md.row_group(g).column(idx["pos_bin"]).statistics
                    .null_count
                    for g in range(md.num_row_groups)
                    if md.row_group(g).column(idx["pos_bin"]).statistics
                    is not None
                )
                if nulls:
                    err(rec, f"{os.path.basename(p)}: {nulls} block(s) "
                             "with NULL pos_bin in a positional store")
                    continue
                # one decoded block per file: positions align with tfs
                # (occurrence counts) and stay below the doc length
                head = pf.read_row_group(
                    0, columns=["n", "tfs_bin", "dls_bin", "pos_bin"]
                ).slice(0, 1).to_pylist()
                if head:
                    row = head[0]
                    tf = decode_varint(row["tfs_bin"],
                                       int(row["n"])).astype(np.int64)
                    try:
                        pos = decode_positions(row["pos_bin"], tf)
                    except Exception as e:  # torn payload
                        err(rec, f"{os.path.basename(p)}: pos_bin does "
                                 f"not decode ({e})")
                        continue
                    dl = decode_varint(row["dls_bin"],
                                       int(row["n"])).astype(np.int64)
                    if pos.size and (pos >= np.repeat(dl, tf)).any():
                        err(rec, f"{os.path.basename(p)}: position >= "
                                 "doc length in first block")

    # ---- epochs ----------------------------------------------------------
    rec = check("epochs")
    n_seg = len(store.segment_paths())
    n_ts = len(store.term_stats_paths())
    if n_seg != n_ts:
        err(rec, f"{n_seg} live segment dirs vs {n_ts} term_stats dirs "
                 "(epochs write the pair together)")
    live = set(meta["segment_dirs"]) | set(meta["term_stats_dirs"])
    retired = set(meta.get("retired_dirs") or [])
    if live & retired:
        err(rec, f"dirs both live and retired: {live & retired}")

    # ---- manifests -------------------------------------------------------
    rec = check("manifests")
    staged_pids = set(fixed_values(
        read_columns([store.staged_path], ["pid"])["pid"]).tolist())
    missing = staged_pids - store.done_partitions()
    if missing:
        rec["warnings"].append(
            f"{len(missing)} staged pid(s) without a committed manifest "
            f"(crash leftover; next incremental_build repairs): "
            f"{sorted(missing)[:8]}")

    # ---- fragments: the merge input no live dir covers --------------------
    rec = check("fragments")
    covered = set(meta["compacted_pids"])
    on_disk = {pid for pid, _p in store.fragment_files()}
    lost = store.done_partitions() - covered - on_disk
    if lost:
        err(rec, f"{len(lost)} committed pid(s) not in compacted_pids "
                 f"without a fragment — their postings are in no live dir "
                 f"and the next merge would drop them: {sorted(lost)[:8]}")
    leftover = on_disk & covered
    if leftover:
        rec["warnings"].append(
            f"{len(leftover)} fragment(s) of compacted pid(s) (GC "
            f"leftover; the next meta flip deletes them): "
            f"{sorted(leftover)[:8]}")

    # ---- tombstones ------------------------------------------------------
    rec = check("tombstones")
    dead_p = _docid_set(sorted(pend))
    dead_a = _docid_set(sorted(appl))
    both = np.intersect1d(dead_p, dead_a)
    if both.size:
        err(rec, f"{both.size} docid(s) tombstoned as BOTH pending and "
                 f"applied (first: {both[:5].tolist()})")
    dead = np.union1d(dead_p, dead_a)
    if dead.size:
        known = _docid_set([store.docmap_path])
        dangling = np.setdiff1d(dead, known)
        if dangling.size:
            err(rec, f"{dangling.size} tombstoned docid(s) absent from "
                     f"the docmap (first: {dangling[:5].tolist()})")

    # ---- blooms ----------------------------------------------------------
    rec = check("blooms")
    from visionsearch_spark.index import bloom

    n_files = n_missing = 0
    for d in store.segment_paths():
        for p in parquet_files(d):
            n_files += 1
            if bloom.load_bloom(p) is None:  # absent/invalid: prune skips
                n_missing += 1
    if n_missing:
        rec["warnings"].append(
            f"{n_missing}/{n_files} segment file(s) without a usable "
            "Bloom sidecar — term pruning skips them (correct but "
            "unpruned); compact_store rewrites sidecars")

    _finish(report, strict)
    return report


def _finish(report: dict, strict: bool) -> None:
    errors = [f"{name}: {e}" for name, rec in report.items()
              for e in rec["errors"]]
    if strict and errors:
        raise StoreCorruption("; ".join(errors))


def store_report(root: str) -> dict:
    """Operational introspection — sizes, live-dir shape, delete load —
    from directory metadata only (no parquet reads, no Spark). The
    /healthz payload and the capacity-planning numbers an operator
    watches: live-dir count approaching the compaction threshold, bytes
    by component, pending tombstones awaiting a fold."""
    store = IndexStore(root)
    meta = store.read_meta()
    pend, appl = store.tombstone_paths(), store.tombstone_paths(applied=True)

    def du(path: str) -> tuple[int, int]:
        files = bytes_ = 0
        for r, _d, fs in os.walk(path):
            for f in fs:
                files += 1
                try:
                    bytes_ += os.path.getsize(os.path.join(r, f))
                except OSError:
                    pass
        return files, bytes_

    comp = {}
    for name, paths in (
        ("staged", [store.staged_path]),
        ("segments", store.segment_paths()),
        ("term_stats", store.term_stats_paths()),
        ("fragments", [store.fragments_dir]),
        ("tombstones", pend + appl),
    ):
        f = b = 0
        for p in paths:
            if os.path.isdir(p):
                df_, db_ = du(p)
                f += df_
                b += db_
        comp[name] = {"files": f, "bytes": b}
    return {
        "phase": meta.get("phase"),
        "epoch": store.current_epoch(),
        "n_docs": meta.get("n_docs"),
        "avgdl": meta.get("avgdl"),
        "shard_range": meta.get("shard_range"),
        "live_segment_dirs": len(meta["segment_dirs"]),
        "pending_tombstone_dirs": len(pend),
        "applied_tombstone_dirs": len(appl),
        "components": comp,
    }


def main(argv: list[str] | None = None) -> int:
    import argparse

    ap = argparse.ArgumentParser(
        description="verify index-store invariants (no Spark needed)")
    ap.add_argument("root")
    ap.add_argument("--json", action="store_true", help="machine output")
    args = ap.parse_args(argv)
    report = fsck(args.root)
    ok = all(rec["ok"] for rec in report.values())
    if args.json:
        print(json.dumps({"ok": ok, "checks": report}))
    else:
        for name, rec in report.items():
            flag = "OK  " if rec["ok"] else "FAIL"
            print(f"{flag} {name}")
            for w in rec["warnings"]:
                print(f"     warn: {w}")
            for e in rec["errors"]:
                print(f"     ERROR: {e}")
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
