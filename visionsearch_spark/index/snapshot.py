"""Point-in-time store snapshots via hardlinks — O(files) metadata work
regardless of index size, because every data file in the store is
IMMUTABLE once committed (LSM epochs, staged parquet parts, fragments,
tombstones; only meta.json ever changes, by atomic replace).

`snapshot_store(src, dst)` produces an independent, fully functional
store: queryable, appendable, compactable, deletable — divergence is
free because mutation never rewrites shared files (appends ADD files,
compaction writes NEW dirs and only unlinks the source's own names;
hardlinked content survives either side's GC). On filesystems without
hardlink support (or across devices) it falls back to copying.

Consistency: meta.json is read FIRST (the atomic snapshot pointer) and
written into the clone LAST. Files that appear in `staged` after the
meta read belong to an in-flight append; if any get linked, the clone
is simply in the crashed-append state (phase stays consistent because
the cloned meta predates the append's meta flip... a concurrent append
flips meta only after its staged write, and we cloned the OLD meta), so
the clone's next incremental_build repairs or ignores them exactly like
a crash. The reference has no snapshot story (its index is a pair of
files overwritten in place, `aisearch/core.py:44-56`); an LSM layout
gets snapshots for the cost of a directory walk.
"""

from __future__ import annotations

import json
import os
import shutil


def _link_or_copy(src: str, dst: str) -> None:
    try:
        os.link(src, dst)
    except OSError:  # cross-device / unsupported fs: degrade to copy
        shutil.copy2(src, dst)


def _clone_tree(src: str, dst: str) -> int:
    """Recreate src's directory tree under dst, hardlinking every file.
    Returns the number of files linked."""
    n = 0
    for root, _dirs, files in os.walk(src):
        rel = os.path.relpath(root, src)
        out = dst if rel == "." else os.path.join(dst, rel)
        os.makedirs(out, exist_ok=True)
        for f in files:
            _link_or_copy(os.path.join(root, f), os.path.join(out, f))
            n += 1
    return n


def snapshot_store(src_root: str, dst_root: str) -> dict:
    """Snapshot the store at src_root into dst_root (must not exist).
    Returns {"files": n, "dirs": [...]} for logging. The snapshot is
    crash-safe on its own terms: dst is built under a .tmp name and
    renamed into place, so a killed snapshot never leaves a dst that
    looks complete."""
    from visionsearch_spark.index.store import IndexStore

    src = IndexStore(src_root)
    if not os.path.exists(src.meta_path):
        raise FileNotFoundError(f"no store at {src_root} (meta.json missing)")
    if os.path.exists(dst_root):
        raise FileExistsError(f"snapshot target exists: {dst_root}")
    with open(src.meta_path) as f:
        meta = json.load(f)  # the atomic snapshot pointer, read FIRST

    tmp = dst_root + ".snapshot-tmp"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    os.makedirs(tmp)
    wanted = {"staged", "fragments", "manifest"}
    wanted |= set(meta.get("segment_dirs") or [])
    wanted |= set(meta.get("term_stats_dirs") or [])
    wanted |= set(meta.get("tombstone_dirs") or [])
    wanted |= set(meta.get("applied_tombstone_dirs") or [])
    # sidecar tables written beside the epochs (doc_bounds, ANN indexes)
    # travel too: skip ONLY epoch/tombstone dirs the meta doesn't
    # reference (retired or mid-GC leftovers); everything else is live
    epoch_prefixes = ("segments-", "term_stats-", "tombstones-")
    skip = {
        name for name in os.listdir(src_root)
        if name.startswith(epoch_prefixes) and name not in wanted
    }
    n_files = 0
    dirs = []
    for name in sorted(os.listdir(src_root)):
        p = os.path.join(src_root, name)
        if name == "meta.json" or name in skip:
            continue
        if os.path.isdir(p):
            n_files += _clone_tree(p, os.path.join(tmp, name))
            dirs.append(name)
        else:
            _link_or_copy(p, os.path.join(tmp, name))
            n_files += 1
    # meta LAST: a reader of the finished snapshot sees a complete store
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    os.rename(tmp, dst_root)
    return {"files": n_files, "dirs": dirs}


def main(argv: list[str] | None = None) -> int:
    import argparse

    ap = argparse.ArgumentParser(
        description="hardlink point-in-time snapshot of an index store")
    ap.add_argument("src")
    ap.add_argument("dst")
    args = ap.parse_args(argv)
    info = snapshot_store(args.src, args.dst)
    print(json.dumps({"ok": True, **info}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
