"""Correctness gate: oracle comparisons and cross-path comparisons.

Every check counts toward the run's attempted operations; a mismatch or an
exception counts as a failed one.
"""

from __future__ import annotations

from collections import Counter

from visionsearch_spark.oracle import build_oracle_index, oracle_search


class Gate:
    """Counts operations and checks; remembers the first few failures."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.checks: Counter = Counter()
        self.errors: list[str] = []

    def op(self, ok: bool = True, what: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.fail(what)
        return ok

    def check(self, kind: str, ok: bool, what: str = "") -> bool:
        self.checks[kind] += 1
        return self.op(ok, f"{kind}: {what}")

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 5:
            self.errors.append(what)


def keyed(rows) -> list[tuple[str, int, float]]:
    """(conv_id, turn_idx, score rounded to 6 places) per hit."""
    return [(str(c), int(t), round(float(s), 6)) for c, t, s in rows]


def same_with_ties(a, b, k: int) -> bool:
    """Two top-k lists agree on scores, and on hit sets within each score;
    the boundary score group of a full list may hold different members of
    the same tie (paths break ties differently: by conv key or by docid)."""
    a, b = keyed(a), keyed(b)
    if [s for *_, s in a] != [s for *_, s in b]:
        return False
    groups_a, groups_b = {}, {}
    for groups, rows in ((groups_a, a), (groups_b, b)):
        for c, t, s in rows:
            groups.setdefault(s, set()).add((c, t))
    last = a[-1][2] if a else None
    return all(groups_a[s] == groups_b[s] for s in groups_a
               if not (s == last and len(a) == k))


class Oracle:
    """Exhaustive BM25 over `stats_rows` (the rows the index statistics
    count: live rows plus tombstoned rows not yet folded by a compaction),
    returning only hits among the live ones."""

    def __init__(self, live_rows, dead_rows=()):
        rows = sorted([(c, t, x, True) for c, t, x in live_rows]
                      + [(c, t, x, False) for c, t, x in dead_rows],
                      key=lambda r: (r[0], r[1]))
        # build_oracle_index sorts by the same key stably, so its docid i
        # is row i here
        self.live = [r[3] for r in rows]
        self.all_live = all(self.live)
        self.idx = build_oracle_index([r[:3] for r in rows])

    def search(self, query: str, k: int) -> list[tuple[str, int, float]]:
        if self.all_live:
            hits = oracle_search(self.idx, query, k=k)
        else:
            hits = [h for h in oracle_search(self.idx, query,
                                             k=self.idx.n_docs)
                    if self.live[h[0]]][:k]
        return [(c, t, s) for _d, c, t, s in hits]
