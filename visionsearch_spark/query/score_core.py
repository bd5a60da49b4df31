"""The one scoring core: per-doc score sums, masks, collapse and cuts.

The Spark kernel (query/wand.py), LocalSearcher and ShardedSearcher
(query/serving.py) and the /explain total (query/explain.py) all score
through these functions; oracle.py stays the reference they must match.

Summation rule: a doc's score is the LEFT-TO-RIGHT float64 sum of its
per-term contributions in term-rank order (sorted unique query terms),
starting from 0.0 — the oracle's `s += idf * tf_weight` loop. Both
branches of `accumulate` sum with `np.bincount`, which adds its weights
in input order, over the per-term postings concatenated in rank order.
The dense branch bins by docid over the docid span; the sparse branch
stable-sorts the postings by docid (each doc's contributions keep their
rank order) and bins by run. Never sum scores
with `np.add.reduceat` or `np.sum`: numpy switches those to pairwise
summation at 8 elements, which can change the last ulp and the ranking.

Import rule: numpy only. The serving process (tests/test_serving_lean.py)
and Spark executors both import this module.
"""

from __future__ import annotations

import numpy as np

# accumulate() bins over docids 0..max (a store's docids are dense from
# 0) when that span is under DENSE_MIN_SPAN slots or under
# DENSE_SPAN_PER_POSTING slots per posting, else it sorts the postings.
# Measured with numpy 1.26 on a 4-vCPU host: the dense scatter costs
# about 1.2 ns per slot, the stable sort about 20 µs plus 30-40 ns per
# posting. Dense wins at every density up to 16k slots and stays within
# 10 µs of the sort at 32k; over 64k-1M spans the sort wins from about 8
# slots per posting up.
DENSE_MIN_SPAN = 1 << 15
DENSE_SPAN_PER_POSTING = 8


def check_threshold(threshold: float) -> float:
    """The score floor every ranked doc must exceed. BM25 scores are > 0,
    so a negative (or NaN) floor has no meaning: below 0 an exhaustive
    scorer would rank unmatched docs at 0.0, a postings scorer would not."""
    if not threshold >= 0:
        raise ValueError(f"threshold must be >= 0, got {threshold!r}")
    return float(threshold)


def accumulate(postings: list[tuple[np.ndarray, np.ndarray]],
               threshold: float) -> tuple[np.ndarray, np.ndarray]:
    """(docids ascending, scores) of every doc whose summed score exceeds
    `threshold`. postings: per-term (docids, contributions) pairs in
    term-rank order; a doc's score is the left-to-right sum of its
    contributions in that order (module docstring)."""
    threshold = check_threshold(threshold)
    d = np.concatenate([np.zeros(0, dtype=np.int64)]
                       + [p[0] for p in postings])
    c = np.concatenate([np.zeros(0)] + [p[1] for p in postings])
    if not d.size:
        return d, c
    span = int(d.max()) + 1
    if span <= max(DENSE_MIN_SPAN, DENSE_SPAN_PER_POSTING * d.size):
        scores = np.bincount(d, weights=c)
        hit = np.flatnonzero(scores > threshold)
        return hit, scores[hit]
    order = np.argsort(d, kind="stable")  # keeps each doc's rank order
    d = d[order]
    first = np.concatenate(([True], d[1:] != d[:-1]))
    scores = np.bincount(np.cumsum(first) - 1, weights=c[order])
    hit = scores > threshold
    return d[first][hit], scores[hit]


def _member(sorted_set: np.ndarray, docids: np.ndarray) -> np.ndarray:
    if not sorted_set.size:
        return np.zeros(docids.size, dtype=bool)
    pos = np.minimum(np.searchsorted(sorted_set, docids), sorted_set.size - 1)
    return sorted_set[pos] == docids


def admit(docids: np.ndarray, scores: np.ndarray,
          deny: np.ndarray | None = None, allow: np.ndarray | None = None
          ) -> tuple[np.ndarray, np.ndarray]:
    """The (docids, scores) rows whose docid is not in `deny` (tombstones)
    and, when an allow-list is given, is in `allow` (a metadata filter;
    an EMPTY allow admits nothing). Both sets are sorted unique docids.
    Masks apply before any cut, so the cut stays exact."""
    if deny is not None and deny.size:
        keep = ~_member(deny, docids)
        docids, scores = docids[keep], scores[keep]
    if allow is not None:
        keep = _member(allow, docids)
        docids, scores = docids[keep], scores[keep]
    return docids, scores


def collapse(keys: np.ndarray, scores: np.ndarray, reps: np.ndarray
             ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Group rows by key: (keys ascending, max score per key, min
    representative per key). Max-collapse commutes with the threshold
    and with the masks, so it may run after both."""
    if not keys.size:
        return keys, scores, reps
    order = np.argsort(keys, kind="stable")
    keys, scores, reps = keys[order], scores[order], reps[order]
    st = np.flatnonzero(np.concatenate(([True], keys[1:] != keys[:-1])))
    return (keys[st], np.maximum.reduceat(scores, st),
            np.minimum.reduceat(reps, st))


def cut(scores: np.ndarray, k: int, ceiling: float | None = None
        ) -> np.ndarray:
    """Keep-ties k-cut as a boolean mask: every row scoring >= the kth
    best. Ties at the boundary are NOT resolved here; that needs the tie
    key, which only the final `select` has.

    ceiling: a search_after cursor score. Rows above it are dropped,
    EVERY row scoring exactly the ceiling is kept (the tie run straddles
    the page boundary), and the keep-ties cut applies to the rows
    strictly below it. Scores are deterministic, so the equality is
    exact against a cursor taken from a previous page's result."""
    below = scores if ceiling is None else scores[scores < ceiling]
    if below.size <= k:
        kth = -np.inf
    elif k < 1:
        kth = np.inf
    else:
        kth = np.partition(below, below.size - k)[below.size - k]
    if ceiling is None:
        return scores >= kth
    return ((scores >= kth) & (scores < ceiling)) | (scores == ceiling)


def select(k: int, scores: np.ndarray, *keys: np.ndarray,
           after: tuple | None = None) -> np.ndarray:
    """Indices of the k best rows in (score desc, keys asc) order — the
    final tie-key selection. after: (score, *leading keys) of the
    previous page's last row; only rows strictly after it in that order
    compete (cursor pagination)."""
    cand = np.flatnonzero(cut(scores, k, None if after is None
                              else after[0]))
    if after is not None:
        m = scores[cand] < after[0]
        eq = ~m  # the cut dropped every row above the cursor score
        for key, v in zip(keys, after[1:]):
            kc = key[cand]
            m |= eq & (kc > v)
            eq &= kc == v
        cand = cand[m]
    order = np.lexsort(tuple(key[cand] for key in reversed(keys))
                       + (-scores[cand],))
    return cand[order[:max(k, 0)]]
