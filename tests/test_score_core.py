"""query/score_core against brute-force Python references (no Spark).

The core is the one place every engine sums, masks, collapses and cuts
scores, so its contract is pinned here directly: sums equal a
left-to-right Python loop bit for bit in BOTH accumulate branches, the
cuts keep ties, and masks/collapse equal their set definitions.
"""

from __future__ import annotations

import math
import os
import subprocess
import sys
from unittest import mock

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from visionsearch_spark.query import score_core


def test_imports_numpy_only():
    """Executors and the lean serving process both import the core."""
    out = subprocess.run(
        [sys.executable, "-c",
         "import sys, visionsearch_spark.query.score_core\n"
         "print(' '.join(sorted(sys.modules)))"],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        check=True, capture_output=True, text=True).stdout.split()
    third_party = {m.split(".")[0] for m in out} & {
        "pyarrow", "pandas", "pyspark", "py4j", "scipy"}
    ours = {m for m in out if m.startswith("visionsearch_spark")}
    assert not third_party
    assert ours == {"visionsearch_spark", "visionsearch_spark.query",
                    "visionsearch_spark.query.score_core"}


# few distinct magnitudes: plenty of exactly tied sums, and sums whose
# last ulp depends on the summation order
CONTRIBS = [0.1, 0.2, 0.3, 1 / 3, 0.7, 1.1, 2.5, 1e-3, 7.0 / 9, 3.3]

term_postings = st.lists(
    st.dictionaries(st.integers(0, 40), st.sampled_from(CONTRIBS),
                    min_size=1, max_size=30),
    min_size=8, max_size=16,
)


def _postings(terms: list[dict[int, float]], offset: int):
    return [
        (np.array(list(t), dtype=np.int64) + offset,
         np.array(list(t.values()), dtype=np.float64))
        for t in terms
    ]


def _loop_sums(terms: list[dict[int, float]], threshold: float,
               offset: int) -> dict[int, float]:
    """The oracle's accumulation: per doc, s = 0.0; s += c per term in
    term-rank order."""
    acc: dict[int, float] = {}
    for t in terms:
        for d, c in t.items():
            acc[d + offset] = acc.get(d + offset, 0.0) + c
    return {d: s for d, s in acc.items() if s > threshold}


@pytest.mark.parametrize("dense_span_per_posting", [0, 1 << 40])
@settings(max_examples=200, deadline=None)
@given(terms=term_postings,
       threshold=st.sampled_from([0.0, 1.0, 3.0]),
       offset=st.sampled_from([0, 7, 5000]))
def test_accumulate_equals_left_to_right_loop(dense_span_per_posting, terms,
                                              threshold, offset):
    """Both branches (0 forces the sort branch, 2^40 the dense one) equal
    the Python loop bit for bit, including docs with 8+ contributions —
    where numpy's pairwise reductions would differ."""
    with mock.patch.multiple(score_core, DENSE_MIN_SPAN=0,
                             DENSE_SPAN_PER_POSTING=dense_span_per_posting):
        d, s = score_core.accumulate(_postings(terms, offset), threshold)
    want = _loop_sums(terms, threshold, offset)
    assert d.tolist() == sorted(want)
    assert s.tolist() == [want[x] for x in sorted(want)]


def test_accumulate_is_not_pairwise():
    """A doc with 16 contributions whose left-to-right sum differs from
    numpy's pairwise sum: the core returns the left-to-right value."""
    c = np.array([0.1, 0.2, 0.3, 1 / 3, 0.7, 1.1, 2.5, 1e-3] * 2)
    seq = 0.0
    for x in c.tolist():
        seq += x
    assert seq != float(np.add.reduce(c))  # the case the core must avoid
    for ratio in (0, 1 << 40):
        with mock.patch.multiple(score_core, DENSE_MIN_SPAN=0,
                                 DENSE_SPAN_PER_POSTING=ratio):
            _d, s = score_core.accumulate(
                [(np.array([5]), np.array([x])) for x in c.tolist()], 0.0)
        assert s.tolist() == [seq]


def test_accumulate_empty():
    d, s = score_core.accumulate([], 0.0)
    assert d.size == 0 and s.size == 0
    d, s = score_core.accumulate(
        [(np.zeros(0, dtype=np.int64), np.zeros(0))], 0.0)
    assert d.size == 0 and s.size == 0


@pytest.mark.parametrize("bad", [-1e-9, -1.0, -math.inf, math.nan])
def test_negative_threshold_rejected(bad):
    with pytest.raises(ValueError):
        score_core.check_threshold(bad)
    with pytest.raises(ValueError):
        score_core.accumulate([(np.array([1]), np.array([1.0]))], bad)


scores_st = st.lists(st.sampled_from([0.5, 1.0, 1.5, 2.0, 2.5]),
                     min_size=0, max_size=40)


@settings(max_examples=200, deadline=None)
@given(scores=scores_st, k=st.integers(-2, 45))
def test_cut_keeps_every_tie_of_the_kth(scores, k):
    s = np.array(scores, dtype=np.float64)
    keep = score_core.cut(s, k)
    if len(scores) <= k:
        assert keep.all()
    elif k < 1:
        assert not keep.any()
    else:
        kth = sorted(scores, reverse=True)[k - 1]
        assert keep.tolist() == [x >= kth for x in scores]


@settings(max_examples=200, deadline=None)
@given(scores=scores_st, k=st.integers(-2, 45),
       ceiling=st.sampled_from([0.5, 1.0, 1.5, 2.0, 2.5, 1.25]))
def test_cut_ceiling_keeps_the_whole_tie_run(scores, k, ceiling):
    s = np.array(scores, dtype=np.float64)
    keep = score_core.cut(s, k, ceiling)
    below = [x for x in scores if x < ceiling]
    kth = (-math.inf if len(below) <= k else math.inf if k < 1
           else sorted(below, reverse=True)[k - 1])
    assert keep.tolist() == [x == ceiling or kth <= x < ceiling
                             for x in scores]


@settings(max_examples=200, deadline=None)
@given(rows=st.lists(st.tuples(st.sampled_from([0.5, 1.0, 1.5, 2.0]),
                               st.sampled_from(["a", "b", "c", "d"])),
                     min_size=0, max_size=30, unique=True),
       k=st.integers(-2, 35), cursor=st.integers(0, 30))
def test_select_matches_sorted_reference(rows, k, cursor):
    """Final selection: the k best by (score desc, key asc), strictly
    after the cursor row when one is given; none for k < 1."""
    ordered = sorted(rows, key=lambda r: (-r[0], r[1]))
    k_ = max(k, 0)
    s = np.array([r[0] for r in rows], dtype=np.float64)
    keys = np.array([r[1] for r in rows], dtype=object)
    assert [rows[i] for i in score_core.select(k, s, keys)] == ordered[:k_]
    if cursor < len(ordered):
        after = ordered[cursor]
        got = score_core.select(k, s, keys, after=after)
        assert [rows[i] for i in got] == ordered[cursor + 1:cursor + 1 + k_]


@settings(max_examples=200, deadline=None)
@given(rows=st.lists(st.tuples(st.integers(0, 6), st.sampled_from(CONTRIBS),
                               st.integers(0, 100)),
                     min_size=0, max_size=40))
def test_collapse_equals_per_key_max(rows):
    keys = np.array([r[0] for r in rows], dtype=np.int64)
    s = np.array([r[1] for r in rows], dtype=np.float64)
    reps = np.array([r[2] for r in rows], dtype=np.int64)
    got_k, got_s, got_r = score_core.collapse(keys, s, reps)
    want: dict[int, tuple[float, int]] = {}
    for key, sc, rep in rows:
        ms, mr = want.get(key, (-math.inf, math.inf))
        want[key] = (max(ms, sc), min(mr, rep))
    assert got_k.tolist() == sorted(want)
    assert got_s.tolist() == [want[x][0] for x in sorted(want)]
    assert got_r.tolist() == [want[x][1] for x in sorted(want)]


@settings(max_examples=200, deadline=None)
@given(docids=st.sets(st.integers(0, 50), max_size=30),
       deny=st.sets(st.integers(0, 50), max_size=20),
       allow=st.one_of(st.none(), st.sets(st.integers(0, 50), max_size=20)))
def test_masks_are_set_difference_and_intersection(docids, deny, allow):
    d = np.array(sorted(docids), dtype=np.int64)
    got, s = score_core.admit(
        d, d * 0.5, deny=np.array(sorted(deny), dtype=np.int64),
        allow=None if allow is None else np.array(sorted(allow),
                                                  dtype=np.int64))
    want = docids - deny
    if allow is not None:
        want &= allow
    assert got.tolist() == sorted(want)
    assert s.tolist() == [x * 0.5 for x in sorted(want)]
