"""Every engine sums a long query's per-term scores the way the oracle does.

Each doc of this store holds at least 8 distinct terms of one 14-term
query. numpy's add-reductions switch to pairwise summation at 8
elements, so an engine that sums with them drifts from the oracle's
left-to-right sum in the last ulp, and the ranking follows. The fixture
query pool has at most 6 terms, so only this store sees the drift.
Scores are compared with exact ==, not a tolerance.
"""

from __future__ import annotations

from datetime import datetime

import numpy as np
import pandas as pd
import pytest

from visionsearch_spark.fixtures import TRANSCRIPTS_SCHEMA
from visionsearch_spark.index.spimi import build_index
from visionsearch_spark.oracle import build_oracle_index, oracle_search
from visionsearch_spark.query.explain import explain_rows, explained_total
from visionsearch_spark.query.serving import LocalSearcher, ShardedSearcher
from visionsearch_spark.query.wand import batch_topk

QTERMS = ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
          "hotel", "india", "juliet", "kilo", "lima", "mike", "november"]
FILLER = ["oscar", "papa", "quebec", "romeo", "sierra", "tango"]
QUERY = " ".join(QTERMS)
N_CONVS, N_TURNS = 60, 4
N_DOCS = N_CONVS * N_TURNS


@pytest.fixture(scope="module")
def long_store(spark, tmp_path_factory):
    rng = np.random.default_rng(6)
    rows = []
    for c in range(N_CONVS):
        for t in range(1, N_TURNS + 1):
            picked = rng.choice(QTERMS, size=int(rng.integers(8, 15)),
                                replace=False)
            toks = [w for w in picked for _ in range(int(rng.integers(1, 4)))]
            toks += list(rng.choice(FILLER, size=int(rng.integers(0, 12))))
            rng.shuffle(toks)
            rows.append((f"conv-{c:03d}", t, "user", " ".join(toks), "",
                         datetime(2025, 1, 1)))
    pdf = pd.DataFrame(rows, columns=[f.name for f in TRANSCRIPTS_SCHEMA])
    store = build_index(spark.createDataFrame(pdf, TRANSCRIPTS_SCHEMA),
                        str(tmp_path_factory.mktemp("longq") / "store"),
                        n_partitions=4, n_shards=4)
    oracle = build_oracle_index([(c, t, x) for c, t, _r, x, _o, _s in rows])
    assert min(sum(1 for q in QTERMS if tf[q]) for tf in oracle.tfs) >= 8
    return store, oracle


def _want(oracle, k=N_DOCS):
    return [(c, t, s) for _d, c, t, s in oracle_search(oracle, QUERY, k=k)]


@pytest.mark.parametrize("driver_merge", [False, True])
def test_batch_topk_sums_like_the_oracle(spark, long_store, driver_merge):
    store, oracle = long_store
    got = batch_topk(spark, store, [(0, QUERY, N_DOCS)],
                     driver_merge=driver_merge).orderBy("rank").collect()
    assert [(r["conv_id"], r["turn_idx"], r["score"]) for r in got] \
        == _want(oracle)


def test_local_searcher_sums_like_the_oracle(long_store):
    store, oracle = long_store
    got = LocalSearcher(store).search(QUERY, k=N_DOCS)
    assert [(c, t, s) for _d, c, t, s in got] == _want(oracle)


def test_sharded_searcher_sums_like_the_oracle(long_store):
    store, oracle = long_store
    router = ShardedSearcher(store, n_groups=2)
    assert len(router.searchers) == 2
    got = router.search(QUERY, k=N_DOCS)
    assert [(c, t, s) for _d, c, t, s in got] == _want(oracle)


def test_explained_total_is_the_oracle_score(long_store):
    store, oracle = long_store
    for c, t, s in _want(oracle, k=12):
        assert explained_total(explain_rows(store, QUERY, c, t)) == s, (c, t)


def test_negative_threshold_rejected(spark, long_store):
    store, _oracle = long_store
    with pytest.raises(ValueError):
        batch_topk(spark, store, [(0, QUERY, 5)], threshold=-1.0)
    with pytest.raises(ValueError):
        LocalSearcher(store).search(QUERY, threshold=-1.0)
