"""Multi-term query rewriting: prefix / wildcard / fuzzy expansion and
BM25-ranked rewrites, checked against exhaustive Python oracles over the
fixture corpus (both expansion paths — driver pyarrow and Spark — must
agree exactly)."""

from __future__ import annotations

import math
import re
from collections import Counter

import pytest

from visionsearch_spark.analyzer import tokenize
from visionsearch_spark.index.spimi import build_index
from visionsearch_spark.oracle import oracle_search
from visionsearch_spark.query.multiterm import (
    expand_fuzzy,
    expand_prefix,
    expand_wildcard,
    fuzzy_topk,
    prefix_topk,
    wildcard_topk,
)
from visionsearch_spark.query.termdict import _lev_within


@pytest.fixture(scope="module")
def mt_store(spark, transcripts, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("mtidx"))
    return build_index(transcripts, root, n_partitions=8, n_shards=16)


@pytest.fixture(scope="module")
def vocab_df(spark, mt_store):
    """term -> document frequency, straight from the staged text."""
    import pyarrow.parquet as pq

    st = pq.read_table(mt_store.staged_path,
                       columns=["docid", "text"]).to_pandas()
    c: Counter = Counter()
    for r in st.itertuples(index=False):
        c.update(set(tokenize(r.text)))
    return dict(c)


def _oracle_expand(vocab: dict[str, int], pred, cap: int):
    hits = [(t, df) for t, df in vocab.items() if pred(t)]
    return sorted(hits, key=lambda p: (-p[1], p[0]))[:cap]


@pytest.mark.parametrize("use_spark", [False, True],
                         ids=["driver", "spark"])
def test_expand_prefix_exact(spark, mt_store, vocab_df, use_spark):
    for prefix, cap in [("s", 50), ("s", 3), ("jo", 50), ("qqq", 50)]:
        exp = _oracle_expand(vocab_df, lambda t: t.startswith(prefix), cap)
        got = expand_prefix(spark, mt_store, prefix, cap,
                            use_spark=use_spark)
        assert got == exp, (prefix, cap)
    with pytest.raises(ValueError):
        expand_prefix(spark, mt_store, "no*pe")


@pytest.mark.parametrize("use_spark", [False, True],
                         ids=["driver", "spark"])
def test_expand_wildcard_exact(spark, mt_store, vocab_df, use_spark):
    cases = ["s*", "*am*", "s?a?", "f*r", "join", "zz*", "?????"]
    for pat in cases:
        rx = re.compile(
            "^" + "".join(".*" if c == "*" else "." if c == "?" else c
                          for c in pat) + "$"
        )
        exp = _oracle_expand(vocab_df, lambda t: bool(rx.match(t)), 50)
        got = expand_wildcard(spark, mt_store, pat, 50,
                              use_spark=use_spark)
        assert got == exp, pat
    with pytest.raises(ValueError):
        expand_wildcard(spark, mt_store, "ba[d]")


def test_lev_within_matches_full_dp():
    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    words = ["", "a", "scan", "scna", "stream", "sort", "prt", "filter",
             "flter", "joins", "xyzzy"]
    for a in words:
        for b in words:
            for k in (0, 1, 2, 3):
                assert _lev_within(a, b, k) == (lev(a, b) <= k), (a, b, k)


@pytest.mark.parametrize("use_spark", [False, True],
                         ids=["driver", "spark"])
def test_expand_fuzzy_exact(spark, mt_store, vocab_df, use_spark):
    for term, edits, pfx in [("scna", 2, 0), ("join", 1, 0),
                             ("flter", 1, 0), ("stram", 2, 2),
                             ("prt", 2, 0)]:
        exp = _oracle_expand(
            vocab_df,
            lambda t: t[:pfx] == term[:pfx] and _lev_within(t, term, edits),
            50,
        )
        got = expand_fuzzy(spark, mt_store, term, edits, pfx, 50,
                           use_spark=use_spark)
        assert got == exp, (term, edits, pfx)
    with pytest.raises(ValueError):
        expand_fuzzy(spark, mt_store, "two words")


def test_prefix_topk_rank_identity(spark, mt_store, oracle_index):
    """Rewrite + rank == naive oracle BM25 over the expanded terms."""
    exp = expand_prefix(spark, mt_store, "s", 50)
    qtext = " ".join(sorted(t for t, _ in exp))
    want = oracle_search(oracle_index, qtext, k=10)
    got = prefix_topk(spark, mt_store, "s", k=10).orderBy("rank").collect()
    assert [(r.docid, r.conv_id, r.turn_idx) for r in got] \
        == [(d, c, t) for d, c, t, _s in want]
    for r, e in zip(got, want):
        assert math.isclose(r.score, e[3], rel_tol=1e-9)


def test_fuzzy_topk_and_empty_expansion(spark, mt_store, oracle_index):
    exp = expand_fuzzy(spark, mt_store, "scna", 2, 0)
    assert exp, "fixture corpus should contain a 2-edit neighbor of scna"
    qtext = " ".join(sorted(t for t, _ in exp))
    want = oracle_search(oracle_index, qtext, k=8)
    got = fuzzy_topk(spark, mt_store, "scna", k=8).orderBy("rank").collect()
    assert [(r.docid, r.turn_idx) for r in got] \
        == [(d, t) for d, _c, t, _s in want]
    # no expansion -> empty frame with the result schema, no error
    assert fuzzy_topk(spark, mt_store, "qqqqqqqq", k=5,
                      max_edits=1).count() == 0
    assert wildcard_topk(spark, mt_store, "zzz*qq", k=5).count() == 0


def test_expansion_cap_is_deterministic(spark, mt_store, vocab_df):
    """When the cap binds, winners are the top-df terms with the
    (df desc, term asc) tie-break — identical on both paths."""
    full = _oracle_expand(vocab_df, lambda t: t.startswith("s"), 10 ** 6)
    for cap in (1, 2, 3):
        want = full[:cap]
        for use_spark in (False, True):
            got = expand_prefix(spark, mt_store, "s", cap,
                                use_spark=use_spark)
            assert got == want, (cap, use_spark)


# ---------------------------------------------------------------- boosting

def test_boost_of_one_equals_plain_query(spark, mt_store):
    from visionsearch_spark.query.multiterm import boosted_topk
    from visionsearch_spark.query.wand import batch_topk

    plain = batch_topk(spark, mt_store, [(0, "join filter", 10)]).collect()
    boosted = boosted_topk(
        spark, mt_store, {"join": 1.0, "filter": 1.0}, k=10).collect()
    key = lambda r: (r["rank"], r["docid"], round(r["score"], 9))
    assert sorted(map(key, plain)) == sorted(map(key, boosted))


def test_boost_scales_term_contribution_exactly(spark, mt_store):
    """score(boosted) == boost · contribution(term) summed — verified by
    comparing a 2x-boosted single-term query against the plain one."""
    from visionsearch_spark.query.multiterm import boosted_topk

    plain = {r["docid"]: r["score"] for r in boosted_topk(
        spark, mt_store, {"join": 1.0}, k=2000).collect()}
    double = {r["docid"]: r["score"] for r in boosted_topk(
        spark, mt_store, {"join": 2.0}, k=2000).collect()}
    assert set(plain) == set(double)
    import math
    for d, s in plain.items():
        assert math.isclose(double[d], 2.0 * s, rel_tol=1e-12)


def test_boost_reorders_ranking(spark, mt_store):
    from visionsearch_spark.query.multiterm import boosted_topk

    lo = boosted_topk(spark, mt_store,
                      {"join": 1.0, "filter": 0.01}, k=5).collect()
    hi = boosted_topk(spark, mt_store,
                      {"join": 0.01, "filter": 1.0}, k=5).collect()
    assert [r["docid"] for r in sorted(lo, key=lambda r: r["rank"])] != \
        [r["docid"] for r in sorted(hi, key=lambda r: r["rank"])]


def test_synonym_finds_docs_without_base_term(spark, mt_store):
    from visionsearch_spark.query.multiterm import synonym_topk
    from visionsearch_spark.query.wand import batch_topk

    # 'stream' as a synonym of 'join': docs containing only 'stream'
    # become reachable; OOV synonyms change nothing
    base = {r["docid"] for r in batch_topk(
        spark, mt_store, [(0, "join", 4000)]).collect()}
    syn = synonym_topk(spark, mt_store, "join",
                       {"join": ["stream", "zzznope"]}, syn_boost=0.5,
                       k=4000).collect()
    syn_ids = {r["docid"] for r in syn}
    assert syn_ids > base  # strictly more reachable docs
    only_syn = synonym_topk(spark, mt_store, "join", {"join": ["zzznope"]},
                            k=4000).collect()
    assert {r["docid"] for r in only_syn} == base


def test_boosted_pagination_composes(spark, mt_store):
    from visionsearch_spark.query.multiterm import boosted_topk

    b = {"join": 1.0, "filter": 2.0}
    full = sorted(boosted_topk(spark, mt_store, b, k=10).collect(),
                  key=lambda r: r["rank"])
    p1 = sorted(boosted_topk(spark, mt_store, b, k=5).collect(),
                key=lambda r: r["rank"])
    last = p1[-1]
    p2 = sorted(boosted_topk(
        spark, mt_store, b, k=5,
        search_after=(last["score"], last["conv_id"], last["turn_idx"]),
    ).collect(), key=lambda r: r["rank"])
    assert [r["docid"] for r in p1 + p2] == [r["docid"] for r in full]


# ---------------------------------------------------------------------------
# spell correction ("did you mean", r6)
# ---------------------------------------------------------------------------

def test_term_df_point_lookup(mt_store):
    from visionsearch_spark.query.multiterm import term_df

    import pyarrow.dataset as pads

    ts = pads.dataset(mt_store.term_stats_paths()[0]).to_table().to_pandas()
    row = ts.sort_values("df", ascending=False).iloc[0]
    assert term_df(mt_store, str(row["term"])) == int(row["df"])
    assert term_df(mt_store, "zzzznotaword") == 0
    assert term_df(mt_store, "two words") == 0  # non-single-token -> 0


def test_did_you_mean_corrects_oov_only(mt_store):
    from visionsearch_spark.query.multiterm import (
        did_you_mean,
        expand_fuzzy,
        term_df,
    )

    import pyarrow.dataset as pads

    ts = pads.dataset(mt_store.term_stats_paths()[0]).to_table().to_pandas()
    target = str(ts.sort_values("df", ascending=False).iloc[0]["term"])
    assert len(target) >= 3
    typo = target[:-1] + ("x" if target[-1] != "x" else "q")
    if term_df(mt_store, typo) > 0:  # typo accidentally a real term
        typo = target + "zz"
    want = expand_fuzzy(None, mt_store, typo, max_edits=2,
                        use_spark=False)[0][0]
    got = did_you_mean(mt_store, f"{target} {typo}")
    assert got == (f"{target} {want}", 1)
    # all-known query -> nothing to correct
    assert did_you_mean(mt_store, target) is None
    # hopeless OOV with no candidate in range -> None
    assert did_you_mean(mt_store, "qqqqqqqqqqqqqqqqqqqq") is None
    assert did_you_mean(mt_store, "") is None


def test_did_you_mean_serving_parity(mt_store):
    from visionsearch_spark.query.multiterm import did_you_mean
    from visionsearch_spark.query.serving import (
        LocalSearcher,
        ShardedSearcher,
    )

    q = "joinx filter"
    want = did_you_mean(mt_store, q)
    assert LocalSearcher(mt_store).did_you_mean(q) == want
    assert ShardedSearcher(mt_store, n_groups=2).did_you_mean(q) == want
