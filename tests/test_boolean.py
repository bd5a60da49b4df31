"""Boolean / phrase queries vs exhaustive Python oracles, incl. the
appended-store (LSM) case the zero-shuffle membership kernel's
correctness argument leans on."""

from __future__ import annotations

import math

import pytest

from visionsearch_spark.analyzer import tokenize
from visionsearch_spark.index.spimi import build_index
from visionsearch_spark.oracle import oracle_search
from visionsearch_spark.query.boolean import (
    boolean_topk,
    matching_docids,
    phrase_docids,
    phrase_topk,
    proximity_docids,
    proximity_topk,
)


@pytest.fixture(scope="module")
def bool_store(spark, transcripts, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("boolidx"))
    return build_index(transcripts, root, n_partitions=8, n_shards=16)


@pytest.fixture(scope="module")
def doc_tokens(spark, bool_store):
    import pyarrow.parquet as pq

    st = pq.read_table(bool_store.staged_path,
                       columns=["docid", "text"]).to_pandas()
    return {int(r.docid): tokenize(r.text)
            for r in st.itertuples(index=False)}


def _ids(df):
    return sorted(r.docid for r in df.collect())


def test_conjunction_and_exclusion(spark, bool_store, doc_tokens):
    sets = {d: set(t) for d, t in doc_tokens.items()}
    cases = [
        (["join", "filter"], []),
        (["join", "filter"], ["dup"]),
        (["the"], ["join", "scan"]),
    ]
    for must, must_not in cases:
        exp = sorted(
            d for d, s in sets.items()
            if all(t in s for t in must)
            and not any(t in s for t in must_not)
        )
        got = _ids(matching_docids(spark, bool_store, all_of=must,
                                   none_of=must_not))
        assert got == exp, (must, must_not)


def test_disjunction(spark, bool_store, doc_tokens):
    sets = {d: set(t) for d, t in doc_tokens.items()}
    any_of = ["vector", "checkpoint"]
    exp = sorted(d for d, s in sets.items()
                 if any(t in s for t in any_of))
    assert _ids(matching_docids(spark, bool_store, any_of=any_of)) == exp


def test_membership_edges(spark, bool_store):
    # OOV required term empties the conjunction without a job
    assert _ids(matching_docids(
        spark, bool_store, all_of=["join", "zzzznotaword"])) == []
    # OOV optional/excluded terms just drop out
    assert _ids(matching_docids(
        spark, bool_store, any_of=["zzzznotaword"])) == []
    with pytest.raises(ValueError):
        matching_docids(spark, bool_store, none_of=["join"])


def test_phrase_docids_exact(spark, bool_store, doc_tokens):
    for phrase in ["join filter", "the fast", "scan merge"]:
        ph = tuple(tokenize(phrase))
        exp = sorted(
            d for d, tk in doc_tokens.items()
            if any(tuple(tk[i:i + len(ph)]) == ph
                   for i in range(len(tk) - len(ph) + 1))
        )
        got = _ids(phrase_docids(spark, bool_store, phrase))
        assert got == exp, phrase
    # single-token phrase degenerates to membership
    exp = sorted(d for d, tk in doc_tokens.items() if "join" in tk)
    assert _ids(phrase_docids(spark, bool_store, "join")) == exp


def test_phrase_topk_rank_identity(spark, bool_store, doc_tokens,
                                   oracle_index):
    """phrase_topk == exhaustive oracle ranking post-filtered to
    phrase-matching docs (global stats unchanged), cut to k."""
    phrase, k = "join filter", 10
    ph = tuple(tokenize(phrase))
    match = {
        d for d, tk in doc_tokens.items()
        if any(tuple(tk[i:i + len(ph)]) == ph
               for i in range(len(tk) - len(ph) + 1))
    }
    full = oracle_search(oracle_index, " ".join(sorted(set(ph))),
                         k=len(doc_tokens))
    exp = [h for h in full if h[0] in match][:k]
    got = phrase_topk(spark, bool_store, phrase, k=k) \
        .orderBy("rank").collect()
    assert [(r.docid, r.conv_id, r.turn_idx) for r in got] \
        == [(d, c, t) for d, c, t, _s in exp]
    for r, e in zip(got, exp):
        assert math.isclose(r.score, e[3], rel_tol=1e-9)


def test_boolean_topk_rank_identity(spark, bool_store, doc_tokens,
                                    oracle_index):
    must, should, must_not, k = ["join"], ["filter", "stream"], ["dup"], 10
    sets = {d: set(t) for d, t in doc_tokens.items()}
    allow = {d for d, s in sets.items()
             if "join" in s and "dup" not in s}
    qtext = " ".join(sorted(set(must) | set(should)))
    full = oracle_search(oracle_index, qtext, k=len(doc_tokens))
    exp = [h for h in full if h[0] in allow][:k]
    got = boolean_topk(spark, bool_store, must=must, should=should,
                       must_not=must_not, k=k).orderBy("rank").collect()
    assert [(r.docid, r.conv_id, r.turn_idx) for r in got] \
        == [(d, c, t) for d, c, t, _s in exp]
    # no musts: shoulds qualify disjunctively
    got2 = boolean_topk(spark, bool_store, should=["vector", "checkpoint"],
                        k=5).collect()
    assert all(
        sets[r.docid] & {"vector", "checkpoint"} for r in got2
    )
    with pytest.raises(ValueError):
        boolean_topk(spark, bool_store, must_not=["join"])


def test_membership_exact_on_appended_store(spark, transcripts,
                                            tmp_path_factory):
    """The kernel's per-file exactness rests on LSM dirs owning disjoint
    docid ranges: an appended store (2 live dirs) must give the same
    sets as a fresh build over the union corpus."""
    from pyspark.sql import functions as F

    from visionsearch_spark.streaming.incremental import incremental_build

    base = transcripts.filter(F.col("conv_id") < "conv-000070")
    delta = transcripts.filter(F.col("conv_id") >= "conv-000070")
    root_a = str(tmp_path_factory.mktemp("appended"))
    store_a = build_index(base, root_a, n_partitions=8, n_shards=16)
    incremental_build(delta, store_a.root, n_partitions=8)
    root_f = str(tmp_path_factory.mktemp("fresh"))
    store_f = build_index(transcripts, root_f, n_partitions=8, n_shards=16)

    def convs(store, **kw):
        import pyarrow.parquet as pq

        dm = pq.read_table(store.docmap_path,
                           columns=["docid", "conv_id", "turn_idx"]
                           ).to_pandas().set_index("docid")
        out = set()
        for r in matching_docids(spark, store, **kw).collect():
            row = dm.loc[int(r.docid)]
            out.add((row.conv_id, int(row.turn_idx)))
        return out

    for kw in [dict(all_of=["join", "filter"]),
               dict(any_of=["vector", "checkpoint"], none_of=["dup"])]:
        assert convs(store_a, **kw) == convs(store_f, **kw), kw


def _prox_match(doc_tokens, terms, window):
    """Exhaustive oracle: any window of `window` consecutive tokens
    holding ALL terms (unordered)."""
    out = set()
    for d, tk in doc_tokens.items():
        for i in range(max(1, len(tk) - window + 1)):
            win = set(tk[i:i + window])
            if all(t in win for t in terms):
                out.add(d)
                break
    return out


def test_proximity_docids_exact(spark, bool_store, doc_tokens):
    for terms, window in [(["join", "filter"], 3),
                          (["scan", "merge"], 5),
                          (["the", "fast"], 2),
                          (["join", "filter", "stream"], 8)]:
        exp = sorted(_prox_match(doc_tokens, terms, window))
        got = _ids(proximity_docids(spark, bool_store, terms, window))
        assert got == exp, (terms, window)
    # single term degenerates to membership
    exp = sorted(d for d, tk in doc_tokens.items() if "join" in tk)
    assert _ids(proximity_docids(spark, bool_store, ["join"], 1)) == exp
    with pytest.raises(ValueError):
        proximity_docids(spark, bool_store, ["join", "filter"], 1)


def test_proximity_vs_phrase_containment(spark, bool_store, doc_tokens):
    """Every phrase match is a proximity match at window=len (phrase is
    the ordered special case)."""
    phrase = "join filter"
    ph = tokenize(phrase)
    ph_ids = set(_ids(phrase_docids(spark, bool_store, phrase)))
    prox_ids = set(_ids(proximity_docids(spark, bool_store, ph, len(ph))))
    assert ph_ids <= prox_ids


def test_proximity_topk_rank_identity(spark, bool_store, doc_tokens,
                                      oracle_index):
    terms, window, k = ["join", "filter"], 4, 10
    match = _prox_match(doc_tokens, terms, window)
    full = oracle_search(oracle_index, " ".join(sorted(set(terms))),
                         k=len(doc_tokens))
    exp = [h for h in full if h[0] in match][:k]
    got = proximity_topk(spark, bool_store, terms, window, k=k) \
        .orderBy("rank").collect()
    assert [(r.docid, r.conv_id, r.turn_idx) for r in got] \
        == [(d, c, t) for d, c, t, _s in exp]
    for r, e in zip(got, exp):
        assert math.isclose(r.score, e[3], rel_tol=1e-9)


def test_membership_plan_no_segment_scan(spark, bool_store, monkeypatch):
    """Plan guard (PLANS.md §23): the membership kernel reads segment
    files in-task on the one-stage launcher — no Spark FileScan of any
    segment dir and no Exchange at all (the store has no tombstones,
    so no anti-join either). boolean_topk ranks on the same one-stage
    scan, its tasks reading the allow-set over their own docid span:
    with the scan fanned out, every job it runs before the merge is a
    single stage, and no plan holds a route_key or a segment dir."""
    import visionsearch_spark.query.wand as wand

    assert not bool_store.read_meta().get("tombstone_dirs")
    df = matching_docids(spark, bool_store, all_of=["join", "filter"],
                         none_of=["dup"])
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    seg_dirs = bool_store.segment_paths()
    assert not any(d in plan for d in seg_dirs)
    assert "hashpartitioning(shard" not in plan
    assert "Exchange" not in plan

    monkeypatch.setattr(wand, "QUERY_BIN_BYTES", 1)
    sc = spark.sparkContext
    sc.setJobGroup("boolean-plan-guard", "boolean_topk before the merge")
    try:
        res = boolean_topk(spark, bool_store, must=["join", "filter"],
                           must_not=["dup"], k=5)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = [sc.statusTracker().getJobInfo(j)
            for j in sc.statusTracker().getJobIdsForGroup(
                "boolean-plan-guard")]
    assert jobs and all(len(j.stageIds) == 1 for j in jobs), jobs
    res.count()
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert not any(d in plan for d in seg_dirs)
    assert "route_key" not in plan
