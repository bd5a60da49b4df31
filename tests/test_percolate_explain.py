"""Percolation (reverse search) + score explanation."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from visionsearch_spark.analyzer import tokenize
from visionsearch_spark.operators.percolate import percolate
from visionsearch_spark.query.explain import explain_score
from visionsearch_spark.query.wand import batch_topk

QUERIES = [(1, "join filter"), (2, "stream"), (3, "zzzznotaword"),
           (4, "join zzzznotaword"), (5, "")]


@pytest.fixture(scope="module")
def docs(spark, transcripts):
    return transcripts.select(
        F.monotonically_increasing_id().alias("doc_id"),
        F.col("text"),
    ).cache()


def test_percolate_matches_python_oracle(spark, docs):
    got = {(r["doc_id"], r["query_id"])
           for r in percolate(docs, QUERIES).collect()}
    want = set()
    for row in docs.collect():
        toks = set(tokenize(row["text"]))
        for qid, qtext in QUERIES:
            qterms = set(tokenize(qtext))
            if qterms and qterms <= toks:
                want.add((row["doc_id"], qid))
    assert got == want
    assert want  # fixture actually exercises matches
    qids = {q for _d, q in got}
    assert 3 not in qids and 5 not in qids  # OOV/empty never match
    assert 4 not in qids  # conjunctive: one OOV term kills the query


ADV_QUERIES = [
    (1, {"must": "join", "must_not": "filter"}),
    (2, {"phrases": ["join filter"]}),
    (3, {"must": "stream", "phrases": ["join filter"],
         "must_not": "zzzznotaword"}),
    (4, {"phrases": ["join filter stream"]}),     # 3-token phrase
    (5, {"must": "join", "must_not": "zzzznotaword"}),  # OOV neg = no-op
    (6, {"phrases": [""]}),                        # unsatisfiable
    (7, "scan merge"),                             # plain string mixes in
]


def _phrase_in(toks, ph):
    m = len(ph)
    return any(toks[i:i + m] == ph for i in range(len(toks) - m + 1))


def test_percolate_clauses_python_oracle(spark, docs):
    got = {(r["doc_id"], r["query_id"])
           for r in percolate(docs, ADV_QUERIES).collect()}
    want = set()
    for row in docs.collect():
        toks = tokenize(row["text"])
        tset = set(toks)
        for qid, spec in ADV_QUERIES:
            if isinstance(spec, str):
                req = set(tokenize(spec))
                if req and req <= tset:
                    want.add((row["doc_id"], qid))
                continue
            phrases = [tokenize(p) for p in spec.get("phrases", [])]
            if any(not p for p in phrases):
                continue  # empty-after-analysis phrase: unsatisfiable
            req = set(tokenize(spec.get("must", "")))
            for p in phrases:
                req.update(p)
            neg = set(tokenize(spec.get("must_not", "")))
            if (req and req <= tset and not (neg & tset)
                    and all(_phrase_in(toks, p) for p in phrases)):
                want.add((row["doc_id"], qid))
    assert got == want
    qids = {q for _d, q in got}
    assert 1 in qids and 2 in qids and 7 in qids  # really exercised
    assert 6 not in qids
    # negation really bites: query 1 is a strict subset of plain "join"
    plain = {d for d, q in
             ((r["doc_id"], r["query_id"])
              for r in percolate(docs, [(9, "join")]).collect())}
    assert {d for d, q in got if q == 1} < plain


def test_percolate_exclusion_only_rejected(spark, docs):
    with pytest.raises(ValueError, match="must_not"):
        percolate(docs, [(1, {"must_not": "join"})])


def test_percolate_clauses_stream_equals_batch(spark, docs, tmp_path):
    from visionsearch_spark.operators.percolate import percolate_stream

    src = str(tmp_path / "srcadv")
    docs.write.parquet(src)
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema).parquet(src)
    q = percolate_stream(stream, ADV_QUERIES, str(tmp_path / "outadv"),
                         str(tmp_path / "ckadv"))
    q.awaitTermination(120)
    got = {(r["doc_id"], r["query_id"]) for r in
           spark.read.parquet(str(tmp_path / "outadv")).collect()}
    want = {(r["doc_id"], r["query_id"])
            for r in percolate(docs, ADV_QUERIES).collect()}
    assert got == want


def test_percolate_no_queries(spark, docs):
    assert percolate(docs, []).count() == 0
    assert percolate(docs, [(1, "")]).count() == 0


def test_percolate_plan_broadcasts_queries(spark, docs):
    plan = percolate(docs, QUERIES)._jdf.queryExecution().executedPlan() \
        .toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_percolate_stream_equals_batch(spark, docs, tmp_path):
    from visionsearch_spark.operators.percolate import percolate_stream

    src = str(tmp_path / "src")
    docs.write.parquet(src)
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema).parquet(src)
    q = percolate_stream(stream, QUERIES, str(tmp_path / "out"),
                         str(tmp_path / "ck"))
    q.awaitTermination(120)
    got = {(r["doc_id"], r["query_id"]) for r in
           spark.read.parquet(str(tmp_path / "out")).collect()}
    want = {(r["doc_id"], r["query_id"])
            for r in percolate(docs, QUERIES).collect()}
    assert got == want


@pytest.fixture(scope="module")
def store(transcripts, tmp_path_factory):
    from visionsearch_spark.index.spimi import build_index

    root = str(tmp_path_factory.mktemp("exp") / "store")
    return build_index(transcripts, root, n_partitions=4)


def test_explain_sums_to_ranking_score(spark, store):
    from visionsearch_spark.query.explain import (
        explain_rows,
        explained_total,
    )

    q = "join filter stream"
    for hit in batch_topk(spark, store, [(0, q, 5)]).collect():
        rows = explain_score(spark, store, q, hit["conv_id"],
                             hit["turn_idx"]).collect()
        assert rows
        for r in rows:
            assert math.isclose(r["contribution"],
                                r["idf"] * r["tf_weight"], rel_tol=1e-12)
        raw = explain_rows(store, q, hit["conv_id"], hit["turn_idx"],
                           spark)
        # bit-identical: explained_total and the kernel both sum through
        # score_core, left to right in sorted-term order
        assert explained_total(raw) == hit["score"]


def test_explain_unknown_doc_and_oov(spark, store):
    assert explain_score(spark, store, "join", "conv-nope", 1).count() == 0
    first = spark.read.parquet(store.docmap_path) \
        .select("conv_id", "turn_idx").first()
    assert explain_score(spark, store, "zzzznotaword",
                         first["conv_id"], first["turn_idx"]).count() == 0


def test_explain_masks_tombstoned_doc(spark, store, tmp_path):
    import shutil

    from visionsearch_spark.index.deletes import delete_convs
    from visionsearch_spark.index.store import IndexStore

    dst = str(tmp_path / "store")
    shutil.copytree(store.root, dst)
    st = IndexStore(dst)
    hit = batch_topk(spark, st, [(0, "join", 1)]).collect()[0]
    assert explain_score(spark, st, "join", hit["conv_id"],
                         hit["turn_idx"]).count() > 0
    delete_convs(spark, st, spark.createDataFrame(
        [(hit["conv_id"],)], "conv_id string"))
    assert explain_score(spark, st, "join", hit["conv_id"],
                         hit["turn_idx"]).count() == 0


def test_percolate_one_matches_batch(spark, docs):
    """The serving-tier single-doc form gives EXACTLY the batch answer
    doc-by-doc, for plain and clause queries alike."""
    from visionsearch_spark.operators.percolate import percolate_one

    for queries in (QUERIES, ADV_QUERIES):
        want: dict = {}
        for r in percolate(docs, queries).collect():
            want.setdefault(r["doc_id"], []).append(r["query_id"])
        for row in docs.collect():
            got = percolate_one(queries, row["text"])
            assert got == sorted(want.get(row["doc_id"], [])), row["doc_id"]


def test_percolate_http_endpoint(spark, docs, tmp_path):
    import json as _json
    import threading
    import urllib.request

    from visionsearch_spark.index.spimi import build_index
    from visionsearch_spark.operators.percolate import percolate_one
    from visionsearch_spark.query.serving import LocalSearcher
    from visionsearch_spark.sources.http_api import ServingApp

    tx = docs.sparkSession.createDataFrame(
        [("c-1", 1, "user", "join filter text", "", None)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp")
    store = build_index(tx, str(tmp_path / "idx"), n_partitions=2)
    app = ServingApp(LocalSearcher(store),
                     spool_dir=str(tmp_path / "spool"),
                     percolate_queries=ADV_QUERIES)
    srv = app.make_server()
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    url = f"http://127.0.0.1:{srv.server_port}"
    try:
        sample = docs.limit(3).collect()
        for row in sample:
            req = urllib.request.Request(
                url + "/percolate",
                data=_json.dumps({"text": row["text"]}).encode(),
                headers={"Content-Type": "application/json"},
                method="POST")
            with urllib.request.urlopen(req) as r:
                resp = _json.loads(r.read())
            assert resp["matched_query_ids"] \
                == percolate_one(ADV_QUERIES, row["text"])
        # bad body -> 400
        req = urllib.request.Request(
            url + "/percolate", data=b'{"text": 5}',
            headers={"Content-Type": "application/json"}, method="POST")
        try:
            urllib.request.urlopen(req)
            raise AssertionError("expected 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400
    finally:
        srv.shutdown()
