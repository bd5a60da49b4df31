"""HTTP surface (S9 upload source / S10 serving sink): /search parity with
LocalSearcher, /upload -> spool -> streaming ingest -> searchable,
static-file traversal guard."""

from __future__ import annotations

import json
import math
import os
import threading
import urllib.error
import urllib.parse
import urllib.request

import pytest

from visionsearch_spark.index.spimi import build_index
from visionsearch_spark.query.serving import LocalSearcher
from visionsearch_spark.sources.http_api import ServingApp


@pytest.fixture(scope="module")
def served(spark, transcripts, tmp_path_factory):
    base = tmp_path_factory.mktemp("http")
    root = str(base / "idx")
    spool = str(base / "spool")
    static = str(base / "static")
    os.makedirs(static)
    with open(os.path.join(static, "thumb.bin"), "wb") as f:
        f.write(b"\x89PNGfake")
    with open(str(base / "secret.txt"), "w") as f:
        f.write("outside")
    store = build_index(transcripts, root, n_partitions=4)
    searcher = LocalSearcher(store)
    app = ServingApp(searcher, spool_dir=spool, static_dir=static)
    srv = app.make_server(port=0)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    url = f"http://127.0.0.1:{srv.server_address[1]}"
    yield url, searcher, spool, root, store
    srv.shutdown()


def _get(url: str):
    with urllib.request.urlopen(url, timeout=10) as r:
        return r.status, json.loads(r.read())


def test_search_endpoint_matches_searcher(served):
    url, searcher, *_ = served
    for q, k in [("join filter", 5), ("zzzznotaword", 3)]:
        status, body = _get(f"{url}/search?q={urllib.parse.quote(q)}&k={k}")
        assert status == 200
        exp = searcher.search(q, k=k)
        assert [(h["docid"], h["conv_id"], h["turn_idx"]) for h in body["hits"]] \
            == [(d, c, t) for d, c, t, _s in exp]
        for h, (_d, _c, _t, s) in zip(body["hits"], exp):
            assert math.isclose(h["score"], s, rel_tol=1e-12)


def test_search_endpoint_pagination(served):
    """Cursor paging over HTTP: echo next_after back as after_score/
    after_docid; two pages of k equal one page of 2k, and the float
    cursor survives the JSON round trip exactly."""
    url, searcher, *_ = served
    q, k = "join filter", 4
    status, p1 = _get(f"{url}/search?q={urllib.parse.quote(q)}&k={k}")
    assert status == 200 and len(p1["hits"]) == k
    na = p1["next_after"]
    assert na == {"score": p1["hits"][-1]["score"],
                  "docid": p1["hits"][-1]["docid"]}
    status, p2 = _get(
        f"{url}/search?q={urllib.parse.quote(q)}&k={k}"
        f"&after_score={na['score']!r}&after_docid={na['docid']}"
    )
    assert status == 200
    exp = searcher.search(q, k=2 * k)
    got = [(h["docid"], h["score"]) for h in p1["hits"] + p2["hits"]]
    assert got == [(d, s) for d, _c, _t, s in exp]


def test_suggest_endpoint(served):
    """GET /suggest returns df-ranked dictionary completions matching
    LocalSearcher.suggest; malformed prefixes 400 instead of 500."""
    url, searcher, *_ = served
    status, body = _get(f"{url}/suggest?prefix=fil&n=5")
    assert status == 200
    exp = searcher.suggest("fil", n=5)
    assert [(s["term"], s["df"]) for s in body["suggestions"]] == exp
    assert exp and all(t.startswith("fil") for t, _df in exp)
    assert [df for _t, df in exp] == sorted(
        (df for _t, df in exp), reverse=True)
    import urllib.error
    try:
        _get(f"{url}/suggest?prefix=no*pe")
        raise AssertionError("expected 400")
    except urllib.error.HTTPError as e:
        assert e.code == 400


def test_explain_endpoint(served):
    """GET /explain returns the per-term breakdown whose score_core
    total equals the served hit's score (Spark-free request path)."""
    url, searcher, *_ = served
    q = "join filter"
    hits = searcher.search(q, k=1)
    d, conv, turn, score = hits[0]
    status, body = _get(
        f"{url}/explain?q={urllib.parse.quote(q)}&conv={conv}&turn={turn}")
    assert status == 200
    assert body["terms"]
    assert math.isclose(body["score"], score, rel_tol=1e-12)
    for t in body["terms"]:
        assert math.isclose(t["contribution"], t["idf"] * t["tf_weight"],
                            rel_tol=1e-12)
    status, empty = _get(f"{url}/explain?q=zzz&conv={conv}&turn={turn}")
    assert status == 200 and empty["terms"] == [] and empty["score"] == 0.0


def test_search_endpoint_highlight_param(served):
    """&highlight=1 adds a per-hit snippet; ranks/scores unchanged."""
    url, searcher, *_ = served
    q, k = "join filter", 5
    status, body = _get(
        f"{url}/search?q={urllib.parse.quote(q)}&k={k}&highlight=1")
    assert status == 200
    exp = searcher.search(q, k=k)
    assert [(h["docid"], h["conv_id"], h["turn_idx"]) for h in body["hits"]] \
        == [(d, c, t) for d, c, t, _s in exp]
    assert body["hits"], "query should hit"
    for h in body["hits"]:
        assert "<em>" in h["snippet"]
    # default (no param) keeps the lean shape
    status, body = _get(f"{url}/search?q={urllib.parse.quote(q)}&k={k}")
    assert "snippet" not in body["hits"][0]


def test_search_endpoint_prefix_param(served):
    """&prefix= composes the reference's S2 key-prefix filter with /search
    at the API tier — parity with searcher.search(conv_prefix=...)."""
    url, searcher, *_ = served
    q, k, p = "join filter", 5, "conv-0000"
    status, body = _get(
        f"{url}/search?q={urllib.parse.quote(q)}&k={k}&prefix={p}")
    assert status == 200
    exp = searcher.search(q, k=k, conv_prefix=p)
    assert [(h["docid"], h["conv_id"], h["turn_idx"]) for h in body["hits"]] \
        == [(d, c, t) for d, c, t, _s in exp]
    assert all(h["conv_id"].startswith(p) for h in body["hits"])
    # no-match prefix -> empty hits, still 200
    status, body = _get(
        f"{url}/search?q={urllib.parse.quote(q)}&k={k}&prefix=zzz")
    assert status == 200 and body["hits"] == []


def test_healthz_store_report(served):
    url, searcher, *_ = served
    status, body = _get(f"{url}/healthz")
    assert status == 200
    rep = body["store"]
    assert rep["phase"] == "built"
    assert rep["n_docs"] == searcher.n_docs
    assert rep["live_segment_dirs"] >= 1
    assert rep["components"]["segments"]["bytes"] > 0
    assert rep["components"]["staged"]["files"] > 0


def test_healthz(served):
    url, searcher, *_ = served
    status, body = _get(f"{url}/healthz")
    assert status == 200 and body["n_docs"] == searcher.n_docs


def test_upload_spools_then_streaming_ingests(spark, served):
    from visionsearch_spark.query.wand import topk
    from visionsearch_spark.streaming.incremental import (
        stream_transcripts_to_index,
    )

    url, _searcher, spool, root, store = served
    rows = [
        {"conv_id": "zzz-upload", "turn_idx": 1,
         "text": "freshly uploaded quixotic zebra document"},
        {"conv_id": "zzz-upload", "turn_idx": 2,
         "text": "second uploaded turn about zebras"},
    ]
    req = urllib.request.Request(
        f"{url}/upload", data=json.dumps(rows).encode(),
        headers={"Content-Type": "application/json"}, method="POST",
    )
    with urllib.request.urlopen(req, timeout=10) as r:
        body = json.loads(r.read())
    assert r.status == 200 and body["rows"] == 2
    assert any(f.endswith(".parquet") for f in os.listdir(spool))

    # the spool is a streaming file source: ingest appends to the index
    n0 = store.read_meta()["n_docs"]
    schema = ("conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    ckpt = os.path.join(os.path.dirname(spool), "ckpt")
    q = stream_transcripts_to_index(spark, spool, root, ckpt, schema)
    q.awaitTermination(120)
    assert store.read_meta()["n_docs"] == n0 + 2
    got = topk(spark, store, "quixotic zebra", k=3).collect()
    assert got and got[0]["conv_id"] == "zzz-upload"
    # reloaded searcher serves the appended doc too
    fresh = LocalSearcher(store)
    hits = fresh.search("quixotic zebra", k=3)
    assert hits and hits[0][1] == "zzz-upload"
    assert fresh.n_docs == n0 + 2


def test_static_serving_and_traversal_guard(served):
    url, *_ = served
    with urllib.request.urlopen(f"{url}/files/thumb.bin", timeout=10) as r:
        assert r.status == 200 and r.read() == b"\x89PNGfake"
    for path in ["/files/../secret.txt", "/files/%2e%2e/secret.txt"]:
        try:
            with urllib.request.urlopen(url + path, timeout=10) as r:
                status = r.status
        except urllib.error.HTTPError as e:
            status = e.code
        assert status in (403, 404), path


def test_upload_rejects_garbage(served):
    url, *_ = served
    for payload in [b"not json", b"{}", b"[]",
                    b'[{"turn_idx": 1, "text": "missing conv_id"}]']:
        req = urllib.request.Request(
            f"{url}/upload", data=payload,
            headers={"Content-Type": "application/json"}, method="POST",
        )
        try:
            with urllib.request.urlopen(req, timeout=10) as r:
                status = r.status
        except urllib.error.HTTPError as e:
            status = e.code
        assert status == 400, payload


def test_upload_rejects_oversized_body_with_413(served):
    """The reference caps uploads at 10 MB (ollama_api.py:293-316); the
    cap must trigger BEFORE the body is read or spooled."""
    url, _searcher, spool, *_ = served
    before = set(os.listdir(spool)) if os.path.isdir(spool) else set()
    big = json.dumps([{"conv_id": "big", "turn_idx": 1,
                       "text": "x" * (11 * 1024 * 1024)}]).encode()
    req = urllib.request.Request(
        f"{url}/upload", data=big,
        headers={"Content-Type": "application/json"}, method="POST",
    )
    try:
        with urllib.request.urlopen(req, timeout=30) as r:
            status = r.status
    except urllib.error.HTTPError as e:
        status = e.code
        assert json.loads(e.read())["error"] == "payload too large"
    except (urllib.error.URLError, ConnectionError, BrokenPipeError):
        # server closed the socket before consuming the body — the client
        # may see a reset instead of the 413; nothing spooled is what counts
        status = 413
    assert status == 413
    after = set(os.listdir(spool)) if os.path.isdir(spool) else set()
    assert after == before  # nothing spooled


def test_upload_preserves_client_ts(served, tmp_path_factory):
    """A client-supplied ISO-8601 ts must land in the staged schema (it
    was silently dropped to NULL before); malformed ts -> 400."""
    import pyarrow.parquet as pq

    url, _searcher, spool, *_ = served
    rows = [
        {"conv_id": "ts-conv", "turn_idx": 1, "text": "stamped turn",
         "ts": "2024-06-01T12:34:56.789Z"},
        {"conv_id": "ts-conv", "turn_idx": 2, "text": "unstamped turn"},
    ]
    req = urllib.request.Request(
        f"{url}/upload", data=json.dumps(rows).encode(),
        headers={"Content-Type": "application/json"}, method="POST",
    )
    with urllib.request.urlopen(req, timeout=10) as r:
        body = json.loads(r.read())
    assert body["rows"] == 2
    tbl = pq.read_table(os.path.join(spool, body["spooled"]))
    got = {t: ts for t, ts in zip(tbl.column("turn_idx").to_pylist(),
                                  tbl.column("ts").to_pylist())}
    assert got[1] is not None and got[1].isoformat().startswith("2024-06-01T12:34:56.789")
    assert got[2] is None

    bad = [{"conv_id": "c", "turn_idx": 1, "text": "t", "ts": "not-a-date"}]
    req = urllib.request.Request(
        f"{url}/upload", data=json.dumps(bad).encode(),
        headers={"Content-Type": "application/json"}, method="POST",
    )
    try:
        with urllib.request.urlopen(req, timeout=10) as r:
            status = r.status
    except urllib.error.HTTPError as e:
        status = e.code
    assert status == 400


def test_upload_malformed_content_length_gets_400(served):
    """A non-numeric or negative Content-Length must produce a clean 400,
    not an unhandled ValueError that resets the connection (r3 review:
    int() ran outside the try; negative lengths also bypassed the cap)."""
    import http.client

    url, _searcher, spool, *_ = served
    host, port = url.removeprefix("http://").split(":")
    before = set(os.listdir(spool)) if os.path.isdir(spool) else set()
    for bad in ("abc", "-5"):
        conn = http.client.HTTPConnection(host, int(port), timeout=10)
        try:
            conn.putrequest("POST", "/upload", skip_accept_encoding=True)
            conn.putheader("Content-Type", "application/json")
            conn.putheader("Content-Length", bad)
            conn.endheaders()
            assert conn.getresponse().status == 400, bad
        finally:
            conn.close()
    after = set(os.listdir(spool)) if os.path.isdir(spool) else set()
    assert after == before  # nothing spooled


def test_bearer_auth_gate(spark, transcripts, tmp_path_factory):
    """auth_token set => /search, /upload and /files demand
    `Authorization: Bearer <token>` (401 otherwise); /healthz stays open
    for liveness probes; the right token passes."""
    base = tmp_path_factory.mktemp("http_auth")
    spool = str(base / "spool")
    static = str(base / "static")
    os.makedirs(static)
    with open(os.path.join(static, "t.bin"), "wb") as f:
        f.write(b"x")
    store = build_index(transcripts, str(base / "idx"), n_partitions=4)
    app = ServingApp(LocalSearcher(store), spool_dir=spool,
                     static_dir=static, auth_token="s3cret")
    srv = app.make_server(port=0)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    url = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        body = json.dumps(
            [{"conv_id": "c", "turn_idx": 0, "text": "hi"}]
        ).encode()
        cases = [
            ("GET", f"{url}/search?q=join&k=3", None),
            ("GET", f"{url}/files/t.bin", None),
            ("POST", f"{url}/upload", body),
        ]
        for method, u, data in cases:
            for hdrs, want in [
                ({}, 401),
                ({"Authorization": "Bearer wrong"}, 401),
                ({"Authorization": "Bearer s3cret"}, 200),
            ]:
                req = urllib.request.Request(u, data=data, method=method,
                                             headers=hdrs)
                try:
                    with urllib.request.urlopen(req, timeout=10) as r:
                        status = r.status
                except urllib.error.HTTPError as e:
                    status = e.code
                assert status == want, (method, u, hdrs, status)
        # healthz needs no token
        with urllib.request.urlopen(f"{url}/healthz", timeout=10) as r:
            assert r.status == 200
    finally:
        srv.shutdown()


def test_search_zero_hits_offers_did_you_mean(served):
    url, searcher, *_ = served
    # a typo of a known term: zero hits, correction present
    code, resp = _get(f"{url}/search?q=joinx+filterx&k=5")
    assert code == 200 and resp["hits"] == []
    assert "did_you_mean" in resp
    corrected = resp["did_you_mean"]
    assert searcher.did_you_mean("joinx filterx")[0] == corrected
    # and the corrected query actually hits
    code, resp2 = _get(
        f"{url}/search?q={corrected.replace(' ', '+')}&k=5")
    assert code == 200 and resp2["hits"]
    assert "did_you_mean" not in resp2  # hits -> no suggestion
