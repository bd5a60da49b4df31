"""HTTP serving surface: upload source (S9) + search + static sink (S10).

The reference exposes the engine over FastAPI
(`/root/reference/visionsearch/common_utils/aisearch/main.py:40-65`):
an image-upload endpoint that lands assets for later indexing, a query
endpoint answering from the load-once in-memory index, and static file
serving for stored media. The Spark-first translation (stdlib-only — no
web framework is bundled in this sandbox):

* ``POST /upload``  — JSON rows -> one parquet file per request in a
  SPOOL DIRECTORY. The spool is a Structured Streaming file source:
  `streaming.incremental.stream_transcripts_to_index(spool_dir, ...)`
  picks new files up and appends them to the index (the reference's
  upload-then-index pipeline, decoupled exactly the same way).
* ``GET /search?q=...&k=...`` — top-k from a LocalSearcher (load-once
  in-memory segments, the reference's serving architecture); OOV returns
  an empty hit list, never padded results.
* ``GET /files/<name>`` — static serving from a configured directory
  (media/thumbnails in the reference); path-traversal guarded.
* ``GET /healthz`` — index stats (n_docs, avgdl).

One process serves one docid-shard group at scale (LocalSearcher shards=
docstring); this module is the per-shard worker behind a scatter-gather
router.
"""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.parse
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

UPLOAD_SCHEMA_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]

# Upload body cap, mirroring the reference's 10 MB rejection
# (`/root/reference/visionsearch/api/routers/ollama/queries/ollama_api.py:293-316`):
# without it one request buffers unbounded bytes in the serving process.
DEFAULT_MAX_UPLOAD_MB = 10


def _parse_ts(v):
    """Client-supplied ISO-8601 timestamp -> µs-precision datetime (the
    staged schema carries ts); None/empty stays None, malformed raises
    ValueError (rejected as 400 by the handler)."""
    if v is None or v == "":
        return None
    from datetime import datetime, timezone

    dt = datetime.fromisoformat(str(v).replace("Z", "+00:00"))
    if dt.tzinfo is not None:  # store naive UTC (parquet timestamp[us])
        dt = dt.astimezone(timezone.utc).replace(tzinfo=None)
    return dt


def spool_upload(rows: list[dict], spool_dir: str, seq: int) -> str:
    """Write one upload batch as an atomically-published parquet file the
    streaming file source will discover (tmp -> rename; Spark ignores
    dot/underscore-prefixed in-flight files)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(spool_dir, exist_ok=True)
    cols: dict[str, list] = {c: [] for c in UPLOAD_SCHEMA_COLS}
    for r in rows:
        cols["conv_id"].append(str(r["conv_id"]))
        cols["turn_idx"].append(int(r["turn_idx"]))
        cols["role"].append(str(r.get("role", "user")))
        cols["text"].append(str(r.get("text", "")))
        cols["tool"].append(str(r.get("tool", "")))
        cols["ts"].append(_parse_ts(r.get("ts")))
    tbl = pa.table(
        {
            "conv_id": pa.array(cols["conv_id"], pa.string()),
            "turn_idx": pa.array(cols["turn_idx"], pa.int32()),
            "role": pa.array(cols["role"], pa.string()),
            "text": pa.array(cols["text"], pa.string()),
            "tool": pa.array(cols["tool"], pa.string()),
            "ts": pa.array(cols["ts"], pa.timestamp("us")),
        }
    )
    name = f"upload-{os.getpid()}-{seq:08d}.parquet"
    path = os.path.join(spool_dir, name)
    pq.write_table(tbl, path + ".tmp", compression="zstd")
    os.replace(path + ".tmp", path)
    return path


class ServingApp:
    """Wires a LocalSearcher + spool dir + optional static dir into a
    ThreadingHTTPServer. Pass port=0 for an ephemeral port (tests)."""

    def __init__(self, searcher, spool_dir: str, static_dir: str | None = None,
                 max_upload_mb: int = DEFAULT_MAX_UPLOAD_MB,
                 auth_token: str | None = None, vec_searcher=None,
                 percolate_queries=None):
        self.searcher = searcher
        # optional LocalVectorSearcher (query/serving.py) — enables the
        # POST /hybrid endpoint (RRF text+vector fusion); None = 404
        self.vec_searcher = vec_searcher
        # optional registered percolation rules [(query_id, spec)]
        # (operators/percolate.py spec forms) — enables POST /percolate
        # (which saved searches match this doc); None = 404
        self.percolate_queries = percolate_queries
        self.spool_dir = spool_dir
        self.static_dir = os.path.realpath(static_dir) if static_dir else None
        self.max_upload_bytes = int(max_upload_mb * 1024 * 1024)
        # minimal bearer-token gate on the data-bearing endpoints
        # (/search, /upload, /files) — the engine-tier analog of the
        # reference fronting search with an auth'd users app
        # (/root/reference/visionsearch/users/). None = open (tests,
        # trusted-network deployments behind a real gateway). /healthz
        # stays open: liveness probes don't carry credentials.
        self.auth_token = auth_token
        self._seq = 0
        self._seq_lock = threading.Lock()

    def next_seq(self) -> int:
        with self._seq_lock:
            self._seq += 1
            return self._seq

    def make_server(self, host: str = "127.0.0.1", port: int = 0
                    ) -> ThreadingHTTPServer:
        app = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # quiet by default
                pass

            def _json(self, code: int, obj) -> None:
                body = json.dumps(obj).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def _authed(self) -> bool:
                """Constant-shape bearer check; 401 + WWW-Authenticate on
                failure (compare_digest: no timing side channel)."""
                if app.auth_token is None:
                    return True
                import hmac

                got = self.headers.get("Authorization", "")
                want = f"Bearer {app.auth_token}"
                if hmac.compare_digest(got.encode(), want.encode()):
                    return True
                body = json.dumps({"error": "unauthorized"}).encode()
                self.send_response(401)
                self.send_header("WWW-Authenticate", "Bearer")
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)
                return False

            def do_GET(self):
                u = urllib.parse.urlparse(self.path)
                if u.path == "/healthz":
                    from visionsearch_spark.index.fsck import store_report

                    self._json(200, {
                        "n_docs": app.searcher.n_docs,
                        "avgdl": app.searcher.avgdl,
                        "store": store_report(app.searcher.store.root),
                    })
                    return
                if u.path == "/search":
                    if not self._authed():
                        return
                    qs = urllib.parse.parse_qs(u.query)
                    q = (qs.get("q") or [""])[0]
                    k = int((qs.get("k") or ["5"])[0])
                    # reference S2 composed with search at the API tier:
                    # &prefix= restricts hits to conv_ids starting with it
                    prefix = (qs.get("prefix") or [None])[0]
                    # &highlight=1 adds a query-focused snippet per hit
                    # (query/highlight; one O(k) staged point lookup)
                    want_hl = (qs.get("highlight") or ["0"])[0] not in (
                        "0", "", "false")
                    # cursor pagination: &after_score=&after_docid= echo
                    # the previous response's next_after verbatim — the
                    # float round-trips exactly via repr (JSON keeps 17
                    # significant digits), so the strict-after test stays
                    # exact across HTTP
                    after = None
                    if qs.get("after_score") and qs.get("after_docid"):
                        after = (float(qs["after_score"][0]),
                                 int(qs["after_docid"][0]))
                    t0 = time.perf_counter()
                    if want_hl:
                        hits = app.searcher.search_highlighted(
                            q, k=k, conv_prefix=prefix, search_after=after)
                        rows = [
                            {"docid": d, "conv_id": c, "turn_idx": t,
                             "score": s, "snippet": sn}
                            for d, c, t, s, sn in hits
                        ]
                    else:
                        hits = app.searcher.search(q, k=k,
                                                   conv_prefix=prefix,
                                                   search_after=after)
                        rows = [
                            {"docid": d, "conv_id": c, "turn_idx": t,
                             "score": s}
                            for d, c, t, s in hits
                        ]
                    resp = {
                        "query": q,
                        "took_ms": round((time.perf_counter() - t0) * 1e3, 3),
                        "hits": rows,
                    }
                    if not rows and after is None:
                        # zero-hit first page: offer a spell correction
                        # ("did you mean" — ES suggester trigger) from
                        # the searcher's in-memory term dictionary, only
                        # paid on empty results
                        dym = app.searcher.did_you_mean(q)
                        if dym is not None:
                            resp["did_you_mean"] = dym[0]
                    if len(rows) == k and rows:
                        resp["next_after"] = {
                            "score": rows[-1]["score"],
                            "docid": rows[-1]["docid"],
                        }
                    self._json(200, resp)
                    return
                if u.path == "/suggest":
                    if not self._authed():
                        return
                    qs = urllib.parse.parse_qs(u.query)
                    prefix = (qs.get("prefix") or [""])[0]
                    n = int((qs.get("n") or ["10"])[0])
                    try:
                        terms = app.searcher.suggest(prefix, n=n)
                    except ValueError as e:  # not a single analyzed token
                        self._json(400, {"error": str(e)})
                        return
                    self._json(200, {
                        "prefix": prefix,
                        "suggestions": [
                            {"term": t, "df": df} for t, df in terms
                        ],
                    })
                    return
                if u.path == "/explain":
                    if not self._authed():
                        return
                    qs = urllib.parse.parse_qs(u.query)
                    q = (qs.get("q") or [""])[0]
                    conv = (qs.get("conv") or [""])[0]
                    turn = int((qs.get("turn") or ["1"])[0])
                    from visionsearch_spark.query.explain import (
                        explain_rows,
                        explained_total,
                    )

                    rows = explain_rows(app.searcher.store, q, conv, turn)
                    self._json(200, {
                        "query": q, "conv_id": conv, "turn_idx": turn,
                        "score": explained_total(rows),
                        "terms": [
                            {"term": t, "tf": tf, "dl": dl, "df": df,
                             "idf": idf, "tf_weight": tfw,
                             "contribution": c}
                            for t, tf, dl, df, idf, tfw, c in rows
                        ],
                    })
                    return
                if u.path.startswith("/files/") and app.static_dir:
                    if not self._authed():
                        return
                    rel = urllib.parse.unquote(u.path[len("/files/"):])
                    full = os.path.realpath(os.path.join(app.static_dir, rel))
                    # traversal guard: resolved path must stay inside root
                    if not full.startswith(app.static_dir + os.sep):
                        self._json(403, {"error": "forbidden"})
                        return
                    if not os.path.isfile(full):
                        self._json(404, {"error": "not found"})
                        return
                    with open(full, "rb") as f:
                        body = f.read()
                    self.send_response(200)
                    self.send_header("Content-Type", "application/octet-stream")
                    self.send_header("Content-Length", str(len(body)))
                    self.end_headers()
                    self.wfile.write(body)
                    return
                self._json(404, {"error": "not found"})

            def do_POST(self):
                u = urllib.parse.urlparse(self.path)
                if u.path == "/delete":
                    # tombstone whole conversations (index/deletes.py):
                    # the driver-side O(delta) write makes the delete
                    # durable for every future reader; mask_convs makes
                    # it visible to THIS searcher immediately.
                    if not self._authed():
                        return
                    try:
                        n = int(self.headers.get("Content-Length", "0"))
                        body = json.loads(self.rfile.read(max(n, 0))
                                          or b"{}")
                        conv_ids = body["conv_ids"]
                        if (not isinstance(conv_ids, list) or not conv_ids
                                or not all(isinstance(c, str)
                                           for c in conv_ids)):
                            raise ValueError(
                                "conv_ids must be a non-empty string array"
                            )
                    except (ValueError, KeyError, TypeError) as e:
                        self._json(400, {"error": str(e)})
                        return
                    from visionsearch_spark.index.deletes import (
                        delete_convs_local,
                    )

                    with app._seq_lock:  # serialize tombstone-dir flips
                        n_new = delete_convs_local(
                            app.searcher.store, conv_ids
                        )
                    app.searcher.mask_convs(conv_ids)
                    self._json(200, {"deleted_units": n_new})
                    return
                if u.path == "/hybrid":
                    # RRF hybrid retrieval at the serving tier (r6):
                    # text side = this app's LocalSearcher, vector side =
                    # the store's own ANN sidecar via LocalVectorSearcher
                    # (query/serving.hybrid_serve). POST because the
                    # query vector doesn't belong in a URL.
                    if not self._authed():
                        return
                    if app.vec_searcher is None:
                        self._json(404, {
                            "error": "no vector index attached"})
                        return
                    try:
                        n = int(self.headers.get("Content-Length", "0"))
                        body = json.loads(self.rfile.read(max(n, 0))
                                          or b"{}")
                        q = body.get("q", "")
                        vec = body["vec"]
                        if (not isinstance(vec, list) or not vec or
                                not all(isinstance(x, (int, float))
                                        for x in vec)):
                            raise ValueError(
                                "vec must be a non-empty number array")
                        k = int(body.get("k", 10))
                        depth = int(body.get("depth", 50))
                        max_h = int(body.get("max_hamming", 4))
                    except (ValueError, KeyError, TypeError) as e:
                        self._json(400, {"error": str(e)})
                        return
                    from visionsearch_spark.query.serving import (
                        hybrid_serve,
                    )

                    t0 = time.perf_counter()
                    try:
                        hits = hybrid_serve(
                            app.searcher, app.vec_searcher, q, vec,
                            k=k, depth=depth, max_hamming=max_h)
                    except ValueError as e:  # e.g. dim mismatch
                        self._json(400, {"error": str(e)})
                        return
                    self._json(200, {
                        "query": q,
                        "took_ms": round(
                            (time.perf_counter() - t0) * 1e3, 3),
                        "hits": [
                            {"conv_id": cv, "rank": r, "fused": f}
                            for cv, r, f in hits
                        ],
                    })
                    return
                if u.path == "/percolate":
                    # serving-tier reverse search: which registered
                    # saved-search rules match this document (the
                    # alerting check per incoming doc, Spark-free —
                    # operators/percolate.percolate_one, batch-parity
                    # test-pinned)
                    if not self._authed():
                        return
                    if app.percolate_queries is None:
                        self._json(404, {
                            "error": "no percolation rules registered"})
                        return
                    try:
                        n = int(self.headers.get("Content-Length", "0"))
                        body = json.loads(self.rfile.read(max(n, 0))
                                          or b"{}")
                        text = body["text"]
                        if not isinstance(text, str):
                            raise ValueError("text must be a string")
                    except (ValueError, KeyError, TypeError) as e:
                        self._json(400, {"error": str(e)})
                        return
                    from visionsearch_spark.operators.percolate import (
                        percolate_one,
                    )

                    t0 = time.perf_counter()
                    qids = percolate_one(app.percolate_queries, text)
                    self._json(200, {
                        "matched_query_ids": qids,
                        "took_ms": round(
                            (time.perf_counter() - t0) * 1e3, 3),
                    })
                    return
                if u.path != "/upload":
                    self._json(404, {"error": "not found"})
                    return
                if not self._authed():
                    return
                try:
                    n = int(self.headers.get("Content-Length", "0"))
                except ValueError:
                    self._json(400, {"error": "malformed Content-Length"})
                    return
                if n < 0:
                    self._json(400, {"error": "malformed Content-Length"})
                    return
                if n > app.max_upload_bytes:
                    # reject BEFORE reading the body — nothing buffers,
                    # nothing spools (reference: 10 MB cap, 413)
                    self._json(413, {
                        "error": "payload too large",
                        "max_bytes": app.max_upload_bytes,
                    })
                    return
                try:
                    rows = json.loads(self.rfile.read(n) or b"[]")
                    if not isinstance(rows, list) or not rows:
                        raise ValueError("expected a non-empty JSON array")
                    path = spool_upload(rows, app.spool_dir, app.next_seq())
                except (ValueError, KeyError, TypeError) as e:
                    self._json(400, {"error": str(e)})
                    return
                self._json(200, {
                    "spooled": os.path.basename(path), "rows": len(rows),
                })

        return ThreadingHTTPServer((host, port), Handler)
