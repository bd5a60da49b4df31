"""HTTP load generation against `jobs/serve_http.py`.

Open loop: request i is due at t0 + i / rate; a pool of sender threads takes
requests in order, sleeps until each is due, and latency is measured from
the due time, so a stall also charges the requests queued behind it.
Closed loop: each client thread sends its next request as soon as the
previous one is answered.

A refused connection, a timeout or a non-200 answer is a failure; its
latency is recorded as the timeout, so it misses any latency limit.
"""

from __future__ import annotations

import http.client
import json
import os
import subprocess
import sys
import threading
import time
import urllib.parse

TIMEOUT_S = 5.0


def get_search(port: int, text: str, k: int) -> dict:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=TIMEOUT_S)
    try:
        conn.request("GET", "/search?" + urllib.parse.urlencode(
            {"q": text, "k": k}))
        r = conn.getresponse()
        body = r.read()
        if r.status != 200:
            raise RuntimeError(f"HTTP {r.status}")
        return json.loads(body)
    finally:
        conn.close()


class Server:
    """`jobs/serve_http.py` as a subprocess on an ephemeral port."""

    def __init__(self, repo: str, store_root: str, work: str):
        env = dict(os.environ, PYTHONUNBUFFERED="1")
        self.t0 = time.perf_counter()
        self.log = open(os.path.join(work, "server.log"), "ab")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(repo, "jobs", "serve_http.py"),
             "--root", store_root, "--port", "0",
             "--spool", os.path.join(work, "spool")],
            stdout=subprocess.PIPE, stderr=self.log, env=env, cwd=work)
        line = self.proc.stdout.readline().decode()
        if "http://127.0.0.1:" not in line:
            self.stop()
            raise RuntimeError(f"server did not start: {line!r}")
        self.port = int(line.split("http://127.0.0.1:")[1].split()[0])

    def first_answer(self, text: str, k: int) -> float:
        """Seconds from process start to the first answered search."""
        get_search(self.port, text, k)
        return time.perf_counter() - self.t0

    def rss_mb(self) -> float:
        with open(f"/proc/{self.proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmRSS not found")

    def stop(self) -> None:
        self.proc.terminate()
        try:
            self.proc.wait(10)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        self.proc.stdout.close()
        self.log.close()


def send(port: int, text: str, k: int):
    try:
        return get_search(port, text, k)
    except Exception:
        return None


def open_loop(port: int, reqs: list, rate: float, threads: int) -> list:
    """reqs: [(qid, text, k)] sent at `rate` per second. Returns per request
    (latency_s from due time, late_s = send time - due time, body|None)."""
    out: list = [None] * len(reqs)
    lock = threading.Lock()
    nxt = [0]
    t0 = time.perf_counter() + 0.05

    def worker():
        while True:
            with lock:
                i = nxt[0]
                nxt[0] += 1
            if i >= len(reqs):
                return
            due = t0 + i / rate
            wait = due - time.perf_counter()
            if wait > 0:
                time.sleep(wait)
            sent = time.perf_counter()
            body = send(port, reqs[i][1], reqs[i][2])
            lat = time.perf_counter() - due if body is not None else TIMEOUT_S
            out[i] = (lat, sent - due, body)

    _run_threads(worker, threads)
    return out


def closed_loop(port: int, reqs: list, seconds: float, clients: int
                ) -> tuple[list, float]:
    """Each client walks its own stride of `reqs` (cycling) until `seconds`
    pass. Returns ([(qid, latency_s, body|None)], elapsed_s)."""
    out: list = []
    lock = threading.Lock()
    t0 = time.perf_counter()
    deadline = t0 + seconds

    def worker(c: int):
        mine, i = [], c
        while time.perf_counter() < deadline:
            qid, text, k = reqs[i % len(reqs)]
            s = time.perf_counter()
            body = send(port, text, k)
            mine.append((qid, time.perf_counter() - s if body is not None
                         else TIMEOUT_S, body))
            i += clients
        with lock:
            out.extend(mine)

    _run_threads(worker, clients, with_index=True)
    return out, time.perf_counter() - t0


def _run_threads(fn, n: int, with_index: bool = False) -> None:
    ts = [threading.Thread(target=fn, args=(i,) if with_index else ())
          for i in range(n)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
