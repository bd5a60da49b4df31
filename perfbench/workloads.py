"""The workloads and the phases they are made of.

Every call into the package runs inside a `Tracer` span, so a traced run can
attribute Spark jobs and wall time to the layer that caused them. A traced
run adds short probes of the layers its workload does not exercise (writes
on a copy of the query store) and the HTTP load loops, so every per-layer
metric is measured on every workload.
"""

from __future__ import annotations

import bisect
import gc
import os
import shutil
import statistics
import time

import numpy as np

from perfbench import gen, loadgen
from perfbench.checks import Gate, Oracle, keyed, same_with_ties
from perfbench.stats import percentile, tail_percentile
from perfbench.trace import (
    NOT_A_LAYER,
    StackSampler,
    Tracer,
    coverage,
    job_children,
    parse_event_log,
    self_time,
    spark_by_span_name,
)

# Sizes, counts, rates and time shares; README.md explains each choice.
QUERY_CONVS = 1500
INGEST_BASE, INGEST_NEW, INGEST_REPLACE, INGEST_DELETE = 1000, 50, 20, 20
POOL_SETS = 3                            # fixtures.make_queries sets per pool
QUERY_ROUNDS = 2                         # query: batch + one read/category
INGEST_READS = 3                         # ingest: top-k reads per write
RELOADS = 5                              # LocalSearcher loads per run
SERVE_RATE = 60.0                        # HTTP open-loop requests per second
WARM_QUERY = "join filter stream"        # head terms: never short-cut as OOV
ORACLE_SAMPLE = 2                        # oracle checks per round and path

SPAN_NAMES = ("build", "append", "delete", "compact", "batch", "query")
# the end-to-end metrics of BENCHMARK.json, measured on both workloads; the
# timings beside them in the printed table are too noisy to grade (README.md)
GRADED = ("setup_s", "serve_rss_mb", "store_bytes_per_text_byte")


def du(path: str) -> int:
    total = 0
    for r, _d, fs in os.walk(path):
        for f in fs:
            try:
                total += os.path.getsize(os.path.join(r, f))
            except OSError:
                pass
    return total


def text_bytes(rows) -> int:
    return sum(len(x.encode()) for _c, _t, x in rows)


def segment_files(store) -> list[str]:
    return [os.path.join(p, f) for p in store.segment_paths()
            for f in sorted(os.listdir(p))
            if f.endswith(".parquet") and not f.startswith(("_", "."))]


class Run:
    def __init__(self, repo: str, work: str, workload: str, seed: int,
                 seconds: float, trace: bool):
        self.repo, self.work = repo, work
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.trace = trace
        self.nproc = len(os.sched_getaffinity(0))
        self.tmp = os.path.join(work, f"run-{os.getpid()}")
        shutil.rmtree(self.tmp, ignore_errors=True)
        os.makedirs(self.tmp)
        self.tracer = Tracer(trace)
        self.sampler = StackSampler() if trace else None
        self.gate = Gate()
        self.table: dict[str, tuple[float, str, int]] = {}
        self.layers: dict[str, tuple[float, str]] = {}
        self.spark = None
        self.server = None
        self.eventlog = os.path.join(self.tmp, "eventlog")
        self.event_logger = None
        self.build_span: dict = {}
        self.reads: list[float] = []
        self.overheads: list[float] = []

    def report(self, name: str, value: float, unit: str, n: int) -> None:
        """A metric for the printed table (name, unit, sample count)."""
        self.table[name] = (float(value), unit, int(n))

    # ---- Spark --------------------------------------------------------
    def start_spark(self) -> None:
        from visionsearch_spark import get_spark

        conf = {
            "spark.local.dir": self.tmp,
            "spark.sql.warehouse.dir": os.path.join(self.tmp, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp}",
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            os.makedirs(self.eventlog, exist_ok=True)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": "file://" + self.eventlog,
                         "spark.eventLog.compress": "false"})
        self.spark = get_spark("perfbench", cores=self.nproc,
                               shuffle_partitions=self.nproc, extra_conf=conf)
        if self.trace:
            self.event_logger = self.spark.sparkContext._jsc.sc(
            ).eventLogger().get()

    def tracing(self, on: bool) -> None:
        """In a traced run, turns span recording, stack sampling and
        Spark's event log on or off together."""
        if not self.trace or self.tracer.enabled == on:
            return
        sc = self.spark.sparkContext._jsc.sc()
        # the events of the calls so far reach the log before it detaches
        sc.listenerBus().waitUntilEmpty()
        if on:
            sc.addSparkListener(self.event_logger)
        else:
            sc.removeSparkListener(self.event_logger)
        self.tracer.enabled = on
        self.sampler.paused = not on

    def stop_spark(self) -> None:
        """Stop the session and wait for its JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gw = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        gw.shutdown()
        gw.proc.stdin.close()
        gw.proc.wait(60)

    def close(self) -> None:
        if self.sampler is not None:
            self.sampler.stop()
        if self.server is not None:
            self.server.stop()
            self.server = None
        self.stop_spark()
        shutil.rmtree(self.tmp, ignore_errors=True)

    # ---- calls into the package, one span each ------------------------
    def setup(self, corpus: str, root: str, n_rows: int):
        """Session start, a fresh build_index of the workload's store (the
        session's first build, which pays JIT compilation and Python-worker
        start-up), and one top-k and one batch read so that the timed reads
        run warm. Returns the store."""
        from visionsearch_spark.index.spimi import build_index
        from visionsearch_spark.index.store import IndexStore
        from visionsearch_spark.query.wand import batch_topk, topk

        with self.tracer.span("setup") as s:
            self.start_spark()
            df = self.spark.read.parquet(corpus)
            with self.tracer.span("build") as b:
                build_index(df, root, n_partitions=self.nproc)
            store = IndexStore(root)
            topk(self.spark, store, WARM_QUERY, k=5).collect()
            batch_topk(self.spark, store, [(0, WARM_QUERY, 5)]).collect()
        b["stage_sec"] = store.read_meta().get("stage_sec", {})
        self.build_span = b
        self.report("setup_s", s["dur"], "s", 1)
        self.report("build_turns_per_s", n_rows / b["dur"], "turns/s", 1)
        return store

    def topk(self, store, text: str, k: int) -> tuple[list, float]:
        from visionsearch_spark.query.wand import topk

        with self.tracer.span("query", text=text) as s:
            rows = topk(self.spark, store, text, k=k).collect()
        s["result_rows"] = len(rows)
        return [(r.conv_id, r.turn_idx, r.score) for r in rows], s["dur"]

    def batch(self, store, queries: list[tuple[int, str, int]]
              ) -> tuple[dict, float]:
        """batch_topk over [(qid, text, k)] -> {qid: [(conv, turn, score)]}"""
        from visionsearch_spark.query.wand import batch_topk

        with self.tracer.span("batch", n=len(queries)) as s:
            rows = batch_topk(self.spark, store, queries).collect()
        out: dict[int, list] = {q: [] for q, _t, _k in queries}
        for r in sorted(rows, key=lambda r: (r.query_id, r.rank)):
            out[r.query_id].append((r.conv_id, r.turn_idx, r.score))
        return out, s["dur"]

    # ---- checks -------------------------------------------------------
    def oracle_check(self, oracle: Oracle, got, text: str, k: int) -> None:
        self.gate.check("oracle", keyed(got) == keyed(oracle.search(text, k)),
                        text)

    def topk_reads(self, store, queries, first: int, n: int, expect) -> None:
        """Reads first .. first+n-1 of a closed loop with one client: Spark
        top-k reads in query order; `expect(i, rows)` checks read i. A
        traced run reads each query twice, traced and untraced in turn
        first, and keeps the ratio of the two times."""
        for i in range(first, first + n):
            _cat, text, k = queries[i % len(queries)]
            if self.trace:
                pair = {}
                for on in (True, False) if i % 2 == 0 else (False, True):
                    self.tracing(on)
                    pair[on] = self.topk(store, text, k)
                self.tracing(True)
                self.overheads.append(pair[True][1] / pair[False][1])
                self.gate.check("cross_path", keyed(pair[True][0])
                                == keyed(pair[False][0]), f"retrace {text!r}")
                rows, dur = pair[True]
            else:
                rows, dur = self.topk(store, text, k)
            self.reads.append(dur)
            expect(i, rows)

    def serve(self, root: str, pool: list, want: dict) -> None:
        """HTTP /search against jobs/serve_http.py over `root`: load time,
        warm-up of every pool query, RSS; in a traced run, then an open
        loop at SERVE_RATE and a closed loop with nproc clients. Every
        answer must match `want[qid]` with ties as sets."""
        open_s, closed_s = self.seconds * 0.15, self.seconds * 0.08
        rng = np.random.default_rng([self.seed, 0x5e])
        order = rng.integers(0, len(pool), size=int(SERVE_RATE * open_s))
        reqs = [(int(i), pool[i][1], pool[i][2]) for i in order]

        def check(qid, body, what):
            if body is None:
                self.gate.op(False, f"{what}: no answer")
                return
            got = [(h["conv_id"], h["turn_idx"], h["score"])
                   for h in body["hits"]]
            self.gate.check("cross_path", same_with_ties(
                got, want[qid], pool[qid][2]), f"{what} {pool[qid][1]!r}")

        self.server = loadgen.Server(self.repo, root, self.tmp)
        port = self.server.port
        self.report("serve_load_s", self.server.first_answer(WARM_QUERY, 5),
                    "s", 1)
        for i, (_c, t, k) in enumerate(pool):  # warm every decode cache
            check(i, loadgen.send(port, t, k), "warm-up")
        self.report("serve_rss_mb", self.server.rss_mb(), "MB", 1)
        if not self.trace:
            self.server.stop()
            self.server = None
            return
        res = loadgen.open_loop(port, reqs, SERVE_RATE, self.nproc)
        for (qid, _t, _k), (_l, _late, body) in zip(reqs, res):
            check(qid, body, "open loop")
        lats = [r[0] * 1e3 for r in res]
        tail = tail_percentile(len(lats))
        self.report("serve_p50_ms", statistics.median(lats), "ms", len(lats))
        self.report(f"serve_p{tail:.0f}_ms", percentile(lats, tail), "ms",
                    len(lats))
        got, elapsed = loadgen.closed_loop(
            port, [(i, t, k) for i, (_c, t, k) in enumerate(pool)],
            closed_s, self.nproc)
        for qid, _l, body in got:
            check(qid, body, "closed loop")
        self.report("serve_qps", len(got) / elapsed, "req/s", len(got))
        http_layers(self, res)
        self.server.stop()
        self.server = None

    def local_search(self, store, pool: list, want: dict,
                     seconds: float) -> None:
        """In-process LocalSearcher over `store`: RELOADS loads, each timed to
        its first answered search; one pass over the pool, the first touch
        of its terms, where every answer must match `want[qid]` with ties as
        sets; then passes over the pool for `seconds`, each search timed.
        The benchmark's own objects are frozen out of the garbage
        collector's passes first, so that they are not charged to search."""
        from visionsearch_spark.analyzer import tokenize
        from visionsearch_spark.query.serving import LocalSearcher

        gc.collect()
        gc.freeze()
        loads = []
        for _ in range(RELOADS):
            t0 = time.perf_counter()
            searcher = LocalSearcher(store)
            searcher.search(WARM_QUERY, 5)
            loads.append(time.perf_counter() - t0)
        self.report("reload_s", statistics.median(loads), "s", len(loads))
        cold, seen = [], set()
        for qid, (_c, text, k) in enumerate(pool):
            terms = {t for t in tokenize(text) if searcher.df(t)}
            t0 = time.perf_counter()
            hits = searcher.search(text, k)
            if terms - seen:
                cold.append((time.perf_counter() - t0) * 1e3)
            seen |= terms
            self.gate.check("cross_path", same_with_ties(
                [(c, t, sc) for _d, c, t, sc in hits], want[qid], k),
                f"local {text!r}")
        lats = []
        deadline = time.perf_counter() + seconds
        while time.perf_counter() < deadline:
            for _c, text, k in pool:
                t0 = time.perf_counter()
                searcher.search(text, k)
                lats.append((time.perf_counter() - t0) * 1e3)
        gc.unfreeze()
        tail = tail_percentile(len(lats))
        self.report("search_p50_ms", statistics.median(lats), "ms", len(lats))
        self.report(f"search_p{tail:.0f}_ms", percentile(lats, tail), "ms",
                    len(lats))
        if self.trace:
            texts = [q[1] for q in pool]
            t0 = time.perf_counter()
            for text in texts:
                tokenize(text)
            tok_us = (time.perf_counter() - t0) * 1e6 / len(texts)
            self.layers.update({
                "serving.load_s": (statistics.median(loads), "s"),
                "serving.search_ms": (statistics.median(lats), "ms"),
                "serving.cold_search_ms": (statistics.median(cold), "ms"),
                "serving.postings_per_query": (statistics.mean(
                    sum(searcher.df(t) for t in set(tokenize(x)))
                    for x in texts), "count"),
                "analyzer.tokenize_us": (tok_us, "us"),
            })

    def report_reads(self) -> None:
        lats = self.reads
        tail = tail_percentile(len(lats))
        self.report("query_p50_s", statistics.median(lats), "s", len(lats))
        if tail > 50:
            self.report(f"query_p{tail:.0f}_s", percentile(lats, tail), "s",
                        len(lats))
        if self.trace:
            self.layers["trace.overhead_ratio"] = (
                statistics.median(self.overheads), "ratio")


# ---- workloads ------------------------------------------------------------

def run_query(run: Run) -> None:
    """Read-only: Spark batch and interactive top-k over the
    single-directory store that set-up built, then in-process and (traced)
    HTTP serving."""
    corpus = gen.corpus_path(run.work, QUERY_CONVS, run.seed)
    rows = gen.read_rows(corpus)
    pool = gen.query_pool(run.seed, POOL_SETS)
    oracle = Oracle(rows)
    root = os.path.join(run.tmp, "store")
    store = run.setup(corpus, root, len(rows))
    run.report("store_bytes_per_text_byte", du(root) / text_bytes(rows),
               "ratio", 1)

    # rounds of one batch and one top-k read per category, so that both
    # paths are sampled across the whole measured window; reads walk the
    # pool round-robin by category, the first ones are checked against the
    # oracle, the rest against the batch path's answers
    order = gen.interleave([(c, i, t, k) for i, (c, t, k)
                            in enumerate(pool)])
    reads = [(c, t, k) for c, _i, t, k in order]
    size = -(-len(pool) // QUERY_ROUNDS)
    per_round = len(gen.CATEGORIES)
    got_reads: dict[int, list] = {}
    want, batch_s = {}, 0.0
    for r in range(QUERY_ROUNDS):
        lo = r * size
        got, dur = run.batch(store, [(lo + i, t, k) for i, (_c, t, k)
                                     in enumerate(pool[lo:lo + size])])
        want.update(got)
        batch_s += dur
        run.topk_reads(store, reads, r * per_round, per_round,
                       lambda i, rows: got_reads.__setitem__(i, rows))
    run.report("batch_qps", len(pool) / batch_s, "queries/s", len(pool))
    run.report_reads()
    for _c, qid, text, k in order[:ORACLE_SAMPLE * QUERY_ROUNDS]:
        run.oracle_check(oracle, want[qid], text, k)
    for i, got in got_reads.items():
        _c, qid, text, k = order[i % len(order)]
        if i % per_round < ORACLE_SAMPLE:
            run.oracle_check(oracle, got, text, k)
        run.gate.check("cross_path", keyed(got) == keyed(want[qid]),
                       f"topk vs batch {text!r}")
    if run.trace:
        probe_writes(run, root, rows)
        store_layers(run, store, pool)
    run.stop_spark()
    run.local_search(store, pool, want, run.seconds * 0.05)
    run.serve(root, pool, want)


class IngestInputs:
    """The base corpus, an upsert delta and a delete list, all from one
    seeded corpus. The delta holds INGEST_NEW conversations past the base
    (new ones) and, under the ids of INGEST_REPLACE replaced base
    conversations, the texts of spare ones; the deletes are INGEST_DELETE
    other base conversations."""

    def __init__(self, work: str, seed: int, tmp: str):
        spare = INGEST_BASE + INGEST_NEW
        rows = gen.read_rows(gen.corpus_path(work, spare + INGEST_REPLACE,
                                             seed))
        conv: dict[int, list] = {}
        for row in rows:
            conv.setdefault(int(row[0][5:]), []).append(row)
        touched = [f"conv-{c:06d}" for c in np.random.default_rng(
            [seed, 0x1e]).choice(INGEST_BASE, replace=False,
                                 size=INGEST_REPLACE + INGEST_DELETE)]
        self.base_rows = [r for c in range(INGEST_BASE) for r in conv[c]]
        self.base = gen.write_rows(os.path.join(tmp, "base.parquet"),
                                   self.base_rows)
        self.replaced = touched[:INGEST_REPLACE]
        self.delta_rows = [r for c in range(INGEST_BASE, spare)
                           for r in conv[c]] + [
            (cid, t, x) for j, cid in enumerate(self.replaced)
            for _c, t, x in conv[spare + j]]
        self.delta = gen.write_rows(os.path.join(tmp, "delta.parquet"),
                                    self.delta_rows)
        self.deletes = touched[INGEST_REPLACE:]


class Model:
    """What the store should hold: live rows, plus tombstoned rows that the
    statistics still count until a compaction folds them."""

    def __init__(self, rows):
        self.live = {(c, t): x for c, t, x in rows}
        self.dead: list = []

    def add(self, rows) -> None:
        self.live.update({(c, t): x for c, t, x in rows})

    def delete(self, convs) -> None:
        convs = set(convs)
        gone = [k for k in self.live if k[0] in convs]
        self.dead += [(c, t, self.live.pop((c, t))) for c, t in gone]

    def rows(self) -> list:
        return [(c, t, x) for (c, t), x in self.live.items()]


def run_ingest(run: Run) -> None:
    """Writes next to reads on the LSM store: after the set-up build, two
    rounds of a write (an upsert, then a delete), a LocalSearcher reload and
    Spark top-k reads; a batch read against the multi-directory store,
    compaction, then in-process serving of the compacted store."""
    from visionsearch_spark.index.deletes import delete_convs
    from visionsearch_spark.index.fsck import fsck
    from visionsearch_spark.index.spimi import compact_store
    from visionsearch_spark.query.serving import LocalSearcher
    from visionsearch_spark.streaming.incremental import upsert_convs

    inp = IngestInputs(run.work, run.seed, run.tmp)
    pool = gen.query_pool(run.seed, POOL_SETS)
    reads = gen.interleave(pool)
    model = Model(inp.base_rows)
    root = os.path.join(run.tmp, "store")
    store = run.setup(inp.base, root, len(inp.base_rows))
    spark = run.spark

    if run.trace:
        pending_rows_probe(run, store, inp.delta)

    def upsert() -> None:
        # upsert = delete_convs of the replaced ids + incremental_build
        delta = spark.read.parquet(inp.delta)
        before = du(root)
        with run.tracer.span("append", kind="upsert") as s:
            upsert_convs(delta, root, n_partitions=run.nproc)
        s["write_amp"] = (du(root) - before) / text_bytes(inp.delta_rows)
        run.report("append_turns_per_s", len(inp.delta_rows) / s["dur"],
                   "turns/s", 1)
        model.delete(inp.replaced)
        model.add(inp.delta_rows)

    def delete() -> None:
        gone = spark.createDataFrame([(c,) for c in inp.deletes],
                                     "conv_id string")
        with run.tracer.span("delete") as s:
            delete_convs(spark, store, gone)
        run.report("delete_s", s["dur"], "s", 1)
        model.delete(inp.deletes)

    for r, write in enumerate((upsert, delete)):
        write()
        # statistics still count tombstoned rows until compaction
        stale = Oracle(model.rows(), model.dead)
        with run.tracer.span("reload"):
            searcher = LocalSearcher(store)
            searcher.search(WARM_QUERY, 5)

        def local(text: str, k: int, searcher=searcher) -> list:
            return [(c, t, s) for _d, c, t, s in searcher.search(text, k)]

        def expect(i, got, stale=stale, local=local):
            _c, text, k = reads[i % len(reads)]
            if i % INGEST_READS < ORACLE_SAMPLE:
                run.oracle_check(stale, got, text, k)
            run.gate.check("cross_path", same_with_ties(
                got, local(text, k), k), f"topk vs local {text!r}")

        run.topk_reads(store, reads, r * INGEST_READS, INGEST_READS, expect)
    if run.trace:
        lsm_layers(run, store)
    got, batch_s = run.batch(store, [(i, t, k) for i, (_c, t, k)
                                     in enumerate(pool)])
    for i, (_c, text, k) in enumerate(pool):
        if i < ORACLE_SAMPLE:
            run.oracle_check(stale, got[i], text, k)
        run.gate.check("cross_path", same_with_ties(got[i], local(text, k), k),
                       f"batch vs local {text!r}")

    with run.tracer.span("compact") as s:
        compact_store(spark, root, run.nproc)
    s["bytes_rewritten"] = sum(du(p) for p in store.segment_paths()
                               + store.term_stats_paths())
    report = fsck(root)
    run.gate.check("fsck", all(v["ok"] for v in report.values()),
                   str({k: v["errors"] for k, v in report.items()
                        if not v["ok"]}))
    live = model.rows()
    run.report("store_bytes_per_text_byte", du(root) / text_bytes(live),
               "ratio", 1)
    run.report("batch_qps", len(pool) / batch_s, "queries/s", len(pool))
    run.report("compact_s", s["dur"], "s", 1)
    run.report_reads()
    if run.trace:
        store_layers(run, store, pool)
    run.stop_spark()
    # the compacted store answers over live rows only: serving must agree
    # with an oracle over them
    fresh = Oracle(live)
    want = {i: fresh.search(t, k) for i, (_c, t, k) in enumerate(pool)}
    run.local_search(store, pool, want, run.seconds * 0.05)
    run.serve(root, pool, want)


WORKLOADS = {"ingest": run_ingest, "query": run_query}


def graded(run: Run) -> dict[str, tuple[float, str]]:
    return {name: run.table[name][:2] for name in GRADED}


# ---- traced-run probes and per-layer metrics --------------------------------

def pending_rows_probe(run: Run, store, delta_path: str) -> None:
    """`pending_rows` timed alone on the delta about to be appended."""
    from visionsearch_spark.streaming.incremental import pending_rows

    df = run.spark.read.parquet(delta_path)
    with run.tracer.span("append.pending_rows"):
        pending_rows(df, store).count()


def lsm_layers(run: Run, store) -> None:
    """LSM shape and delete backlog, read before a compaction folds them."""
    from visionsearch_spark.index.deletes import n_deleted

    meta = store.read_meta()
    run.layers.update({
        "store.live_dirs": (len(meta.get("segment_dirs") or []), "count"),
        "store.live_files": (len(segment_files(store)), "count"),
        "deletes.tombstoned_docs": (n_deleted(store)[0], "count"),
        "deletes.pending_dirs": (len(meta.get("tombstone_dirs") or []),
                                 "count"),
    })


def probe_writes(run: Run, root: str, rows) -> None:
    """One small append, upsert, delete and compaction on a store copy."""
    from visionsearch_spark.index.deletes import delete_convs
    from visionsearch_spark.index.spimi import compact_store
    from visionsearch_spark.index.store import IndexStore
    from visionsearch_spark.streaming.incremental import (
        incremental_build,
        upsert_convs,
    )

    spark = run.spark
    copy = os.path.join(run.tmp, "probe-store")
    shutil.copytree(root, copy)
    store = IndexStore(copy)
    convs = sorted({c for c, _t, _x in rows})
    # new conversations (renamed copies) and upserts with reversed text
    new = [(f"probe-{c}", t, x) for c, t, x in rows if c in set(convs[:40])]
    ups = [(c, t, x[::-1]) for c, t, x in rows if c in set(convs[40:60])]
    delta = gen.write_rows(os.path.join(run.tmp, "probe-delta.parquet"), new)
    upsert = gen.write_rows(os.path.join(run.tmp, "probe-upsert.parquet"), ups)
    pending_rows_probe(run, store, delta)
    delta, upsert = spark.read.parquet(delta), spark.read.parquet(upsert)
    gone = spark.createDataFrame([(c,) for c in convs[60:80]],
                                 "conv_id string")
    before = du(copy)
    with run.tracer.span("append", kind="incremental") as s:
        incremental_build(delta, copy, n_partitions=run.nproc)
    s["write_amp"] = (du(copy) - before) / text_bytes(new)
    with run.tracer.span("append", kind="upsert"):
        upsert_convs(upsert, copy, n_partitions=run.nproc)
    with run.tracer.span("delete"):
        delete_convs(spark, store, gone)
    lsm_layers(run, store)
    with run.tracer.span("compact") as s:
        compact_store(spark, copy, run.nproc)
    s["bytes_rewritten"] = sum(du(p) for p in store.segment_paths()
                               + store.term_stats_paths())
    shutil.rmtree(copy)


def http_layers(run: Run, res) -> None:
    took = [b["took_ms"] for _l, _late, b in res if b is not None]
    over = [lat * 1e3 - b["took_ms"] for lat, _late, b in res
            if b is not None]
    run.layers.update({
        "http.took_ms": (statistics.median(took), "ms"),
        "http.overhead_ms": (statistics.median(over), "ms"),
        "loadgen.late_ms_p99": (percentile([r[1] * 1e3 for r in res], 99.0),
                                "ms"),
    })


def store_layers(run: Run, store, queries) -> None:
    """Bytes by store component, and per query the share of segment files
    whose Bloom sidecar may hold a query term and the Σ df of its terms
    (the postings a query must score)."""
    import pyarrow.dataset as pads

    from visionsearch_spark.analyzer import tokenize
    from visionsearch_spark.index.bloom import load_bloom, may_contain

    files = segment_files(store)
    blooms = [load_bloom(f) for f in files]
    ts = pads.dataset([pads.dataset(p) for p in store.term_stats_paths()]
                      ).to_table(columns=["term", "df"])
    df: dict[str, int] = {}
    for t, d in zip(ts.column("term").to_pylist(), ts.column("df").to_pylist()):
        df[t] = df.get(t, 0) + int(d)
    kept, postings = [], []
    for _c, text, _k in queries:
        terms = sorted(set(tokenize(text)))
        kept.append(sum(b is None or any(may_contain(*b, t) for t in terms)
                        for b in blooms) / len(files))
        postings.append(sum(df.get(t, 0) for t in terms))
    seg = sum(du(p) for p in store.segment_paths())
    bloom = sum(os.path.getsize(os.path.join(p, f))
                for p in store.segment_paths() for f in os.listdir(p)
                if f.startswith("_bloom-"))
    run.layers.update({
        "bloom.files_total": (len(files), "count"),
        "bloom.files_kept_ratio": (statistics.mean(kept), "ratio"),
        "wand.postings_per_query": (statistics.mean(postings), "count"),
        "store.segment_bytes": (seg - bloom, "bytes"),
        "store.bloom_bytes": (bloom, "bytes"),
        "store.staged_bytes": (du(store.staged_path), "bytes"),
        "store.fragment_bytes": (du(store.fragments_dir), "bytes"),
    })


BUILD_STAGES = (("assign_docids", "assign_docids"),
                ("stage_write", "stage_write"), ("spimi", "spimi"),
                ("merge_write", "term_stats+compact_write"))
RUNTIME_UNITS = {"jobs": "count", "tasks": "count", "task_cpu_s": "s",
                 "gc_s": "s", "shuffle_write_bytes": "bytes",
                 "python_arrow_bytes": "bytes", "sched_delay_s": "s"}


COVERAGE_MIN = 0.9  # each operation's layers must cover this share of it


def finish_layers(run: Run) -> dict[str, dict]:
    """Per-layer metrics from the spans, the stack samples and the Spark
    event log; checks that every operation's layers cover at least
    COVERAGE_MIN of its wall time. Returns, per operation kind, its sampled
    driver time by layer."""
    run.sampler.stop()
    spans = run.tracer.spans
    jobs, tasks, execs = parse_event_log(run.eventlog)
    for name, key in BUILD_STAGES:
        run.layers[f"build.{name}_s"] = (run.build_span["stage_sec"][key], "s")

    def med(name: str, key: str = "dur") -> float:
        return statistics.median(s[key] for s in spans
                                 if s["name"] == name and key in s)

    job_kids = job_children(spans, jobs)
    spark_kids = job_children(spans, {**{("job", k): v for k, v in jobs.items()},
                                      **{("sql", k): v for k, v in execs.items()}})
    samples = run.sampler.samples
    starts = [a for a, _b, _l in samples]
    cover: dict[str, list[float]] = {}
    driver: dict[str, dict[str, float]] = {}
    for s in spans:
        s["job_s"] = s["dur"] - self_time(s, job_kids.get(s["id"], []))
        s["driver_s"] = s["dur"] - s["job_s"]
        if s["name"] not in SPAN_NAMES:
            continue
        inside = samples[bisect.bisect_left(starts, s["start"]):
                         bisect.bisect_right(starts, s["end"])]
        share = coverage(s, spark_kids.get(s["id"], []), inside)
        cover.setdefault(s["name"], []).append(share)
        run.gate.check("coverage", share >= COVERAGE_MIN,
                       f"{s['name']} span {s['id']}: {share:.3f}")
        by_layer = driver.setdefault(s["name"], {})
        for a, b, layer in inside:
            by_layer[layer] = (by_layer.get(layer, 0.0)
                               + min(b, s["end"]) - max(a, s["start"]))
    for name, shares in cover.items():
        run.layers[f"trace.coverage_{name}"] = (min(shares), "ratio")
    run.layers.update({
        "append.pending_rows_s": (med("append.pending_rows"), "s"),
        "append.write_amp": (med("append", "write_amp"), "ratio"),
        "compact.bytes_rewritten": (med("compact", "bytes_rewritten"),
                                    "bytes"),
        "wand.result_rows": (med("query", "result_rows"), "count"),
        "wand.job_s": (med("query", "job_s"), "s"),
        "wand.driver_s": (med("query", "driver_s"), "s"),
    })
    for name, vals in spark_by_span_name(spans, jobs, tasks,
                                         SPAN_NAMES).items():
        for key, unit in RUNTIME_UNITS.items():
            run.layers[f"{name}.{key}"] = (vals[key], unit)
        run.layers[f"{name}.driver_python_s"] = (sum(
            v for layer, v in driver.get(name, {}).items()
            if layer not in NOT_A_LAYER and ":" not in layer), "s")
    return driver
