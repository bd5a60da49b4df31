"""In-memory spans, stack samples, Spark event-log parsing, and the join
between them.

Spans are recorded by the benchmark around calls into the package's public
functions; nothing inside the package is instrumented. Spark jobs are
attributed to spans by submission time, so jobs submitted from helper
threads (which do not inherit thread-local job groups) still land in the
span that caused them. The driver-side time between Spark jobs is split by
sampling the stack of the thread that calls the package.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import threading
import time
from contextlib import contextmanager


class Tracer:
    """Records spans (name, start, end, parent, op id) when enabled; always
    returns the span record so callers can read its duration."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name,
               "parent": parent["id"] if parent else None,
               "op": parent["op"] if parent else len(self.spans),
               **attrs}
        if self.enabled:
            self.spans.append(rec)
        self._stack.append(rec)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["dur"]
            self._stack.pop()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def layer_of(frame) -> str:
    """The layer a stack sample is in: the innermost package module below
    `visionsearch_spark.` on the stack, suffixed ":jvm" while a py4j call
    it made waits on the JVM and ":pyspark" while it runs in the Spark
    client's own Python; plain "jvm" or "pyspark" when no package module
    made the call; "harness" or "other" outside both."""
    spark = None
    while frame is not None:
        mod = frame.f_globals.get("__name__", "")
        if mod.startswith("py4j"):
            spark = spark or "jvm"
        elif mod.startswith("pyspark"):
            spark = spark or "pyspark"
        elif mod.startswith("visionsearch_spark."):
            layer = mod[len("visionsearch_spark."):]
            return f"{layer}:{spark}" if spark else layer
        elif mod.startswith("perfbench"):
            return spark or "harness"
        frame = frame.f_back
    return spark or "other"


class StackSampler:
    """Samples the stack of the thread that creates it every `interval`
    seconds from a helper thread; each sample is (start, end, layer), its
    interval running from the previous sample (epoch seconds)."""

    def __init__(self, interval: float = 0.005):
        self.interval = interval
        self.samples: list[tuple[float, float, str]] = []
        self.paused = False
        self._ident = threading.get_ident()
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        last = time.time()
        while not self._done.wait(self.interval):
            if self.paused:
                last = time.time()
                continue
            frame = sys._current_frames().get(self._ident)
            now = time.time()
            self.samples.append((last, now, layer_of(frame)))
            last = now

    def stop(self) -> None:
        self._done.set()
        self._thread.join()


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


NOT_A_LAYER = ("jvm", "pyspark", "harness", "other")


def coverage(span: dict, spark: list[dict], samples: list[tuple]) -> float:
    """Share of a span's wall time its layers account for: the Spark SQL
    executions and jobs joined to it, and the stack samples that fell in a
    package module (its Python, or a Spark call it made). A sample in
    Spark outside any joined execution or job that no package module
    called is not covered."""
    kids = spark + [{"start": a, "end": b} for a, b, layer in samples
                    if layer not in NOT_A_LAYER]
    return 1 - self_time(span, kids) / (span["end"] - span["start"])


def self_time(span: dict, children: list[dict]) -> float:
    """A span's duration minus the part of its interval its children cover."""
    clipped = [(max(c["start"], span["start"]), min(c["end"], span["end"]))
               for c in children]
    return span["end"] - span["start"] - union_length(
        [(s, e) for s, e in clipped if e > s])


# ---- Spark event log -----------------------------------------------------

def _acc(task_info: dict, name: str) -> int:
    return sum(int(a.get("Update") or 0)
               for a in task_info.get("Accumulables", [])
               if a.get("Name") == name)


SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"


def parse_event_log(path: str) -> tuple[dict, list[dict], dict]:
    """From an event-log file or a spark.eventLog.dir (plain or rolling
    logs): jobs {job_id: {submit, end, stages}}, one record per finished
    task, and SQL executions {execution_id: {submit, end}} (an execution
    spans a DataFrame action's planning and its jobs). Times are epoch
    seconds."""
    if os.path.isdir(path):
        files = [f for f in glob.glob(os.path.join(path, "**", "*"),
                                      recursive=True)
                 if os.path.isfile(f) and not os.path.basename(f)
                 .startswith((".", "appstatus"))]
        # rolling parts are events_<n>_<app id>: read them in order
        files.sort(key=lambda f: (os.path.dirname(f), int(
            os.path.basename(f).split("_")[1])
            if os.path.basename(f).startswith("events_") else 0))
    else:
        files = [path]
    jobs: dict[int, dict] = {}
    execs: dict[int, dict] = {}
    tasks: list[dict] = []
    for fn in files:
        with open(fn) as f:
            for line in f:
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    jobs[e["Job ID"]] = {"submit": e["Submission Time"] / 1e3,
                                         "end": None,
                                         "stages": e.get("Stage IDs", [])}
                elif ev == "SparkListenerJobEnd":
                    jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
                elif ev == SQL_START:
                    execs[e["executionId"]] = {"submit": e["time"] / 1e3,
                                               "end": None}
                elif ev == SQL_END and e["executionId"] in execs:
                    execs[e["executionId"]]["end"] = e["time"] / 1e3
                elif ev == "SparkListenerTaskEnd":
                    info, m = e["Task Info"], e.get("Task Metrics") or {}
                    wall_ms = info["Finish Time"] - info["Launch Time"]
                    tasks.append({
                        "stage": e["Stage ID"],
                        "task_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "gc_s": m.get("JVM GC Time", 0) / 1e3,
                        "shuffle_write_bytes": (m.get("Shuffle Write Metrics")
                                                or {}).get(
                                                    "Shuffle Bytes Written", 0),
                        "python_arrow_bytes":
                            _acc(info, "data sent to Python workers")
                            + _acc(info, "data returned from Python workers"),
                        # the Spark UI's scheduler delay: task wall time not
                        # spent deserializing, running or serializing
                        "sched_delay_s": max(0, wall_ms
                                             - m.get("Executor Run Time", 0)
                                             - m.get("Executor Deserialize Time", 0)
                                             - m.get("Result Serialization Time", 0)
                                             ) / 1e3,
                    })
    # a job or execution still running at shutdown ends at its start
    for j in list(jobs.values()) + list(execs.values()):
        j["end"] = j["end"] if j["end"] is not None else j["submit"]
    return jobs, tasks, execs


def attribute_jobs(spans: list[dict], jobs: dict) -> dict[int, int | None]:
    """job id -> id of the innermost span whose interval holds the job's
    submission time (None when no span does)."""
    out = {}
    for jid, j in jobs.items():
        best = None
        for s in spans:
            # event-log times have millisecond resolution
            if s["start"] - 1e-3 <= j["submit"] <= s["end"] + 1e-3:
                if best is None or s["start"] >= best["start"]:
                    best = s
        out[jid] = best["id"] if best else None
    return out


def ancestors(spans: list[dict], sid: int | None):
    """The span itself, then each parent up to the root."""
    by_id = {s["id"]: s for s in spans}
    while sid is not None:
        yield by_id[sid]
        sid = by_id[sid]["parent"]


RUNTIME_KEYS = ("task_cpu_s", "gc_s", "shuffle_write_bytes",
                "python_arrow_bytes", "sched_delay_s")


def spark_by_span_name(spans: list[dict], jobs: dict, tasks: list[dict],
                       names: tuple[str, ...]) -> dict[str, dict]:
    """Spark runtime totals per span name: a job counts for every named span
    on its attributed span's ancestor chain."""
    owner = attribute_jobs(spans, jobs)
    stage_job = {}
    for jid in sorted(jobs):  # a reused stage runs in the first job listing it
        for st in jobs[jid]["stages"]:
            stage_job.setdefault(st, jid)
    job_names: dict[int, set[str]] = {
        jid: {s["name"] for s in ancestors(spans, sid)} & set(names)
        for jid, sid in owner.items()}
    out = {n: {"jobs": 0, "tasks": 0, **{k: 0 for k in RUNTIME_KEYS}}
           for n in names}
    for jid, ns in job_names.items():
        for n in ns:
            out[n]["jobs"] += 1
    for t in tasks:
        for n in job_names.get(stage_job.get(t["stage"]), ()):
            out[n]["tasks"] += 1
            for k in RUNTIME_KEYS:
                out[n][k] += t[k]
    return out


def job_children(spans: list[dict], jobs: dict) -> dict[int, list[dict]]:
    """Spark jobs (or SQL executions) as child intervals of the span they
    are attributed to."""
    out: dict[int, list[dict]] = {}
    for jid, sid in attribute_jobs(spans, jobs).items():
        if sid is not None:
            out.setdefault(sid, []).append(
                {"start": jobs[jid]["submit"], "end": jobs[jid]["end"]})
    return out
