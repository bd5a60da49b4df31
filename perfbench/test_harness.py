"""Self-tests of the benchmark harness (no Spark session needed).

    python3 -m pytest perfbench/test_harness.py -q
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import gen  # noqa: E402
from perfbench.checks import same_with_ties  # noqa: E402
from perfbench.stats import percentile, tail_percentile  # noqa: E402
from perfbench.trace import (  # noqa: E402
    StackSampler,
    Tracer,
    attribute_jobs,
    coverage,
    layer_of,
    parse_event_log,
    self_time,
    spark_by_span_name,
    union_length,
)

HERE = os.path.dirname(os.path.abspath(__file__))
EVENT_LOG = os.path.join(HERE, "testdata", "eventlog.jsonl")


def test_percentile_matches_linear_interpolation():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 50) == 3.0
    assert percentile(xs, 100) == 5.0
    assert percentile(xs, 90) == pytest.approx(4.6)
    with pytest.raises(ValueError):
        percentile([], 50)


def test_tail_percentile_leaves_ten_samples_beyond():
    assert tail_percentile(1000) == 99.0
    assert tail_percentile(999) == 90.0
    assert tail_percentile(100) == 90.0
    assert tail_percentile(40) == 75.0
    assert tail_percentile(39) == 50.0
    for n, p in ((1000, 99.0), (100, 90.0), (40, 75.0)):
        assert tail_percentile(n) == p and tail_percentile(n - 1) < p


def test_union_and_self_time():
    assert union_length([]) == 0.0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert union_length([(0, 10), (2, 3)]) == 10.0
    parent = {"start": 0.0, "end": 10.0}
    kids = [{"start": 1.0, "end": 3.0}, {"start": 2.0, "end": 4.0},
            {"start": 9.0, "end": 12.0}]  # the last one overruns the parent
    assert self_time(parent, kids) == pytest.approx(10 - 3 - 1)
    assert self_time(parent, []) == 10.0


def test_tracer_records_parents_and_ops():
    tr = Tracer(True)
    with tr.span("a") as a:
        with tr.span("b") as b:
            pass
    with tr.span("c"):
        pass
    assert [s["name"] for s in tr.spans] == ["a", "b", "c"]
    assert b["parent"] == a["id"] and b["op"] == a["op"]
    assert tr.spans[2]["op"] != a["op"]
    assert a["dur"] >= b["dur"] >= 0
    off = Tracer(False)
    with off.span("x") as x:
        pass
    assert off.spans == [] and x["dur"] >= 0


def test_stack_samples_name_the_package_module():
    busy = {"__name__": "visionsearch_spark.query.fake", "time": __import__("time")}
    exec("def spin(s):\n    t = time.time() + s\n    while time.time() < t:\n"
         "        pass\n", busy)
    sampler = StackSampler(interval=0.002)
    busy["spin"](0.2)
    sampler.stop()
    layers = [layer for _a, _b, layer in sampler.samples]
    assert layers.count("query.fake") > len(layers) / 2
    assert all(a <= b for a, b, _l in sampler.samples)


def test_layer_names_the_package_module_behind_a_spark_call():
    def frame_of(*mods):
        # innermost first: a fake frame chain over the given module names
        f = None
        for mod in reversed(mods):
            f = type("F", (), {"f_globals": {"__name__": mod}, "f_back": f})
        return f

    assert layer_of(frame_of("py4j.java_gateway", "pyspark.sql.dataframe",
                             "visionsearch_spark.query.wand",
                             "perfbench.workloads")) == "query.wand:jvm"
    assert layer_of(frame_of("pyspark.sql.dataframe",
                             "visionsearch_spark.index.spimi")
                    ) == "index.spimi:pyspark"
    assert layer_of(frame_of("visionsearch_spark.analyzer", "py4j.x")
                    ) == "analyzer"
    assert layer_of(frame_of("py4j.java_gateway", "pyspark.sql.dataframe",
                             "perfbench.workloads")) == "jvm"
    assert layer_of(frame_of("json", "perfbench.workloads")) == "harness"
    assert layer_of(frame_of("json")) == "other"


def test_paused_sampler_takes_no_samples():
    sampler = StackSampler(interval=0.002)
    sampler.paused = True
    __import__("time").sleep(0.05)
    n = len(sampler.samples)
    sampler.paused = False
    __import__("time").sleep(0.05)
    sampler.stop()
    assert n <= 1 < len(sampler.samples)


def test_coverage_counts_spark_and_package_time_only():
    span = {"start": 0.0, "end": 10.0}
    jobs = [{"start": 1.0, "end": 4.0}]
    samples = [(4.0, 5.0, "index.spimi"),      # package Python: covered
               (5.0, 6.0, "index.spimi:jvm"),  # its JVM call: covered
               (6.0, 7.0, "jvm"),              # nobody's JVM wait: not
               (7.0, 8.0, "pyspark"),          # nobody's Spark client: not
               (3.0, 4.0, "jvm"),              # inside the job: covered
               (8.0, 9.0, "harness")]
    assert coverage(span, jobs, samples) == pytest.approx(0.5)
    assert coverage(span, [], []) == 0.0


def test_event_log_parser_on_captured_log():
    jobs, tasks, execs = parse_event_log(EVENT_LOG)
    assert sorted(jobs) == [0, 1, 2] and sorted(execs) == [0, 1, 2]
    for j in jobs.values():
        assert j["end"] >= j["submit"] > 1e9 and j["stages"]
    # each job runs inside the SQL execution of its DataFrame action
    for j, x in zip(sorted(jobs), sorted(execs)):
        assert execs[x]["submit"] <= jobs[j]["submit"]
        assert jobs[j]["end"] <= execs[x]["end"]
    assert len(tasks) == 10
    assert all(t["task_cpu_s"] > 0 for t in tasks)
    assert all(t["sched_delay_s"] >= 0 for t in tasks)
    # the captured shuffle writes on its map side only
    assert sum(t["shuffle_write_bytes"] > 0 for t in tasks) == 4
    # one pandas UDF stage moved Arrow batches through Python workers
    assert sum(t["python_arrow_bytes"] > 0 for t in tasks) >= 1


def test_jobs_join_spans_by_submission_time():
    jobs, tasks, _execs = parse_event_log(EVENT_LOG)
    t0 = min(j["submit"] for j in jobs.values()) - 1
    t1 = max(j["end"] for j in jobs.values()) + 1
    # job 2 was submitted from a helper thread: no job group, but its
    # submission time lies inside the span
    spans = [{"id": 0, "name": "build", "parent": None,
              "start": t0, "end": t1},
             {"id": 1, "name": "inner", "parent": 0,
              "start": jobs[2]["submit"] - 0.01, "end": t1}]
    owner = attribute_jobs(spans, jobs)
    assert owner[2] == 1 and owner[0] == 0
    totals = spark_by_span_name(spans, jobs, tasks, ("build",))["build"]
    assert totals["jobs"] == 3 and totals["tasks"] == len(tasks)
    assert attribute_jobs([], jobs) == {j: None for j in jobs}


def test_same_with_ties():
    a = [("c1", 0, 2.0), ("c2", 0, 1.0), ("c3", 0, 1.0)]
    b = [("c1", 0, 2.0), ("c3", 0, 1.0), ("c2", 0, 1.0)]
    assert same_with_ties(a, b, 5)
    # a full list's last score group may hold other members of the tie
    assert same_with_ties(a, [("c1", 0, 2.0), ("c2", 0, 1.0),
                              ("c9", 0, 1.0)], 3)
    assert not same_with_ties(a, [("c1", 0, 2.0), ("c2", 0, 1.0),
                                  ("c9", 0, 1.0)], 5)
    assert not same_with_ties(a, [("c1", 0, 2.0), ("c2", 0, 1.5)], 5)


def test_generators_are_deterministic(tmp_path):
    p1 = gen.corpus_path(str(tmp_path / "a"), 12, 7)
    p2 = gen.corpus_path(str(tmp_path / "b"), 12, 7)
    p3 = gen.corpus_path(str(tmp_path / "c"), 12, 8)
    assert filecmp.cmp(p1, p2, shallow=False)
    assert not filecmp.cmp(p1, p3, shallow=False)
    assert gen.corpus_path(str(tmp_path / "a"), 12, 7) == p1  # cached
    pool = gen.query_pool(3, 2)
    assert pool == gen.query_pool(3, 2) and pool != gen.query_pool(4, 2)
    assert len(pool) == 2 * sum(n for _c, n in gen.LAYOUT)
    assert {c for c, _t, _k in pool} == set(gen.CATEGORIES)
    assert {k for _c, _t, k in pool} == {5, 10, 30}
    # the fixture's blocks land in their categories
    assert pool[0] == ("head", "join", 10)
    assert ("oov", "zzzznotaword", 5) in pool
    assert ("tail", "xylophone", 5) in pool
    order = gen.interleave(pool)
    assert sorted(order) == sorted(pool)
    n = len(gen.CATEGORIES)
    assert [c for c, _t, _k in order[:2 * n]] == list(gen.CATEGORIES) * 2


def test_benchmark_json_keeps_its_contract():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert set(bench) == {"command", "paths", "run_seconds", "workloads",
                          "end_to_end", "per_layer"}
    name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    unit = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
    names = [w["name"] for w in bench["workloads"]]
    names += [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert all(name.match(n) for n in names) and len(set(names)) == len(names)
    assert 2 <= len(bench["workloads"]) <= 8
    assert all(set(w) == {"name", "why"} and len(w["why"]) <= 200
               for w in bench["workloads"])
    assert {w["name"] for w in bench["workloads"]} == {"ingest", "query"}
    for m in bench["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert unit.match(m["unit"]) and 0 < m["bound"] <= 0.25
    setup = [m for m in bench["end_to_end"] if m["name"] == "setup_s"]
    assert setup == [{"name": "setup_s", "unit": "s", "better": "lower",
                      "bound": max(m["bound"] for m in bench["end_to_end"])}]
    assert 1 <= len(bench["per_layer"]) <= 128
    for m in bench["per_layer"]:
        assert set(m) == {"name", "unit", "better"} and unit.match(m["unit"])
    assert all(m["better"] in ("higher", "lower")
               for m in bench["end_to_end"] + bench["per_layer"])
