"""Repository benchmark: seeded ingest and query workloads.

    python3 perfbench/run.py --workload {ingest,query} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. It prints a table of every metric with its
unit and sample count, the correctness-check counts, and as the last line
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones in BENCHMARK.json, with
--trace 1 the per-layer ones. All scratch data lives under .perfbench_work/
in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(REPO, ".perfbench_work")


def parse_args(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["ingest", "query"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def _terminate(signum, _frame):
    # unwind through the finally blocks that stop Spark and the server
    raise SystemExit(128 + signum)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, REPO)
    import visionsearch_spark  # noqa: F401 - fail fast outside a checkout

    os.makedirs(WORK, exist_ok=True)
    os.environ["TMPDIR"] = WORK
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p)
    signal.signal(signal.SIGTERM, _terminate)

    from perfbench.workloads import WORKLOADS, Run, finish_layers, graded

    run = Run(REPO, WORK, args.workload, args.seed, args.seconds,
              bool(args.trace))
    t0 = time.perf_counter()
    try:
        WORKLOADS[args.workload](run)
        run.stop_spark()
        wall = time.perf_counter() - t0
        if args.trace:
            driver = finish_layers(run)
            run.tracer.dump(os.path.join(WORK, f"spans-{args.workload}.jsonl"))
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        run.close()

    g = run.gate
    print(f"workload={args.workload} seed={args.seed} trace={args.trace} "
          f"wall={wall:.1f}s nproc={run.nproc}")
    for name, (v, unit, n) in sorted(run.table.items()):
        print(f"  {name:28s} {v:14.6g} {unit:10s} n={n}")
    print(f"  {'error_rate':28s} {g.failed / max(1, g.attempted):14.6g} "
          f"{'ratio':10s} failed={g.failed} attempted={g.attempted}")
    print("checks: " + " ".join(f"{k}={v}" for k, v in sorted(g.checks.items())))
    for e in g.errors:
        print(f"FAILED: {e}")
    if args.trace:
        print("driver time by layer (stack samples), s:")
        for op, by_layer in sorted(driver.items()):
            print(f"  {op}: " + " ".join(
                f"{k}={v:.3f}" for k, v in sorted(by_layer.items(),
                                                  key=lambda kv: -kv[1])))
        for name, (v, unit) in sorted(run.layers.items()):
            print(f"  {name:34s} {v:14.6g} {unit}")
    metrics = run.layers if args.trace else graded(run)
    print(json.dumps({
        "correct": g.failed == 0,
        "attempted": g.attempted,
        "failed": g.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in sorted(metrics.items())},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
