"""Benchmark entry point.

    python3 perfbench/run.py --workload snapshot_refresh --seed 1 --seconds 20 --trace 0

Run from the repository root. Builds seeded inputs under
``perfbench/_work/``, drives one workload through the program's public
calls, checks every output against an engine-independent reference, and
prints one JSON line as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the ``end_to_end`` list of
``BENCHMARK.json``; with ``--trace 1`` the run is traced and the metrics
are the ``per_layer`` list (spans go to ``perfbench/out/``).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

import stats  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _metrics(kind: str) -> list[dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)[kind]


def _mix(by_type: dict[str, list[float]]) -> float:
    """Median over query types of each type's median."""
    return statistics.median([statistics.median(v) for v in by_type.values()])


def end_to_end(res) -> dict[str, float]:
    return {
        "setup_s": res.setup_s,
        "batch_s": statistics.median(res.batch_s),
    }


def per_layer(res) -> dict[str, float]:
    q = [x for v in res.queries.values() for x in v]
    return {
        **res.layers,
        "run.batch_cpu_s": res.batch_cpu_s,
        "run.query_p50_ms": 1000 * _mix(res.queries),
        "run.peak_rss_mb": res.peak_rss_mb,
        "run.queries_per_s": res.queries_per_s,
        "run.query_tail_ms": 1000 * stats.tail(q)[1],
        "run.read_lag_ms": 1000 * statistics.median(res.read_lag_s) if res.read_lag_s else 0.0,
        "run.read_miss_share": res.read_miss_share,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--driver-memory", default="2g",
                    help="driver JVM heap (spark.driver.memory); the program's 16g default "
                         "does not fit a small machine")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    # the program must be present: fail before generating anything
    import covid_data_challenge_spark.pipeline.covid  # noqa: F401

    import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}")
    work = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    bench = None
    try:
        bench = workloads.Bench(work, args.seed, args.seconds, bool(args.trace),
                                args.driver_memory, T_START,
                                os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json"))
        res = workloads.WORKLOADS[args.workload](bench)
    finally:
        if bench is not None:
            bench.close()
        shutil.rmtree(work, ignore_errors=True)

    values = per_layer(res) if args.trace else end_to_end(res)
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in _metrics("per_layer" if args.trace else "end_to_end")}
    for e in res.errors:
        print(f"check failed: {e}", file=sys.stderr)
    print(json.dumps({"correct": res.failed == 0, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
