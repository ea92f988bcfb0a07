"""Round-12 optimization measurement harness.

Times individual registered queries through the same noop-sink
methodology as bench.py (guide §1.4), dumps `.explain("formatted")` to
plans/r12/<query>_<tag>.txt, and prints a compact per-query line. Used
for the before/after evidence in OPTIMIZATION_r12.md; the graded artifact
stays bench.py.

Usage:
  python tools/optbench.py [--sf DIR] [--runs N] [--tag before] q1 q2 ...
  python tools/optbench.py --plan-only --tag before q1 q2 ...
"""

from __future__ import annotations

import argparse
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

import covid_data_challenge_spark.queries_ext  # noqa: E402,F401
from covid_data_challenge_spark.queries import REGISTRY  # noqa: E402
from covid_data_challenge_spark.session import get_spark  # noqa: E402

_ROUND = os.environ.get("SPARK_GRAFT_OPT_ROUND", "r13")
PLANS_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", _ROUND)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--tag", default=None, help="write plans/r12/<q>_<tag>.txt")
    ap.add_argument("--plan-only", action="store_true")
    args = ap.parse_args()

    spark = get_spark(app_name="optbench-r12")
    spark.sparkContext.setLogLevel("FATAL")
    os.makedirs(PLANS_DIR, exist_ok=True)

    if not args.plan_only:
        # same warmup as bench.py: JVM/codegen + page cache
        spark.range(1_000_000).selectExpr("sum(id) AS s").write.format("noop").mode("overwrite").save()

    for name in args.queries:
        fn = REGISTRY[name].spark
        df = fn(spark, args.sf)
        if args.tag:
            jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
            plan = df._jdf.queryExecution().explainString(jmode)
            with open(os.path.join(PLANS_DIR, f"{name}_{args.tag}.txt"), "w") as fh:
                fh.write(plan)
        if args.plan_only:
            print(f"{name}: plan written")
            continue
        times = []
        splits = []
        for i in range(args.runs):
            spark.sparkContext.setJobDescription(f"optbench:{name}:run{i}")
            # construction INSIDE the timed region, exactly like
            # bench.py:_timed — queries with eager internal iterations
            # (k-means builds, pagerank loops, EM rounds) do their heavy
            # lifting at construction time, so timing only the noop
            # write would under-report them. The construct/execute split
            # is reported separately to diagnose driver-bound (Catalyst
            # analysis of big expression trees, eager loops) vs
            # executor-bound queries.
            t0 = time.time()
            df = fn(spark, args.sf)
            t1 = time.time()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
            times.append(round(t2 - t0, 3))
            splits.append((round(t1 - t0, 3), round(t2 - t1, 3)))
        spark.sparkContext.setJobDescription(None)
        print(f"{name}: best={min(times)} runs={times} construct/exec={splits}")


if __name__ == "__main__":
    main()
