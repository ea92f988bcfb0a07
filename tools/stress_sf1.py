"""Synthetic 10× scale stress (the SCALING.md §synthetic-sf1 study).

Builds /tmp/sfsynth1 — 10 key-shifted copies of the sf0.1 fact tables
(lineitem/orders/events; dims copied as-is) — then re-times a query list
warmed, best-of-2, at sf0.1 vs the synthetic sf1.

The driver ships no sf1 testdata; this self-check answers "does the plan
survive another 10×?" without touching /root/testdata. It found a real
bug on first run: the default 1 g driver heap OOM'd building a ~40 MB
broadcast (see session.py spark.driver.memory).

Usage: python tools/stress_sf1.py [query ...]
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

import covid_data_challenge_spark.queries_ext  # noqa: F401,E402
from covid_data_challenge_spark.queries import REGISTRY  # noqa: E402
from covid_data_challenge_spark.session import get_spark  # noqa: E402
from covid_data_challenge_spark.testing import build_synth_sf1  # noqa: E402

SRC = "/root/testdata/sf0.1"
DST = "/tmp/sfsynth1"
COPIES = 10
DEFAULT_QUERIES = [
    "pricing_summary", "flagship_customer_snapshot", "latest_per_key",
    "regional_revenue", "returned_items_revenue", "late_shipment_priority",
    "cheapest_supplier_per_part", "large_volume_orders", "sole_late_supplier",
    "events_sessionize", "cohort_retention", "session_top_paths",
    "cms_heavy_hitters", "forward_fill", "lag_diff",
]
def main() -> None:
    spark = get_spark(app_name="stress-sf1")
    spark.sparkContext.setLogLevel("ERROR")
    build_synth_sf1(spark, SRC, DST, COPIES)

    def run(fn, sf_dir: str) -> float:
        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.time() - t0)
        return best

    spark.range(1_000_000).selectExpr("sum(id) AS s").write.format("noop").mode("overwrite").save()
    for q in (sys.argv[1:] or DEFAULT_QUERIES):
        fn = REGISTRY[q].spark
        t01, t1 = run(fn, SRC), run(fn, DST)
        print(f"{q}: sf0.1 {t01:.2f}s  synth-sf1 {t1:.2f}s  growth {t1 / t01:.1f}x")


if __name__ == "__main__":
    main()
