"""Regenerate physical-plan evidence for PLANS.md.

Usage: python tools/capture_plans.py [query ...]   (default: the queries
already documented in PLANS.md headings)

Prints each query's ``explain`` output (formatted mode) at sf0.1 —
paste-ready for PLANS.md. The properties PLANS.md claims are pinned by
tests/test_plans.py; this tool exists so the evidence can be refreshed
after refactors.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

import covid_data_challenge_spark.queries  # noqa: F401,E402
import covid_data_challenge_spark.queries_ext  # noqa: F401,E402
from covid_data_challenge_spark.registry import REGISTRY  # noqa: E402
from covid_data_challenge_spark.session import get_spark  # noqa: E402


def documented_queries() -> list[str]:
    # headings may carry a suffix, e.g. "## cms_heavy_hitters (round 2)"
    heads = re.findall(r"^## (\w+)", open(REPO / "PLANS.md").read(), re.M)
    return [h for h in heads if h in REGISTRY]


def main() -> int:
    names = sys.argv[1:] or documented_queries()
    spark = get_spark(app_name="capture-plans")
    spark.sparkContext.setLogLevel("ERROR")
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    for name in names:
        df = REGISTRY[name].spark(spark, "/root/testdata/sf0.1")
        print(f"\n## {name}\n")
        print("```")
        print(df._jdf.queryExecution().explainString(jmode))
        print("```")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
