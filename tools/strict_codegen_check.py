"""Strict-codegen sweep: every registered query must EXECUTE with
whole-stage-codegen fallback disabled (CODEGEN_ONLY) — the r6
interpreted-mode-fallback class (expressions that silently drop out of
codegen and run 10-100× slower) stays extinct. Previously run ad hoc at
each close-out; a standing tool as of r10.

Usage: python tools/strict_codegen_check.py [sf_dir]   (default sf0.001)
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

import covid_data_challenge_spark.queries_ext  # noqa: E402,F401
from covid_data_challenge_spark.registry import REGISTRY  # noqa: E402
from covid_data_challenge_spark.session import get_spark  # noqa: E402


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(
        app_name="strict-codegen",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    spark.sparkContext.setLogLevel("FATAL")
    fails: list[str] = []
    t0 = time.time()
    for i, (name, spec) in enumerate(REGISTRY.items()):
        try:
            spec.spark(spark, sf).write.format("noop").mode("overwrite").save()
            print(f"ok    {name} ({i + 1}/{len(REGISTRY)})")
        except Exception as e:  # noqa: BLE001
            fails.append(name)
            print(f"FAIL  {name}: {type(e).__name__}: {str(e)[:200]}")
    print(
        f"\nstrict-codegen: {len(REGISTRY) - len(fails)}/{len(REGISTRY)} "
        f"in {time.time() - t0:.0f}s"
        + (f"; FAILURES: {fails}" if fails else "")
    )
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
