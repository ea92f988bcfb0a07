"""Regenerate the registry/oracle counts in README.md from the live
registry (VERDICT r7 next-round #7 — the r7 README drifted to 270/269
while the registry had grown to 276; generated counts can't drift).

Run at close-out alongside the PLAN_AUDIT regeneration:
    python tools/gen_readme_counts.py
Exits nonzero if a count pattern is missing (so a reworded README fails
loudly instead of silently keeping stale numbers).
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

README = REPO / "README.md"


def main() -> int:
    import covid_data_challenge_spark.queries_ext  # noqa: F401 — populate
    from covid_data_challenge_spark.registry import REGISTRY

    n = len(REGISTRY)
    n_oracle = sum(1 for s in REGISTRY.values() if s.oracle is not None)

    text = open(README).read()
    subs = [
        (r"\d+(-query registry in\n? +total)", rf"{n}\1"),
        (
            r"all \d+ registered queries hash-checked",
            f"all {n_oracle} registered queries hash-checked"
            if n_oracle == n
            else f"{n_oracle} of the {n} registered queries hash-checked",
        ),
    ]
    for pat, rep in subs:
        new, cnt = re.subn(pat, rep, text)
        if cnt != 1:
            print(f"ERROR: pattern {pat!r} matched {cnt} times (expected 1)")
            return 1
        text = new
    open(README, "w").write(text)
    print(f"README counts: {n} queries, {n_oracle} oracle-paired")

    # r9 (VERDICT r8 #2): PLAN_AUDIT.md must hold one row per plannable
    # query — the r8 close-out shipped it one query stale because the
    # last commit landed after the audit ran. tests/test_artifacts.py
    # enforces the same (with name-level diffs) inside the pytest gate.
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "plan_audit_tool", REPO / "tools" / "plan_audit.py"
    )
    pa = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(pa)
    plannable = sum(1 for q in REGISTRY if not pa.runs_own_action(q))
    audit = open(REPO / "PLAN_AUDIT.md").read()
    n_rows = len(re.findall(r"^\| \w+ \| \d+ \|", audit, re.MULTILINE))
    if n_rows != plannable:
        print(
            f"ERROR: PLAN_AUDIT.md has {n_rows} rows but the registry has "
            f"{plannable} plannable queries — run `python tools/plan_audit.py`"
        )
        return 1
    print(f"PLAN_AUDIT rows: {n_rows} == plannable registry size")
    return 0


if __name__ == "__main__":
    sys.exit(main())
