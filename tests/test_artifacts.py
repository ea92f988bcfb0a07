"""Close-out artifact drift gate (VERDICT r8 next-round #2).

Round 8 shipped a PLAN_AUDIT.md one query stale (the final commit
landed after the audit ran) and a SCALING.md whose final counts said
289 while the registry held 290 — invisible to every other gate. These
tests make the full pytest suite FAIL whenever the committed artifacts
disagree with the live registry, so a registry-touching commit cannot
land without regenerating them:

    python tools/plan_audit.py && python tools/gen_readme_counts.py

No Spark session needed — pure text-vs-registry comparison.
"""

from __future__ import annotations

import importlib.util
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def _registry():
    import covid_data_challenge_spark.queries_ext  # noqa: F401 — populate
    from covid_data_challenge_spark.registry import REGISTRY

    return REGISTRY


def _plan_audit_tool():
    """Import tools/plan_audit.py by path (tools/ is not a package) so
    the skip-list lives in ONE place and this gate can't drift from it."""
    spec = importlib.util.spec_from_file_location(
        "plan_audit_tool", REPO / "tools" / "plan_audit.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_plan_audit_covers_registry():
    """PLAN_AUDIT.md must hold exactly one row per plannable registered
    query and list exactly the runs-own-action queries as skipped."""
    registry = _registry()
    tool = _plan_audit_tool()
    plannable = {n for n in registry if not tool.runs_own_action(n)}
    skipped = set(registry) - plannable

    text = (REPO / "PLAN_AUDIT.md").read_text()
    rows = {
        m.group(1)
        for m in re.finditer(r"^\| (\w+) \| \d+ \|", text, re.MULTILINE)
    }
    m = re.search(r"^Skipped[^:]*: (.+)$", text, re.MULTILINE)
    assert m, "PLAN_AUDIT.md lost its Skipped line"
    audited_skipped = {s.strip() for s in m.group(1).split(",")}

    missing = plannable - rows
    stale = rows - plannable
    assert not missing and not stale, (
        f"PLAN_AUDIT.md drifted from the registry — regenerate with "
        f"`python tools/plan_audit.py`. missing={sorted(missing)} "
        f"stale={sorted(stale)}"
    )
    assert audited_skipped == skipped, (
        f"PLAN_AUDIT.md skip list drifted: "
        f"missing={sorted(skipped - audited_skipped)} "
        f"stale={sorted(audited_skipped - skipped)}"
    )


def test_bench_membership_covers_registry():
    """The bench-membership drift gate (VERDICT r9 what's-wrong #2):
    every registered query is in a bench tier OR carries a written
    exemption reason in bench.BENCH_EXEMPT — nine r9 queries shipped in
    neither, the exact miss the r9 self-review caught once (for the
    residual split) and then repeated. Also: no stale names on either
    side, no query both timed and exempted, and no empty reasons."""
    import bench

    registry = set(_registry())
    tiers = (
        set(bench.HEADLINE)
        | set(bench.EXTENSION)
        | set(bench.WAREHOUSE)
        | set(bench.SCALE_SF1)
    )
    exempt = set(bench.BENCH_EXEMPT)
    unaccounted = registry - tiers - exempt
    assert not unaccounted, (
        f"registered but neither benched nor exempted (add to a bench.py "
        f"tier or BENCH_EXEMPT with a reason): {sorted(unaccounted)}"
    )
    stale = (tiers | exempt) - registry
    assert not stale, f"bench.py names not in the registry: {sorted(stale)}"
    double = tiers & exempt
    assert not double, f"both timed and exempted: {sorted(double)}"
    assert all(
        isinstance(r, str) and len(r) >= 40 for r in bench.BENCH_EXEMPT.values()
    ), "every exemption needs a substantive written reason"


def test_readme_counts_match_registry():
    registry = _registry()
    n = len(registry)
    n_oracle = sum(1 for s in registry.values() if s.oracle is not None)
    text = (REPO / "README.md").read_text()
    m = re.search(r"(\d+)-query registry in\n? +total", text)
    assert m, "README.md lost its registry-count sentence"
    assert int(m.group(1)) == n, (
        f"README says {m.group(1)} queries, registry has {n} — run "
        f"`python tools/gen_readme_counts.py`"
    )
    m = re.search(r"all (\d+) registered queries hash-checked", text)
    assert m, "README.md lost its oracle-count sentence"
    assert int(m.group(1)) == n_oracle, (
        f"README says {m.group(1)} oracle-paired, registry has {n_oracle}"
    )


def test_scaling_final_counts_match_registry():
    """The LAST 'N queries, N oracle-paired' claim in SCALING.md must
    describe the live registry (the r8 close-out shipped it stale)."""
    registry = _registry()
    n = len(registry)
    n_oracle = sum(1 for s in registry.values() if s.oracle is not None)
    text = (REPO / "SCALING.md").read_text()
    claims = re.findall(r"\*\*(\d+) queries,\s*(\d+)\s*\n?\s*oracle-paired\*\*", text)
    assert claims, "SCALING.md lost its registry-count claim"
    last_n, last_oracle = int(claims[-1][0]), int(claims[-1][1])
    assert (last_n, last_oracle) == (n, n_oracle), (
        f"SCALING.md's final claim says {last_n}/{last_oracle}, registry "
        f"is {n}/{n_oracle} — update the close-out section"
    )


def test_plan_audit_fresh_at_head():
    """PLAN_AUDIT.md must not predate the last commit touching the
    engine package (VERDICT r11 what's-wrong #1: the 20:00 self-review
    commit changed image_tile_phash_neardup's join strategy AFTER the
    17:29 audit regen, so the committed tile-pair row described a plan
    that no longer existed). Row-coverage (above) only catches registry
    MEMBERSHIP drift; this catches plan drift: any commit that touches
    covid_data_challenge_spark/ after the last commit touching
    PLAN_AUDIT.md invalidates the audit. Compared by commit ancestry
    (rev-list), not timestamps, so same-second commits can't alias."""
    import subprocess

    def git(*args):
        return subprocess.run(
            ["git", *args], cwd=REPO, capture_output=True, text=True
        )

    head = git("rev-parse", "HEAD")
    if head.returncode != 0:
        import pytest

        pytest.skip("not a git checkout")
    audit_commit = git(
        "log", "-1", "--format=%H", "--", "PLAN_AUDIT.md"
    ).stdout.strip()
    assert audit_commit, "PLAN_AUDIT.md has never been committed"
    later = git(
        "rev-list",
        f"{audit_commit}..HEAD",
        "--",
        "covid_data_challenge_spark",
    ).stdout.split()
    assert not later, (
        f"PLAN_AUDIT.md is stale: {len(later)} commit(s) touched the "
        f"engine package after the audit's last commit "
        f"({audit_commit[:10]}) — rerun `python tools/plan_audit.py` "
        f"and commit the regenerated audit LAST"
    )
