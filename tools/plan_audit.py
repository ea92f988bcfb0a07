"""Registry-wide shuffle-budget audit.

For every registered query, build the physical plan (no execution except
the handful of callables that run their own action by design) and count
the operators that matter at 100 TB: exchanges, join strategies, Python
evaluation, cartesian products. Output: one markdown table sorted by
exchange count, written to PLAN_AUDIT.md and echoed to stdout.

This is the whole-registry version of tests/test_plans.py: the tests pin
a dozen load-bearing shapes exactly; this report makes the OTHER
170-odd queries' shuffle budgets reviewable at a glance each round.

Usage: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

import covid_data_challenge_spark.queries  # noqa: F401, E402 — populate REGISTRY
import covid_data_challenge_spark.queries_ext  # noqa: F401, E402
from covid_data_challenge_spark.registry import REGISTRY  # noqa: E402
from covid_data_challenge_spark.session import get_spark  # noqa: E402

#: Queries whose callable executes its own action (streaming runs,
#: df.observe, the gold builds that rebuild on every call) — their
#: returned frame's plan is the post-action shell, so the census would
#: mislead, and constructing them would run the action; skip with a note
#: instead. Matched by substring (:func:`runs_own_action`).
_RUNS_OWN_ACTION = (
    "stream",
    "observed_quality_report",
    "bpe_merge_table",
    "ann_pq_build",
    "ann_ivfpq_residual_build",
    "ann_pq_rerank_build",
    "lr_feature_gold_build",
)


def runs_own_action(name: str) -> bool:
    """Whether registry query ``name`` runs its own action when called —
    the one skip predicate of every plan sweep."""
    return any(tag in name for tag in _RUNS_OWN_ACTION)


_DEPTH_RE = re.compile(r"^([\s:+\-]*)(?:\*\(\d+\)\s*)?")
_HARD_BOUNDING = ("TakeOrderedAndProject", "GlobalLimit", "WindowGroupLimit")
_AGG = ("HashAggregate", "SortAggregate", "ObjectHashAggregate")
#: Leaf nodes that are literal / driver-local by construction (a
#: spark.range grid, a createDataFrame recipe) — provably tiny.
_LITERAL_LEAF = ("Range (", "LocalTableScan")
_LEAF = ("Scan ", "FileScan", "ExistingRDD", "InMemoryTableScan")
#: Aggregate grouping keys that are provably LOW-CARDINALITY BY
#: CONSTRUCTION — an aggregate on any other key does NOT bound a
#: single-partition window (r4 VERDICT: `logit_units` is bounded by
#: distinct-score cardinality, which approaches |docs| on a natural
#: corpus; an audit that exempts every aggregate can't see that).
#: Each entry's bound comes from code, not data:
#:   __ps_shard      spark_partition_id after repartitionByRange(K) — ≤ K
#:   shard           md5 hash-range slice, constant n_shards (operators/sampling.py)
#:   bin             fixed decile/histogram grids (10 / _PSI_BINS / n_bins params)
#:   bucket          LR hashed-feature space, constant LR_BUCKETS=65
#:   len_bucket      only TOGETHER with shard (see length_bucketed_batches);
#:                   bare len_bucket is corpus-population — NOT listed
#:   band            LSH band index, constant n_bands
#:   source          corpus source label (enum-sized dimension)
#:   threshold       sweep grids (constant)
#:   __b             skyline grid cell, constant `buckets` param (operators/skyline.py)
#:   event_type      enum-sized label vocabulary (like source)
#:   lang            ISO language inventory — bounded by the world's
#:                   languages, not the corpus (unimax_budget_plan)
#:   month/order_year calendar-grain — bounded by elapsed time, not data
_BOUNDED_KEYS = {"__ps_shard", "shard", "bin", "bucket", "band", "source",
                 "threshold", "dow", "hr", "grid_q", "__b", "event_type",
                 "lang", "month", "order_year"}
_KEYS_RE = re.compile(r"(?:Hash|Sort|ObjectHash)Aggregate\(keys=\[([^\]]*)\]")
_KEYNAME_RE = re.compile(r"([A-Za-z_][A-Za-z0-9_]*)#\d+")


def _depth(line: str) -> int:
    return len(_DEPTH_RE.match(line).group(1))


#: Expression heads that are calendar/enum-bounded no matter what column
#: they consume — Catalyst hoists non-attribute grouping keys into
#: ``expr AS _groupingexpression#N`` Projects, erasing the query-level
#: alias (e.g. ``order_year``), so boundedness must be read off the
#: defining expression itself.
_BOUNDED_EXPR_HEADS = ("year(", "month(", "quarter(", "dayofweek(",
                       "dayofmonth(", "hour(", "minute(", "weekofyear(")


def _groupingexpr_is_bounded(gid: str, subtree: list[str]) -> bool:
    """Resolve ``_groupingexpression#N`` to its defining ``expr AS
    _groupingexpression#N`` (in a Project below the aggregate) and test
    the expression head against the bounded-by-construction set."""
    pat = re.compile(r"([^\s,\[][^,\[]*?) AS " + re.escape(gid) + r"\b")
    for s in subtree:
        m = pat.search(s)
        if m:
            expr = m.group(1).strip().lower()
            return expr.startswith(_BOUNDED_EXPR_HEADS)
    return False


def _agg_is_bounded(line: str, subtree: list[str] = ()) -> bool:
    """True iff this aggregate provably collapses to a small table: no
    grouping keys (scalar), or every grouping key is in the
    by-construction low-cardinality list above (with hoisted
    ``_groupingexpression`` keys resolved through their defining
    Project in ``subtree``)."""
    m = _KEYS_RE.search(line)
    if not m:
        return False
    keys_src = m.group(1).strip()
    if not keys_src:
        return True  # global aggregate -> one row
    names = _KEYNAME_RE.findall(keys_src)
    if not names:
        return False
    gids = re.findall(r"_groupingexpression#\d+", keys_src)
    gid_i = 0
    for n in names:
        if n in _BOUNDED_KEYS:
            continue
        if n == "_groupingexpression":
            gid = gids[gid_i] if gid_i < len(gids) else None
            gid_i += 1
            if gid and _groupingexpr_is_bounded(gid, subtree):
                continue
        return False
    return True


def corpus_global_windows(plan: str) -> int:
    """Count Window nodes that sort a data-sized input through a single
    partition: the window's subtree reaches a corpus leaf before any
    node that PROVABLY bounds cardinality — a limit/group-limit, a
    literal leaf (Range/LocalTableScan), or an aggregate whose grouping
    keys are low-cardinality BY CONSTRUCTION (see _BOUNDED_KEYS). An
    aggregate on an arbitrary data key (e.g. distinct logits) no longer
    exempts the window: its cardinality is data-dependent and can reach
    |corpus| (the r4 classifier_eval_auc residual — that shape now
    trips this audit)."""
    lines = plan.splitlines()
    n_bad = 0
    for i, ln in enumerate(lines):
        if not re.search(r"\bWindow\b", ln) or "WindowGroupLimit" in ln:
            continue
        d = _depth(ln)
        sub = []
        for nxt in lines[i + 1 :]:
            if nxt.strip() and _depth(nxt) <= d:
                break
            sub.append(nxt)
        first_ex = next((s for s in sub if "Exchange" in s), None)
        is_global = first_ex is not None and "SinglePartition" in first_ex
        bounded = False
        for s in sub:
            if any(tag in s for tag in _HARD_BOUNDING):
                bounded = True
                break
            if any(tag in s for tag in _AGG) and _agg_is_bounded(s, sub):
                bounded = True
                break
            if any(tag in s for tag in _LITERAL_LEAF):
                bounded = True
                break
            if any(tag in s for tag in _LEAF):
                break
        if is_global and not bounded:
            n_bad += 1
    return n_bad


#: Python-evaluation physical nodes. BatchEvalPython is the row-at-a-time
#: UDF (never sanctioned); the rest are Arrow-batched but still leave the
#: JVM — only the explicitly sanctioned sites below may plan them
#: (r4 VERDICT: the old detector matched only *EvalPython, so
#: applyInPandas/mapInPandas sites passed invisibly).
_PY_NODES = ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas",
             "MapInPandas", "FlatMapGroupsInPandasWithState",
             "TransformWithStateInPandas")
#: Sanctioned grouped-map/map Python sites: multimodal decode stages
#: (operators/multimodal.py — binary decode is not expressible in Column
#: algebra), greedy sequence packing (operators/packing.py — prefix-sum
#: with reset is not window-expressible), and streaming stateful ops
#: (applyInPandasWithState / transformWithStateInPandas by design).
_PY_SANCTIONED_PREFIXES = ("multimodal", "stream")
#: r8: the perceptual-hash/fingerprint near-dup queries run the same
#: multimodal decode kernels (pHash DCT, audio FFT — operators/
#: multimodal.py) through one mapInPandas stage each; everything after
#: the hash column (banding, joins, popcount verify) is JVM algebra.
_PY_SANCTIONED_EXACT = {
    "sequence_packing",
    "packing_stats",
    "image_phash_neardup",
    "audio_fp_neardup",
    "video_fp_neardup",
    # r9 shift-tolerant legs: same decode kernels, one mapInPandas
    # fingerprint stage each; banding/verify is JVM column algebra
    "audio_fp_shifted_neardup",
    "video_fp_shifted_neardup",
    # r9 sf-scaled corpus: one magic-sniffing decode (resp. pHash)
    # mapInPandas stage over the cached media gold table; everything
    # downstream (posexplode / banding join) is JVM column algebra
    "media_corpus_decode_stats",
    "media_corpus_phash_neardup",
    # r9 corpus v2: the audio/video fingerprint legs at sf scale —
    # one mapInPandas fingerprint stage each over the media gold table
    "media_corpus_audio_fp_neardup",
    "media_corpus_video_fp_neardup",
    # r10 large-offset shift leg: one mapInPandas fingerprint stage
    # over the fixture table; the ±32 block matching is JVM algebra
    "audio_fp_large_shift_neardup",
    # r10 incremental screens: the BATCH side runs one mapInPandas
    # fingerprint stage (history fingerprints come prebuilt from the
    # gold parquet — no Python on the history scan); banding/verify
    # is JVM column algebra
    "media_incremental_phash_screen",
    "media_incremental_audio_fp_screen",
    "media_incremental_video_fp_screen",
    "media_incremental_audio_shift_screen",
    # r11 video twin of the shift screen: same batch-side mapInPandas
    # fingerprint stage; history words come prebuilt from the gold
    "media_incremental_video_shift_screen",
    # r11 tiled-pHash family: one mapInPandas tile-fingerprint stage
    # over the fixture / batch side; 2-D matching is JVM column algebra
    "image_tile_phash_neardup",
    "media_incremental_image_tile_screen",
}


def python_eval_nodes(plan: str) -> int:
    n_state = plan.count("FlatMapGroupsInPandasWithState")
    return (
        plan.count("BatchEvalPython")
        + plan.count("ArrowEvalPython")
        + (plan.count("FlatMapGroupsInPandas") - n_state)
        + plan.count("MapInPandas")
        + n_state
        + plan.count("TransformWithStateInPandas")
    )


def python_sanctioned(name: str) -> bool:
    return name in _PY_SANCTIONED_EXACT or any(
        name.startswith(p) for p in _PY_SANCTIONED_PREFIXES
    )


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(app_name="plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")

    rows = []
    skipped = []
    for name, spec in sorted(REGISTRY.items()):
        if runs_own_action(name):
            skipped.append(name)
            continue
        df = spec.spark(spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(jmode)
        rows.append(
            (
                name,
                plan.count("Exchange hashpartitioning"),
                plan.count("BroadcastHashJoin"),
                plan.count("SortMergeJoin"),
                plan.count("BroadcastNestedLoopJoin"),
                plan.count("CartesianProduct"),
                python_eval_nodes(plan),
                corpus_global_windows(plan),
            )
        )

    rows.sort(key=lambda r: (-r[1], r[0]))
    # stamp the generation tree: an expression-level engine change can
    # regenerate this table byte-identically, and the freshness gate
    # (test_plan_audit_fresh_at_head) needs the FILE re-committed with
    # every engine-touching commit — the stamp guarantees a diff.
    import subprocess

    proc = subprocess.run(
        ["git", "rev-parse", "--short", "HEAD"],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        capture_output=True,
        text=True,
    )
    if proc.returncode != 0:
        # ADVICE r12: a silent "unknown" stamp defeats the freshness
        # gate's always-produces-a-diff guarantee — fail loudly instead.
        raise RuntimeError(
            f"git rev-parse failed (rc={proc.returncode}): {proc.stderr.strip()}"
        )
    head = proc.stdout.strip()
    lines = [
        "# PLAN_AUDIT — per-query shuffle budget (plans built at "
        f"{sf_dir}, AQE initial plans)",
        "",
        f"Generated at tree: {head} (+ working-tree changes being committed with this file).",
        "",
        "Regenerate: `python tools/plan_audit.py`. Sorted by exchange",
        "count — the top of this table is where 100 TB attention goes.",
        "`cartesian` must be 0 everywhere (also enforced by",
        "`test_no_cartesian_product_anywhere`); `python_eval` counts ALL",
        "Python nodes (row-UDF, pandas-UDF, applyInPandas/mapInPandas,",
        "stateful) and is only sanctioned for multimodal_*,",
        "sequence_packing/packing_stats, and streaming stateful ops;",
        "`global_win` counts single-partition Window sorts whose input",
        "is not PROVABLY bounded — an aggregate exempts only when its",
        "grouping keys are low-cardinality by construction (see",
        "_BOUNDED_KEYS in tools/plan_audit.py) — and must be 0",
        "everywhere.",
        "",
        "| query | exchanges | bhj | smj | bnlj | cartesian | python_eval | global_win |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for r in rows:
        lines.append("| " + " | ".join(str(x) for x in r) + " |")
    lines.append("")
    lines.append(
        f"Skipped (callable runs its own action; plan shell not meaningful): "
        + ", ".join(sorted(skipped))
    )
    out = "\n".join(lines) + "\n"
    with open(REPO / "PLAN_AUDIT.md", "w") as f:
        f.write(out)
    n_cart = sum(r[5] for r in rows)
    n_py = sum(1 for r in rows if r[6] and not python_sanctioned(r[0]))
    n_gwin = sum(r[7] for r in rows)
    print(f"{len(rows)} plans audited, {n_cart} cartesian products, "
          f"{n_py} unsanctioned python-eval queries, "
          f"{n_gwin} corpus-sized global windows -> PLAN_AUDIT.md")
    return 0 if n_cart == 0 and n_py == 0 and n_gwin == 0 else 1


if __name__ == "__main__":
    raise SystemExit(main())
