"""Tests of the benchmark's pure helpers: order statistics, span self time,
REST stage-metric parsing, plan parsing, the reference comparison and the
seeded generators. No Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import statistics
import sys
from decimal import Decimal

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

import fixtures as fx  # noqa: E402
import reference as ref  # noqa: E402
import stats  # noqa: E402
import tracing as tr  # noqa: E402


# --- stats -------------------------------------------------------------------


def test_tail_picks_highest_percentile_with_ten_beyond():
    xs = list(range(1000))
    assert stats.tail(xs)[0] == 99.0  # 1000 * 1% = 10 samples beyond
    assert stats.tail(xs[:200])[0] == 95.0  # 200 * 5% = 10
    assert stats.tail(xs[:100])[0] == 90.0
    assert stats.tail(xs[:40])[0] == 75.0
    assert stats.tail(xs[:12]) == (50.0, statistics.median(xs[:12]))


def test_tail_interpolates_like_numpy():
    xs = [float(x) for x in range(1001)]
    assert stats.tail(xs) == (99.0, pytest.approx(990.0))


# --- spans -------------------------------------------------------------------


def _span(i, parent, start, end, name="s"):
    return tr.Span(i, name, parent, "main", start, end)


def test_self_time_subtracts_children_union():
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 1.0, 4.0),
        _span(3, 1, 3.0, 6.0),  # overlaps 2: union 1..6 = 5
        _span(4, 2, 1.5, 2.0),  # grandchild: counts for 2, not for 1
        _span(5, None, 20.0, 21.0),
    ]
    st = tr.self_time(spans)
    assert st[1] == pytest.approx(5.0)
    assert st[2] == pytest.approx(2.5)
    assert st[3] == pytest.approx(3.0)
    assert st[5] == pytest.approx(1.0)


def test_self_time_clips_children_to_parent():
    spans = [_span(1, None, 0.0, 2.0), _span(2, 1, 1.5, 3.0)]
    assert tr.self_time(spans)[1] == pytest.approx(1.5)


# --- REST parsing --------------------------------------------------------------


JOBS = [
    {"jobId": 0, "jobGroup": "pb-1", "status": "SUCCEEDED", "stageIds": [0]},
    {"jobId": 1, "jobGroup": "pb-2", "status": "SUCCEEDED", "stageIds": [0, 1, 2]},
    {"jobId": 2, "status": "FAILED", "stageIds": [3]},
]
STAGES = [
    {"stageId": 0, "attemptId": 0, "status": "COMPLETE", "numTasks": 4, "numFailedTasks": 0,
     "shuffleWriteBytes": 100, "executorRunTime": 40, "jvmGcTime": 5, "inputRecords": 1000},
    {"stageId": 1, "attemptId": 0, "status": "SKIPPED", "numTasks": 4, "shuffleWriteBytes": 0},
    {"stageId": 2, "attemptId": 0, "status": "COMPLETE", "numTasks": 2, "numFailedTasks": 1,
     "memoryBytesSpilled": 7, "diskBytesSpilled": 3, "outputBytes": 55},
    {"stageId": 2, "attemptId": 1, "status": "COMPLETE", "numTasks": 2, "numFailedTasks": 0},
    {"stageId": 3, "attemptId": 0, "status": "FAILED", "numTasks": 1, "numFailedTasks": 1},
]


def test_group_metrics_attributes_shared_stage_to_first_job():
    g = tr.group_metrics(JOBS, STAGES)
    assert g["pb-1"]["shuffleWriteBytes"] == 100
    assert g["pb-1"]["inputRecords"] == 1000
    # stage 0 is listed by job 1 too but ran in job 0; stage 1 was skipped
    assert g["pb-2"]["shuffleWriteBytes"] == 0
    assert g["pb-2"]["stages"] == 2  # both attempts of stage 2
    assert g["pb-2"]["numTasks"] == 4 and g["pb-2"]["numFailedTasks"] == 1
    assert g["pb-2"]["memoryBytesSpilled"] + g["pb-2"]["diskBytesSpilled"] == 10
    assert g[""]["failed_jobs"] == 1 and g[""]["jobs"] == 1


def test_sum_groups():
    g = tr.group_metrics(JOBS, STAGES)
    total = tr.sum_groups(g, ["pb-1", "pb-2", "missing"])
    assert total["jobs"] == 2 and total["numTasks"] == 8


def test_rest_base_uses_loopback():
    assert tr.rest_base("http://somehost:4041") == "http://127.0.0.1:4041/api/v1"


def test_count_broadcast_joins_final_plan_only():
    plan = """AdaptiveSparkPlan isFinalPlan=true
+- == Final Plan ==
   BroadcastHashJoin [a], [b], Inner, BuildRight
   :- BroadcastHashJoin [a], [c], LeftOuter, BuildRight
+- == Initial Plan ==
   SortMergeJoin [a], [b], Inner
   BroadcastHashJoin [a], [c], LeftOuter, BuildRight
"""
    assert tr.count_broadcast_joins(plan) == 2
    assert tr.count_broadcast_joins("BroadcastNestedLoopJoin BuildRight, Cross") == 1
    assert tr.count_broadcast_joins("SortMergeJoin [a], [b]") == 0


# --- reference ------------------------------------------------------------------


def test_round_half_up_on_decimal_form():
    assert ref.round_half_up(2.675, 2) == 2.68  # binary 2.67499999... still rounds up
    assert ref.round_half_up(-1.005, 2) == -1.01
    assert ref.round_half_up(246697.355, 2) == 246697.36


def _exact(*values):
    return lambda: pd.DataFrame({"v": list(values)})


def test_check_registry_order_insensitive_and_bit_exact():
    a = pd.DataFrame({"k": [2, 1], "v": [0.5, 1.25]})
    b = pd.DataFrame({"v": [1.25, 0.5], "k": [1, 2]})
    assert ref.check_registry(a, b, _exact()) is None
    assert ref.check_registry(a, b.assign(v=[1.25, 0.5 + 1e-12]), _exact()) is not None
    assert ref.check_registry(a, b.iloc[:1], _exact()) is not None


def test_check_registry_settles_only_a_proven_tie():
    tie = _exact(Decimal("246697.355"))
    one = lambda v: pd.DataFrame({"v": [v]})  # noqa: E731
    # the two sides of an exact tie, either way round
    assert ref.check_registry(one(246697.35), one(246697.36), tie) is None
    assert ref.check_registry(one(246697.36), one(246697.35), tie) is None
    # not two steps, not one step off a tie, not an inexact (double) value
    assert ref.check_registry(one(246697.34), one(246697.36), tie) is not None
    assert ref.check_registry(one(246697.36), one(246697.35), _exact(Decimal("246697.36"))) \
        is not None
    assert ref.check_registry(one(246697.35), one(246697.36), _exact(246697.355)) is not None
    assert ref.check_registry(one(100.0), one(101.0), _exact(Decimal("100.0"))) is not None


def test_settle_ties_matches_rows_on_non_float_columns():
    got = pd.DataFrame({"k": [1, 2], "v": [10.01, 7.5]})
    want = pd.DataFrame({"k": [1, 2], "v": [10.02, 7.5]})
    exact = pd.DataFrame({"k": [2, 1], "v": [Decimal("7.5"), Decimal("10.015")]})
    assert ref.check_registry(got, want, lambda: exact) is None
    wrong_row = exact.assign(k=[1, 2])  # the tie belongs to another row
    assert ref.check_registry(got, want, lambda: wrong_row) is not None


def test_exact_oracle_unrounded_decimal_median(tmp_path):
    pd.DataFrame({"g": ["a", "a"], "x": [246697.35, 246697.36]}).to_parquet(tmp_path / "t.parquet")
    con = ref.duckdb_views(str(tmp_path), ["t"], exact=True)
    got = ref.exact_oracle(con, "SELECT g, round(median(x), 2) AS m, ROUND(sum(x * 2), 1) AS s "
                                "FROM t GROUP BY g")
    assert got.to_dict("records") == [
        {"g": "a", "m": Decimal("246697.355"), "s": Decimal("986789.420000")}]
    plain = ref.duckdb_views(str(tmp_path), ["t"]).execute("SELECT round(median(x), 2) FROM t")
    assert plain.fetchone()[0] == 246697.36


# --- generators -------------------------------------------------------------------


def test_generators_are_seeded_and_cover_edge_entities():
    from covid_data_challenge_spark.pipeline.covid import COUNTRY_NAME_MAPPING, EXCLUDE_REGIONS

    ent = fx.Entities(60, seed=5)
    h1 = fx.history_frame(ent, 40, seed=5)
    h2 = fx.history_frame(fx.Entities(60, seed=5), 40, seed=5)
    pd.testing.assert_frame_equal(h1, h2)
    names = set(h1["location"])
    assert set(COUNTRY_NAME_MAPPING) <= names
    assert set(EXCLUDE_REGIONS) <= names
    assert h1["iso_code"].fillna("").str.startswith("OWID_").any()
    null_share = h1["total_cases"].isna().mean()
    assert 0.15 < null_share < 0.25
    snap = {n for n, _ in ent.snapshot}
    hist = {n for n, _ in ent.history}
    assert hist - snap - set(COUNTRY_NAME_MAPPING) - set(EXCLUDE_REGIONS)  # history only
    assert snap - hist - set(COUNTRY_NAME_MAPPING.values())  # snapshot only


def test_drift_is_a_nondecreasing_walk():
    ent = fx.Entities(40, seed=3)
    base = fx.snapshot_base(ent, fx.history_frame(ent, 20, seed=3), seed=3)
    steps = [fx.drift(base, k, seed=3)["cases"].to_numpy() for k in range(4)]
    assert (steps[0] == base["cases"].to_numpy()).all()
    for a, b in zip(steps, steps[1:]):
        assert (b >= a).all()


def test_tpch_keys_unique_per_line():
    t = fx.tpch_tables(0.001, seed=1)
    li = t["lineitem"]
    assert not li.duplicated(["l_orderkey", "l_linenumber"]).any()
    assert set(t) == {"region", "nation", "customer", "supplier", "part", "orders", "lineitem"}
