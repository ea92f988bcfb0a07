"""End-to-end pipeline tests with the reference's golden values
(reference tests/test_integration.py:325-642): the full clean → align →
merge → derive → summarize chain on hand-built fixtures.

Mapping direction matches the reference (data_cleaner.py:28-53): OWID
names are mapped to API names on the history source only; the API
snapshot keeps its original names."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from covid_data_challenge_spark.pipeline.covid import (
    build_country_mapping,
    clean_history,
    clean_snapshot,
    compare_countries,
    covid_trends,
    history_state,
    integration_summary,
    merge_datasets,
    overview_stats,
    search_countries,
    standardize_countries,
    top_k_by,
)

D = datetime.date
NOW = datetime.datetime(2024, 3, 1, 12, 0, 0)


@pytest.fixture(scope="module")
def history(spark):
    """OWID-shaped fixture: mapped + unmapped + aggregate rows, NULL gaps
    (reference tests/test_integration.py:331-340,406-416)."""
    rows = [
        ("Afghanistan", D(2024, 1, 1), "AFG", 40_000_000, 1000.0, 50.0),
        ("Afghanistan", D(2024, 1, 2), "AFG", 40_000_000, 1200.0, 60.0),
        ("United States", D(2024, 1, 1), "USA", 331_000_000, 9000.0, 400.0),
        ("United States", D(2024, 1, 2), "USA", 331_000_000, None, None),  # ffill target
        ("World", D(2024, 1, 1), "OWID_WRL", 8_000_000_000, 99999.0, 9999.0),
        ("High income", D(2024, 1, 1), "OWID_HIC", 1_000_000_000, 5555.0, 555.0),
    ]
    return spark.createDataFrame(
        rows,
        "country string, date date, iso_code string, population long, "
        "total_cases double, total_deaths double",
    )


@pytest.fixture(scope="module")
def snapshot(spark):
    """API-shaped fixture: API-style names kept as-is (no reverse
    mapping), plus a cruise-ship pseudo-entity the exclusion list must
    drop (reference tests/test_integration.py:342-349)."""
    rows = [
        ("Afghanistan", "AFG", 40_000_000, 1500, 75),
        ("USA", "USA", 331_000_000, 12000, 600),
        ("Bosnia", "BIH", 3_000_000, 90, 5),
        ("Diamond Princess", "XXX", 3711, 712, 14),
    ]
    return spark.createDataFrame(
        rows,
        "country string, iso_code string, population long, "
        "current_cases long, current_deaths long",
    )


def test_clean_history_drops_aggregates_and_fills(history):
    out = clean_history(history)
    rows = out.collect()
    countries = {r["country_standardized"] for r in rows}
    # World + High income dropped; 'United States' mapped to API name
    assert countries == {"Afghanistan", "USA"}
    usa2 = [
        r
        for r in rows
        if r["country_standardized"] == "USA" and r["date"] == D(2024, 1, 2)
    ][0]
    assert usa2["total_cases"] == 9000.0  # forward-filled
    assert usa2["new_cases"] == 0.0  # ffilled value − previous = 0
    afg2 = [
        r for r in rows if r["country_standardized"] == "Afghanistan" and r["date"] == D(2024, 1, 2)
    ][0]
    assert afg2["new_cases"] == 200.0
    assert afg2["data_source"] == "owid_historical"


def test_clean_history_keeps_source_provided_daily_columns(spark):
    """Reference data_cleaner.py:188-194: new_cases is computed ONLY when
    absent — source-reported daily values are never overwritten by diffs
    of forward-filled cumulatives."""
    rows = [
        ("Afghanistan", D(2024, 1, 1), 1000.0, 77.0),
        ("Afghanistan", D(2024, 1, 2), 1200.0, 88.0),
    ]
    df = spark.createDataFrame(
        rows, "country string, date date, total_cases double, new_cases double"
    )
    out = {r["date"]: r for r in clean_history(df).collect()}
    assert out[D(2024, 1, 2)]["new_cases"] == 88.0  # NOT the 200.0 diff


def test_clean_snapshot_keeps_api_names_and_derives(snapshot):
    out = {r["country_standardized"]: r for r in clean_snapshot(snapshot).collect()}
    assert "USA" in out  # API name kept, not reverse-mapped
    assert "Bosnia" in out
    assert "Diamond Princess" not in out  # cruise-ship pseudo-entity dropped
    bosnia = out["Bosnia"]
    assert bosnia["cases_per_100k"] == 3.0  # 90 / 3e6 * 1e5 (golden :506)
    afg = out["Afghanistan"]
    assert afg["case_fatality_rate"] == 5.0  # 75/1500*100


def test_country_mapping_flags(history, snapshot):
    h, s = clean_history(history), clean_snapshot(snapshot)
    flags = {r["country_standardized"]: r for r in build_country_mapping(h, s).collect()}
    assert flags["Afghanistan"]["can_merge"]
    assert flags["USA"]["can_merge"]  # OWID 'United States' → 'USA' matches
    assert flags["Bosnia"]["in_api"]
    assert not flags["Bosnia"]["in_owid"]


def test_merge_latest_alignment_and_gap_goldens(history, snapshot):
    """Latest row wins (reference :403-444); gap/CFR goldens (:475-509)."""
    merged = merge_datasets(clean_history(history), clean_snapshot(snapshot), now=NOW)
    rows = {r["country_standardized"]: r for r in merged.collect()}
    assert set(rows) == {"Afghanistan", "USA"}  # inner join
    afg = rows["Afghanistan"]
    assert afg["owid_date"] == D(2024, 1, 2)  # latest per key
    assert afg["owid_total_cases"] == 1200.0
    assert afg["cases_data_gap"] == 300.0  # 1500 − 1200
    assert afg["cases_data_gap_percent"] == 25.0
    assert afg["current_case_fatality_rate"] == 5.0  # 75/1500*100
    # reference data_merger.py:330-340: OWID population is the denominator
    assert afg["current_cases_per_100k"] == 3.75  # 1500 / 4e7 * 1e5
    assert afg["owid_data_age_days"] == 59  # 2024-01-02 → 2024-03-01
    assert afg["merge_timestamp"] == NOW


def test_trends_constant_ramp_golden(spark):
    """35-day +1/day ramp → avg_daily_new_cases == 1.0 (reference :446-473)."""
    base = D(2024, 1, 1)
    rows = [
        ("Testland", base + datetime.timedelta(days=i), 1000.0 + i, float(1))
        for i in range(35)
    ]
    df = spark.createDataFrame(
        rows, "country_standardized string, date date, total_cases double, new_cases double"
    )
    out = covid_trends(df).collect()
    assert len(out) == 1
    assert out[0]["avg_daily_new_cases"] == 1.0
    assert out[0]["cases_change_30d"] == 30.0


def test_integration_summary_completeness(spark, history, snapshot):
    merged = merge_datasets(clean_history(history), clean_snapshot(snapshot), now=NOW)
    summary = integration_summary(merged)
    assert summary["total_countries"] == 2
    assert summary["completeness_percent"]["owid_total_cases"] == 100.0
    assert summary["countries_with_large_gap"] == 2  # 25% and 33.3% gaps
    assert summary["top_10_by_current_cases"][0] == "USA"


@pytest.fixture(scope="module")
def state_history(spark):
    """Cleaned-history-shaped frame for the folded state, NOT forward-filled
    so NULL cumulatives survive. Global max date is 2024-03-31, so the
    30-day window starts 2024-03-01:
    - Alpha: 3 in-window rows with NULL gaps (first in-window NULL → 0);
    - Beta: every row before the window (latest row, no trends);
    - Gamma: exactly one in-window row (below the 2-point minimum);
    - Delta: latest row has NULL total_cases;
    - Eps: a row on the inclusive window start, and a NULL date (never
      latest, never in window)."""
    rows = [
        ("Alpha", D(2024, 2, 20), 100.0, 1.0, 5.0, None),
        ("Alpha", D(2024, 3, 2), None, 2.0, 6.0, 1_000),
        ("Alpha", D(2024, 3, 15), 130.0, None, None, 1_000),
        ("Alpha", D(2024, 3, 31), 160.0, 4.0, 9.0, 1_000),
        ("Beta", D(2024, 1, 5), 50.0, 1.0, 2.0, 2_000),
        ("Beta", D(2024, 2, 10), 70.0, 2.0, 3.0, 2_000),
        ("Gamma", D(2024, 2, 1), 10.0, 0.0, 1.0, 3_000),
        ("Gamma", D(2024, 3, 20), 20.0, 1.0, 2.0, 3_000),
        ("Delta", D(2024, 3, 10), 400.0, 10.0, 7.0, 4_000),
        ("Delta", D(2024, 3, 30), None, 12.0, None, 4_000),
        ("Eps", None, 999.0, 99.0, 99.0, 5_000),
        ("Eps", D(2024, 3, 1), 0.0, 0.0, 0.0, 5_000),
        ("Eps", D(2024, 3, 6), 8.0, 1.0, 1.0, 5_000),
    ]
    return spark.createDataFrame(
        rows,
        "country_standardized string, date date, total_cases double, "
        "total_deaths double, new_cases double, population long",
    )


def test_history_state_matches_latest_plus_left_joined_trends(state_history):
    """The folded per-country state equals the composition it replaces:
    ``latest_per_key`` (owid_-prefixed) left-joined with ``trend_metrics``
    (renamed), same columns in the same order, same values bit for bit."""
    from covid_data_challenge_spark.operators.alignment import latest_per_key, trend_metrics
    from covid_data_challenge_spark.operators.joins import prefixed

    h = state_history
    key = "country_standardized"
    latest = prefixed(latest_per_key(h, key, "date"), "owid_", exclude=[key])
    trends = trend_metrics(
        h, keys=key, ts_col="date", value_cols=["total_cases", "total_deaths"],
        rate_cols=["new_cases"], window_days=30,
    )
    for old, new in {
        "total_cases_change": "cases_change_30d",
        "total_cases_change_percent": "cases_change_percent_30d",
        "total_deaths_change": "deaths_change_30d",
        "total_deaths_change_percent": "deaths_change_percent_30d",
    }.items():
        trends = trends.withColumnRenamed(old, new)
    want = latest.join(trends, key, "left")

    got = history_state(h)
    assert got.columns == want.columns
    by_key = lambda df: {r[key]: r for r in df.collect()}  # noqa: E731
    got_rows, want_rows = by_key(got), by_key(want)
    assert got_rows == want_rows
    # the fixture's corners are really exercised
    assert got_rows["Alpha"]["first_total_cases"] == 0.0  # NULL first → 0
    assert got_rows["Alpha"]["data_points_available"] == 3
    assert got_rows["Beta"]["data_points_available"] is None  # nothing in window
    assert got_rows["Gamma"]["data_points_available"] is None  # one row in window
    assert got_rows["Delta"]["owid_total_cases"] is None  # latest row's NULL kept
    assert got_rows["Eps"]["owid_date"] == D(2024, 3, 6)

    # the public projections keep their shapes
    assert by_key(covid_trends(h)) == {k: r for k, r in by_key(trends).items()}
    assert set(by_key(covid_trends(h))) == {"Alpha", "Delta", "Eps"}


def test_integration_summary_top10_nulls_last_then_name(spark):
    """Top-10 by current cases in ``orderBy(cases desc, name)`` order:
    ties broken by name ascending, NULL cases after every value."""
    rows = [
        ("K", 5), ("A", None), ("J", 5), ("B", 9), ("Z", None), ("C", 1),
        ("D", 7), ("E", 7), ("F", 0), ("G", 3), ("H", 3), ("I", 2),
    ]
    merged = spark.createDataFrame(rows, "country_standardized string, api_current_cases long")
    want = [
        r["country_standardized"]
        for r in merged.orderBy(F.col("api_current_cases").desc(), "country_standardized")
        .limit(10)
        .collect()
    ]
    assert want == ["B", "D", "E", "J", "K", "G", "H", "I", "C", "F"]
    assert integration_summary(merged)["top_10_by_current_cases"] == want
    # fewer than 10 rows, nulls included: all of them, nulls last by name
    few = merged.filter(F.col("country_standardized").isin("Z", "A", "C", "K", "J"))
    assert integration_summary(few)["top_10_by_current_cases"] == ["J", "K", "C", "A", "Z"]
    # floating cases: NaN ranks first under desc, as in orderBy
    floats = spark.createDataFrame(
        [("X", 1.0), ("Y", float("nan")), ("W", None), ("V", 2.0)],
        "country_standardized string, api_current_cases double",
    )
    assert integration_summary(floats)["top_10_by_current_cases"] == ["Y", "V", "X", "W"]


def _memo_history(spark, scale: float = 1.0):
    """40 days of two countries, one of them mapped ('United States' → 'USA')."""
    rows = [
        (c, D(2024, 1, 1) + datetime.timedelta(days=i), scale * base * i, scale * i)
        for c, base in (("Afghanistan", 10.0), ("United States", 100.0))
        for i in range(40)
    ]
    return spark.createDataFrame(
        rows, "country string, date date, total_cases double, total_deaths double"
    )


def _write_memo_history(spark, root, scale: float = 1.0):
    """Write the memo fixture as ``<root>/history.parquet`` and return a
    reader that declares a fresh ``clean_history(load_table(...))``."""
    from covid_data_challenge_spark.sources.readers import load_table
    from covid_data_challenge_spark.sources.sinks import write_parquet

    write_parquet(_memo_history(spark, scale), str(root / "history.parquet"))
    return lambda: clean_history(load_table(spark, str(root), "history"))


def _spark_jobs(spark, fn):
    """Run ``fn`` under a fresh job group; return its result and the
    number of Spark jobs it started."""
    import uuid

    sc = spark.sparkContext
    group = f"memo-test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job-start events are async
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _merged_rows(merged) -> dict:
    return {r["country_standardized"]: r.asDict() for r in merged.collect()}


def test_merge_memo_serves_unchanged_history_without_jobs(spark, snapshot, tmp_path):
    """Re-merging against an unchanged history file reuses the checkpointed
    state: the second merge starts no Spark job, and its values equal a
    fresh computation from an in-memory copy of the same history."""
    read = _write_memo_history(spark, tmp_path)
    snap = clean_snapshot(snapshot)
    merge_datasets(read(), snap, now=NOW)
    history = read()  # declaring the read infers the schema: a job of its own
    merged, jobs = _spark_jobs(spark, lambda: merge_datasets(history, snap, now=NOW))
    assert jobs == 0
    want = _merged_rows(merge_datasets(clean_history(_memo_history(spark)), snap, now=NOW))
    assert _merged_rows(merged) == want
    assert set(want) == {"Afghanistan", "USA"}
    assert want["USA"]["owid_total_cases"] == 3900.0


def test_merge_memo_invalidated_by_history_rewrite(spark, snapshot, tmp_path):
    """Overwriting the history parquet with changed values misses the memo:
    the next merge shows the new values, and the memo then holds only the
    new version's state (a further merge is a hit)."""
    from covid_data_challenge_spark.pipeline import covid

    snap = clean_snapshot(snapshot)
    read = _write_memo_history(spark, tmp_path)
    before = _merged_rows(merge_datasets(read(), snap, now=NOW))
    assert before["Afghanistan"]["owid_total_cases"] == 390.0

    read = _write_memo_history(spark, tmp_path, scale=2.0)
    after, jobs = _spark_jobs(spark, lambda: _merged_rows(merge_datasets(read(), snap, now=NOW)))
    assert jobs > 0
    assert after["Afghanistan"]["owid_total_cases"] == 780.0
    assert after["USA"]["cases_change_30d"] == 2.0 * before["USA"]["cases_change_30d"]

    history = read()
    key, held, _ = covid._STATE_MEMO
    assert key[2] == covid.input_fingerprint(history)
    assert held.sameSemantics(history)
    _, jobs = _spark_jobs(spark, lambda: merge_datasets(history, snap, now=NOW))
    assert jobs == 0


def test_merge_memo_misses_on_another_window_or_plan(spark, snapshot, tmp_path):
    """Over one unchanged file, a different ``window_days`` (part of the
    key) or a different history plan (not ``sameSemantics``) recomputes
    the state instead of serving the memoised one."""
    read = _write_memo_history(spark, tmp_path)
    snap = clean_snapshot(snapshot)
    month = _merged_rows(merge_datasets(read(), snap, now=NOW))
    history = read()
    week, jobs = _spark_jobs(
        spark, lambda: _merged_rows(merge_datasets(history, snap, now=NOW, window_days=7))
    )
    assert jobs > 0
    assert month["USA"]["data_points_available"] == 31
    assert week["USA"]["data_points_available"] == 8
    assert week["USA"]["cases_change_30d"] == 700.0

    early = read().filter(F.col("date") < D(2024, 1, 21))
    got = _merged_rows(merge_datasets(early, snap, now=NOW, window_days=7))
    assert got["USA"]["owid_total_cases"] == 1900.0


def test_merge_memo_concurrent_callers_share_one_state(spark, tmp_path):
    """Concurrent merges against one new history version compute its state
    once: every caller gets the same checkpointed frame."""
    import sys
    import threading

    from covid_data_challenge_spark.pipeline import covid

    read = _write_memo_history(spark, tmp_path)
    histories = [read() for _ in range(6)]
    got = [None] * len(histories)

    def work(i):
        got[i] = covid._checkpointed_state(histories[i], 30)

    threads = [threading.Thread(target=work, args=(i,)) for i in range(len(histories))]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert got[0] is not None and all(g is got[0] for g in got)


def test_merge_memo_skips_in_memory_history(spark, snapshot, tmp_path):
    """A history that reads no files is never memoised and leaves the
    held entry alone; its merge is still correct."""
    from covid_data_challenge_spark.pipeline import covid

    read = _write_memo_history(spark, tmp_path)
    snap = clean_snapshot(snapshot)
    from_file = _merged_rows(merge_datasets(read(), snap, now=NOW))
    held = covid._STATE_MEMO
    in_memory = _memo_history(spark)
    assert covid.input_fingerprint(in_memory) is None
    got, jobs = _spark_jobs(
        spark, lambda: _merged_rows(merge_datasets(clean_history(in_memory), snap, now=NOW))
    )
    assert jobs > 0
    assert covid._STATE_MEMO is held
    assert got == from_file


def test_analytics_surface(history, snapshot):
    merged = merge_datasets(clean_history(history), clean_snapshot(snapshot), now=NOW)
    top1 = top_k_by(merged, "api_current_cases", 1).collect()
    assert top1[0]["country_standardized"] == "USA"
    assert search_countries(merged, "usa").count() == 1  # case-insensitive
    assert compare_countries(merged, ["Afghanistan"]).count() == 1
    stats = overview_stats(merged)
    assert stats["n_countries"] == 2
    assert stats["total_current_cases"] == 13500


def test_standardize_fallback(spark):
    df = spark.createDataFrame([("Narnia",)], "country string")
    assert standardize_countries(df).collect()[0]["country_standardized"] == "Narnia"
    # API source: names always pass through, even mapped ones
    df2 = spark.createDataFrame([("USA",)], "country string")
    assert (
        standardize_countries(df2, source="api").collect()[0]["country_standardized"]
        == "USA"
    )


def test_choropleth_frame_resolution_and_filter(spark):
    """Suffix-tolerant ISO resolution (reference streamlit_app.py:384-397):
    a non-meta iso column wins; _*_meta-only frames use the fallback
    order; NULL/empty locations are dropped; missing metric raises."""
    from covid_data_challenge_spark.pipeline.covid import choropleth_frame

    df = spark.createDataFrame(
        [("Aland", "ALA", "XALA", 5), ("Nowhere", None, "XNW", 7), ("Empty", "", "XE", 9)],
        "country_standardized string, iso_code_x string, iso_code_api_meta string, m long",
    )
    out = choropleth_frame(df, "m").collect()
    # iso_code_x contains 'iso_code' and has no meta suffix → wins over api_meta
    assert [(r["iso_code"], r["m"]) for r in out] == [("ALA", 5)]

    meta_only = df.withColumnRenamed("iso_code_x", "iso_code_owid_meta")
    out2 = {r["iso_code"] for r in choropleth_frame(meta_only, "m").collect()}
    assert out2 == {"ALA"}  # fallback picks iso_code_owid_meta first

    import pytest as _pytest

    with _pytest.raises(ValueError, match="iso-like columns"):
        choropleth_frame(df.select("country_standardized", "m"), "m")
    with _pytest.raises(ValueError, match="metric"):
        choropleth_frame(df, "missing_metric")
