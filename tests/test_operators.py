"""Golden-value operator unit tests on hand-built fixtures — the
reference's test style (reference tests/test_integration.py:153-509)
re-applied to the Spark operators."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from covid_data_challenge_spark.functions.scalar import clip_lower, guarded_div, per_100k
from covid_data_challenge_spark.operators.alignment import (
    latest_per_key,
    trailing_window,
    trend_metrics,
)
from covid_data_challenge_spark.operators.cleaning import (
    filter_regex_out,
    forward_fill,
    lag_diff,
    standardize_keys,
)
from covid_data_challenge_spark.operators.joins import key_membership, prefixed
from covid_data_challenge_spark.operators.profiling import null_profile

D = datetime.date


def _history(spark):
    """Country × date fixture with NULL gaps and a late tie (reference
    tests/test_integration.py:406-416)."""
    rows = [
        ("Afghanistan", D(2024, 1, 1), 100.0, 10.0),
        ("Afghanistan", D(2024, 1, 2), None, None),
        ("Afghanistan", D(2024, 1, 3), 120.0, 12.0),
        ("Albania", D(2024, 1, 1), 50.0, 5.0),
        ("Albania", D(2024, 1, 3), 60.0, None),
    ]
    return spark.createDataFrame(
        rows, "country string, date date, total_cases double, total_deaths double"
    )


def test_latest_per_key_picks_max_date(spark):
    out = latest_per_key(_history(spark), "country", "date").collect()
    by_country = {r["country"]: r for r in out}
    assert by_country["Afghanistan"]["date"] == D(2024, 1, 3)
    assert by_country["Afghanistan"]["total_cases"] == 120.0
    # "latest" keeps the row's NULL (reference pandas 'last' semantics):
    assert by_country["Albania"]["total_deaths"] is None


def test_forward_fill_fills_gaps_only_forward(spark):
    out = forward_fill(_history(spark), "country", "date", ["total_cases"]).collect()
    rows = {(r["country"], r["date"]): r["total_cases"] for r in out}
    assert rows[("Afghanistan", D(2024, 1, 2))] == 100.0  # gap filled
    assert rows[("Afghanistan", D(2024, 1, 3))] == 120.0  # real value kept
    assert rows[("Albania", D(2024, 1, 1))] == 50.0


def test_lag_diff_clips_and_fills(spark):
    df = spark.createDataFrame(
        [
            ("A", D(2024, 1, 1), 100.0),
            ("A", D(2024, 1, 2), 150.0),
            ("A", D(2024, 1, 3), 140.0),  # decline → clipped to 0
        ],
        "k string, date date, total double",
    )
    out = lag_diff(df, "k", "date", "total", "new").collect()
    vals = {r["date"]: r["new"] for r in out}
    assert vals[D(2024, 1, 1)] == 0.0  # first row: NULL diff → 0
    assert vals[D(2024, 1, 2)] == 50.0
    assert vals[D(2024, 1, 3)] == 0.0  # negative clipped


def test_standardize_keys_maps_and_passes_through(spark):
    df = spark.createDataFrame(
        [("USA",), ("Bosnia",), ("Afghanistan",), (None,)], "country string"
    )
    out = standardize_keys(
        df, {"USA": "United States", "Bosnia": "Bosnia and Herzegovina"}, "country"
    ).collect()
    got = {r["country"]: r["country_standardized"] for r in out}
    assert got == {
        "USA": "United States",
        "Bosnia": "Bosnia and Herzegovina",
        "Afghanistan": "Afghanistan",
        None: None,  # a NULL key stays NULL
    }


def test_regex_filter_is_null_safe(spark):
    df = spark.createDataFrame(
        [("High income",), ("OECD members",), ("France",), (None,)], "country string"
    )
    out = filter_regex_out(df, "country", "income|oecd|union|international")
    assert {r["country"] for r in out.collect()} == {"France", None}


def test_trend_metrics_constant_ramp(spark):
    """35-day ramp adding 1 case/day: avg_daily == 1.0 within the 30-day
    window (reference tests/test_integration.py:446-473)."""
    base = D(2024, 1, 1)
    rows = [
        ("A", base + datetime.timedelta(days=i), 1000.0 + i, 1.0) for i in range(35)
    ]
    df = spark.createDataFrame(
        rows, "country string, date date, total_cases double, new_cases double"
    )
    out = trend_metrics(
        df,
        keys="country",
        ts_col="date",
        value_cols=["total_cases"],
        rate_cols=["new_cases"],
        window_days=30,
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert r["avg_daily_new_cases"] == 1.0
    assert r["data_points_available"] == 31  # day-30 cutoff is inclusive
    assert r["first_total_cases"] == 1004.0
    assert r["last_total_cases"] == 1034.0
    assert r["total_cases_change"] == 30.0


def test_trailing_window_keeps_boundary(spark):
    df = spark.createDataFrame(
        [("A", D(2024, 1, 1)), ("A", D(2024, 1, 15)), ("A", D(2024, 2, 15))],
        "k string, date date",
    )
    kept = {r["date"] for r in trailing_window(df, "date", 31).collect()}
    assert kept == {D(2024, 1, 15), D(2024, 2, 15)}


def test_key_membership_flags(spark):
    left = spark.createDataFrame([("US",), ("FR",)], "k string")
    right = spark.createDataFrame([("FR",), ("CN",)], "k string")
    out = {r["k"]: r for r in key_membership(left, right, "k").collect()}
    assert out["US"]["in_left"] and not out["US"]["in_right"] and not out["US"]["can_merge"]
    assert out["FR"]["can_merge"]
    assert out["CN"]["in_right"] and not out["CN"]["in_left"]


def test_null_profile_golden(spark):
    """20% missing → missing_percentage == 20.0 (reference
    tests/test_integration.py:203-224)."""
    df = spark.createDataFrame(
        [(1.0,), (2.0,), (None,), (4.0,), (None,), (6.0,), (7.0,), (8.0,), (9.0,), (10.0,)],
        "x double",
    )
    row = null_profile(df, ["x"]).collect()[0]
    assert row["missing_count"] == 2
    assert row["missing_percentage"] == 20.0


def test_scalar_goldens(spark):
    """Derived-metric arithmetic: per100k=2.5, CFR=5.0, gap%=20.0
    (reference tests/test_integration.py:226-279,475-509)."""
    df = spark.createDataFrame(
        [(1000.0, 50.0, 40_000_000, 1200.0)],
        "cases double, deaths double, population long, api_cases double",
    )
    r = df.select(
        per_100k(F.col("cases"), F.col("population")).alias("per100k"),
        guarded_div(F.col("deaths"), F.col("cases"), scale=100.0, digits=3).alias("cfr"),
        guarded_div(
            F.col("api_cases") - F.col("cases"), F.col("cases"), scale=100.0, digits=2
        ).alias("gap_pct"),
        clip_lower(F.lit(-5.0)).alias("clipped"),
        clip_lower(F.lit(None).cast("double")).alias("null_kept"),
    ).collect()[0]
    assert r["per100k"] == 2.5
    assert r["cfr"] == 5.0
    assert r["gap_pct"] == 20.0
    assert r["clipped"] == 0.0
    assert r["null_kept"] is None


def test_guarded_div_zero_and_null_denominator(spark):
    df = spark.createDataFrame([(10.0, 0.0), (10.0, None)], "n double, d double")
    vals = [r["v"] for r in df.select(guarded_div(F.col("n"), F.col("d")).alias("v")).collect()]
    assert vals == [0.0, 0.0]  # NULL>0 → otherwise-branch, like np.where on NaN


def test_prefixed_namespaces_columns(spark):
    df = spark.createDataFrame([(1, "x")], "k int, v string")
    out = prefixed(df, "owid_", exclude=["k"])
    assert out.columns == ["k", "owid_v"]


def test_label_title_presentation(spark):
    from covid_data_challenge_spark.functions.scalar import label_title

    df = spark.createDataFrame([("total_cases_per_100k",), ("cfr",)], "k string")
    vals = [r["v"] for r in df.select(label_title(F.col("k")).alias("v")).collect()]
    assert vals == ["Total Cases Per 100k", "Cfr"]


def test_select_existing_is_schema_drift_tolerant(spark):
    from covid_data_challenge_spark.operators.cleaning import select_existing

    df = spark.createDataFrame([(1, "a", 2.0)], "k int, name string, v double")
    out = select_existing(df, ["k", "missing_col", "v", "also_missing"])
    assert out.columns == ["k", "v"]
    assert out.collect() == [(1, 2.0)]


def test_approx_count_distinct_scale_option(spark, sf_dir):
    """SURVEY A2's scale note: approx_count_distinct (HLL++) must land
    within 5% of the exact count — the sketch you switch to when exact
    distinct over 100 TB is too expensive."""
    from covid_data_challenge_spark.sources.readers import load_table

    orders = load_table(spark, sf_dir, "orders")
    r = orders.agg(
        F.countDistinct("o_custkey").alias("exact"),
        F.approx_count_distinct("o_custkey", 0.02).alias("approx"),
    ).collect()[0]
    assert abs(r["approx"] - r["exact"]) / r["exact"] <= 0.05


def test_asof_join_tie_and_no_match_semantics(spark):
    """ASOF semantics: right_ts == left_ts matches; no prior right row →
    NULL; always the LATEST right row at-or-before wins."""
    import datetime

    from covid_data_challenge_spark.operators.alignment import asof_join

    T = datetime.datetime
    left = spark.createDataFrame(
        [(1, 1, T(2024, 1, 1, 10, 0)), (2, 1, T(2024, 1, 1, 12, 0)), (3, 2, T(2024, 1, 1, 9, 0))],
        "id long, k long, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (1, T(2024, 1, 1, 10, 0), 10.0),  # tie with left id=1 → matches
            (1, T(2024, 1, 1, 11, 0), 20.0),  # latest before id=2
            (2, T(2024, 1, 1, 9, 30), 30.0),  # AFTER left id=3 → no match
        ],
        "k long, ts timestamp, v double",
    )
    out = {
        r["id"]: (r["ts_asof"], r["v_asof"])
        for r in asof_join(left, right, by="k", left_ts="ts", right_ts="ts",
                           value_cols=["v"]).collect()
    }
    assert out[1] == (T(2024, 1, 1, 10, 0), 10.0)
    assert out[2] == (T(2024, 1, 1, 11, 0), 20.0)
    assert out[3] == (None, None)


def test_hll_sketch_rollup_merges_without_rescan(spark, sf_dir):
    """Union of per-group sketches must estimate the GLOBAL distinct count
    (within HLL tolerance) — the mergeable-rollup property that makes
    sketches the 100 TB distinct-count answer."""
    from covid_data_challenge_spark.operators.sketch import (
        distinct_sketches,
        rollup_sketches,
    )
    from covid_data_challenge_spark.sources.readers import load_table

    ev = load_table(spark, sf_dir, "events")
    per_type = distinct_sketches(ev, "event_type", "user_id")
    exact_per_type = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("n")).collect()
    }
    for r in per_type.select("event_type", "approx_distinct").collect():
        exact = exact_per_type[r["event_type"]]
        assert abs(r["approx_distinct"] - exact) / exact <= 0.05
    rolled = rollup_sketches(per_type).collect()[0]["approx_distinct"]
    exact_total = ev.select(F.countDistinct("user_id").alias("n")).collect()[0]["n"]
    assert abs(rolled - exact_total) / exact_total <= 0.05


def test_applyinpandas_escape_hatch_equals_native_trends(spark):
    """The grouped-map pandas route must agree with the native single-pass
    aggregation (SURVEY §2.10: zero UDFs needed — proven, not assumed)."""
    from covid_data_challenge_spark.operators.alignment import (
        trend_metrics,
        trend_metrics_pandas,
    )

    rows = [(k, s, float(k * 10 + s) if (k + s) % 4 else None) for k in range(4) for s in range(6)]
    df = spark.createDataFrame(rows, "k long, seq long, v double")
    native = {
        r["k"]: (r["data_points_available"], r["first_v"], r["last_v"])
        for r in trend_metrics(
            df, keys="k", ts_col="seq", value_cols=["v"], window_days=None
        ).collect()
    }
    pandas_route = {
        r["k"]: (r["data_points_available"], r["first_v"], r["last_v"])
        for r in trend_metrics_pandas(df, keys="k", ts_col="seq", value_col="v").collect()
    }
    assert pandas_route == native


def test_assign_split_deterministic_covering_and_group_safe(spark):
    from covid_data_challenge_spark.operators.splits import assign_split

    df = spark.range(0, 4000).withColumn("grp", (F.col("id") % 97).cast("string"))
    splits = {"train": 0.8, "val": 0.1, "test": 0.1}
    a = assign_split(df, "id", splits).groupBy("split").count().collect()
    fractions = {r["split"]: r["count"] / 4000 for r in a}
    assert set(fractions) == {"train", "val", "test"}
    assert abs(fractions["train"] - 0.8) < 0.03
    assert abs(fractions["val"] - 0.1) < 0.02
    assert abs(fractions["test"] - 0.1) < 0.02
    # deterministic: same assignment on re-run and under repartitioning
    one = assign_split(df, "id", splits).collect()
    two = assign_split(df.repartition(7), "id", splits).collect()
    assert {(r["id"], r["split"]) for r in one} == {(r["id"], r["split"]) for r in two}
    # group-keyed: every row of a group gets the group's split
    by_grp = (
        assign_split(df, "grp", splits)
        .groupBy("grp")
        .agg(F.countDistinct("split").alias("n"))
        .agg(F.max("n").alias("mx"))
        .collect()[0]["mx"]
    )
    assert by_grp == 1
    # a different salt reshuffles assignments
    salted = assign_split(df, "id", splits, salt="v2").collect()
    assert {(r["id"], r["split"]) for r in salted} != {(r["id"], r["split"]) for r in one}


def test_cluster_assignments_and_canonical_survivors(spark):
    from covid_data_challenge_spark.operators.components import (
        cluster_assignments,
        dedup_keep_canonical,
    )

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(8)], "doc_id long, text string"
    )
    # components: {0,1,2,3} via chain, {5,6} — 4 and 7 singletons
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (5, 6)], "doc_a long, doc_b long"
    )
    got = {
        r["doc_id"]: (r["cluster_id"], r["cluster_size"])
        for r in cluster_assignments(docs, pairs).collect()
    }
    assert got == {
        0: (0, 4), 1: (0, 4), 2: (0, 4), 3: (0, 4),
        4: (4, 1), 5: (5, 2), 6: (5, 2), 7: (7, 1),
    }
    survivors = sorted(
        r["doc_id"] for r in dedup_keep_canonical(docs, pairs).collect()
    )
    assert survivors == [0, 4, 5, 7]


def test_pack_greedy_invariants(spark):
    """Greedy packing: bins respect the budget (except single oversize
    docs), bin ids are contiguous per shard, and each bin boundary is
    forced (the first doc of bin b+1 would not have fit in bin b)."""
    import pandas as pd

    from covid_data_challenge_spark.operators.packing import pack_greedy, packing_stats

    rows = [(i, 1 + (i * 37) % 90) for i in range(200)] + [(200, 999)]  # one oversize
    df = spark.createDataFrame(rows, "doc_id long, n_tokens int")
    packed = pack_greedy(df, "doc_id", "n_tokens", budget=100).toPandas()
    assert len(packed) == 201 and packed["doc_id"].is_unique

    for (_, _), grp in packed.groupby(["shard", "bin"]):
        if len(grp) > 1:
            assert grp["n_tokens"].sum() <= 100
    for shard, grp in packed.groupby("shard"):
        grp = grp.sort_values("doc_id")
        bins = grp["bin"].tolist()
        assert bins[0] == 0 and all(b2 - b1 in (0, 1) for b1, b2 in zip(bins, bins[1:]))
        fills = grp.groupby("bin")["n_tokens"].sum()
        firsts = grp.drop_duplicates("bin").set_index("bin")["n_tokens"]
        for b in fills.index[:-1]:
            assert fills[b] + firsts[b + 1] > 100  # boundary was forced

    stats = packing_stats(
        spark.createDataFrame(packed), "n_tokens", budget=100
    ).toPandas()
    assert stats["tokens"].sum() == sum(t for _, t in rows)
    assert (stats["utilization"] == stats["tokens"] / 100.0).all()


def test_observe_quality_metrics_ride_along(spark, sf_dir):
    """Observation metrics must report row count and null counts from
    the SAME action that computes the result — no second scan."""
    from covid_data_challenge_spark.operators.profiling import observe_quality
    from covid_data_challenge_spark.sources.readers import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_discount"
    )
    observed, obs = observe_quality(li, ["l_discount"])
    n = observed.count()
    got = obs.get
    assert got["n_rows"] == n
    expected_nulls = li.filter("l_discount IS NULL").count()
    assert got["null_l_discount"] == expected_nulls


def test_approx_percentile_error_bound_vs_exact(spark, sf_dir):
    """The documented 100 TB switch (percentile → approx_percentile) must
    actually hold its error contract on this data: with accuracy 10000,
    the approx p50/p95 rank error is within 1/accuracy of exact."""
    from pyspark.sql import functions as F

    from covid_data_challenge_spark.sources.readers import load_table

    li = load_table(spark, sf_dir, "lineitem")
    exact, approx = li.select(
        F.percentile("l_extendedprice", F.lit(0.5)).alias("e50"),
        F.percentile("l_extendedprice", F.lit(0.95)).alias("e95"),
        F.approx_percentile("l_extendedprice", F.lit(0.5), F.lit(10000)).alias("a50"),
        F.approx_percentile("l_extendedprice", F.lit(0.95), F.lit(10000)).alias("a95"),
    ).collect()[0], None
    n = li.count()
    for lo, hi in ((exact["e50"], exact["a50"]), (exact["e95"], exact["a95"])):
        # rank distance between exact and approx value ≤ n/accuracy (+1 slack)
        rank_gap = li.filter(
            (F.col("l_extendedprice") > F.lit(min(lo, hi)))
            & (F.col("l_extendedprice") <= F.lit(max(lo, hi)))
        ).count()
        assert rank_gap <= n / 10000 + 1, (lo, hi, rank_gap)


def test_cms_never_underestimates_and_is_tight_at_test_scale(spark, sf_dir):
    """Count-min guarantees est ≥ exact for every key (min over
    non-negative collision sums); at test cardinality (≪ width·depth
    capacity) most keys must also be exact, and the worst overestimate
    is bounded by the heaviest colliding key's count."""
    from covid_data_challenge_spark.operators.sketch import cms_build, cms_estimate
    from covid_data_challenge_spark.sources.readers import load_table

    ev = load_table(spark, sf_dir, "events").select("user_id")
    exact = {r["user_id"]: r["c"] for r in ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("c")).collect()}
    sketch = cms_build(ev, "user_id", depth=4, hex_chars=2)
    est = cms_estimate(sketch, ev.distinct(), "user_id", depth=4, hex_chars=2)
    rows = {r["user_id"]: r["est_count"] for r in est.collect()}
    assert set(rows) == set(exact)
    assert all(rows[k] >= exact[k] for k in exact)
    n_exact = sum(1 for k in exact if rows[k] == exact[k])
    assert n_exact >= len(exact) * 0.5  # depth=4 keeps most keys collision-free here
    assert all(rows[k] - exact[k] <= max(exact.values()) for k in exact)


def test_quantile_sketch_merges_and_bounds_error(spark, sf_dir):
    """The fixed-bin grid must merge by addition (two halves summed ==
    whole-data grid, the mergeability that makes it a sketch), and each
    estimate's guarantee is in RANK, not value: the cumulative walk
    selects exactly the bin containing the ceil(q·n)-th smallest value,
    so the estimate must land within one bin width of that order
    statistic (a value-distance bound against the *interpolated* exact
    quantile would be false in sparse tails, where adjacent order stats
    can be many bins apart)."""
    import math
    from covid_data_challenge_spark.operators.sketch import (
        quantile_sketch_build,
        quantile_sketch_estimate,
    )
    from covid_data_challenge_spark.sources.readers import load_table

    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    w = 5.0
    whole = quantile_sketch_build(ev, "event_type", "value", w)
    lo = quantile_sketch_build(ev.filter(F.col("value") < 50), "event_type", "value", w)
    hi = quantile_sketch_build(ev.filter(F.col("value") >= 50), "event_type", "value", w)
    merged = (
        lo.unionByName(hi)
        .groupBy("event_type", "bin")
        .agg(F.sum("cnt").alias("cnt"))
    )
    assert sorted(map(tuple, whole.collect())) == sorted(map(tuple, merged.collect()))

    qs = [0.5, 0.95, 0.99]
    est = {
        (r["event_type"], r["q"]): r["est"]
        for r in quantile_sketch_estimate(whole, "event_type", qs, w).collect()
    }
    by_type: dict[str, list[float]] = {}
    for r in ev.collect():
        by_type.setdefault(r["event_type"], []).append(r["value"])
    exact = {}
    for et, vals in by_type.items():
        vals.sort()
        for q in qs:
            k = max(1, math.ceil(q * len(vals)))
            exact[(et, q)] = vals[k - 1]
    assert set(est) == set(exact)
    for k in exact:
        assert abs(est[k] - exact[k]) <= w, (k, est[k], exact[k])


def test_char_entropy_bounds_and_extremes(spark):
    """0 ≤ H ≤ ln(#distinct chars), uniform text hits the max, and
    single-char text hits exactly 0 (never -0.0)."""
    import math

    from covid_data_challenge_spark.functions.text import char_entropy

    df = spark.createDataFrame(
        [("aaaa",), ("abab",), ("abcd",), ("the quick brown fox",)], ["t"]
    )
    rows = df.select(
        "t", char_entropy(F.col("t")).alias("h")
    ).collect()
    by_t = {r["t"]: r["h"] for r in rows}
    assert by_t["aaaa"] == 0.0 and math.copysign(1, by_t["aaaa"]) == 1.0
    assert abs(by_t["abab"] - math.log(2)) < 1e-6
    assert abs(by_t["abcd"] - math.log(4)) < 1e-6
    for t, h in by_t.items():
        assert 0.0 <= h <= math.log(len(set(t))) + 1e-9


def test_skyline_matches_bruteforce_and_keeps_ties(spark):
    """skyline_2d must equal the O(n²) dominance definition on random
    points, and exact-duplicate points must BOTH survive (neither
    dominates the other)."""
    import random

    from covid_data_challenge_spark.operators.skyline import skyline_2d

    rng = random.Random(7)
    pts = [(i, rng.randint(0, 30), rng.randint(0, 30)) for i in range(200)]
    pts += [(900, 50, 1), (901, 50, 1)]  # duplicate frontier point
    df = spark.createDataFrame(pts, ["id", "x", "y"])

    got = {r["id"] for r in skyline_2d(df, "x", "y", buckets=4).collect()}
    expect = {
        i
        for i, x, y in pts
        if not any(
            qx >= x and qy >= y and (qx > x or qy > y) for _, qx, qy in pts
        )
    }
    assert got == expect
    assert {900, 901} <= got


def test_asof_join_forward_semantics(spark):
    """Forward ASOF: right_ts == left_ts matches; the EARLIEST right row
    at-or-after wins; no later right row → NULL."""
    import datetime

    from covid_data_challenge_spark.operators.alignment import asof_join

    T = datetime.datetime
    left = spark.createDataFrame(
        [(1, 1, T(2024, 1, 1, 10, 0)), (2, 1, T(2024, 1, 1, 12, 0)), (3, 2, T(2024, 1, 1, 9, 0))],
        "id long, k long, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (1, T(2024, 1, 1, 10, 0), 10.0),  # tie with left id=1 → matches
            (1, T(2024, 1, 1, 11, 0), 20.0),  # earliest after id=1 would be the tie row
            (2, T(2024, 1, 1, 8, 30), 30.0),  # BEFORE left id=3 → no match
        ],
        "k long, ts timestamp, v double",
    )
    out = {
        r["id"]: (r["ts_asof"], r["v_asof"])
        for r in asof_join(left, right, by="k", left_ts="ts", right_ts="ts",
                           value_cols=["v"], direction="forward").collect()
    }
    assert out[1] == (T(2024, 1, 1, 10, 0), 10.0)  # tie matches, not 11:00
    assert out[2] == (None, None)  # nothing at-or-after 12:00
    assert out[3] == (None, None)  # purchase was before the click

    import pytest as _pytest

    with _pytest.raises(ValueError):
        asof_join(left, right, by="k", left_ts="ts", right_ts="ts",
                  value_cols=["v"], direction="nearest")


def test_concurrent_peak_counts_midnight_spanning_sessions(spark):
    """Sweep-line invariants: overlap counted, back-to-back sessions are
    concurrent at the shared instant, and a midnight-spanning session is
    active in BOTH days (clipped, not dropped)."""
    import datetime

    from covid_data_challenge_spark.operators.sessions import concurrent_peak_by_day

    T = datetime.datetime
    sessions = spark.createDataFrame(
        [
            # day 1: two overlapping + one back-to-back at 11:00
            (T(2024, 1, 1, 10, 0), T(2024, 1, 1, 11, 0)),
            (T(2024, 1, 1, 10, 30), T(2024, 1, 1, 12, 0)),
            (T(2024, 1, 1, 11, 0), T(2024, 1, 1, 11, 30)),
            # spans midnight into day 2
            (T(2024, 1, 1, 23, 0), T(2024, 1, 2, 1, 0)),
            # day 2 only
            (T(2024, 1, 2, 0, 30), T(2024, 1, 2, 0, 45)),
        ],
        "session_start timestamp, session_end timestamp",
    )
    out = {r["day"].isoformat(): r["peak_concurrent"] for r in concurrent_peak_by_day(sessions).collect()}
    # 11:00 instant: session1 ends, session2 active, session3 starts → 3
    assert out["2024-01-01"] == 3
    # 00:30-00:45: midnight session + day-2 session → 2
    assert out["2024-01-02"] == 2


def test_pagerank_star_graph_ranks_center_highest(spark):
    """On an undirected star (center 0 — leaves 1..4) the center must
    out-rank every leaf, leaves tie exactly, and total mass ≈ 1."""
    from covid_data_challenge_spark.operators.graph import pagerank

    leaves = list(range(1, 5))
    undirected = [(0, v) for v in leaves] + [(v, 0) for v in leaves]
    edges = spark.createDataFrame(undirected, "src long, dst long")
    ranks = {r["node"]: r["rank"] for r in pagerank(edges, iters=5).collect()}
    assert set(ranks) == {0, 1, 2, 3, 4}
    assert all(ranks[0] > ranks[v] for v in leaves)
    assert len({ranks[v] for v in leaves}) == 1
    assert abs(sum(ranks.values()) - 1.0) < 1e-6


def test_passage_dedup_kills_boilerplate_keeps_first(spark):
    """A boilerplate passage shared by three docs survives only in the
    lowest-(doc_id,pos) spot; a doc that is ALL boilerplate drops out;
    passage order inside a surviving doc is preserved."""
    from covid_data_challenge_spark.operators.dedup import passage_dedup

    boiler = " ".join(["cookie"] * 4)  # one full 4-token passage
    uniq_a = " ".join(f"a{i}" for i in range(4))
    uniq_b = " ".join(f"b{i}" for i in range(4))
    rows = [
        (1, boiler + " " + uniq_a),   # keeps boiler (first) + uniq_a
        (2, boiler + " " + uniq_b),   # boiler deduped away, keeps uniq_b
        (3, boiler),                  # all passages duplicate → drops out
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.clean_text, r.kept_passages)
        for r in passage_dedup(df, passage_tokens=4).collect()
    }
    assert set(got) == {1, 2}
    assert got[1] == (boiler + " " + uniq_a, 2)
    assert got[2] == (uniq_b, 1)


def test_passage_dedup_short_doc_single_partial_passage(spark):
    """A doc shorter than one window is a single (partial) passage and
    survives verbatim; an intra-doc repeat dedups within the doc too."""
    from covid_data_challenge_spark.operators.dedup import passage_dedup

    rep = " ".join(["x"] * 4)
    rows = [(1, "tiny doc"), (2, rep + " " + rep + " tail words go here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.clean_text, r.kept_passages)
        for r in passage_dedup(df, passage_tokens=4).collect()
    }
    assert got[1] == ("tiny doc", 1)
    # doc 2: window 1 = rep, window 2 = rep again (dropped), window 3 = tail
    assert got[2] == (rep + " tail words go here", 2)


def test_boilerplate_strip_removes_from_all_docs_keeps_intra_doc_repeats(spark):
    """df > max_df passages vanish from EVERY doc (no first-occurrence
    survivor — the dedup/strip semantic difference); a within-doc repeat
    of a rare passage is NOT boilerplate and survives twice."""
    from covid_data_challenge_spark.operators.dedup import boilerplate_passage_strip

    banner = " ".join(["banner"] * 4)
    rep = " ".join(["rare"] * 4)
    rows = [(i, banner + f" doc {i} unique words") for i in range(1, 4)]
    rows.append((9, rep + " " + rep))  # intra-doc repeat, df=1
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.clean_text, r.kept_passages)
        for r in boilerplate_passage_strip(df, max_df=2, passage_tokens=4).collect()
    }
    # banner df=3 > 2 → stripped everywhere, including doc 1
    for i in (1, 2, 3):
        assert "banner" not in got[i][0]
        assert got[i] == (f"doc {i} unique words", 1)
    assert got[9] == (rep + " " + rep, 2)


def test_bigram_lm_score_smoothing_ranks_gibberish_low(spark, tmp_path):
    """Add-one smoothing is load-bearing: a doc of corpus-common bigrams
    must outscore a doc of unique gibberish (raw MLE would score the
    gibberish a perfect 1.0)."""
    import covid_data_challenge_spark.queries_ext  # noqa: F401
    from covid_data_challenge_spark.registry import REGISTRY

    common = " ".join(["the cat"] * 10)
    rows = [(i, common) for i in range(1, 6)]
    rows.append((9, "qzx wvu ponm lkj hgf dsa"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sf = str(tmp_path)
    df.write.parquet(f"{sf}/documents.parquet")
    got = {
        r.doc_id: r.lm_score
        for r in REGISTRY["bigram_lm_score"].spark(spark, sf).collect()
    }
    assert got[9] < 0.3  # singleton bigrams ≈ 2/V each (V is tiny here)
    for i in range(1, 6):
        assert got[i] > got[9] * 2


def test_corpus_operators_survive_empty_input(spark, tmp_path):
    """Day-one pipeline reality: a brand-new ingest partition is EMPTY.
    The corpus operators must plan and return zero rows on a 0-row
    documents table, not throw on a sequence/greatest/aggregate edge."""
    import covid_data_challenge_spark.queries_ext  # noqa: F401
    from covid_data_challenge_spark.registry import REGISTRY

    empty = spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars long"
    )
    sf = str(tmp_path)
    empty.write.parquet(f"{sf}/documents.parquet")
    for name in [
        "passage_dedup",
        "boilerplate_passage_strip",
        "bigram_lm_score",
        "temperature_mixture_weights",
        "temperature_resampled_corpus",
        "minhash_neardup_incremental",
        "dedup_exact_stats",
        "corpus_prep_recipe_v2",
        # round-3 late wave
        "containment_neardup_pairs",
        "bm25_topk",
        "ngram_novelty_by_source",
        "bpe_merge_table",
    ]:
        rows = REGISTRY[name].spark(spark, sf).collect()
        if name == "dedup_exact_stats":
            continue  # global-agg summary row is fine either way
        if name == "bpe_merge_table":
            continue  # k merge-table rows with null pairs/0 counts are fine
        assert rows == [], f"{name} returned rows on empty input"


def test_bigram_lm_gold_table_roundtrip_scores_identically(spark, sf_dir, tmp_path):
    """Build-once/serve-many: the LM persisted to parquet and read back
    must score a batch bit-identically to the inline LM, and a bigram
    the LM never saw gets the unseen-mass floor ≈ 1/v (left-join
    coalesce path)."""
    from covid_data_challenge_spark.operators.lm import (
        bigram_lm_build,
        bigram_lm_score_with,
    )
    from covid_data_challenge_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    lm = bigram_lm_build(docs)
    gold = str(tmp_path / "lm_gold")
    lm.write.parquet(gold)
    lm2 = spark.read.parquet(gold)
    a = sorted(bigram_lm_score_with(docs, lm).collect())
    b = sorted(bigram_lm_score_with(docs, lm2).collect())
    assert a == b
    # unseen batch: every bigram misses the LM → score == floor(1e9/v)/1e9
    v = lm.select("v").first()["v"]
    unseen = spark.createDataFrame(
        [(999, "zzqq wwxx yyvv uutt")], "doc_id long, text string"
    )
    row = bigram_lm_score_with(unseen, lm2).collect()[0]
    import math
    assert row.lm_score == math.floor(1e9 / v) / 1e9


def test_bigram_lm_unseen_continuation_of_seen_context_scores_low(spark):
    """The serve-many smoothing flaw the r3 review caught: an UNSEEN
    continuation of a common context must smooth against that context's
    true count (1/(C(a.)+V)), scoring BELOW a seen bigram of the same
    context — not against c_a=0, which would hand never-seen text the
    1/V floor and let it outscore seen-but-rare text."""
    import math

    from covid_data_challenge_spark.operators.lm import (
        bigram_lm_build,
        bigram_lm_score_with,
    )

    train = spark.createDataFrame(
        [(i, "the cat " * 20) for i in range(5)], "doc_id long, text string"
    )
    lm = bigram_lm_build(train)
    batch = spark.createDataFrame(
        [(1, "the cat"), (2, "the qqq")], "doc_id long, text string"
    )
    got = {r.doc_id: r.lm_score for r in bigram_lm_score_with(batch, lm).collect()}
    assert got[2] < got[1]
    # and the unseen continuation must NOT get the fully-unseen 1/V
    # floor (its context 'the' was seen heavily → larger denominator)
    v = lm.select("v").first()["v"]
    assert got[2] < math.floor(1e9 / v) / 1e9


def test_cdc_upsert_apply_action_mix_and_exactness(spark, sf_dir):
    """The MERGE apply must: drop every delete, re-price every update by
    exactly +10% in integer cents (half-up), keep inserts at the shifted
    key range, and leave everything else untouched."""
    import covid_data_challenge_spark.queries_ext as qe
    from covid_data_challenge_spark.registry import REGISTRY
    from covid_data_challenge_spark.sources.readers import load_table

    out = {r["o_orderkey"]: r for r in REGISTRY["cdc_upsert_apply"].spark(spark, sf_dir).collect()}
    base = {
        r["o_orderkey"]: int(round(r["o_totalprice"] * 100))
        for r in load_table(spark, sf_dir, "orders").collect()
    }
    actions = {}
    for k, r in out.items():
        actions[r["action"]] = actions.get(r["action"], 0) + 1
        if r["action"] == "kept":
            assert out[k]["price_cents"] == base[k]
        elif r["action"] == "updated":
            assert r["price_cents"] == (base[k] * 11 + 5) // 10
        else:  # inserted: shifted key, source row's price
            src = k - qe._CDC_INS_OFFSET
            assert src in base and r["price_cents"] == base[src]
    assert set(actions) == {"kept", "updated", "inserted"}
    # deletes really removed rows: merged < base + inserts
    assert len(out) == len(base) + actions["inserted"] - (
        len(base) - actions["kept"] - actions["updated"]
    )


def test_bigram_lm_nll_matches_log_model_and_ranks_gibberish_high(spark):
    """nll must equal mean -ln((c_ab+1)/(c_a+v)) within the micro-nat
    quantization, and the unusual-for-the-corpus doc must score HIGHER
    loss than the formulaic one (the perplexity filter's direction)."""
    import math

    from covid_data_challenge_spark.operators.lm import (
        bigram_lm_build,
        bigram_lm_nll_with,
    )

    docs = spark.createDataFrame(
        [
            (0, "the cat sat on the mat"),
            (1, "the cat sat on the mat"),
            (2, "zq xv wk jn bf"),
        ],
        "doc_id long, text string",
    )
    lm = bigram_lm_build(docs)
    model = {
        r.bg: (r.c_ab, r.c_a, r.v) for r in lm.collect()
    }
    out = {r.doc_id: r for r in bigram_lm_nll_with(docs, lm).collect()}

    def expected_nll(text: str) -> float:
        ws = text.split()
        units = []
        for a, b in zip(ws, ws[1:]):
            c_ab, c_a, v = model[f"{a} {b}"]
            units.append(math.floor(1e6 * -math.log((c_ab + 1) / (c_a + v))))
        return sum(units) / (len(units) * 1e6)

    for i, text in [(0, "the cat sat on the mat"), (2, "zq xv wk jn bf")]:
        # portable_ln agrees with libm to ~1e-9 rel; after floor-quantize
        # the per-doc mean can differ by at most 1 unit per bigram
        assert abs(out[i].nll - expected_nll(text)) <= len(text.split()) * 1e-6
    assert out[2].nll > out[0].nll


def test_triangle_stats_counts_known_graphs(spark):
    from covid_data_challenge_spark.operators.graph import triangle_stats

    # K4: 4 nodes, 6 edges, 4 triangles, wedges = 4 * C(3,2) = 12,
    # clustering = 3*4/12 = 1.0
    k4 = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(4) if a < b], "src long, dst long"
    )
    r = triangle_stats(k4).collect()[0]
    assert (r.n_nodes, r.n_edges, r.n_wedges, r.n_triangles) == (4, 6, 12, 4)
    assert r.global_clustering == 1.0
    # path graph a-b-c: one wedge, no triangle
    path = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    r = triangle_stats(path).collect()[0]
    assert (r.n_wedges, r.n_triangles, r.global_clustering) == (1, 0, 0.0)


def test_triangle_stats_matches_bruteforce_on_random_graph(spark):
    """Pins the r13 adjacency-intersection counting rewrite (the wedge
    self-join was replaced by per-edge out-neighbor intersection):
    exact triangle count on a seeded random graph with hubs, sinks
    (nodes with no out-edges under the degree orientation), isolated
    components, and degree ties — vs a pure-Python brute force."""
    import itertools
    import random

    rng = random.Random(427)
    n = 40
    edges = sorted(
        {(a, b) for a in range(n) for b in range(n) if a < b and rng.random() < 0.12}
        # planted dense clique so triangles definitely exist
        | {(a, b) for a, b in itertools.combinations(range(5), 2)}
    )
    nbrs = {v: set() for v in range(n)}
    for a, b in edges:
        nbrs[a].add(b)
        nbrs[b].add(a)
    want = sum(
        1 for a, b, c in itertools.combinations(range(n), 3)
        if b in nbrs[a] and c in nbrs[a] and c in nbrs[b]
    )
    from covid_data_challenge_spark.operators.graph import triangle_stats

    df = spark.createDataFrame(edges, "src long, dst long")
    r = triangle_stats(df).collect()[0]
    assert r.n_triangles == want
    assert r.n_edges == len(edges)


def test_triangle_stats_approx_tracks_exact_census(spark, sf_dir):
    """The Doulion tier (r5, re-pinned at p=1/8 per VERDICT r5 #5): on
    the co-purchase fixture graph the md5-coin estimate must land
    within 25% of the exact census (measured 10% at sf0.001 with
    keep_millis=125 — the coin is deterministic, so this band is a
    regression pin, not a flaky statistical assertion), the invariants
    must hold exactly, and a keep probability whose cube does not
    divide 1000³ must be rejected. The sf0.001 fixture is the RIGHT
    place for the band: its co-purchase graph is triangle-dense (3258),
    the regime Doulion targets; at sf0.01+ the synthetic graph is
    nearly triangle-free (61 → 1) and any sparsifier's relative error
    is meaningless there by design (Tsourakakis 2009 §4: variance is
    relative to the true count)."""
    import pytest

    import covid_data_challenge_spark.queries_ext  # noqa: F401
    from covid_data_challenge_spark.operators.graph import triangle_stats_approx
    from covid_data_challenge_spark.registry import REGISTRY

    exact = REGISTRY["part_triangle_census"].spark(spark, sf_dir).collect()[0]
    approx = (
        REGISTRY["part_triangle_census_approx"].spark(spark, sf_dir).collect()[0]
    )
    assert approx.n_edges == exact.n_edges
    assert approx.est_triangles == approx.n_triangles_sampled * 512
    assert 0 < approx.n_edges_sampled < approx.n_edges
    assert abs(approx.est_triangles - exact.n_triangles) <= 0.25 * exact.n_triangles
    edges = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    with pytest.raises(ValueError, match="keep_millis"):
        triangle_stats_approx(edges, keep_millis=300)


def test_source_kl_divergence_zero_for_identical_sources(spark, monkeypatch, tmp_path):
    """Two sources with the same token distribution → KL ≈ 0 for both
    (only quantization floor away); a divergent third source scores
    strictly higher."""
    import covid_data_challenge_spark.queries_sampling as qx
    from covid_data_challenge_spark.registry import REGISTRY

    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma", "en", "s_same1", 1),
            (1, "alpha beta gamma", "en", "s_same2", 1),
            (2, "zeta zeta zeta", "en", "s_diff", 1),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    monkeypatch.setattr(qx, "_docs", lambda spark, sf: docs)
    out = {r.source: r.kl_nats for r in REGISTRY["source_kl_divergence"].spark(spark, "unused").collect()}
    assert abs(out["s_same1"] - out["s_same2"]) < 1e-9
    assert out["s_diff"] > out["s_same1"]
    # identical-distribution sources still diverge from the MIXTURE
    # (which includes s_diff), so only relative ordering is asserted


def test_late_arrival_report_flags_known_late_row(spark, monkeypatch):
    from datetime import datetime

    import covid_data_challenge_spark.queries_events as qx
    from covid_data_challenge_spark.registry import REGISTRY

    ev = spark.createDataFrame(
        [
            # arrival order = event_id; event 3 carries a timestamp 10
            # minutes BEHIND the max already seen for user 1 → late
            (1, datetime(2024, 1, 1, 12, 0, 0), 1, "click", 1.0, "{}"),
            (2, datetime(2024, 1, 1, 12, 30, 0), 1, "click", 1.0, "{}"),
            (3, datetime(2024, 1, 1, 12, 20, 0), 1, "click", 1.0, "{}"),
            # 90 s behind → within the 300 s threshold, not late
            (4, datetime(2024, 1, 1, 12, 28, 30), 1, "view", 1.0, "{}"),
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    monkeypatch.setattr(qx, "_events", lambda spark, sf: ev)
    out = {r.event_type: r for r in REGISTRY["events_late_arrival_report"].spark(spark, "unused").collect()}
    assert out["click"].n_late == 1 and out["click"].n_events == 3
    assert out["click"].max_behind_us == 600_000_000
    assert out["view"].n_late == 0


def test_curriculum_order_puts_best_quality_in_phase_one(spark, sf_dir):
    import covid_data_challenge_spark.queries_ext as qx
    from covid_data_challenge_spark.registry import REGISTRY

    out = REGISTRY["curriculum_order"].spark(spark, sf_dir).collect()
    docs = qx._docs(spark, sf_dir)
    from covid_data_challenge_spark.functions.text import quality_score
    from pyspark.sql import functions as F

    q = {
        r.doc_id: r.q
        for r in docs.select("doc_id", quality_score(F.col("text")).alias("q")).collect()
    }
    by_lang_phase = {}
    for r in out:
        by_lang_phase.setdefault((r.lang, r.phase), []).append(q[r.doc_id])
    for lang in {k[0] for k in by_lang_phase}:
        phases = sorted(p for (lg, p) in by_lang_phase if lg == lang)
        # min quality of an earlier phase >= max quality of a later one
        for p1, p2 in zip(phases, phases[1:]):
            assert min(by_lang_phase[(lang, p1)]) >= max(by_lang_phase[(lang, p2)])
    # positions are contiguous 1..n within each (lang, phase, shard)
    pos = {}
    for r in out:
        pos.setdefault((r.lang, r.phase, r.shard), []).append(r.pos)
    for v in pos.values():
        assert sorted(v) == list(range(1, len(v) + 1))


def test_weighted_sample_per_source_exact_k_sizes(spark, sf_dir):
    """Efraimidis-Spirakis invariant the Bernoulli sampler can't give:
    exactly min(k, |source|) rows per source."""
    import covid_data_challenge_spark.queries_ext as qx
    from covid_data_challenge_spark.registry import REGISTRY

    out = REGISTRY["weighted_sample_per_source"].spark(spark, sf_dir)
    sizes = {
        r.source: r.c
        for r in out.groupBy("source").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    docs = qx._docs(spark, sf_dir)
    have = {
        r.source: r.c
        for r in docs.groupBy("source").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    assert sizes
    for s, c in sizes.items():
        assert c == min(5, have[s]), (s, c, have[s])


def test_kcore_peel_known_graph(spark):
    """Star + clique fixture: a K4 clique survives 3-core peeling, the
    star spokes (degree 1) fall in round one, and the hub — degree 4
    before peeling — falls once its spokes are gone."""
    from covid_data_challenge_spark.operators.graph import kcore_peel

    clique = [(a, b) for a in range(4) for b in range(4) if a < b]
    star = [(10, s) for s in (11, 12, 13, 14)]
    edges = spark.createDataFrame(clique + star, "src long, dst long")
    out = {r.node: r.degree for r in kcore_peel(edges, k=3, rounds=3).collect()}
    assert out == {0: 3, 1: 3, 2: 3, 3: 3}


def test_drift_metrics_separate_stable_from_shifted(spark, monkeypatch):
    """PSI ~ 0 and chi2 ~ 0 when both halves share a distribution;
    both blow past their alarm thresholds when the second half shifts."""
    from datetime import datetime, timedelta

    import covid_data_challenge_spark.queries_curation as qx
    from covid_data_challenge_spark.registry import REGISTRY

    def mk(rows):
        return spark.createDataFrame(
            [
                (i, datetime(2024, 1, 1) + timedelta(minutes=i), i % 7, t, v, "{}")
                for i, (t, v) in enumerate(rows)
            ],
            "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
        )

    stable = mk([("a" if i % 2 else "b", float(i % 10)) for i in range(400)])
    shifted = mk(
        [("a" if i % 2 else "b", float(i % 10)) for i in range(200)]
        + [("c", 90.0 + (i % 5)) for i in range(200)]
    )
    monkeypatch.setattr(qx, "_events", lambda spark, sf: stable)
    psi_stable = REGISTRY["value_drift_psi"].spark(spark, "x").collect()[0].psi
    chi_stable = REGISTRY["event_type_drift_chi2"].spark(spark, "x").collect()[0].chi2
    monkeypatch.setattr(qx, "_events", lambda spark, sf: shifted)
    psi_shift = REGISTRY["value_drift_psi"].spark(spark, "x").collect()[0].psi
    chi_shift = REGISTRY["event_type_drift_chi2"].spark(spark, "x").collect()[0].chi2
    assert psi_stable < 0.1 and chi_stable < 5.0
    assert psi_shift > 0.25 and chi_shift > 100.0


def test_stupid_backoff_tiers_golden(spark):
    """Each Stupid Backoff tier on a hand-computed fixture: seen trigram
    scores c3/c2 (nll 0 here), unseen trigram with seen last-bigram pays
    one alpha (ln 2.5), fully unseen pays two alphas over the add-one
    unigram floor ln(N+V)."""
    import math

    from covid_data_challenge_spark.operators.lm import (
        stupid_backoff_nll_incremental,
    )

    hist = spark.createDataFrame([(1, "a b c a b c")], "doc_id long, text string")
    batch = spark.createDataFrame(
        [(10, "a b c"), (20, "q b c"), (30, "x y z")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in stupid_backoff_nll_incremental(hist, batch).collect()}
    # tier 0: "a b c" seen twice, ctx "a b" count 2 -> S = 1, nll = 0
    assert out[10].n_backoff == 0 and abs(out[10].nll) < 1e-6
    # tier 1: "q b c" unseen, "b c" seen (2) over c1(b)=2 -> nll = ln 2.5
    assert out[20].n_backoff == 1
    assert abs(out[20].nll - math.log(2.5)) < 1e-5
    # tier 2: "x y z" fully unseen -> ln(N+V) + 2 ln 2.5, N=6 V=3
    assert out[30].n_backoff == 1
    assert abs(out[30].nll - (math.log(9.0) + 2 * math.log(2.5))) < 1e-5


def test_kneser_ney3_tiers_golden(spark):
    """Modified-KN trigram LM (r6) against an INDEPENDENT pure-Python
    replica of every tier — trigram discounts/γ from count-of-counts,
    bigram-continuation middle layer, unigram-continuation floor — on a
    fixture that populates the c=1/2/3 buckets at the top level and
    exercises the degenerate-bucket fallbacks at the continuation level.
    Also pins the smoothing property the form exists for: a document of
    thrice-seen trigrams scores lower NLL than one of singletons."""
    import math
    from collections import Counter

    from covid_data_challenge_spark.operators.lm import kneser_ney3_nll

    rows = [
        (1, "a b c a b c a b c"),
        (2, "a b d"),
        (3, "x b c"),
        (4, "p q r p q r"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in kneser_ney3_nll(docs).collect()}

    # ---- reference replica (mirrors operators/lm exactly) ----
    def mkn_d(t1, t2, t3, t4):
        y = t1 / (t1 + 2.0 * t2) if t1 > 0 else None
        d1 = max(1.0 - 2.0 * y * (t2 / t1), 0.0) if t1 > 0 else 0.5
        d2 = max(2.0 - 3.0 * y * (t3 / t2), 0.0) if t1 > 0 and t2 > 0 else 1.0
        d3 = max(3.0 - 4.0 * y * (t4 / t3), 0.0) if t1 > 0 and t3 > 0 else 1.5
        return d1, d2, d3

    doc_tris, c3 = {}, Counter()
    for did, text in rows:
        w = text.split()
        tris = [" ".join(w[i : i + 3]) for i in range(len(w) - 2)]
        doc_tris[did] = tris
        c3.update(tris)
    ctx_c, ctx_n = Counter(), {}
    for t, c in c3.items():
        ctx = " ".join(t.split()[:2])
        ctx_c[ctx] += c
        b = 1 if c == 1 else (2 if c == 2 else 3)
        ctx_n.setdefault(ctx, Counter())[b] += 1
    coc3 = Counter(min(c, 4) for c in c3.values() if c <= 4)
    D = mkn_d(*(coc3.get(i, 0) for i in (1, 2, 3, 4)))
    cb = Counter(" ".join(t.split()[1:]) for t in c3)  # continuation counts
    mid_c, mid_n = Counter(), {}
    for bgk, cc in cb.items():
        w2 = bgk.split()[0]
        mid_c[w2] += cc
        b = 1 if cc == 1 else (2 if cc == 2 else 3)
        mid_n.setdefault(w2, Counter())[b] += 1
    coc2 = Counter(min(c, 4) for c in cb.values() if c <= 4)
    E = mkn_d(*(coc2.get(i, 0) for i in (1, 2, 3, 4)))
    cu = Counter(bgk.split()[1] for bgk in cb)
    u_tot = len(cb)

    def p_kn3(t):
        w1, w2, w3 = t.split()
        ctx, bgk = f"{w1} {w2}", f"{w2} {w3}"
        c, cc = c3[t], cb[bgk]
        p1 = cu[w3] / u_tot
        esel = E[min(cc, 3) - 1]
        gam2 = (
            E[0] * mid_n[w2].get(1, 0)
            + E[1] * mid_n[w2].get(2, 0)
            + E[2] * mid_n[w2].get(3, 0)
        ) / mid_c[w2]
        p2 = max(cc - esel, 0.0) / mid_c[w2] + gam2 * p1
        dsel = D[min(c, 3) - 1]
        gam3 = (
            D[0] * ctx_n[ctx].get(1, 0)
            + D[1] * ctx_n[ctx].get(2, 0)
            + D[2] * ctx_n[ctx].get(3, 0)
        ) / ctx_c[ctx]
        return max(c - dsel, 0.0) / ctx_c[ctx] + gam3 * p2

    for did, tris in doc_tris.items():
        want = sum(math.floor(1e6 * -math.log(p_kn3(t))) for t in tris) / (
            len(tris) * 1e6
        )
        got = out[did]
        assert got.n_trigrams == len(tris)
        # micro-nat floor boundaries: portable_ln vs libm may differ by
        # one quantum per trigram
        assert abs(got.kn3_nll - want) <= len(tris) * 1.5e-6 + 1e-9, did
    # the continuation property that makes KN KN: "x b c" and "a b d"
    # are both singleton trigrams (same discount tier), but suffix
    # bigram "b c" continues 2 distinct predecessors vs "b d"'s 1 —
    # the diverse-continuation trigram must score lower NLL (docs 3 and
    # 2 are single-trigram docs, so the per-doc mean IS the trigram)
    assert out[3].kn3_nll < out[2].kn3_nll


def test_moore_lewis_selects_target_like_pool_docs(spark, monkeypatch):
    """Cross-entropy-difference selection (r5): pool docs written in the
    target slice's vocabulary must rank (and select) ahead of
    out-of-vocabulary gibberish — the Moore-Lewis 2010 property the
    query exists for."""
    import covid_data_challenge_spark.queries_curation as qc
    from covid_data_challenge_spark.registry import REGISTRY

    rows = [
        # target slice (src0/src1): a consistent "domain" vocabulary
        (0, "the model trains on clean data", "en", "src0", 1),
        (1, "the model trains on good data", "en", "src0", 1),
        (2, "clean data trains the model well", "en", "src1", 1),
        # pool: two domain-like docs, two gibberish docs
        (10, "the model trains on clean data", "en", "src2", 1),
        (11, "good data trains the model", "en", "src3", 1),
        (12, "zxq wvv kkj pqr mnb vvx", "en", "src2", 1),
        (13, "qqa zzb ccx ddv eef ffg", "en", "src3", 1),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    monkeypatch.setattr(qc, "_docs", lambda spark, sf: docs)
    out = {r.doc_id: r for r in
           REGISTRY["moore_lewis_select"].spark(spark, "unused").collect()}
    assert set(out) == {10, 11, 12, 13}  # pool only, all scored
    assert out[10].ce_diff < out[12].ce_diff
    assert out[11].ce_diff < out[13].ce_diff
    assert out[10].selected and out[11].selected
    assert not out[12].selected and not out[13].selected


def test_matryoshka_recall_monotone_in_width(spark, sf_dir):
    """Truncation audit (r6): keeping MORE prefix dimensions can only
    help retrieval on average — recall@5 at 32 dims must be ≥ at 16 —
    and the audit's bookkeeping must be internally consistent."""
    import covid_data_challenge_spark.queries_ext  # noqa: F401
    from covid_data_challenge_spark.registry import REGISTRY

    rows = {r.trunc_dim: r for r in
            REGISTRY["matryoshka_recall_audit"].spark(spark, sf_dir).collect()}
    assert set(rows) == {16, 32}
    for r in rows.values():
        assert 0.0 <= r.recall_at_5 <= 1.0
        assert r.n_hits <= 5 * r.n_queries
        assert abs(r.recall_at_5 - r.n_hits / (5.0 * r.n_queries)) < 1e-12
    assert rows[16].n_queries == rows[32].n_queries
    assert rows[32].recall_at_5 >= rows[16].recall_at_5


def test_doremi_lite_upweights_divergent_source(spark, monkeypatch):
    """DoReMi-lite (r6): a source whose text the corpus-global LM
    underfits (own vocabulary) must show higher excess NLL — and higher
    weight relative to its share — than sources that match the corpus
    distribution; weights must sum to 1."""
    import covid_data_challenge_spark.queries_curation as qc
    from covid_data_challenge_spark.registry import REGISTRY

    common = "the model trains on clean data and good text"
    rows = [
        (i, common, "en", "src_a", 1) for i in range(4)
    ] + [
        (10 + i, common, "en", "src_b", 1) for i in range(4)
    ] + [
        (20 + i, "zxq wvv kkj pqr mnb vvx qqa zzb ccx", "en", "src_div", 1)
        for i in range(4)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    monkeypatch.setattr(qc, "_docs", lambda spark, sf: docs)
    out = {r.source: r for r in
           REGISTRY["doremi_lite_weights"].spark(spark, "unused").collect()}
    assert set(out) == {"src_a", "src_b", "src_div"}
    assert abs(sum(r.doremi_weight for r in out.values()) - 1.0) < 1e-4
    assert out["src_div"].excess_nll > out["src_a"].excess_nll
    # identical-distribution sources behave identically
    assert abs(out["src_a"].excess_nll - out["src_b"].excess_nll) < 1e-9
    # the divergent source's weight exceeds its raw bigram share
    share_div = out["src_div"].n_bigrams / sum(r.n_bigrams for r in out.values())
    assert out["src_div"].doremi_weight > share_div


def test_fighting_words_flags_source_specific_vocab(spark, monkeypatch):
    """Fightin' Words (r6): a term used heavily by ONE source and never
    by the rest must be that source's top distinctive term with a
    positive z; a uniformly-used term must never top any source."""
    import covid_data_challenge_spark.queries_text as qt
    from covid_data_challenge_spark.registry import REGISTRY

    rows = [
        (0, "zebra zebra zebra common words here", "en", "src_a", 1),
        (1, "zebra zebra stripes common words here", "en", "src_a", 1),
        (2, "plain common words here again now", "en", "src_b", 1),
        (3, "plain common words here again now", "en", "src_b", 1),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    monkeypatch.setattr(qt, "_docs", lambda spark, sf: docs)
    out = [r for r in REGISTRY["fighting_words"].spark(spark, "unused").collect()]
    top = {r.source: r for r in out if r.rank == 1}
    assert top["src_a"].term == "zebra" and top["src_a"].log_odds_z > 0
    assert all(r.term != "common" or r.rank > 1 for r in out)


def test_unigram_em_round_matches_python_viterbi(spark):
    """Unigram-LM hard-EM round (r6) vs an independent pure-Python
    replica: seed vocabulary (all single chars + top-64 multis by
    (freq desc, piece asc)), integer micro-nat scores, Viterbi DP with
    the longer-piece tie rule, M-step usage counts — every piece row
    must match. Also pins the semantics: frequent whole words survive
    as pieces, and zero-usage pieces are flagged kept=False (the prune
    set)."""
    import math
    from collections import Counter

    from covid_data_challenge_spark.functions.pmath import portable_ln_py
    from covid_data_challenge_spark.operators.unigram import (
        MAX_PIECE,
        VOCAB_TOP,
        unigram_em_round,
    )

    rows = [
        (1, "table tablet stream streams a table"),
        (2, "stream table tab let tables"),
        (3, "able ables stream tab"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.piece: r for r in unigram_em_round(docs).collect()}

    # ---- replica ----
    wd = Counter(w for _, t in rows for w in t.split())
    pf = Counter()
    for w, n in wd.items():
        for s in range(len(w)):
            for j in range(1, min(MAX_PIECE, len(w) - s) + 1):
                pf[w[s : s + j]] += n
    singles = {p: f for p, f in pf.items() if len(p) == 1}
    multis = dict(
        sorted(
            ((p, f) for p, f in pf.items() if len(p) >= 2),
            key=lambda kv: (-kv[1], kv[0]),
        )[:VOCAB_TOP]
    )
    vocab = {**singles, **multis}
    ftot = sum(vocab.values())
    u = {
        p: math.floor(1e6 * (portable_ln_py(float(f)) - portable_ln_py(float(ftot))))
        for p, f in vocab.items()
    }

    def viterbi(w):
        best = [(0, 0)]  # (total, j)
        for i in range(1, len(w) + 1):
            cands = []
            for j in range(1, min(MAX_PIECE, i) + 1):
                piece = w[i - j : i]
                if piece in u:
                    cands.append((best[i - j][0] + u[piece], j))
            best.append(max(cands))  # ties -> longer j wins
        out, pos = [], len(w)
        while pos > 0:
            j = best[pos][1]
            out.append(w[pos - j : pos])
            pos -= j
        return out[::-1]

    vc = Counter()
    for w, n in wd.items():
        for p in viterbi(w):
            vc[p] += n
    vtot = sum(vc.values())

    assert set(got) == set(vocab)
    for p, r in got.items():
        assert r.seed_freq == vocab[p], p
        assert r.viterbi_count == vc.get(p, 0), p
        assert r.kept == (vc.get(p, 0) > 0), p
        if r.kept:
            want = math.floor(
                1e6 * (portable_ln_py(float(vc[p])) - portable_ln_py(float(vtot)))
            )
            assert r.new_score_units == want, p


    # semantics: frequent whole words are pieces and segment as themselves
    assert got["tab"].kept or got["table"].kept
    assert any(not r.kept for r in got.values())  # the prune set exists

    # ---- round 2 (unigram_em_round2): prune → re-score → re-segment ----
    from covid_data_challenge_spark.operators.unigram import unigram_em_round2

    got2 = {r.piece: r for r in unigram_em_round2(docs).collect()}
    v2 = {p for p in vocab if vc.get(p, 0) > 0 or len(p) == 1}
    u2 = {
        p: math.floor(
            1e6
            * (
                portable_ln_py(float(max(vc.get(p, 0), 1)))
                - portable_ln_py(float(vtot))
            )
        )
        for p in v2
    }

    def viterbi2(w):
        best = [(0, 0)]
        for i in range(1, len(w) + 1):
            cands = [
                (best[i - j][0] + u2[w[i - j : i]], j)
                for j in range(1, min(MAX_PIECE, i) + 1)
                if w[i - j : i] in u2
            ]
            best.append(max(cands))
        out, pos = [], len(w)
        while pos > 0:
            j = best[pos][1]
            out.append(w[pos - j : pos])
            pos -= j
        return out[::-1]

    vc2 = Counter()
    for w, n in wd.items():
        for p in viterbi2(w):
            vc2[p] += n
    assert set(got2) == v2
    for p, r in got2.items():
        assert r.round1_count == vc.get(p, 0), p
        assert r.viterbi_count == vc2.get(p, 0), p
        assert r.kept == (vc2.get(p, 0) > 0), p

    # ---- round 3 (unigram_em_rounds k=3): one more prune/re-fit ----
    from covid_data_challenge_spark.operators.unigram import unigram_em_rounds

    got3 = {r.piece: r for r in unigram_em_rounds(docs, 3).collect()}
    vtot2 = sum(vc2.values())
    v3 = {p for p in v2 if vc2.get(p, 0) > 0 or len(p) == 1}
    u3 = {
        p: math.floor(
            1e6
            * (
                portable_ln_py(float(max(vc2.get(p, 0), 1)))
                - portable_ln_py(float(vtot2))
            )
        )
        for p in v3
    }

    def viterbi3(w):
        best = [(0, 0)]
        for i in range(1, len(w) + 1):
            cands = [
                (best[i - j][0] + u3[w[i - j : i]], j)
                for j in range(1, min(MAX_PIECE, i) + 1)
                if w[i - j : i] in u3
            ]
            best.append(max(cands))
        out, pos = [], len(w)
        while pos > 0:
            j = best[pos][1]
            out.append(w[pos - j : pos])
            pos -= j
        return out[::-1]

    vc3 = Counter()
    for w, n in wd.items():
        for p in viterbi3(w):
            vc3[p] += n
    vtot3 = sum(vc3.values())
    assert set(got3) == v3
    for p, r in got3.items():
        assert r.round2_count == vc2.get(p, 0), p
        assert r.viterbi_count == vc3.get(p, 0), p
        assert r.kept == (vc3.get(p, 0) > 0), p
        if r.kept:
            want = math.floor(
                1e6 * (portable_ln_py(float(vc3[p])) - portable_ln_py(float(vtot3)))
            )
            assert r.new_score_units == want, p
    # k=2 must reproduce unigram_em_round2 exactly (the named wrapper)
    assert got2.keys() == {
        r.piece for r in unigram_em_rounds(docs, 2).collect()
    }


def test_unigram_em_survives_backslash_quote_newline_corpus(spark):
    """ADVICE r12 (high): Spark string literals process backslash
    escapes, so `_vocab_map` must double backslashes BEFORE quote
    doubling — a corpus backslash otherwise throws ParseException at
    plan build, and a literal backslash-n piece silently parses to a
    newline key (corrupting segmentation). Pin end-to-end: a corpus
    whose tokens contain backslashes, single quotes, and literal \\n
    sequences segments identically to the pure-Python replica."""
    import math
    from collections import Counter

    from covid_data_challenge_spark.functions.pmath import portable_ln_py
    from covid_data_challenge_spark.operators.unigram import (
        MAX_PIECE,
        VOCAB_TOP,
        unigram_em_round,
    )

    rows = [
        (1, r"a\b a\b c'd \n \n back\slash"),
        (2, r"\\ 'quoted' a\b \n it's"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.piece: r for r in unigram_em_round(docs).collect()}

    # ---- replica (same DP as test_unigram_em_round_matches_python_viterbi)
    wd = Counter(w for _, t in rows for w in t.lower().split())
    pf = Counter()
    for w, n in wd.items():
        for s in range(len(w)):
            for j in range(1, min(MAX_PIECE, len(w) - s) + 1):
                pf[w[s : s + j]] += n
    singles = {p: f for p, f in pf.items() if len(p) == 1}
    multis = dict(
        sorted(
            ((p, f) for p, f in pf.items() if len(p) >= 2),
            key=lambda kv: (-kv[1], kv[0]),
        )[:VOCAB_TOP]
    )
    vocab = {**singles, **multis}
    ftot = sum(vocab.values())
    u = {
        p: math.floor(1e6 * (portable_ln_py(float(f)) - portable_ln_py(float(ftot))))
        for p, f in vocab.items()
    }

    def viterbi(w):
        best = [(0, 0)]
        for i in range(1, len(w) + 1):
            cands = []
            for j in range(1, min(MAX_PIECE, i) + 1):
                piece = w[i - j : i]
                if piece in u:
                    cands.append((best[i - j][0] + u[piece], j))
            best.append(max(cands))
        out, pos = [], len(w)
        while pos > 0:
            j = best[pos][1]
            out.append(w[pos - j : pos])
            pos -= j
        return out[::-1]

    vc = Counter()
    for w, n in wd.items():
        for p in viterbi(w):
            vc[p] += n

    assert set(got) == set(vocab)
    assert any("\\" in p for p in got), "fixture must exercise backslash pieces"
    for p, r in got.items():
        assert r.seed_freq == vocab[p], repr(p)
        assert r.viterbi_count == vc.get(p, 0), repr(p)

def test_hybrid_rrf_top_doc_dominates_both_rankers(spark, monkeypatch):
    """RRF fusion (r6): a document that dominates BOTH rankers (every
    query term, many times, short doc) must be fused rank 1 with the
    max possible RRF score 2/(60+1); docs without any query term never
    appear; consistency rrf = 1/(60+r1) + 1/(60+r2) holds exactly."""
    import covid_data_challenge_spark.queries_text as qt
    from covid_data_challenge_spark.registry import REGISTRY

    rows = [
        (0, "spark vector stream spark vector stream", "en", "s", 1),
        (1, "spark words and more words here today fine", "en", "s", 1),
        (2, "vector words and other words here today ok", "en", "s", 1),
        (3, "nothing relevant in this one at all folks", "en", "s", 1),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    monkeypatch.setattr(qt, "_docs", lambda spark, sf: docs)
    out = REGISTRY["hybrid_rrf_retrieval"].spark(spark, "unused").collect()
    ids = [r.doc_id for r in out]
    assert 3 not in ids  # no query term -> not a candidate
    best = out[0]
    assert best.doc_id == 0 and best.rank_bm25 == 1 and best.rank_ql == 1
    assert abs(best.rrf_score - round(2.0 / 61.0, 6)) < 1e-9
    for r in out:
        want = 1.0 / (60.0 + r.rank_bm25) + 1.0 / (60.0 + r.rank_ql)
        assert abs(r.rrf_score - round(want, 6)) < 1e-9


def test_retrieval_eval_report_hand_computed(spark, monkeypatch):
    """IR eval harness (r6) on a fixture where the ideal ranking is
    forced: the all-terms doc must head both rankers (MRR 1.0), the
    graded order (gain 3 → 1 → 0) matches the ideal so nDCG@10 = 1.0,
    and P@10 counts exactly the gain>0 docs."""
    import math

    import covid_data_challenge_spark.queries_text as qt
    from covid_data_challenge_spark.registry import REGISTRY

    rows = [
        (0, "spark vector stream extra words here", "en", "s", 1),
        (1, "spark vector words and words here now", "en", "s", 1),
        (2, "spark words only in this document now", "en", "s", 1),
        (3, "none of the terms appear here at all", "en", "s", 1),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    monkeypatch.setattr(qt, "_docs", lambda spark, sf: docs)
    out = {r.ranker: r for r in
           REGISTRY["retrieval_eval_report"].spark(spark, "unused").collect()}
    assert set(out) == {"bm25", "query_likelihood"}
    w = [1.0 / math.log2(i + 1) for i in range(1, 11)]
    # ideal DCG for gains [3, 1, 0]: quantized exactly as the engines do
    ideal_units = math.floor(1e9 * 3.0 * w[0]) + math.floor(1e9 * 1.0 * w[1])
    for r in out.values():
        assert r.n_candidates == 3
        assert r.mrr_at_10 == 1.0  # the gain-3 doc leads both rankings
        assert abs(r.precision_at_10 - 0.2) < 1e-12  # 2 of 10 slots relevant
        assert r.ndcg_at_10 == 1.0  # ranking 3 > 1 > 0 IS the ideal order
        assert abs(r.dcg_at_10 - round(ideal_units / 1e9, 6)) < 1e-9


def test_gopher_repetition_known_fractions(spark, monkeypatch):
    """Hand-checkable repetition battery values: a doc that is one
    2-gram repeated 3 times vs a doc with all-distinct tokens."""
    import covid_data_challenge_spark.queries_text as qt
    from covid_data_challenge_spark.registry import REGISTRY

    docs = spark.createDataFrame(
        [
            # "ab cd" x3: top 2-gram "ab cd" occurs 3 times among 5
            # bigram slots; all 5-grams occur once each
            (0, "ab cd ab cd ab cd", "en", "s", 1),
            (1, "aa bb cc dd ee ff", "en", "s", 1),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    monkeypatch.setattr(qt, "_docs", lambda spark, sf: docs)
    out = {r.doc_id: r for r in
           REGISTRY["gopher_repetition_flags"].spark(spark, "unused").collect()}
    r0, r1 = out[0], out[1]
    assert r0.n_chars == 12  # 6 tokens x 2 non-space chars
    # top 2-gram "ab cd": 3 occurrences x 4 chars = 12 of 12 chars
    assert r0.top_frac_2 == 1.0
    # dup 5-grams: "ab cd ab cd ab" x1, "cd ab cd ab cd" x1 -> none >= 2
    assert r0.dup_frac_5 == 0.0
    assert not r0.keep  # 100% top-2-gram coverage fails the 20% gate
    # all-distinct doc: top 2-gram covers 4/12 chars, no duplicates
    assert abs(r1.top_frac_2 - 4.0 / 12.0) < 1e-12
    assert r1.dup_frac_5 == 0.0 and r1.dup_frac_10 == 0.0
    assert not r1.ok_top_2 or r1.ok_top_2 == (4.0 / 12.0 <= 0.20)
    assert r1.ok_dup_5 and r1.ok_dup_10


def test_kneser_ney_nll_hand_computed(spark):
    """Interpolated-KN golden values on a 2-doc corpus, checked against
    the closed-form probabilities: with D=0.75, corpus bigrams
    {a b, b a, a c, b c} each of count 1, contexts a and b each have
    c(v.)=2 and N1+(v.)=2, continuations have N1+(.b)=N1+(.a)=1,
    N1+(.c)=2, N1+(..)=4 — so p(b|a)=p(a|b)=0.3125 and
    p(c|a)=p(c|b)=0.5 exactly."""
    import math

    from covid_data_challenge_spark.operators.lm import kneser_ney_nll

    docs = spark.createDataFrame(
        [(0, "a b a c"), (1, "b c")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in kneser_ney_nll(docs).collect()}
    assert out[0].n_bigrams == 3 and out[1].n_bigrams == 1
    want0 = (2 * -math.log(0.3125) + -math.log(0.5)) / 3.0
    want1 = -math.log(0.5)
    # micro-nat floor-quantization: within 1e-6 per bigram
    assert abs(out[0].kn_nll - want0) <= 3e-6
    assert abs(out[1].kn_nll - want1) <= 1e-6
    # the continuation-probability property that defines KN: c follows
    # two distinct contexts, b only one, so with equal raw counts
    # p(c|a) > p(b|a) -> a doc of diverse-context bigrams scores lower
    # NLL than the collocation-only doc
    assert out[1].kn_nll < out[0].kn_nll


def test_range_sharded_cumsum_matches_single_partition_window(spark):
    """The two-level prefix sum must be row-for-row identical to the
    naive Window.orderBy cumulative sum — prefix sums are invariant to
    where the range-shard boundaries fall, including with far fewer
    rows than shards and with clustered keys."""
    import random

    from pyspark.sql import Window

    from covid_data_challenge_spark.operators.prefix import range_sharded_cumsum

    rng = random.Random(7)
    rows = [(i, rng.randrange(0, 40), rng.randrange(1, 9)) for i in range(500)]
    # unique order key via (k, id) — the contract's tie-break requirement
    df = spark.createDataFrame(rows, "id long, k long, v long")
    got = range_sharded_cumsum(df, ["k", "id"], {"v": "cum_v"})
    w = Window.orderBy("k", "id").rowsBetween(Window.unboundedPreceding, 0)
    want = df.withColumn("cum_v", F.sum("v").over(w))
    assert got.count() == 500
    g = {r.id: r.cum_v for r in got.collect()}
    e = {r.id: r.cum_v for r in want.collect()}
    assert g == e
    # descending too
    got_d = {r.id: r.cum_v for r in
             range_sharded_cumsum(df, ["k", "id"], {"v": "cum_v"},
                                  descending=True).collect()}
    w_d = Window.orderBy(F.col("k").desc(), F.col("id").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    e_d = {r.id: r.cum_v for r in
           df.withColumn("cum_v", F.sum("v").over(w_d)).collect()}
    assert got_d == e_d


def test_range_sharded_cumsum_recompute_is_stable(spark):
    """The offset join pairs spark_partition_id() labels computed by two
    consumers of the same range exchange; correctness rests on the
    RangePartitioner's seeded sketch assigning identical boundaries on
    every recomputation (prefix.py module docstring, ADVICE r6).
    Executing the SAME lazy result repeatedly — uncached, so each
    execution replans and may recompute the subtree — must produce
    identical rows every time."""
    import random

    from covid_data_challenge_spark.operators.prefix import range_sharded_cumsum

    rng = random.Random(23)
    rows = [(i, rng.randrange(0, 25), rng.randrange(1, 7)) for i in range(400)]
    df = spark.createDataFrame(rows, "id long, k long, v long")
    out = range_sharded_cumsum(df, ["k", "id"], {"v": "cum_v"}, num_shards=8)
    first = sorted((r.id, r.cum_v) for r in out.collect())
    for _ in range(2):
        again = sorted((r.id, r.cum_v) for r in out.collect())
        assert again == first


def test_range_sharded_dense_rank_matches_window_and_is_shard_invariant(spark):
    """The in-place global dense rank (r12, the suffix-doubling fix)
    must be row-for-row identical to the naive Window.orderBy
    dense_rank for HEAVILY DUPLICATED keys — the dense-rank-specific
    hazard: equal keys straddling a shard boundary would not just split
    a prefix (the cumsum case) but shift every later rank by one. Pin
    it across shard counts spanning fewer-rows-than-shards and
    many-keys-per-shard, plus recompute stability on one lazy result
    (uncached — each execution may recompute the range exchange and
    must redraw identical boundaries)."""
    import random

    from pyspark.sql import Window

    from covid_data_challenge_spark.operators.prefix import (
        range_sharded_dense_rank,
    )

    rng = random.Random(41)
    # ~12 distinct keys over 600 rows -> every shard boundary lands on
    # a duplicated key at most shard counts
    rows = [(i, rng.randrange(0, 12)) for i in range(600)]
    df = spark.createDataFrame(rows, "id long, k long")
    w = Window.orderBy("k")
    want = {
        r.id: r.r for r in df.withColumn("r", F.dense_rank().over(w)).collect()
    }
    for shards in (3, 8, 32, 997):
        got = {
            r.id: r.r
            for r in range_sharded_dense_rank(
                df, ["k"], "r", num_shards=shards
            ).collect()
        }
        assert got == want, f"num_shards={shards}"
    out = range_sharded_dense_rank(df, ["k"], "r", num_shards=8)
    first = sorted((r.id, r.r) for r in out.collect())
    for _ in range(2):
        assert sorted((r.id, r.r) for r in out.collect()) == first


def test_range_sharded_ntile_matches_sql_ntile(spark):
    """range_sharded_ntile must reproduce SQL ntile(n) exactly for
    counts that do and don't divide n (the first N mod n buckets get
    the extra row)."""
    import random

    from pyspark.sql import Window

    from covid_data_challenge_spark.operators.prefix import range_sharded_ntile

    rng = random.Random(11)
    for n_rows in (97, 100, 3, 4):
        rows = [(i, rng.randrange(0, 50)) for i in range(n_rows)]
        df = spark.createDataFrame(rows, "id long, k long")
        got = {r.id: r.q for r in
               range_sharded_ntile(df, ["k", "id"], 4, "q").collect()}
        w = Window.orderBy("k", "id")
        want = {r.id: r.q for r in
                df.withColumn("q", F.ntile(4).over(w)).collect()}
        assert got == want, n_rows


def test_zipf_fit_recovers_exact_power_law(spark, monkeypatch):
    """zipf_law_fit (r5): a corpus whose term frequencies follow
    freq = 840/rank exactly (ranks 1..8, 840 = lcm(1..8)) must fit
    slope -1 with r^2 ~ 1 — the OLS recovers a known power law."""
    import covid_data_challenge_spark.queries_text as qt
    from covid_data_challenge_spark.registry import REGISTRY

    freqs = [840 // r for r in range(1, 9)]
    words = []
    for i, c in enumerate(freqs):
        words.extend([f"t{i:02d}"] * c)
    rows = [(0, " ".join(words), "en", "src0", 1)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    monkeypatch.setattr(qt, "_docs", lambda spark, sf: docs)
    r = REGISTRY["zipf_law_fit"].spark(spark, "unused").collect()[0]
    assert r.vocab_size == 8 and r.total_tokens == sum(freqs)
    assert abs(r.zipf_slope + 1.0) < 1e-3
    assert r.r2 > 0.9999


def test_heaps_fit_separates_template_from_lexically_rich(spark, monkeypatch):
    """heaps_law_fit (r5): sources with a FIXED 2-word vocabulary at any
    size fit beta ~ 0 (template corpus); sources where every token is
    distinct fit beta ~ 1."""
    import covid_data_challenge_spark.queries_text as qt
    from covid_data_challenge_spark.registry import REGISTRY

    def run(rows):
        docs = spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )
        monkeypatch.setattr(qt, "_docs", lambda spark, sf: docs)
        return REGISTRY["heaps_law_fit"].spark(spark, "unused").collect()[0]

    template = [
        (i, " ".join(["a b"] * n), "en", f"s{i}", 1)
        for i, n in enumerate([5, 25, 125])
    ]
    r = run(template)
    assert r.n_sources == 3
    assert abs(r.heaps_beta) < 1e-3
    rich = [
        (i, " ".join(f"s{i}w{j}" for j in range(n)), "en", f"s{i}", 1)
        for i, n in enumerate([10, 100, 1000])
    ]
    r = run(rich)
    assert abs(r.heaps_beta - 1.0) < 1e-3
    assert r.r2 > 0.9999


def test_ngram_diversity_separates_repeated_from_distinct(spark, monkeypatch):
    """ngram_diversity_report (r5): a source that repeats one document
    ten times scores low distinct-n; a source of all-distinct tokens
    scores exactly 1.0 at every n."""
    import covid_data_challenge_spark.queries_text as qt
    from covid_data_challenge_spark.registry import REGISTRY

    rows = [(i, "one two three four five", "en", "rep", 1) for i in range(10)]
    rows += [(100, " ".join(f"u{j}" for j in range(20)), "en", "uniq", 1)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    monkeypatch.setattr(qt, "_docs", lambda spark, sf: docs)
    out = {(r.source, r.n): r for r in
           REGISTRY["ngram_diversity_report"].spark(spark, "unused").collect()}
    for n in (1, 2, 3):
        assert out[("uniq", n)].distinct_ratio == 1.0
        assert out[("rep", n)].distinct_ratio <= 0.1 + 1e-9  # 1 of 10 copies
    assert out[("rep", 1)].n_total == 50 and out[("rep", 1)].n_distinct == 5


def test_length_outliers_mad_flags_injected_giant(spark, monkeypatch):
    """length_outliers_mad (r5): one 500-token doc among ~10-token docs
    is the only row past 3 MADs — and the mean-dragging giant does not
    inflate the robust center."""
    import covid_data_challenge_spark.queries_text as qt
    from covid_data_challenge_spark.registry import REGISTRY

    lens = [9, 10, 10, 10, 11, 10, 10, 9, 11, 500]
    rows = [
        (i, " ".join(["w"] * n), "en", "s0", 1) for i, n in enumerate(lens)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    monkeypatch.setattr(qt, "_docs", lambda spark, sf: docs)
    r = REGISTRY["length_outliers_mad"].spark(spark, "unused").collect()[0]
    assert r.median_tokens == 10.0
    assert r.n_docs == 10 and r.n_outliers == 1


def test_tokenizer_fertility_counts_subword_splits(spark, monkeypatch):
    """tokenizer_fertility (r5): hyphenated words split into multiple
    BPE pre-tokens, driving fertility above the all-plain-words 1.0."""
    import covid_data_challenge_spark.queries_text as qt
    from covid_data_challenge_spark.registry import REGISTRY

    rows = [
        (0, "plain words only", "en", "plain", 1),
        (1, "state-of-the-art", "en", "hyphy", 1),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    monkeypatch.setattr(qt, "_docs", lambda spark, sf: docs)
    out = {r.source: r for r in
           REGISTRY["tokenizer_fertility"].spark(spark, "unused").collect()}
    assert out["plain"].fertility == 1.0
    assert out["hyphy"].ws_tokens == 1 and out["hyphy"].bpe_tokens == 7
    assert out["hyphy"].fertility == 7.0


def test_cross_source_contamination_identical_vs_disjoint(spark, monkeypatch):
    """cross_source_contamination (r5): two sources with identical text
    share jaccard 1.0; a disjoint third source produces no overlap row
    against either."""
    import covid_data_challenge_spark.queries_dedup as qd
    from covid_data_challenge_spark.registry import REGISTRY

    shared = "alpha beta gamma delta epsilon"
    rows = [
        (0, shared, "en", "a", 1),
        (1, shared, "en", "b", 1),
        (2, "zeta eta theta iota kappa", "en", "c", 1),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    monkeypatch.setattr(qd, "_docs", lambda spark, sf: docs)
    out = {(r.src_a, r.src_b): r for r in
           REGISTRY["cross_source_contamination"].spark(spark, "unused").collect()}
    assert set(out) == {("a", "b")}
    assert out[("a", "b")].jaccard == 1.0
    assert out[("a", "b")].n_common == 3  # 5 tokens -> 3 shingles


def test_bootstrap_ci_brackets_mean_and_is_deterministic(spark, sf_dir):
    """bootstrap_mean_ci (r5): the empirical 2.5/97.5 band brackets the
    point estimate, is non-degenerate, and replays identically (the
    md5-salted Poisson weights make the interval a pure function of the
    corpus)."""
    import covid_data_challenge_spark.queries_text  # noqa: F401 — registers the query
    from covid_data_challenge_spark.registry import REGISTRY

    a = REGISTRY["bootstrap_mean_ci"].spark(spark, sf_dir).collect()[0]
    b = REGISTRY["bootstrap_mean_ci"].spark(spark, sf_dir).collect()[0]
    assert a == b
    assert a.n_rep == 64
    assert a.ci_lo < a.mean_tokens < a.ci_hi
    assert a.ci_hi - a.ci_lo < a.mean_tokens  # sane width


def test_unimax_budget_plan_waterfills(spark, monkeypatch):
    """unimax_budget_plan (r5): small languages hit the 1-epoch cap,
    the head language absorbs exactly the leftover budget (the water
    level), and the allocations sum to the budget."""
    import covid_data_challenge_spark.queries_sampling as qsamp
    from covid_data_challenge_spark.registry import REGISTRY

    def doc(i, lang, n):
        return (i, " ".join(["w"] * n), lang, "src0", 2 * n - 1)

    rows = [doc(0, "aa", 10), doc(1, "bb", 20), doc(2, "en", 500), doc(3, "en", 500)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    monkeypatch.setattr(qsamp, "_docs", lambda spark, sf: docs)
    out = {r.lang: r for r in REGISTRY["unimax_budget_plan"].spark(spark, "unused").collect()}
    assert set(out) == {"aa", "bb", "en"}
    # budget = floor(0.7 * 1030) = 721; caps 10/20/1000 ascending:
    # 10*3=30 <= 721 (cap), 20*2=40 <= 711 (cap), 1000 > 691 (water level)
    assert out["aa"].at_cap == 1 and out["aa"].alloc_tokens == 10.0
    assert out["bb"].at_cap == 1 and out["bb"].alloc_tokens == 20.0
    assert out["en"].at_cap == 0 and out["en"].alloc_tokens == 691.0
    assert out["aa"].epochs_allocated == 1.0 and out["bb"].epochs_allocated == 1.0
    assert out["en"].epochs_allocated == 0.691
    assert sum(r.alloc_tokens for r in out.values()) == 721.0
    assert all(r.budget == 721 for r in out.values())


def test_split_leakage_audit_cluster_policy_never_leaks(spark, sf_dir):
    """split_leakage_audit (r5): the cluster-keyed split has zero
    cross-split near-dup pairs BY CONSTRUCTION; both policies see the
    same pair universe."""
    import covid_data_challenge_spark.queries_ext  # noqa: F401
    from covid_data_challenge_spark.registry import REGISTRY

    out = {r.policy: r for r in
           REGISTRY["split_leakage_audit"].spark(spark, sf_dir).collect()}
    assert set(out) == {"doc_key", "cluster_key"}
    assert out["cluster_key"].n_cross_split == 0
    assert out["cluster_key"].leak_rate == 0.0
    assert out["doc_key"].n_pairs == out["cluster_key"].n_pairs > 0
    assert out["doc_key"].n_cross_split >= 0


def test_hll_distinct_tokens_accuracy_and_correction_branches(spark, monkeypatch):
    """HLL sketch (r7): on two sources with KNOWN cardinalities — one
    small enough to take the linear-counting branch (V > 0, E ≤ 2.5m),
    one big enough for the raw harmonic estimate — the estimate lands
    within the expected error band (σ ≈ 1.04/√1024 ≈ 3.3%; assert 4σ)
    and rel_error is consistent with the exact count."""
    import covid_data_challenge_spark.queries_text as qt
    from covid_data_challenge_spark.registry import REGISTRY

    rows = []
    # 'small': 400 distinct tokens across 4 docs; 'big': 6000 across 30
    for d in range(4):
        toks = " ".join(f"s{i}" for i in range(d * 100, (d + 1) * 100))
        rows.append((d, toks, "en", "small", len(toks)))
    for d in range(30):
        toks = " ".join(f"b{i}" for i in range(d * 200, (d + 1) * 200))
        rows.append((100 + d, toks, "en", "big", len(toks)))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    monkeypatch.setattr(qt, "_docs", lambda spark, sf: docs)
    out = {r.source: r for r in
           REGISTRY["hll_distinct_tokens"].spark(spark, "unused").collect()}
    assert out["small"].n_exact == 400
    assert out["big"].n_exact == 6000
    for src in ("small", "big"):
        r = out[src]
        assert abs(r.rel_error) < 4 * 1.04 / (1024 ** 0.5), (src, r.rel_error)
        assert abs(r.hll_estimate / r.n_exact - 1.0 - r.rel_error) < 1e-3
    # the small source must have many untouched registers (V > 0 branch);
    # the big one drives V toward 0
    assert out["small"].n_zero_registers > 500
    assert out["big"].n_zero_registers < out["small"].n_zero_registers


def test_hll_register_merge_is_exact(spark, monkeypatch):
    """HLL merge (r7): history+batch registers merged by max must give
    the SAME estimate as full-corpus registers — the property that
    makes the sketch incrementally maintainable. Checked on a fixture
    where history and batch overlap (shared tokens) AND each contributes
    unique tokens."""
    import covid_data_challenge_spark.queries_text as qt
    from covid_data_challenge_spark.registry import REGISTRY

    rows = []
    for d in range(10):  # doc_id % 5 splits history/batch
        toks = " ".join(f"t{i}" for i in range(d * 60, d * 60 + 90))  # overlaps
        rows.append((d, toks, "en", "s" + str(d % 2), len(toks)))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    monkeypatch.setattr(qt, "_docs", lambda spark, sf: docs)
    out = REGISTRY["hll_register_merge"].spark(spark, "unused").collect()
    assert len(out) == 2
    for r in out:
        assert r.merge_exact, r
        assert r.merged_estimate == r.full_estimate


def test_unigram_em_converged_early_stop_and_rounds_equivalence(spark):
    """Convergence-stopped EM (r8): (a) on a corpus whose seed model is
    already stationary (single-character words only — segmentation is
    forced, so likelihood can never improve) the trainer stops at the
    MINIMUM two rounds with a zero delta; (b) on a mixed corpus the
    output table equals unigram_em_rounds at the realized k row-for-row
    (the converged trainer is the same loop with a measured stop, not a
    different trainer)."""
    from covid_data_challenge_spark.operators.unigram import (
        unigram_em_converged,
        unigram_em_rounds,
    )

    flat = spark.createDataFrame(
        [(i, "a b c a b a") for i in range(4)], ["doc_id", "text"]
    )
    out = unigram_em_converged(flat, tol=0, k_max=8)
    rows = out.collect()
    assert rows and all(r.rounds_run == 2 for r in rows)
    assert all(r.ll_delta_units == 0 for r in rows)

    mixed = spark.createDataFrame(
        [(i, "banana band ban banana bandana") for i in range(3)]
        + [(10 + i, "ban band banana") for i in range(2)],
        ["doc_id", "text"],
    )
    conv = unigram_em_converged(mixed, tol=0, k_max=8)
    k = conv.collect()[0].rounds_run
    fixed = {
        r.piece: (r.viterbi_count, r.kept, r.new_score_units)
        for r in unigram_em_rounds(mixed, int(k)).collect()
    }
    got = {
        r.piece: (r.viterbi_count, r.kept, r.new_score_units)
        for r in conv.collect()
    }
    assert got == fixed


def test_hll_sparse_merge_crosses_boundary_and_upgrades_losslessly(spark):
    """HLL++ sparse mode (r8): a history sketch under the T=192 sparse
    threshold merged with a new batch crosses the boundary, and the
    UPGRADE is lossless — dense registers derived from the merged
    sparse pairs (idx = idx25 >> 15, mj = max rho) must equal the dense
    registers built directly from the union corpus, register for
    register (hence identical estimates). Also pins the sparse merge
    itself: union-distinct on (idx25) with max-rho is the sparse twin
    of the dense elementwise-max merge."""
    from pyspark.sql import functions as F

    from covid_data_challenge_spark.queries_text import (
        _HLL_SPARSE_T,
        hll_rho_cols,
        hll_sparse_entries,
    )

    def docs_of(words):
        return spark.createDataFrame(
            [(i, "s", " ".join(words[i::4])) for i in range(4)],
            ["doc_id", "source", "text"],
        )

    hist_words = [f"hw{i:04d}" for i in range(150)]
    batch_words = [f"bw{i:04d}" for i in range(120)]

    def tok_of(docs):
        from covid_data_challenge_spark.functions.text import tokens

        return docs.select(
            "source", F.explode(tokens(F.col("text"))).alias("w")
        ).distinct()

    sp_hist = hll_sparse_entries(tok_of(docs_of(hist_words)))
    sp_batch = hll_sparse_entries(tok_of(docs_of(batch_words)))
    n_hist = sp_hist.count()
    assert n_hist <= _HLL_SPARSE_T  # history alone stays sparse

    merged = (
        sp_hist.unionByName(sp_batch)
        .groupBy("source", "idx25")
        .agg(F.max("rho").cast("long").alias("rho"))
    )
    n_merged = merged.count()
    assert n_merged > _HLL_SPARSE_T  # the merge crosses the boundary

    upgraded = (
        merged.select(
            "source", F.shiftright(F.col("idx25"), 15).alias("idx"), "rho"
        )
        .groupBy("source", "idx")
        .agg(F.max("rho").cast("long").alias("mj"))
    )
    idx, rho = hll_rho_cols("w")
    direct = (
        tok_of(docs_of(hist_words + batch_words))
        .select("source", idx, rho)
        .groupBy("source", "idx")
        .agg(F.max("rho").cast("long").alias("mj"))
    )
    up = {(r.idx): r.mj for r in upgraded.collect()}
    dr = {(r.idx): r.mj for r in direct.collect()}
    assert up == dr  # lossless upgrade, register for register


def test_suffix_array_matches_python_replica(spark):
    """Distributed suffix array (r8, radix-4 prefix doubling with
    window seeding): the SA order must equal a direct Python sort of
    the capped suffixes — (first-cap tokens, doc_id, off) — including
    (a) docs that are proper prefixes of other docs (shorter suffix
    sorts first), (b) ties BEYOND the cap broken by (doc_id, off), and
    (c) the window-string seed's order-preservation (the space
    separator sorts below every token char, so 'a b' < 'ab' exactly as
    ['a','b'] < ['ab'])."""
    from covid_data_challenge_spark.operators.suffix import suffix_array

    long_a = " ".join(f"w{i:02d}" for i in range(20))
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "a quick brown fox leaps over a lazy dog"),
            (3, "the quick brown cat sits under the lazy dog"),
            (4, long_a + " tail_four"),
            (5, long_a + " tail_five"),   # ties with 4 beyond cap=16
            (6, long_a),                  # proper prefix of 4 and 5
            (7, "ab x"),
            (8, "a b x"),                 # 'a b' vs 'ab' seed-order case
        ],
        ["doc_id", "text"],
    )
    cap = 16
    rows = docs.collect()
    suffixes = []
    for r in rows:
        ws = r.text.split(" ")
        for o in range(len(ws)):
            suffixes.append((ws[o : o + cap], r.doc_id, o + 1))
    suffixes.sort(key=lambda t: (t[0], t[1], t[2]))
    want = [(i + 1, d, o) for i, (_, d, o) in enumerate(suffixes)]
    maxlen = max(len(r.text.split(" ")) for r in rows)
    got = sorted(
        [(r.sa_pos, r.doc_id, r.off) for r in suffix_array(docs, maxlen, cap).collect()]
    )
    assert got == want


def test_longest_repeated_spans_finds_exact_repeats(spark):
    """The spans query must surface the known longest repeats of a
    crafted corpus with exact values: the 3-token cross-doc spans and
    their locations, ordered (lcp desc, doc_a, off_a, ...) with doc_a
    = the lexicographically-earlier suffix of the adjacent pair."""
    from covid_data_challenge_spark.operators.suffix import longest_repeated_spans

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "a quick brown fox leaps over a lazy dog"),
            (3, "the quick brown cat sits under the lazy dog"),
        ],
        ["doc_id", "text"],
    )
    out = [
        (r.lcp, r.span, r.doc_a, r.off_a, r.doc_b, r.off_b)
        for r in longest_repeated_spans(docs, top_k=3, cap=16).collect()
    ]
    assert out == [
        (3, "quick brown fox", 1, 2, 2, 2),
        (3, "the lazy dog", 1, 7, 3, 7),
        (3, "the quick brown", 3, 1, 1, 1),
    ]


def _theil_events(spark, specs):
    """events frame from {user_id: [(day_offset, value), ...]}."""
    from datetime import datetime, timedelta

    base = datetime(2024, 1, 1, 9, 0, 0)
    rows = []
    eid = 0
    for uid, series in specs.items():
        for off, val in series:
            rows.append(
                (eid, base + timedelta(days=off), uid, "click", float(val), "{}")
            )
            eid += 1
    return spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )


def test_theil_sen_span_guard_fires_on_long_series(spark, monkeypatch):
    """theil_sen_trends (VERDICT r8 #5): a user with more daily points
    than the one-year cap must fail LOUDLY (raise_error in the plan)
    instead of materializing an O(days²) in-row slope array — the
    message routes the caller to the exploded variant."""
    import pytest as _pytest

    import covid_data_challenge_spark.queries_events as qx
    from covid_data_challenge_spark.registry import REGISTRY

    long_user = {1: [(d, d * 2.0 + (d % 7)) for d in range(400)]}
    monkeypatch.setattr(qx, "_events", lambda spark, sf: _theil_events(spark, long_user))
    with _pytest.raises(Exception, match="theil_sen_trends.*daily points"):
        REGISTRY["theil_sen_trends"].spark(spark, "unused").collect()


def test_theil_sen_wide_handles_long_series_and_agrees_with_inarray(
    spark, monkeypatch
):
    """theil_sen_trends_wide: (a) computes the long-span user the
    in-array guard rejects — exact slope on a clean linear series —
    and (b) agrees row-for-row with the in-array path on bounded
    users (same medians, same interpolation rule)."""
    import covid_data_challenge_spark.queries_events as qx
    from covid_data_challenge_spark.registry import REGISTRY

    # (a) 400 clean linear days: every pairwise slope is exactly 3.0
    long_user = {1: [(d, 5.0 + 3.0 * d) for d in range(400)]}
    monkeypatch.setattr(qx, "_events", lambda spark, sf: _theil_events(spark, long_user))
    row = REGISTRY["theil_sen_trends_wide"].spark(spark, "unused").collect()[0]
    assert row.n_days == 400 and row.n_pairs == 400 * 399 // 2
    assert row.sen_slope == 3.0 and row.sen_intercept == 5.0

    # (b) bounded users, odd AND even pair counts, a planted outlier day
    bounded = {
        7: [(0, 1.0), (1, 2.0), (2, 3.0), (5, 100.0), (6, 7.0)],
        8: [(0, 10.0), (3, 4.0), (4, 8.0), (9, 1.0)],
    }
    monkeypatch.setattr(qx, "_events", lambda spark, sf: _theil_events(spark, bounded))
    wide = {
        r.user_id: r
        for r in REGISTRY["theil_sen_trends_wide"].spark(spark, "unused").collect()
    }
    inarr = {
        r.user_id: r
        for r in REGISTRY["theil_sen_trends"].spark(spark, "unused").collect()
    }
    assert set(wide) == set(inarr) == {7, 8}
    for uid in (7, 8):
        for f in ("n_days", "n_pairs", "sen_slope", "sen_intercept"):
            assert getattr(wide[uid], f) == getattr(inarr[uid], f), (uid, f)


def test_suffix_array_cap256_resolves_spans_past_64(spark):
    """VERDICT r8 #8: a repeated span LONGER than 64 tokens ties at
    lcp=64 under the default comparator; the cap-256 variant (one more
    radix-4 round) must report its exact length. Fixture: a 100-token
    span duplicated across two docs (distinct tails so the repeat ends
    at exactly 100), plus filler docs."""
    from covid_data_challenge_spark.operators.suffix import longest_repeated_spans

    span = " ".join(f"tok{i:03d}" for i in range(100))
    docs = spark.createDataFrame(
        [
            (1, span + " enda endb"),
            (2, span + " endc endd"),
            (3, "unrelated filler words here"),
        ],
        ["doc_id", "text"],
    )
    top64 = longest_repeated_spans(docs, top_k=1, cap=64).collect()[0]
    top256 = longest_repeated_spans(docs, top_k=1, cap=256).collect()[0]
    assert top64.lcp == 64  # the tie the larger comparator resolves
    assert top256.lcp == 100
    assert top256.span == span
    assert {top256.doc_a, top256.doc_b} == {1, 2}
    assert top256.off_a == top256.off_b == 1


def test_robust_anomaly_days_flags_planted_spike(spark, monkeypatch):
    """robust_anomaly_days (r9): a single 8× traffic spike in an
    otherwise steady 28-day series must be flagged with a large
    positive robust z and must carry the largest |z|; collateral flags
    are bounded to the spike's trend window (±3 days) and its weekday
    cohort (the seasonal index absorbs part of a 4-sample dow)."""
    from datetime import datetime, timedelta

    import covid_data_challenge_spark.queries_events as qx
    from covid_data_challenge_spark.registry import REGISTRY

    base = datetime(2024, 3, 1, 12, 0, 0)
    rows = []
    eid = 0
    for d in range(28):
        n = 10 + (d % 3) + (80 if d == 14 else 0)
        for j in range(n):
            rows.append(
                (eid, base + timedelta(days=d, seconds=j), 1, "click", 1.0, "{}")
            )
            eid += 1
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    monkeypatch.setattr(qx, "_events", lambda spark, sf: ev)
    flagged = REGISTRY["robust_anomaly_days"].spark(spark, "unused").collect()
    assert flagged, "spike not detected"
    spike_day = (base + timedelta(days=14)).date()
    by_day = {r.day: r for r in flagged}
    assert spike_day in by_day
    spike = by_day[spike_day]
    assert spike.robust_z > 3
    for r in flagged:
        # collateral is structural: the spike inflates the centered
        # trend of its ±3 neighbors AND the seasonal index of its own
        # weekday cohort (4 samples per dow in 28 days) — both stay
        # below the spike itself
        delta = (r.day - spike_day).days
        assert abs(delta) <= 3 or delta % 7 == 0, r
        assert abs(r.robust_z) <= abs(spike.robust_z), r
