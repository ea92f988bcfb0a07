"""Engine-independent references for every output the benchmark checks.

The gold table is rebuilt in pandas from the generator's own frames; the
dashboard operations are re-evaluated over that reference; the registry
queries are compared bit for bit with their oracle SQL run by DuckDB,
as the project's oracle gate compares them. Spark's ``round`` rounds half
up on the decimal form of a double, so the pandas reference does the same.
"""

from __future__ import annotations

import datetime
import io
import math
import re
from decimal import ROUND_HALF_DOWN, ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd


def round_half_up(x: float, digits: int) -> float:
    if x is None or (isinstance(x, float) and math.isnan(x)):
        return x
    return float(Decimal(repr(float(x))).quantize(Decimal(1).scaleb(-digits), ROUND_HALF_UP))


def _gap_percent(current: pd.Series, base: pd.Series) -> pd.Series:
    return pd.Series(
        [round_half_up((c - b) / b * 100.0, 2) if b > 0 else 0.0 for c, b in zip(current, base)],
        index=current.index,
    )


def gold(history: pd.DataFrame, snapshot: pd.DataFrame, now: datetime.datetime) -> pd.DataFrame:
    """The merged gold table's checked columns, one row per merged country,
    indexed by ``country_standardized``."""
    from covid_data_challenge_spark.pipeline.covid import (
        AGGREGATE_NAME_PATTERN,
        COUNTRY_NAME_MAPPING,
        CUMULATIVE_COLS,
        EXCLUDE_REGIONS,
    )

    pattern = re.compile(AGGREGATE_NAME_PATTERN, re.IGNORECASE)

    def valid(names: pd.Series) -> pd.Series:
        return ~names.isin(EXCLUDE_REGIONS) & ~names.map(lambda n: bool(pattern.search(n)))

    h = history[~history["iso_code"].fillna("").str.startswith("OWID_")]
    h = h[valid(h["location"])].copy()
    h["country_standardized"] = h["location"].map(COUNTRY_NAME_MAPPING).fillna(h["location"])
    h = h.sort_values(["country_standardized", "date"])
    for c in CUMULATIVE_COLS:
        h[c] = h.groupby("country_standardized")[c].ffill()
    latest = h.loc[h.groupby("country_standardized")["date"].idxmax()].set_index(
        "country_standardized")

    s = snapshot[valid(snapshot["country"])].set_index("country")
    idx = latest.index.intersection(s.index)
    out = pd.DataFrame(index=idx)
    out.index.name = "country_standardized"
    out["owid_iso_code"] = latest.loc[idx, "iso_code"]
    out["owid_total_cases"] = latest.loc[idx, "total_cases"]
    out["owid_total_deaths"] = latest.loc[idx, "total_deaths"]
    out["api_current_cases"] = s.loc[idx, "cases"].astype(np.int64)
    out["api_current_deaths"] = s.loc[idx, "deaths"].astype(np.int64)
    out["cases_data_gap"] = out["api_current_cases"] - out["owid_total_cases"]
    out["deaths_data_gap"] = out["api_current_deaths"] - out["owid_total_deaths"]
    out["cases_data_gap_percent"] = _gap_percent(out["api_current_cases"], out["owid_total_cases"])
    out["deaths_data_gap_percent"] = _gap_percent(out["api_current_deaths"], out["owid_total_deaths"])
    today = np.datetime64(now.date())
    out["owid_data_age_days"] = (today - pd.to_datetime(latest.loc[idx, "date"]).to_numpy()
                                 .astype("datetime64[D]")).astype(int)
    return out.sort_index()


def top10(ref: pd.DataFrame) -> list[str]:
    r = ref.reset_index().sort_values(["api_current_cases", "country_standardized"],
                                      ascending=[False, True])
    return list(r["country_standardized"].head(10))


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is None and b is None
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return a == b
    return a == b


def check_gold_table(table: pd.DataFrame, ref: pd.DataFrame) -> str | None:
    """Compare the written gold table (read back without Spark) with the
    reference: row count, country set and the four gap columns."""
    if len(table) != len(ref):
        return f"gold rows {len(table)} != reference {len(ref)}"
    t = table.set_index("country_standardized").sort_index()
    if list(t.index) != list(ref.index):
        return "gold country set differs from reference"
    for c in ("cases_data_gap", "deaths_data_gap", "cases_data_gap_percent",
              "deaths_data_gap_percent"):
        for name, a, b in zip(ref.index, t[c].astype(float), ref[c].astype(float)):
            if not _same(a, b):
                return f"gold {c} for {name!r}: {a!r} != reference {b!r}"
    return None


def check_summary(summary: dict, ref: pd.DataFrame) -> str | None:
    if summary["total_countries"] != len(ref):
        return f"summary total_countries {summary['total_countries']} != {len(ref)}"
    if summary["top_10_by_current_cases"] != top10(ref):
        return "summary top-10 differs from reference"
    large = int((ref["cases_data_gap_percent"].abs() > 10).sum())
    if summary["countries_with_large_gap"] != large:
        return f"summary countries_with_large_gap {summary['countries_with_large_gap']} != {large}"
    return None


# --- Dashboard operations ---------------------------------------------------


def dashboard(op: str, params: dict, ref: pd.DataFrame):
    """The expected result of one dashboard operation, in the normal form
    ``workloads.DASHBOARD_OPS`` gives the engine's result."""
    r = ref.reset_index()
    name = "country_standardized"
    if op == "top_k_by":
        m = params["metric"]
        rows = r[r[m].notna()].sort_values([m, name], ascending=[False, True]).head(params["k"])
        return [(n, float(v)) for n, v in zip(rows[name], rows[m])]
    if op == "search_countries":
        term = params["term"].lower()
        return sorted(n for n in r[name] if term in n.lower())
    if op == "compare_countries":
        return sorted(n for n in r[name] if n in set(params["countries"]))
    if op == "threshold_filter":
        m = params["metric"]
        return sorted(r.loc[r[m] >= params["threshold"], name])
    if op == "overview_stats":
        ages = [int(a) for a in r["owid_data_age_days"]]
        return {
            "n_countries": len(r),
            "total_current_cases": int(r["api_current_cases"].sum()),
            "total_current_deaths": int(r["api_current_deaths"].sum()),
            "avg_data_age_days": round_half_up(float(sum(ages)) / len(ages), 1),
        }
    if op == "choropleth_frame":
        m = params["metric"]
        rows = r[r["owid_iso_code"].notna() & (r["owid_iso_code"] != "")]
        return sorted((i, n, float(v)) for i, n, v in zip(rows["owid_iso_code"], rows[name], rows[m]))
    if op == "histogram":
        m, bins = params["metric"], params["bins"]
        x = r[m].dropna().to_numpy(dtype=np.int64)
        lo, hi = int(x.min()), int(x.max())
        width = float(hi - lo) / float(bins)
        counts: dict[int, int] = {}
        for v in x:
            b = min(math.floor(float(v - lo) / width), bins - 1)
            counts[b] = counts.get(b, 0) + 1
        return sorted(counts.items())
    if op == "csv_export_string":
        return sorted(n for n in r[name] if n in set(params["countries"]))
    raise ValueError(f"unknown dashboard op {op!r}")


def csv_names(text: str) -> list[str]:
    return sorted(pd.read_csv(io.StringIO(text), keep_default_na=False)["country_standardized"])


# --- Registry queries -------------------------------------------------------

_ROUND = re.compile(r"\bround\s*\(", re.IGNORECASE)
_MEDIAN = re.compile(r"\bmedian\s*\(", re.IGNORECASE)


def duckdb_views(directory: str, tables, exact: bool = False):
    """A DuckDB connection with a view per table. ``testing.duckdb_connection``
    also views the events/documents/embeddings tables, which the registry
    workload does not generate, and DuckDB refuses a view of a missing file.

    ``exact``: every DOUBLE column is viewed as DECIMAL(18, 3), which holds
    the generator's values (at most two decimals) exactly, for
    ``exact_oracle``."""
    import duckdb

    con = duckdb.connect()
    if exact:
        con.execute("CREATE MACRO unrounded(x, d) AS x")
        # DuckDB's median of a DECIMAL picks a middle value; this one interpolates
        con.execute("CREATE MACRO exact_median(x) AS quantile_cont(x, 0.5)")
    for t in tables:
        scan = f"read_parquet('{directory}/{t}.parquet')"
        cols = "*"
        if exact:
            cols = ", ".join(f"CAST({c} AS DECIMAL(18, 3)) AS {c}" if kind == "DOUBLE" else c
                             for c, kind, *_ in con.execute(f"DESCRIBE SELECT * FROM {scan}").fetchall())
        con.execute(f"CREATE VIEW {t} AS SELECT {cols} FROM {scan}")
    return con


def exact_oracle(con, sql: str) -> pd.DataFrame:
    """An oracle query evaluated in exact decimal arithmetic over
    ``duckdb_views(exact=True)``, with its ``round`` calls left out: the
    value each rounded column was rounded from, as ``Decimal`` where the
    arithmetic stays decimal (sums, products, medians; not averages)."""
    cur = con.execute(_MEDIAN.sub("exact_median(", _ROUND.sub("unrounded(", sql)))
    return pd.DataFrame.from_records(cur.fetchall(), columns=[d[0] for d in cur.description])


def _tie_between(x, a: float, b: float) -> bool:
    """True when the exact value ``x`` lies exactly halfway between the two
    adjacent rounding steps ``a`` and ``b``."""
    if not isinstance(x, Decimal) or pd.isna(a) or pd.isna(b) or a == b:
        return False
    step = Decimal(1).scaleb(round(math.log10(abs(a - b))))
    up, down = x.quantize(step, ROUND_HALF_UP), x.quantize(step, ROUND_HALF_DOWN)
    return up != down and {float(up), float(down)} == {float(a), float(b)}


def settle_ties(got: pd.DataFrame, want: pd.DataFrame, exact: pd.DataFrame) -> pd.DataFrame:
    """``want`` (the oracle's result), normalized, with each proven rounding
    tie settled. A decimal tie such as 246697.355 has no double: Spark's
    ``round`` takes the nearest double, 246697.35499999998, to .35, while
    DuckDB's scales it by 100 first, lands on the tie and gives .36. Where
    ``exact`` (``exact_oracle``) shows a float cell's unrounded value lies
    exactly on a tie and Spark's and the oracle's values are its two
    neighbouring steps, the oracle cell takes Spark's value. Rows are
    matched on their non-float columns; every other cell is left as it is."""
    from covid_data_challenge_spark.testing import normalize

    got, want, exact = normalize(got), normalize(want), normalize(exact)
    if not list(got.columns) == list(want.columns) == list(exact.columns):
        return want
    keys = [c for c in want.columns if not pd.api.types.is_float_dtype(want[c])]

    def rows(df: pd.DataFrame) -> dict:
        seen: dict[tuple, list[int]] = {}
        for i in range(len(df)):
            seen.setdefault(tuple(df[c].iat[i] for c in keys), []).append(i)
        return {k: v[0] for k, v in seen.items() if len(v) == 1}

    w_rows, x_rows = rows(want), rows(exact)
    for k, i in rows(got).items():
        j, e = w_rows.get(k), x_rows.get(k)
        if j is None or e is None:
            continue
        for c in want.columns.difference(keys):
            if _tie_between(exact.iat[e, exact.columns.get_loc(c)], got.at[i, c], want.at[j, c]):
                want.at[j, c] = got.at[i, c]
    return normalize(want)


def check_registry(got: pd.DataFrame, want: pd.DataFrame, exact) -> str | None:
    """Compare a registry query's Spark result with its oracle's as the
    project's oracle gate does (``testing.values_match``: floats bit-exact),
    allowing only the ties ``settle_ties`` proves. ``exact`` returns the
    ``exact_oracle`` result; it is called only when the plain comparison
    fails."""
    from covid_data_challenge_spark.testing import normalize, values_match

    ok, why = values_match(normalize(got), normalize(want))
    if not ok:
        ok = values_match(normalize(got), settle_ties(got, want, exact()))[0]
    return None if ok else why
