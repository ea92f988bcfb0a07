"""Seeded input generators for the benchmark.

Everything here is plain NumPy/pandas/pyarrow: the generated arrays are
both written to disk for the program to read and kept in memory as the
engine-independent ground truth the output checks use (``reference.py``).

- ``history_frame``: OWID-shaped daily history (one row per entity x day,
  the 15 columns ``sources.readers.HISTORY_SCHEMA`` declares, in order).
- ``snapshot_records``: disease.sh-shaped snapshot (nested ``countryInfo``).
- ``drift``: the seeded random walk a refreshed snapshot lands with.
- ``tpch_tables``: the seven TPC-H-shaped tables the registry queries read.

The entity list always contains every ``COUNTRY_NAME_MAPPING`` source name,
every ``EXCLUDE_REGIONS`` aggregate, ``OWID_``-prefixed iso codes, names
only the aggregate-name pattern catches, and entities present in only one
of the two sources.
"""

from __future__ import annotations

import datetime
import json
import os

import numpy as np
import pandas as pd

HISTORY_COLUMNS = (
    "iso_code", "location", "date", "population", "total_cases", "new_cases",
    "total_deaths", "new_deaths", "total_tests", "new_tests", "people_vaccinated",
    "people_fully_vaccinated", "total_vaccinations", "tests_per_case", "positive_rate",
)
CUMULATIVE = (
    "total_cases", "total_deaths", "total_tests", "people_vaccinated",
    "people_fully_vaccinated",
)
NULL_SHARE = 0.2
START_DATE = datetime.date(2020, 1, 1)

#: Names only the case-insensitive aggregate pattern removes (not listed
#: in EXCLUDE_REGIONS), as OWID publishes them.
PATTERN_ONLY = ("Low and middle income", "European Union (27)", "OECD members")
#: Real OWID entities whose iso code is OWID_-prefixed but whose name is no
#: aggregate: only the scan-level iso filter drops them.
OWID_ISO_ONLY = (("Kosovo", "OWID_KOS"), ("Northern Cyprus", "OWID_CYN"))
#: Snapshot-only pseudo-entities disease.sh lists (both in EXCLUDE_REGIONS).
SNAPSHOT_EXCLUDED = ("Diamond Princess", "MS Zaandam")

_SYLLABLES = (
    "ka", "lo", "ri", "ven", "sa", "tor", "mi", "dal", "ne", "bra", "ko", "lu",
    "sta", "phi", "qua", "zel", "or", "an", "dor", "ia", "ber", "gu", "mo", "tes",
)


def _synthetic_names(rng: np.random.Generator, n: int, taken: set[str]) -> list[str]:
    """``n`` unique pronounceable country names, none in ``taken``."""
    names: list[str] = []
    seen = set(taken)
    while len(names) < n:
        k = int(rng.integers(2, 4))
        name = "".join(_SYLLABLES[i] for i in rng.integers(0, len(_SYLLABLES), k)).capitalize()
        if len(names) % 3 == 0:
            name += " " + ("North", "South", "East", "West")[int(rng.integers(0, 4))]
        if name not in seen:
            seen.add(name)
            names.append(name)
    return names


class Entities:
    """The entity universe of one seed: history rows, snapshot rows, iso codes.

    ``history`` holds (OWID name, iso code) pairs; ``snapshot`` holds
    (API name, iso code) pairs. A mapped country appears under its OWID
    name in the history and its API name in the snapshot.
    """

    def __init__(self, n_entities: int, seed: int):
        from covid_data_challenge_spark.pipeline.covid import (
            COUNTRY_NAME_MAPPING,
            EXCLUDE_REGIONS,
        )

        rng = np.random.default_rng([seed, 1])
        fixed = set(COUNTRY_NAME_MAPPING) | set(COUNTRY_NAME_MAPPING.values())
        fixed |= set(EXCLUDE_REGIONS) | set(PATTERN_ONLY) | {n for n, _ in OWID_ISO_ONLY}
        n_plain = max(n_entities - len(COUNTRY_NAME_MAPPING) - len(EXCLUDE_REGIONS), 20)
        plain = _synthetic_names(rng, n_plain, fixed)
        n_one_side = max(2, n_plain // 20)
        history_only = plain[:n_one_side]
        snapshot_only = plain[n_one_side : 2 * n_one_side]
        shared = plain[2 * n_one_side :]

        iso_pool = iter(f"{a}{b}{c}" for a in "ABCDEFGHJKLMNPRSTUVWYZ"
                        for b in "ABCDEFGHIJKLMNOPQRSTUVWXYZ" for c in "ABDEGIKLMNORSTUVXZ")
        iso: dict[str, str | None] = {}
        for owid_name, api_name in COUNTRY_NAME_MAPPING.items():
            iso[owid_name] = iso[api_name] = next(iso_pool)
        for name in plain:
            iso[name] = next(iso_pool)
        for i, name in enumerate(EXCLUDE_REGIONS):
            # alternate: half are caught by the OWID_ scan filter, half
            # only by the name list (ships and UK nations carry plain codes)
            iso[name] = f"OWID_{i:03d}" if i % 2 == 0 else (None if i % 4 == 1 else next(iso_pool))
        for name in PATTERN_ONLY:
            iso[name] = next(iso_pool)
        for name, code in OWID_ISO_ONLY:
            iso[name] = code

        self.history = [(n, iso[n]) for n in COUNTRY_NAME_MAPPING]
        self.history += [(n, iso[n]) for n in EXCLUDE_REGIONS]
        self.history += [(n, iso[n]) for n in PATTERN_ONLY]
        self.history += list(OWID_ISO_ONLY)
        self.history += [(n, iso[n]) for n in shared + history_only]
        self.snapshot = [(COUNTRY_NAME_MAPPING[n], iso[n]) for n in COUNTRY_NAME_MAPPING]
        self.snapshot += [(n, iso[n]) for n in SNAPSHOT_EXCLUDED]
        self.snapshot += [(n, iso[n]) for n in shared + snapshot_only]


def history_frame(ent: Entities, n_days: int, seed: int) -> pd.DataFrame:
    """Daily OWID-shaped history for every history entity.

    Cumulative columns are non-decreasing integer-valued floats with about
    ``NULL_SHARE`` of their cells NULL; about a tenth of the entities stop
    reporting 60-120 days before the last date, so their data is stale.
    """
    rng = np.random.default_rng([seed, 2])
    n_ent = len(ent.history)
    days_per = np.full(n_ent, n_days)
    stale = rng.random(n_ent) < 0.1
    days_per[stale] = np.maximum(n_days - rng.integers(60, 121, stale.sum()), 1)
    ent_idx = np.repeat(np.arange(n_ent), days_per)
    day_idx = np.concatenate([np.arange(d) for d in days_per])
    n = len(ent_idx)

    population = rng.integers(50_000, 300_000_000, n_ent)
    rate = rng.uniform(0.0001, 0.003, n_ent)  # daily new cases per capita scale
    new_cases = np.floor(rng.gamma(1.5, 1.0, n) * rate[ent_idx] * population[ent_idx] / 50)
    new_deaths = np.floor(new_cases * rng.uniform(0.0, 0.03, n))
    new_tests = np.floor(new_cases * rng.uniform(3.0, 30.0, n))
    vacc_daily = np.floor(rng.gamma(1.2, 1.0, n) * population[ent_idx] / 2000)

    def cum(x: np.ndarray) -> np.ndarray:
        out = np.cumsum(x)
        starts = np.concatenate([[0], np.cumsum(days_per)[:-1]])
        offset = np.repeat(out[starts] - x[starts], days_per)
        return out - offset

    cols = {
        "iso_code": np.array([ent.history[i][1] for i in range(n_ent)], dtype=object)[ent_idx],
        "location": np.array([ent.history[i][0] for i in range(n_ent)], dtype=object)[ent_idx],
        "date": (np.datetime64(START_DATE) + day_idx.astype("timedelta64[D]")),
        "population": population[ent_idx],
        "total_cases": cum(new_cases),
        "new_cases": new_cases,
        "total_deaths": cum(new_deaths),
        "new_deaths": new_deaths,
        "total_tests": cum(new_tests),
        "new_tests": new_tests,
        "people_vaccinated": np.minimum(cum(vacc_daily), population[ent_idx]).astype(float),
        "people_fully_vaccinated": np.minimum(cum(vacc_daily * 0.8), population[ent_idx]).astype(float),
        "total_vaccinations": cum(vacc_daily * 1.9).round(),
        "tests_per_case": np.round(new_tests / np.maximum(new_cases, 1.0), 1),
        "positive_rate": np.round(new_cases / np.maximum(new_tests, 1.0), 4),
    }
    for c in CUMULATIVE:
        v = cols[c].astype(float)
        v[rng.random(n) < NULL_SHARE] = np.nan
        cols[c] = v
    return pd.DataFrame(cols, columns=list(HISTORY_COLUMNS))


def write_history_csv(df: pd.DataFrame, path: str) -> None:
    df.to_csv(path, index=False, date_format="%Y-%m-%d")


def snapshot_base(ent: Entities, history: pd.DataFrame, seed: int) -> pd.DataFrame:
    """One row per snapshot entity: counts near the entity's last history
    totals (gaps of a few percent either way), plus snapshot-only rows."""
    rng = np.random.default_rng([seed, 3])
    last = history.groupby("location", sort=False).agg(
        tc=("total_cases", "max"), td=("total_deaths", "max"), pop=("population", "first")
    )
    from covid_data_challenge_spark.pipeline.covid import COUNTRY_NAME_MAPPING

    owid_name = {v: k for k, v in COUNTRY_NAME_MAPPING.items()}
    rows = []
    for name, iso in ent.snapshot:
        src = owid_name.get(name, name)
        if src in last.index and not np.isnan(last.at[src, "tc"]):
            tc, td, pop = last.at[src, "tc"], last.at[src, "td"], int(last.at[src, "pop"])
        else:
            pop = int(rng.integers(50_000, 300_000_000))
            tc = float(rng.integers(1_000, 5_000_000))
            td = tc * 0.01
        td = 0.0 if np.isnan(td) else td
        gap = rng.choice([rng.uniform(-0.05, 0.05), rng.uniform(0.1, 0.4)], p=[0.7, 0.3])
        cases = int(max(tc * (1 + gap), 0))
        deaths = int(max(td * (1 + rng.uniform(-0.05, 0.2)), 0))
        rows.append((name, iso, pop, cases, deaths))
    return pd.DataFrame(rows, columns=["country", "iso_code", "population", "cases", "deaths"])


def drift(base: pd.DataFrame, step: int, seed: int) -> pd.DataFrame:
    """The snapshot as it lands at refresh ``step``: cases and deaths grow by
    a seeded random walk of daily increments (step 0 is ``base``)."""
    out = base.copy()
    if step == 0:
        return out
    rng = np.random.default_rng([seed, 4])
    walk = np.cumsum(rng.gamma(1.0, 0.004, (step, len(base))), axis=0)[-1]
    out["cases"] = (base["cases"] * (1 + walk)).astype(np.int64)
    out["deaths"] = (base["deaths"] * (1 + walk * 0.5)).astype(np.int64)
    return out


def write_snapshot_json(snap: pd.DataFrame, path: str, updated_ms: int) -> None:
    """disease.sh ``/v3/covid-19/countries`` shape: a JSON array of records
    with a nested ``countryInfo``."""
    records = []
    for i, r in enumerate(snap.itertuples(index=False)):
        records.append({
            "updated": updated_ms,
            "country": r.country,
            "countryInfo": {
                "_id": i, "iso2": (r.iso_code or "")[:2] or None, "iso3": r.iso_code,
                "lat": round(-60 + (i * 7.3) % 130, 2), "long": round(-170 + (i * 13.1) % 340, 2),
                "flag": f"https://disease.sh/assets/img/flags/{i}.png",
            },
            "cases": int(r.cases), "todayCases": int(r.cases) // 500,
            "deaths": int(r.deaths), "todayDeaths": int(r.deaths) // 900,
            "recovered": int(r.cases) * 9 // 10, "todayRecovered": 0,
            "active": int(r.cases) // 20, "critical": int(r.cases) // 2000,
            "casesPerOneMillion": round(r.cases / max(r.population, 1) * 1e6, 1),
            "deathsPerOneMillion": round(r.deaths / max(r.population, 1) * 1e6, 1),
            "tests": int(r.cases) * 8, "testsPerOneMillion": 0.0,
            "population": int(r.population),
        })
    with open(path, "w", encoding="utf-8") as f:
        json.dump(records, f)


# --- TPC-H-shaped tables for the registry queries ---------------------------


def tpch_tables(sf: float, seed: int) -> dict[str, pd.DataFrame]:
    """Seeded region/nation/customer/supplier/part/orders/lineitem frames
    with the column names and types the registry queries and their oracle
    SQL expect. ``(l_orderkey, l_linenumber)`` is unique, so every ordered
    or windowed query has a total order."""
    rng = np.random.default_rng([seed, 5])
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    n_orders = int(1_500_000 * sf)
    region = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    nation = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    customer = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)],
    })
    supplier = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    adjectives = np.array(["small", "red", "large", "blue", "green", "shiny", "old", "tiny"])
    nouns = np.array(["ring", "widget", "bolt", "gear", "panel", "valve", "spring", "hinge"])
    part = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(adjectives[rng.integers(0, 8, n_part)],
                                               nouns[rng.integers(0, 8, n_part)])],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
    })
    day0 = np.datetime64("1995-01-01")
    span = int((np.datetime64("2001-08-01") - day0).astype(int))
    orders = pd.DataFrame({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_orders), 2),
        "o_orderdate": (day0 + rng.integers(0, span + 1, n_orders).astype("timedelta64[D]"))
        .astype("datetime64[us]"),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, n_orders)],
    })
    lines_per = rng.integers(1, 8, n_orders)
    n_lines = int(lines_per.sum())
    l_orderkey = np.repeat(orders["o_orderkey"].to_numpy(), lines_per)
    l_linenumber = np.concatenate([np.arange(1, k + 1) for k in lines_per]).astype(np.int32)
    qty = rng.integers(1, 51, n_lines).astype(float)
    flags = rng.integers(0, 3, n_lines)
    lineitem = pd.DataFrame({
        "l_orderkey": l_orderkey,
        "l_partkey": rng.integers(0, n_part, n_lines).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_lines).astype(np.int64),
        "l_linenumber": l_linenumber,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_lines), 2),
        "l_discount": rng.integers(0, 11, n_lines) / 100.0,
        "l_tax": rng.integers(0, 9, n_lines) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[flags],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_lines)],
        "l_shipdate": (day0 + rng.integers(1, span + 95, n_lines).astype("timedelta64[D]"))
        .astype("datetime64[us]"),
    })
    return {"region": region, "nation": nation, "customer": customer, "supplier": supplier,
            "part": part, "orders": orders, "lineitem": lineitem}


def write_tables(tables: dict[str, pd.DataFrame], directory: str) -> None:
    """One single-file parquet per table, ``<directory>/<name>.parquet``,
    the layout ``sources.readers.load_table`` reads."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    for name, df in tables.items():
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False),
                       os.path.join(directory, f"{name}.parquet"))
