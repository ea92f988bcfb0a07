"""Shared helpers for oracle-parity checking (used by tests/ and
tools/oracle_check.py).

Mirrors the driver's correctness gate: run a Spark query and its DuckDB
oracle SQL over the same parquet tables, sort columns by name and rows by
all columns, then compare values. Floats are required to be bit-exact
after the query's own rounding (anything less could trip an exact
value-hash on the driver side); a loose-tolerance check runs first so
failures report whether the difference is semantic or representational.
"""

from __future__ import annotations

import pandas as pd

from covid_data_challenge_spark.sources.readers import TESTDATA_TABLES


def duckdb_connection(sf_dir: str):
    """DuckDB connection with the driver's table views pre-registered.

    It runs with DuckDB's default settings, like any plain
    ``duckdb.connect()`` that runs the oracle strings, so every oracle
    must plan in time linear in its length under the default planner. DuckDB inlines a
    non-materialised CTE at each place it is read, so an unrolled chain
    whose rounds re-read earlier rounds grows with every round. Two
    rules keep the oracles linear:

    - an iteration whose step is a fixed SQL expression of the previous
      round is one ``WITH RECURSIVE`` CTE with an ``it`` column, not N
      pasted copies;
    - a CTE that later rounds, scalar subqueries or several branches
      read is ``MATERIALIZED``."""
    import duckdb

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, unify dtypes, sort rows by all columns."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("Int64")
        elif pd.api.types.is_bool_dtype(df[c]):
            df[c] = df[c].astype("boolean")
    if len(df):
        df = df.sort_values(by=list(df.columns), na_position="last").reset_index(drop=True)
    return df


def values_match(a: pd.DataFrame, b: pd.DataFrame) -> tuple[bool, str]:
    """Compare two normalized frames; returns (ok, reason-if-not)."""
    if list(a.columns) != list(b.columns):
        return False, f"columns {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return False, f"row count {len(a)} vs {len(b)}"
    for c in a.columns:
        av, bv = a[c], b[c]
        if pd.api.types.is_float_dtype(av) or pd.api.types.is_float_dtype(bv):
            af, bf = av.astype("float64"), bv.astype("float64")
            both_nan = af.isna() & bf.isna()
            close = both_nan | ((af - bf).abs() <= (1e-9 + 1e-9 * bf.abs()))
            if not close.fillna(False).all():
                bad = (~close.fillna(False)).idxmax()
                return False, f"col {c} row {bad}: {af[bad]!r} vs {bf[bad]!r}"
            exact = both_nan | (af == bf)
            if not exact.fillna(False).all():
                bad = (~exact.fillna(False)).idxmax()
                return (
                    False,
                    f"col {c} row {bad}: NOT bit-exact {af[bad]!r} vs {bf[bad]!r} "
                    "(would fail an exact value-hash)",
                )
        else:
            eq = (av.isna() & bv.isna()) | (av == bv)
            if not eq.fillna(False).all():
                bad = (~eq.fillna(False)).idxmax()
                return False, f"col {c} row {bad}: {av[bad]!r} vs {bv[bad]!r}"
    return True, ""


def compare_query(spark, con, fn, sql: str, sf_dir: str) -> tuple[bool, str]:
    sdf = fn(spark, sf_dir).toPandas()
    odf = con.execute(sql).fetchdf()
    return values_match(normalize(sdf), normalize(odf))


# ---------------------------------------------------------------------------
# Synthetic 10× scale fixture (SCALING.md §synthetic-sf1; bench sf1 tier)
# ---------------------------------------------------------------------------

#: Key-shifted fact/corpus tables; dims are copied as-is. Replicating the
#: corpus makes every document/vector a 10-way exact duplicate — the WORST
#: case for pair-generating dedup operators, which is the point.
SYNTH_SHIFTS = {
    "lineitem": ("l_orderkey", 10_000_000),
    "orders": ("o_orderkey", 10_000_000),
    "events": ("event_id", 100_000_000),
    "documents": ("doc_id", 10_000_000),
    "embeddings": ("vec_id", 10_000_000),
}
SYNTH_COPY = ["customer", "supplier", "part", "nation", "region"]


def build_synth_sf1(
    spark, src: str = "/root/testdata/sf0.1", dst: str = "/tmp/sfsynth1", copies: int = 10
) -> str:
    """Materialize a synthetic ``copies``× replica of ``src`` under
    ``dst`` (skipping tables that already exist) and return ``dst``.
    Used by tools/stress_sf1.py and bench.py's sf1 tier — the driver
    ships no sf1 testdata, so 10×-growth regressions are measured on
    this fixture."""
    import os

    from pyspark.sql import functions as F

    from covid_data_challenge_spark.sources.readers import load_table

    os.makedirs(dst, exist_ok=True)
    for name, (key, span) in SYNTH_SHIFTS.items():
        if os.path.exists(f"{dst}/{name}.parquet"):
            continue
        df = load_table(spark, src, name)
        out = df
        for i in range(1, copies):
            out = out.unionByName(df.withColumn(key, F.col(key) + F.lit(i * span)))
        out.write.mode("overwrite").parquet(f"{dst}/{name}.parquet")
    for name in SYNTH_COPY:
        if not os.path.exists(f"{dst}/{name}.parquet"):
            load_table(spark, src, name).write.mode("overwrite").parquet(f"{dst}/{name}.parquet")
    return dst
