"""The primary correctness gate, run locally at sf0.001 for speed:
every registered query must match its DuckDB oracle exactly (the driver
repeats this at sf0.01)."""

from __future__ import annotations

import re

import pytest

import covid_data_challenge_spark.queries  # noqa: F401 — populates REGISTRY
import covid_data_challenge_spark.queries_ext  # noqa: F401 — populates REGISTRY
from covid_data_challenge_spark.registry import REGISTRY
from covid_data_challenge_spark.testing import (
    duckdb_connection,
    normalize,
    values_match,
)


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb_connection(sf_dir)
    yield c
    c.close()


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_matches_oracle(spark, con, sf_dir, name):
    spec = REGISTRY[name]
    sdf = spec.spark(spark, sf_dir).toPandas()
    if spec.oracle is None:
        assert len(sdf) >= 0  # rows-only check, mirrors the driver
        return
    odf = con.execute(spec.oracle).fetchdf()
    ok, why = values_match(normalize(sdf), normalize(odf))
    assert ok, f"{name}: {why}"


def test_registry_order_matches_frozen_driver_contract():
    """The driver's correctness snapshot keys on the FIRST 50 names of
    queries(); the themed-module split must never reorder or drop a
    frozen name. New queries may only append after the frozen prefix."""
    import covid_data_challenge_spark.queries  # noqa: F401
    import covid_data_challenge_spark.queries_ext  # noqa: F401
    from covid_data_challenge_spark.registry import REGISTRY
    from covid_data_challenge_spark.registry_order import CANONICAL_ORDER

    names = list(REGISTRY)
    assert names[: len(CANONICAL_ORDER)] == list(CANONICAL_ORDER)
    assert all(REGISTRY[n].spark is not None for n in CANONICAL_ORDER)


def test_duckdb_connection_uses_default_settings(con):
    """The gate runs the oracles under DuckDB's defaults, like any
    plain ``duckdb.connect()``: no setting (no optimizer switched off)
    differs from a fresh connection's."""
    import duckdb

    settings = "SELECT name, value FROM duckdb_settings() ORDER BY name"
    plain = duckdb.connect()
    try:
        assert con.execute(settings).fetchall() == plain.execute(settings).fetchall()
    finally:
        plain.close()


def test_gd_oracle_does_not_grow_with_iterations():
    """The GD twin is one recursive CTE: more steps change only the
    iteration-count literal, not the SQL."""
    from covid_data_challenge_spark.queries_curation import _gd_cte

    def sql(iters):
        return _gd_cte("w", "feat", "SELECT 0 AS bucket, 0 AS w_units", iters, 5.0)

    assert sql(12) == sql(3).replace("it < 3", "it < 12").replace("it = 3", "it = 12")


def _cte_names(sql: str) -> set[str]:
    return set(re.findall(r"(\w+)(?:\([\w, ]*\))? AS (?:MATERIALIZED )?\(", sql))


@pytest.mark.parametrize("tail", ["em", "converged5", "incr"])
def test_unigram_viterbi_ctes_do_not_grow_with_word_length(tail):
    """The Viterbi forward pass and backtrack are recursive CTEs: a
    longer word bound adds no CTE (an unrolled DP adds one DP and two
    backtrack CTEs per word position)."""
    from covid_data_challenge_spark.queries_text import _unigram_oracle_sql

    short = _unigram_oracle_sql(max_word=8, tail=tail)
    long = _unigram_oracle_sql(max_word=12, tail=tail)
    assert _cte_names(long) == _cte_names(short)
    assert "pieces" in _cte_names(long)
