"""Cleaning / standardization operators (SURVEY.md §2.2 P4–P10; §2.5 W1–W2).

Entity-key standardization, validity filters, per-group imputation
(forward-fill) and lag-differencing — the reference's data_cleaner.py
surface re-expressed as lazy DataFrame transforms.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from covid_data_challenge_spark.functions.scalar import clip_lower


def standardize_keys(
    df: DataFrame,
    mapping: Mapping[str, str],
    key_col: str,
    out_col: str | None = None,
) -> DataFrame:
    """Dictionary key standardization with pass-through fallback (P7/J5,
    reference data_cleaner.py:41-51): ``out_col`` is appended, mapped keys
    get their value, unmapped keys pass through and NULL stays NULL.

    The mapping is configuration-sized (tens of entries), so it is an
    inline ``create_map`` literal looked up with ``coalesce(map[key], key)``:
    no join, no exchange, and no Python-built mapping RDD, so the plan is a
    pure function of ``df``'s plan — two calls over the same input are
    ``sameSemantics``, which ``merge_datasets``' history-state memo relies on.
    """
    out_col = out_col or f"{key_col}_standardized"
    key = F.col(key_col)
    if not mapping:
        return df.withColumn(out_col, key)
    lookup = F.create_map(*[F.lit(x) for kv in mapping.items() for x in kv])
    return df.withColumn(out_col, F.coalesce(lookup[key], key))


def select_existing(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Project only the columns that exist (P1's defensive only-if-exists
    projection, reference data_loader.py:92-112). Resolution happens
    against ``df.columns`` BEFORE the plan is built (SURVEY.md §4) — the
    schema-drift tolerance the reference implements with runtime checks,
    done once at plan time."""
    present = set(df.columns)
    return df.select(*[c for c in cols if c in present])


def filter_not_in(df: DataFrame, col: str, excluded: Sequence[str]) -> DataFrame:
    """NOT-IN literal-set filter (P4/P5, reference data_loader.py:115,
    data_cleaner.py:69). Pushes down to the scan."""
    return df.filter(~F.col(col).isin(list(excluded)))


def filter_regex_out(df: DataFrame, col: str, pattern: str) -> DataFrame:
    """Drop rows whose ``col`` matches ``pattern`` case-insensitively,
    null-safe → keep (P6, reference data_cleaner.py:73-77)."""
    return df.filter(~F.coalesce(F.lower(F.col(col)).rlike(pattern.lower()), F.lit(False)))


def forward_fill(
    df: DataFrame,
    keys: str | Sequence[str],
    order_col: str,
    cols: Sequence[str],
    tie_breakers: Sequence[str] = (),
) -> DataFrame:
    """Per-group forward-fill (W1, reference data_cleaner.py:174-186).

    ``last(col, ignorenulls=True)`` over rowsBetween(unboundedPreceding,
    currentRow) — one window per partition key, all filled columns share the
    same window spec so Spark plans a single Window exec (one shuffle+sort).
    """
    keys = [keys] if isinstance(keys, str) else list(keys)
    w = (
        Window.partitionBy(*keys)
        .orderBy(order_col, *tie_breakers)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumns({c: F.last(F.col(c), ignorenulls=True).over(w) for c in cols})


def lag_diff(
    df: DataFrame,
    keys: str | Sequence[str],
    order_col: str,
    src_col: str,
    out_col: str,
    clip_negative: bool = True,
    tie_breakers: Sequence[str] = (),
) -> DataFrame:
    """Per-group first difference: ``new = cur - lag(cur)`` with NULL→0 and
    optional clip-at-zero (W2, reference data_cleaner.py:188-194)."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    w = Window.partitionBy(*keys).orderBy(order_col, *tie_breakers)
    diff = F.coalesce(F.col(src_col) - F.lag(src_col, 1).over(w), F.lit(0.0))
    if clip_negative:
        diff = F.greatest(diff, F.lit(0.0))
    return df.withColumn(out_col, diff)


def clip_columns(df: DataFrame, cols: Sequence[str], lo: float = 0.0) -> DataFrame:
    """Clip listed numeric columns at a lower bound (P9,
    reference data_cleaner.py:225-228)."""
    return df.withColumns({c: clip_lower(F.col(c), lo) for c in cols})
