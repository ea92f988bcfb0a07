"""Join operators (SURVEY.md §2.3 J1–J5; §2.7 U1–U3).

The reference's merge layer (data_merger.py) re-expressed as declarative
joins. Scale notes per operator:

- snapshot joins on an already-aggregated (1 row/key) side are equi-joins
  Catalyst can broadcast when small; at fact-fact scale AQE picks
  sort-merge and handles skew.
- key-membership tables are full-outer joins of *distinct key* projections
  — the distinct shrinks each side to entity cardinality before any
  shuffle, so this stays cheap even over 100 TB of facts.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def prefixed(df: DataFrame, prefix: str, exclude: Sequence[str] = ()) -> DataFrame:
    """Column-namespace disambiguation: rename every column to
    ``<prefix><col>`` except ``exclude`` (join keys). Replaces the
    reference's owid_/api_ prefix loop (data_merger.py:101-111)."""
    return df.toDF(*[c if c in exclude else f"{prefix}{c}" for c in df.columns])


def merge_snapshot(history_latest: DataFrame, snapshot: DataFrame, key: str) -> DataFrame:
    """The core integration join (J1, reference data_merger.py:256-262):
    inner equi-join of latest-historical-state against current snapshot."""
    return history_latest.join(snapshot, on=key, how="inner")


def key_membership(left: DataFrame, right: DataFrame, key: str,
                   left_flag: str = "in_left", right_flag: str = "in_right") -> DataFrame:
    """Key mapping table (J3, reference data_merger.py:29-64): full-outer
    join of distinct keys with membership + mergeability flags."""
    lk = left.select(key).distinct().withColumn(left_flag, F.lit(True))
    rk = right.select(key).distinct().withColumn(right_flag, F.lit(True))
    return (
        lk.join(rk, on=key, how="full_outer")
        .withColumn(left_flag, F.coalesce(F.col(left_flag), F.lit(False)))
        .withColumn(right_flag, F.coalesce(F.col(right_flag), F.lit(False)))
        .withColumn("can_merge", F.col(left_flag) & F.col(right_flag))
    )


def keys_in_both(left: DataFrame, right: DataFrame, key: str) -> DataFrame:
    """Matched key set (J4/U2, reference data_loader.py:240): left-semi join
    on distinct keys — no payload shuffle, only keys move."""
    return left.select(key).distinct().join(right.select(key).distinct(), key, "left_semi")


def keys_only_in_left(left: DataFrame, right: DataFrame, key: str) -> DataFrame:
    """Left-only key set (J4/U3, reference data_loader.py:241-242) via
    left-anti join on distinct keys."""
    return left.select(key).distinct().join(right.select(key).distinct(), key, "left_anti")


def union_keys(left: DataFrame, right: DataFrame, key: str) -> DataFrame:
    """All keys across sources (U1, reference data_merger.py:45)."""
    return left.select(key).union(right.select(key)).distinct()


def range_join_binned(
    intervals: DataFrame,
    points: DataFrame,
    start_col: str,
    end_col: str,
    ts_col: str,
    bin_seconds: int = 3600,
) -> DataFrame:
    """Interval × point range join WITHOUT a nested loop (the task-brief
    "range join" custom operator; Spark would otherwise plan a
    BroadcastNestedLoopJoin for the pure inequality predicate).

    Both sides are bucketed to fixed ``bin_seconds`` time bins — each
    interval explodes to every bin it overlaps, each point maps to its
    single bin — so the join becomes an EQUI-join on the bin id followed
    by the exact between-filter. Each qualifying (interval, point) pair
    meets in exactly one bin (the point's), so no dedup is needed. Shuffle
    cost ∝ interval-length/bin-width fan-out; pick ``bin_seconds`` near
    the median interval length to keep the explode small.

    Output: all interval columns + all point columns (names must not
    collide; pre-alias).
    """
    b = F.lit(bin_seconds).cast("long")
    iv = intervals.withColumn(
        "__bin",
        F.explode(
            F.sequence(
                (F.unix_timestamp(F.col(start_col)).cast("long") / b).cast("long"),
                (F.unix_timestamp(F.col(end_col)).cast("long") / b).cast("long"),
            )
        ),
    )
    pt = points.withColumn("__bin", (F.unix_timestamp(F.col(ts_col)).cast("long") / b).cast("long"))
    return (
        iv.join(pt, "__bin")
        .filter(F.col(ts_col).between(F.col(start_col), F.col(end_col)))
        .drop("__bin")
    )
