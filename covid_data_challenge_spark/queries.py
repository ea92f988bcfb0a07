"""Query registry: the driver-contract surface (SURVEY.md §2).

Each entry pairs an idiomatic-PySpark plan with the equivalent ANSI SQL
that DuckDB runs as the correctness oracle. Rules that keep the two
comparable (driver hashes values after sorting columns by name):

- every computed column is aliased identically on both sides;
- floating aggregates are ``round``-ed (both engines round half-away-from-
  zero for positive doubles) so partial-aggregation order differences
  cannot leak into the hash;
- every top-k / argmax has a total order (explicit tie-breaker columns) so
  the *row set* is deterministic across engines and partitionings;
- nothing depends on wall-clock time — "now" is always an aggregate of the
  data itself.

Queries are registered via :func:`register`; ``__spark_entry__.py`` exposes
them to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from covid_data_challenge_spark.registry import REGISTRY, QuerySpec, register

from covid_data_challenge_spark.functions.scalar import guarded_div, pct_gap, search_contains
from covid_data_challenge_spark.operators.alignment import (
    latest_per_key,
    trailing_window,
    trend_metrics,
)
from covid_data_challenge_spark.operators.cleaning import (
    filter_not_in,
    filter_regex_out,
    forward_fill,
    lag_diff,
    standardize_keys,
)
from covid_data_challenge_spark.operators.joins import (
    key_membership,
    keys_in_both,
    keys_only_in_left,
    union_keys,
)
from covid_data_challenge_spark.operators.profiling import (
    completeness,
    conditional_counts,
    histogram,
    null_profile,
)
from covid_data_challenge_spark.sources.readers import load_table


__all__ = ["REGISTRY", "QuerySpec", "register"]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Flagship: the reference's signature integration query re-expressed on the
# synthetic star schema — latest-per-key alignment (A6) + grouped stats
# (A10/A11) + inner snapshot join (J1) + guarded derived metrics (P11–P13,
# P15) + deterministic top-k (O3).  Reference: data_merger.py:243-295,408;
# visualizer.py:69.
# ---------------------------------------------------------------------------


@register(
    "flagship_customer_snapshot",
    oracle="""
WITH latest AS (
    SELECT o_custkey, o_orderdate, o_totalprice
    FROM (
        SELECT o_custkey, o_orderdate, o_totalprice,
               row_number() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate DESC, o_orderkey DESC
               ) AS rn
        FROM orders
    ) WHERE rn = 1
),
stats AS (
    SELECT o_custkey, order_count,
           total_cents / 100.0 AS total_spent,
           ((2 * total_cents + order_count) // (2 * order_count)) / 100.0 AS avg_order_price
    FROM (
        SELECT o_custkey,
               count(*) AS order_count,
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS total_cents
        FROM orders GROUP BY o_custkey
    )
),
mx AS (SELECT max(o_orderdate) AS max_date FROM orders)
SELECT c.c_custkey, c.c_name, c.c_mktsegment,
       l.o_orderdate AS latest_order_date,
       l.o_totalprice AS latest_order_price,
       s.order_count, s.total_spent, s.avg_order_price,
       round(c.c_acctbal - l.o_totalprice, 2) AS balance_gap,
       CASE WHEN l.o_totalprice > 0
            THEN round((c.c_acctbal - l.o_totalprice) / l.o_totalprice * 100, 2)
            ELSE 0.0 END AS balance_gap_percent,
       CAST(datediff('day', l.o_orderdate, mx.max_date) AS INT) AS days_since_last_order
FROM customer c
JOIN latest l ON c.c_custkey = l.o_custkey
JOIN stats s ON c.c_custkey = s.o_custkey
CROSS JOIN mx
ORDER BY s.total_spent DESC, c.c_custkey
LIMIT 15
""",
)
def flagship_customer_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")

    # Latest-per-key (A6) fused INTO the stats aggregation: `max_by` over a
    # lexicographic (date, orderkey) struct picks the same row the
    # row_number()=1 window would, but the whole per-customer state now
    # computes in ONE partial-aggregated pass — one orders scan and one
    # shuffle instead of two of each (the fact table is the 100 TB side).
    # Sum and mean are exact by construction: both engines add the same
    # whole-cent integers and divide them by 100 once, so the results are
    # bit-identical (a rounded float average sits on a knife-edge whenever
    # the exact mean ends in a half cent).
    per_cust = orders.groupBy("o_custkey").agg(
        F.max_by(
            F.struct(
                F.col("o_orderdate").alias("latest_order_date"),
                F.col("o_totalprice").alias("latest_order_price"),
            ),
            F.struct("o_orderdate", "o_orderkey"),
        ).alias("__latest"),
        F.count(F.lit(1)).alias("order_count"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("__cents"),
    ).select(
        "o_custkey",
        F.col("__latest.latest_order_date").alias("latest_order_date"),
        F.col("__latest.latest_order_price").alias("latest_order_price"),
        "order_count",
        (F.col("__cents") / 100.0).alias("total_spent"),
        # half-up mean in whole cents: floor((2·cents + n) / 2n)
        (F.expr("(2 * __cents + order_count) div (2 * order_count)") / 100.0).alias(
            "avg_order_price"
        ),
    )
    # Global scalar: a one-column scan DuckDB/parquet stats make cheap.
    max_date = orders.agg(F.max("o_orderdate").alias("__max_date"))

    merged = customer.join(
        per_cust, customer.c_custkey == per_cust.o_custkey, "inner"
    ).join(F.broadcast(max_date))
    return (
        merged.select(
            "c_custkey",
            "c_name",
            "c_mktsegment",
            "latest_order_date",
            "latest_order_price",
            "order_count",
            "total_spent",
            "avg_order_price",
            F.round(F.col("c_acctbal") - F.col("latest_order_price"), 2).alias("balance_gap"),
            pct_gap(F.col("c_acctbal"), F.col("latest_order_price")).alias("balance_gap_percent"),
            F.datediff(F.col("__max_date"), F.col("latest_order_date"))
            .cast("int")
            .alias("days_since_last_order"),
        )
        .orderBy(F.col("total_spent").desc(), F.col("c_custkey"))
        .limit(15)
    )


# ---------------------------------------------------------------------------
# A6 — latest-per-group (argmax by timestamp with total-order tie-breaks)
# ---------------------------------------------------------------------------


@register(
    "latest_per_key",
    oracle="""
SELECT l_suppkey,
       l_shipdate AS latest_shipdate,
       l_orderkey AS latest_orderkey,
       l_linenumber AS latest_linenumber,
       l_quantity AS latest_quantity,
       l_extendedprice AS latest_price
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY l_suppkey
        ORDER BY l_shipdate DESC, l_orderkey DESC, l_linenumber DESC
    ) AS rn
    FROM lineitem
) WHERE rn = 1
""",
)
def q_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    # project BEFORE the argmax: the agg form packs every input column
    # into its max_by row struct, so post-selection can't prune the scan
    needed = li.select(
        "l_suppkey", "l_shipdate", "l_orderkey",
        "l_linenumber", "l_quantity", "l_extendedprice",
    )
    return latest_per_key(
        needed, "l_suppkey", "l_shipdate", tie_breakers=["l_orderkey", "l_linenumber"]
    ).select(
        "l_suppkey",
        F.col("l_shipdate").alias("latest_shipdate"),
        F.col("l_orderkey").alias("latest_orderkey"),
        F.col("l_linenumber").alias("latest_linenumber"),
        F.col("l_quantity").alias("latest_quantity"),
        F.col("l_extendedprice").alias("latest_price"),
    )


# ---------------------------------------------------------------------------
# A11–A14 + W3 — trailing-window trend aggregation (single groupBy pass)
# ---------------------------------------------------------------------------


@register(
    "trend_metrics",
    oracle="""
WITH mx AS (SELECT max(l_shipdate) AS m FROM lineitem),
w AS (
    SELECT l_suppkey, l_shipdate, l_extendedprice, l_quantity,
           row_number() OVER (PARTITION BY l_suppkey
               ORDER BY l_shipdate ASC, l_orderkey ASC, l_linenumber ASC) AS rn_first,
           row_number() OVER (PARTITION BY l_suppkey
               ORDER BY l_shipdate DESC, l_orderkey DESC, l_linenumber DESC) AS rn_last
    FROM lineitem, mx
    WHERE l_shipdate >= m - INTERVAL 30 DAY
),
agg AS (
    SELECT l_suppkey,
           count(*) AS data_points_available,
           round(avg(l_quantity), 2) AS avg_daily_l_quantity
    FROM w GROUP BY l_suppkey
),
fst AS (SELECT l_suppkey, l_extendedprice AS first_l_extendedprice FROM w WHERE rn_first = 1),
lst AS (SELECT l_suppkey, l_extendedprice AS last_l_extendedprice FROM w WHERE rn_last = 1)
SELECT a.l_suppkey,
       a.data_points_available,
       coalesce(fst.first_l_extendedprice, 0.0) AS first_l_extendedprice,
       coalesce(lst.last_l_extendedprice, 0.0) AS last_l_extendedprice,
       a.avg_daily_l_quantity,
       round(coalesce(lst.last_l_extendedprice, 0.0) - coalesce(fst.first_l_extendedprice, 0.0), 2)
           AS l_extendedprice_change,
       CASE WHEN coalesce(fst.first_l_extendedprice, 0.0) > 0
            THEN round((coalesce(lst.last_l_extendedprice, 0.0) - fst.first_l_extendedprice)
                       / fst.first_l_extendedprice * 100, 2)
            ELSE 0.0 END AS l_extendedprice_change_percent
FROM agg a
LEFT JOIN fst USING (l_suppkey)
LEFT JOIN lst USING (l_suppkey)
WHERE a.data_points_available >= 2
""",
)
def q_trend_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return trend_metrics(
        li,
        keys="l_suppkey",
        ts_col="l_shipdate",
        value_cols=["l_extendedprice"],
        rate_cols=["l_quantity"],
        window_days=30,
        min_points=2,
        tie_breakers=["l_orderkey", "l_linenumber"],
    )


# ---------------------------------------------------------------------------
# W1 — grouped forward-fill (nulls injected deterministically)
# ---------------------------------------------------------------------------


@register(
    "forward_fill",
    oracle="""
SELECT l_orderkey, l_linenumber,
       last_value(q IGNORE NULLS) OVER (
           PARTITION BY l_orderkey
           ORDER BY l_linenumber, l_extendedprice, l_partkey, l_suppkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS q_filled
FROM (
    SELECT l_orderkey, l_linenumber, l_extendedprice, l_partkey, l_suppkey,
           CASE WHEN (l_orderkey + l_linenumber) % 3 = 0 THEN NULL ELSE l_quantity END AS q
    FROM lineitem
)
""",
)
def q_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    # (l_orderkey, l_linenumber) is not unique in the synthetic lineitem, so
    # the fill needs extra tie-breaker columns to define a total order that
    # both engines agree on.
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_extendedprice",
        "l_partkey",
        "l_suppkey",
        F.when((F.col("l_orderkey") + F.col("l_linenumber")) % 3 == 0, F.lit(None))
        .otherwise(F.col("l_quantity"))
        .alias("q"),
    )
    return forward_fill(
        li,
        "l_orderkey",
        "l_linenumber",
        ["q"],
        tie_breakers=["l_extendedprice", "l_partkey", "l_suppkey"],
    ).select("l_orderkey", "l_linenumber", F.col("q").alias("q_filled"))


# ---------------------------------------------------------------------------
# W2 — grouped lag-diff with fill-zero + clip-at-zero
# ---------------------------------------------------------------------------


@register(
    "lag_diff",
    oracle="""
SELECT o_custkey, o_orderkey, o_orderdate,
       greatest(coalesce(o_totalprice - lag(o_totalprice, 1) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
       ), 0.0), 0.0) AS price_delta
FROM orders
""",
)
def q_lag_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return lag_diff(
        orders,
        keys="o_custkey",
        order_col="o_orderdate",
        src_col="o_totalprice",
        out_col="price_delta",
        clip_negative=True,
        tie_breakers=["o_orderkey"],
    ).select("o_custkey", "o_orderkey", "o_orderdate", "price_delta")


# ---------------------------------------------------------------------------
# P7/J5 — dictionary standardization via broadcast join with fallback
# ---------------------------------------------------------------------------

_NATION_MAPPING = {
    "NATION_0": "ALPHA",
    "NATION_7": "GOLF",
    "NATION_13": "MIKE",
    "NATION_24": "XRAY",
}


@register(
    "standardize_keys",
    oracle="""
SELECT n_nationkey, n_name,
       CASE n_name
            WHEN 'NATION_0' THEN 'ALPHA'
            WHEN 'NATION_7' THEN 'GOLF'
            WHEN 'NATION_13' THEN 'MIKE'
            WHEN 'NATION_24' THEN 'XRAY'
            ELSE n_name END AS n_name_standardized
FROM nation
""",
)
def q_standardize_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = _t(spark, sf_dir, "nation")
    return standardize_keys(nation, _NATION_MAPPING, "n_name").select(
        "n_nationkey", "n_name", "n_name_standardized"
    )


# ---------------------------------------------------------------------------
# P4–P6 — NOT-IN and regex-out filters
# ---------------------------------------------------------------------------


@register(
    "notin_filter",
    oracle="""
SELECT c_mktsegment, count(*) AS n_customers,
       round(sum(c_acctbal), 2) AS segment_balance
FROM customer
WHERE c_mktsegment NOT IN ('BUILDING', 'AUTOMOBILE')
GROUP BY c_mktsegment
""",
)
def q_notin_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    return (
        filter_not_in(cust, "c_mktsegment", ["BUILDING", "AUTOMOBILE"])
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("segment_balance"),
        )
    )


@register(
    "regex_filter",
    oracle="""
SELECT p_partkey, p_type
FROM part
WHERE NOT coalesce(regexp_matches(lower(p_type), 'promo|economy'), false)
""",
)
def q_regex_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    return filter_regex_out(part, "p_type", "promo|economy").select("p_partkey", "p_type")


# ---------------------------------------------------------------------------
# A7/A8 — null profile & completeness (nulls injected deterministically)
# ---------------------------------------------------------------------------

_NULLED_LINEITEM_SQL = """
    SELECT CASE WHEN (l_orderkey + l_linenumber) % 3 = 0 THEN NULL ELSE l_quantity END AS qty,
           CASE WHEN (l_orderkey + l_linenumber) % 5 = 0 THEN NULL ELSE l_discount END AS disc,
           CASE WHEN (l_orderkey + l_linenumber) % 7 = 0 THEN NULL ELSE l_tax END AS tax
    FROM lineitem
"""


def _nulled_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    k = F.col("l_orderkey") + F.col("l_linenumber")
    return li.select(
        F.when(k % 3 == 0, F.lit(None)).otherwise(F.col("l_quantity")).alias("qty"),
        F.when(k % 5 == 0, F.lit(None)).otherwise(F.col("l_discount")).alias("disc"),
        F.when(k % 7 == 0, F.lit(None)).otherwise(F.col("l_tax")).alias("tax"),
    )


@register(
    "null_profile",
    oracle=f"""
WITH t AS ({_NULLED_LINEITEM_SQL}),
wide AS (
    SELECT count(*) AS total,
           count(*) FILTER (qty IS NULL) AS n_qty,
           count(*) FILTER (disc IS NULL) AS n_disc,
           count(*) FILTER (tax IS NULL) AS n_tax
    FROM t
)
SELECT 'qty' AS column_name, n_qty AS missing_count, round(n_qty * 100.0 / total, 2) AS missing_percentage FROM wide
UNION ALL
SELECT 'disc', n_disc, round(n_disc * 100.0 / total, 2) FROM wide
UNION ALL
SELECT 'tax', n_tax, round(n_tax * 100.0 / total, 2) FROM wide
""",
)
def q_null_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _nulled_lineitem(spark, sf_dir)
    return null_profile(t, ["qty", "disc", "tax"]).withColumnRenamed("column", "column_name")


@register(
    "completeness",
    oracle=f"""
WITH t AS ({_NULLED_LINEITEM_SQL}),
wide AS (
    SELECT count(*) AS total,
           count(qty) AS a_qty, count(disc) AS a_disc, count(tax) AS a_tax
    FROM t
)
SELECT 'qty' AS column_name, a_qty AS available, total - a_qty AS missing,
       round(a_qty * 100.0 / total, 2) AS percent_complete FROM wide
UNION ALL
SELECT 'disc', a_disc, total - a_disc, round(a_disc * 100.0 / total, 2) FROM wide
UNION ALL
SELECT 'tax', a_tax, total - a_tax, round(a_tax * 100.0 / total, 2) FROM wide
""",
)
def q_completeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _nulled_lineitem(spark, sf_dir)
    return completeness(t, ["qty", "disc", "tax"]).withColumnRenamed("column", "column_name")


# ---------------------------------------------------------------------------
# A9/P22/P23 — fused conditional counts (one aggregation pass)
# ---------------------------------------------------------------------------


@register(
    "conditional_counts",
    oracle="""
SELECT CAST(count(*) FILTER (l_discount > 0.05) AS BIGINT) AS cnt_high_discount,
       CAST(count(*) FILTER (l_tax = 0) AS BIGINT) AS cnt_zero_tax,
       CAST(count(*) FILTER (l_quantity >= 45) AS BIGINT) AS cnt_large_qty,
       CAST(count(*) FILTER (l_returnflag = 'R') AS BIGINT) AS cnt_returned,
       CAST(count(*) FILTER (l_quantity < 0) AS BIGINT) AS cnt_negative_qty
FROM lineitem
""",
)
def q_conditional_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return conditional_counts(
        li,
        {
            "cnt_high_discount": F.col("l_discount") > 0.05,
            "cnt_zero_tax": F.col("l_tax") == 0,
            "cnt_large_qty": F.col("l_quantity") >= 45,
            "cnt_returned": F.col("l_returnflag") == "R",
            "cnt_negative_qty": F.col("l_quantity") < 0,
        },
    )


# ---------------------------------------------------------------------------
# A15 — correlation; A5 — exact median
# ---------------------------------------------------------------------------


@register(
    "correlation",
    oracle="""
SELECT round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
       round(corr(l_discount, l_tax), 4) AS corr_discount_tax,
       CAST(count(*) AS BIGINT) AS n_rows
FROM lineitem
""",
)
def q_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
        F.round(F.corr("l_discount", "l_tax"), 4).alias("corr_discount_tax"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "median_by_group",
    oracle="""
SELECT o_orderpriority,
       round(median(o_totalprice), 2) AS median_price,
       round(avg(o_totalprice), 2) AS mean_price,
       CAST(count(*) AS BIGINT) AS n_orders
FROM orders
GROUP BY o_orderpriority
""",
)
def q_median_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.round(F.median("o_totalprice"), 2).alias("median_price"),
        F.round(F.avg("o_totalprice"), 2).alias("mean_price"),
        F.count(F.lit(1)).alias("n_orders"),
    )


# ---------------------------------------------------------------------------
# O3 — deterministic top-k (TakeOrderedAndProject)
# ---------------------------------------------------------------------------


@register(
    "topk_customers",
    oracle="""
SELECT c_custkey, c_name, c_acctbal
FROM customer
ORDER BY c_acctbal DESC, c_custkey
LIMIT 20
""",
)
def q_topk_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    return (
        cust.select("c_custkey", "c_name", "c_acctbal")
        .orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# J3 — key-membership mapping table; J4/U2/U3 — semi/anti; U1 — union keys
# ---------------------------------------------------------------------------


@register(
    "key_membership",
    oracle="""
WITH ck AS (SELECT DISTINCT c_nationkey AS nationkey, true AS f FROM customer),
sk AS (SELECT DISTINCT s_nationkey AS nationkey, true AS f FROM supplier)
SELECT coalesce(ck.nationkey, sk.nationkey) AS nationkey,
       coalesce(ck.f, false) AS in_customer,
       coalesce(sk.f, false) AS in_supplier,
       coalesce(ck.f, false) AND coalesce(sk.f, false) AS can_merge
FROM ck FULL OUTER JOIN sk ON ck.nationkey = sk.nationkey
""",
)
def q_key_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    supp = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return key_membership(cust, supp, "nationkey", "in_customer", "in_supplier")


@register(
    "keys_in_both",
    oracle="""
SELECT DISTINCT c_nationkey AS nationkey FROM customer
WHERE c_nationkey IN (SELECT s_nationkey FROM supplier)
""",
)
def q_keys_in_both(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    supp = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return keys_in_both(cust, supp, "nationkey")


@register(
    "keys_only_in_left",
    oracle="""
SELECT DISTINCT c_nationkey AS nationkey FROM customer
WHERE c_nationkey NOT IN (SELECT s_nationkey FROM supplier)
""",
)
def q_keys_only_in_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    supp = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return keys_only_in_left(cust, supp, "nationkey")


@register(
    "union_keys",
    oracle="""
SELECT DISTINCT nationkey FROM (
    SELECT c_nationkey AS nationkey FROM customer
    UNION ALL
    SELECT s_nationkey FROM supplier
)
""",
)
def q_union_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    supp = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return union_keys(cust, supp, "nationkey")


# ---------------------------------------------------------------------------
# A16 — equi-width histogram
# ---------------------------------------------------------------------------


@register(
    "histogram",
    oracle="""
WITH bounds AS (SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi FROM orders)
SELECT CAST(least(CAST(floor((o_totalprice - lo) / ((hi - lo) / 20)) AS INT), 19) AS INT) AS bucket,
       CAST(count(*) AS BIGINT) AS bucket_count
FROM orders, bounds
WHERE o_totalprice IS NOT NULL
GROUP BY 1 ORDER BY 1
""",
)
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return histogram(orders, "o_totalprice", bins=20)


# ---------------------------------------------------------------------------
# P18/P20/P21 — search / threshold / IN-list parameterized filters
# ---------------------------------------------------------------------------


@register(
    "search_filter",
    oracle="""
SELECT c_custkey, c_name FROM customer
WHERE coalesce(contains(lower(c_name), '38'), false)
""",
)
def q_search_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    return cust.filter(search_contains(F.col("c_name"), "38")).select("c_custkey", "c_name")


@register(
    "threshold_in_filter",
    oracle="""
SELECT o_orderkey, o_totalprice, o_orderpriority
FROM orders
WHERE o_totalprice >= 400000.0
  AND o_orderpriority IN ('1-URGENT', '2-HIGH')
""",
)
def q_threshold_in_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return orders.filter(
        (F.col("o_totalprice") >= 400000.0)
        & F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    ).select("o_orderkey", "o_totalprice", "o_orderpriority")


# ---------------------------------------------------------------------------
# Bench-grade relational queries (TPC-H-shaped) — exercise scan pushdown,
# partial aggregation, broadcast vs sort-merge joins, top-k.
# ---------------------------------------------------------------------------


@register(
    "pricing_summary",
    oracle="""
WITH mx AS (SELECT max(l_shipdate) AS m FROM lineitem)
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 2) AS avg_qty,
       round(avg(l_extendedprice), 2) AS avg_price,
       round(avg(l_discount), 4) AS avg_disc,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem, mx
WHERE l_shipdate <= m - INTERVAL 90 DAY
GROUP BY l_returnflag, l_linestatus
""",
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: single scan, map-side partial agg, tiny result."""
    li = _t(spark, sf_dir, "lineitem")
    mx = li.agg(F.max("l_shipdate").alias("__m"))
    return (
        li.join(F.broadcast(mx))
        .filter(F.col("l_shipdate") <= F.col("__m") - F.expr("INTERVAL 90 DAYS"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            F.round(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "shipping_priority",
    oracle="""
SELECT l.l_orderkey,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
       o.o_orderdate, o.o_orderpriority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-01-01'
  AND l.l_shipdate > TIMESTAMP '1998-01-01'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, l.l_orderkey
LIMIT 10
""",
)
def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → join → agg → top-k."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp"))
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@register(
    "regional_revenue",
    oracle="""
SELECT n.n_name AS nation,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
       CAST(count(*) AS BIGINT) AS n_lineitems
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name IN ('ASIA', 'EUROPE')
GROUP BY n.n_name
""",
)
def q_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: star join — fact side stays put, dims broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name").isin("ASIA", "EUROPE"))
    dims = (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("s_suppkey", "n_name")
    )
    return (
        li.join(F.broadcast(dims), li.l_suppkey == F.col("s_suppkey"))
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
        .select(F.col("n_name").alias("nation"), "revenue", "n_lineitems")
    )


# ---------------------------------------------------------------------------
# A1–A4, A10 — global and grouped basic aggregates
# ---------------------------------------------------------------------------


@register(
    "global_aggregates",
    oracle="""
SELECT max(o_orderdate) AS latest_order,
       min(o_orderdate) AS earliest_order,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
       round(sum(o_totalprice), 2) AS total_revenue,
       round(avg(o_totalprice), 2) AS avg_order_value,
       CAST(count(*) AS BIGINT) AS n_orders
FROM orders
""",
)
def q_global_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return orders.agg(
        F.max("o_orderdate").alias("latest_order"),
        F.min("o_orderdate").alias("earliest_order"),
        F.countDistinct("o_custkey").alias("n_customers"),
        F.round(F.sum("o_totalprice"), 2).alias("total_revenue"),
        F.round(F.avg("o_totalprice"), 2).alias("avg_order_value"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@register(
    "grouped_counts",
    oracle="""
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(avg(o_totalprice), 2) AS avg_price,
       round(sum(o_totalprice), 2) AS sum_price
FROM orders
GROUP BY o_orderstatus
""",
)
def q_grouped_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.avg("o_totalprice"), 2).alias("avg_price"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


@register(
    "sorted_distinct",
    oracle="SELECT DISTINCT o_orderpriority FROM orders ORDER BY o_orderpriority",
)
def q_sorted_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return orders.select("o_orderpriority").distinct().orderBy("o_orderpriority")
