"""Relational query suite over the TPC-H-ish fixtures (TESTDATA.md).

The reference has no relational joins (SURVEY §2.4) — this surface is the
engine's Spark-native extension: declarative DataFrame plans that Catalyst
optimizes (broadcast for dims, pushdown to parquet, AQE at runtime).

Scale notes per query are in docstrings. Broadcast policy: only the
CONSTANT-size dims (region=5, nation=25 rows at every SF) carry an explicit
``F.broadcast`` hint. customer/supplier/part/orders scale with SF, so they
get NO hint — an explicit hint overrides ``autoBroadcastJoinThreshold`` and
would force a multi-GB broadcast at 100 TB. Without the hint, Spark still
broadcasts them at small SFs (statistics < threshold) and AQE picks
shuffle-hash/sort-merge beyond it; tests/test_plans.py pins both halves.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from semantic_cpp_spark.session import load_table


def money(name: str) -> Column:
    """A 2-decimal money or rate column as an exact ``DECIMAL(15,2)``.

    Products of such columns have 4 (or 6) decimals, so a 2-decimal
    rounding of their sum can land exactly on a half cent, and then a
    double sum rounds either way with the summation order (Spark and
    DuckDB disagreed at some seeds). Summed as decimals the value is
    exact; it is rounded half-up once and then cast to DOUBLE, the same
    in the registered SQL."""
    return F.col(name).cast("decimal(15,2)")


def money_sum(amount: Column) -> Column:
    """``CAST(round(sum(amount), 2) AS DOUBLE)`` of an exact decimal."""
    return F.round(F.sum(amount), 2).cast("double")


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 analogue — the flagship (SURVEY §7 M0).

    Scan lineitem (columns pruned + shipdate filter pushed to parquet),
    single hash-aggregate shuffle on 2 low-cardinality keys, sort of a
    handful of result rows. Scales linearly: partial aggregation reduces
    each partition to ≤ |flag×status| rows before the shuffle.
    """
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = money("l_extendedprice") * (1 - money("l_discount"))
    charge = disc_price * (1 + money("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            money_sum(disc_price).alias("sum_disc_price"),
            money_sum(charge).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q1_SQL = """
SELECT
  l_returnflag,
  l_linestatus,
  round(sum(l_quantity), 2)                                    AS sum_qty,
  round(sum(l_extendedprice), 2)                               AS sum_base_price,
  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(15,2))
                 * (1 - CAST(l_discount AS DECIMAL(15,2)))), 2) AS DOUBLE)
                                                               AS sum_disc_price,
  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(15,2))
                 * (1 - CAST(l_discount AS DECIMAL(15,2)))
                 * (1 + CAST(l_tax AS DECIMAL(15,2)))), 2) AS DOUBLE)
                                                               AS sum_charge,
  round(avg(l_quantity), 6)                                    AS avg_qty,
  round(avg(l_extendedprice), 6)                               AS avg_price,
  round(avg(l_discount), 6)                                    AS avg_disc,
  count(*)                                                     AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q3_top_unshipped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 analogue: revenue of building-segment orders.

    customer scales with SF → NO broadcast hint (AQE / the threshold
    decide); the orders⋈lineitem join shuffles on orderkey (both huge at
    100 TB — co-partitioned hash join, AQE handles skew). Top-10 via
    sort-limit (TakeOrderedAndProject — no global sort materialisation).
    """
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    revenue = money_sum(money("l_extendedprice") * (1 - money("l_discount")))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(revenue.alias("revenue"))
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
            "revenue",
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


Q3_SQL = """
SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_orderpriority,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(15,2))
                      * (1 - CAST(l_discount AS DECIMAL(15,2)))), 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""


def q5_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 analogue: revenue per nation via customer+supplier co-located
    in the same nation. nation/region are constant-size → broadcast hint;
    supplier/customer scale with SF → no hint (AQE decides); the fact-side
    joins shuffle on their keys."""
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    revenue = money_sum(money("l_extendedprice") * (1 - money("l_discount")))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            cust,
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(revenue.alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


Q5_SQL = """
SELECT n_name,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(15,2))
                      * (1 - CAST(l_discount AS DECIMAL(15,2)))), 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K per group pattern: 3 highest-value orders per market
    segment. c_mktsegment has FIVE values — at first glance the
    one-hot-partition-per-group skew shape — but Spark's
    InferWindowGroupLimit rewrites the row_number-≤-k filter into a
    Partial top-k BELOW the exchange (sorted locally, only ≤k rows per
    group per input partition shuffle), so both exchange volume and
    the per-group partition stay bounded without hand-rolling a
    two-phase (an r10 cut did; reverted as redundant once the plan
    showed the optimizer's partial — now PINNED in test_plans)."""
    from pyspark.sql import Window

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "c_mktsegment",
            F.col("rk").cast("long").alias("rk"),
            "o_orderkey",
            F.round("o_totalprice", 2).alias("o_totalprice"),
        )
        .orderBy("c_mktsegment", "rk")
    )


Q_TOP_CUSTOMERS_SQL = """
SELECT c_mktsegment, rk, o_orderkey, round(o_totalprice, 2) AS o_totalprice
FROM (
  SELECT c_mktsegment, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY c_mktsegment
                            ORDER BY o_totalprice DESC, o_orderkey) AS rk
  FROM orders JOIN customer ON o_custkey = c_custkey
) t
WHERE rk <= 3
ORDER BY c_mktsegment, rk
"""
