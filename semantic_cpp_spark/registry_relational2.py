"""Registry section: wider relational suite (TPC-H Q7/Q10/Q14/Q19
analogues adapted to the fixture's value domains — no partsupp table, so
Q2/Q11-style queries are out of reach).

Scale notes: only constant-size dims (nation=25, region=5 rows) carry an
explicit broadcast hint. part/customer/supplier scale with SF and get NO
hint: an explicit ``F.broadcast`` OVERRIDES autoBroadcastJoinThreshold, so
hinting them would force a multi-GB broadcast at 100 TB. Hint-free, Spark
still broadcasts them while their stats sit under the threshold and AQE
switches to shuffle joins beyond it. Fact-fact joins shuffle on orderkey.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from semantic_cpp_spark.registry import register
from semantic_cpp_spark.relational import money, money_sum
from semantic_cpp_spark.session import load_table


@register(
    "rel_q7_nation_volume",
    """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
              year(l_shipdate) AS l_year,
              CAST(round(sum(CAST(l_extendedprice AS DECIMAL(15,2))
                             * (1 - CAST(l_discount AS DECIMAL(15,2)))), 2) AS DOUBLE)
                AS revenue
       FROM lineitem
       JOIN orders   ON l_orderkey = o_orderkey
       JOIN supplier ON l_suppkey = s_suppkey
       JOIN customer ON o_custkey = c_custkey
       JOIN nation sn ON s_nationkey = sn.n_nationkey
       JOIN nation cn ON c_nationkey = cn.n_nationkey
       WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
          OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1')
       GROUP BY 1, 2, 3""",
)
def rel_q7(spark, sf_dir):
    """TPC-H Q7 analogue: shipping volume between a nation pair by year.
    Both nation legs broadcast-hinted (25 rows); supplier/customer carry no
    hint (threshold/AQE decide); the lineitem⋈orders spine shuffles on
    orderkey."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    sn = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year")
        )
        .agg(money_sum(money("l_extendedprice") * (1 - money("l_discount"))).alias("revenue"))
    )


@register(
    "rel_q10_returned_items",
    """SELECT c_custkey, c_name, n_name,
              CAST(round(sum(CAST(l_extendedprice AS DECIMAL(15,2))
                             * (1 - CAST(l_discount AS DECIMAL(15,2)))), 2) AS DOUBLE)
                AS revenue,
              round(any_value(c_acctbal), 2) AS c_acctbal
       FROM lineitem
       JOIN orders   ON l_orderkey = o_orderkey
       JOIN customer ON o_custkey = c_custkey
       JOIN nation   ON c_nationkey = n_nationkey
       WHERE l_returnflag = 'R'
       GROUP BY c_custkey, c_name, n_name
       ORDER BY revenue DESC, c_custkey
       LIMIT 20""",
)
def rel_q10(spark, sf_dir):
    """TPC-H Q10 analogue: top-20 customers by lost revenue on returned
    items. returnflag filter pushes to the parquet scan; sort-limit is
    TakeOrderedAndProject (no global sort materialisation)."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            money_sum(money("l_extendedprice") * (1 - money("l_discount"))).alias("revenue"),
            F.round(F.any_value("c_acctbal"), 2).alias("c_acctbal"),
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@register(
    "rel_q14_promo_share",
    """SELECT round(
             100.0 * sum(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), 6) AS promo_pct
       FROM lineitem JOIN part ON l_partkey = p_partkey
       WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
         AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'""",
)
def rel_q14(spark, sf_dir):
    """TPC-H Q14 analogue: promo revenue share for one year. Date range
    pushes down; part carries no broadcast hint (it scales with SF — the
    threshold/AQE decide); one scalar aggregate."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(100.0 * F.sum(promo) / F.sum(rev), 6).alias("promo_pct")
        )
    )


@register(
    "rel_q19_bracketed_discounts",
    """SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(15,2))
                             * (1 - CAST(l_discount AS DECIMAL(15,2)))), 2) AS DOUBLE)
                AS revenue
       FROM lineitem JOIN part ON l_partkey = p_partkey
       WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
              AND l_quantity BETWEEN 1 AND 20)
          OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
              AND l_quantity BETWEEN 10 AND 30)""",
)
def rel_q19(spark, sf_dir):
    """TPC-H Q19 analogue: disjunctive bracketed predicates across the
    join — Catalyst pushes the per-side conjuncts below the join and
    evaluates the residual OR after it."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    cond = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 20)
    ) | (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(10, 30)
        & F.col("l_quantity").between(10, 30)
    )
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .filter(cond)
        .agg(money_sum(money("l_extendedprice") * (1 - money("l_discount"))).alias("revenue"))
    )


@register(
    "rel_q4_semi_join",
    """SELECT o_orderpriority, count(*) AS n
       FROM orders
       WHERE EXISTS (SELECT 1 FROM lineitem
                     WHERE l_orderkey = o_orderkey
                       AND l_shipdate > o_orderdate)
       GROUP BY o_orderpriority""",
)
def rel_q4_semi(spark, sf_dir):
    """TPC-H Q4 analogue: EXISTS → LEFT SEMI join (each order emitted at
    most once however many lineitems match — no fan-out, no dedup pass)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        orders.join(
            li,
            (F.col("o_orderkey") == F.col("l_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "rel_customers_without_urgent_orders",
    """SELECT c_mktsegment, count(*) AS n
       FROM customer
       WHERE NOT EXISTS (SELECT 1 FROM orders
                         WHERE o_custkey = c_custkey
                           AND o_orderpriority = '1-URGENT')
       GROUP BY c_mktsegment""",
)
def rel_anti(spark, sf_dir):
    """NOT EXISTS → LEFT ANTI join: customers with no urgent order,
    counted by segment (the anti-side filter pushes below the join)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    return (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "rel_q6_forecast_revenue",
    """SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(15,2))
                             * CAST(l_discount AS DECIMAL(15,2))), 2) AS DOUBLE) AS revenue,
              count(*) AS n_lines
       FROM lineitem
       WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
         AND l_discount BETWEEN 0.02 AND 0.04
         AND l_quantity < 24""",
)
def rel_q6(spark, sf_dir):
    """TPC-H Q6 analogue: pure scan-filter-aggregate — the pushdown
    showcase (all three predicates reach the parquet scan, zero joins,
    zero shuffles beyond the final 1-row combine)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.02)
            & (F.col("l_discount") <= 0.04)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            money_sum(money("l_extendedprice") * money("l_discount")).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "rel_q18_large_orders",
    """WITH big AS (
         SELECT l_orderkey, sum(l_quantity) AS sum_qty
         FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 100)
       SELECT c_name, o_orderkey, o_totalprice,
              round(sum_qty, 2) AS sum_qty
       FROM big
       JOIN orders ON o_orderkey = l_orderkey
       JOIN customer ON c_custkey = o_custkey
       ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""",
)
def rel_q18(spark, sf_dir):
    """TPC-H Q18 analogue (large-volume orders): the HAVING aggregate
    reduces lineitem to the rare big orders FIRST, so the orders/customer
    joins see a tiny left side; top-100 is TakeOrderedAndProject, no
    global sort materialisation."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("__sq"))
        .filter(F.col("__sq") > 100)
    )
    return (
        big.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_name",
            "o_orderkey",
            "o_totalprice",
            F.round(F.col("__sq"), 2).alias("sum_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )


@register(
    "rel_q22_idle_balance",
    """WITH cutoff AS (
         SELECT avg(c_acctbal) AS avg_bal FROM customer WHERE c_acctbal > 0.0),
       cnts AS (
         SELECT o_custkey, count(*) AS n FROM orders GROUP BY o_custkey),
       idle AS (
         SELECT c_mktsegment, c_acctbal
         FROM (SELECT c_mktsegment, c_acctbal, c_custkey, coalesce(n, 0) AS n
               FROM customer LEFT JOIN cnts ON o_custkey = c_custkey), cutoff
         WHERE c_acctbal > avg_bal AND n < 5)
       SELECT c_mktsegment, count(*) AS n_cust,
              round(sum(c_acctbal), 2) AS total_bal
       FROM idle GROUP BY c_mktsegment""",
)
def rel_q22(spark, sf_dir):
    """TPC-H Q22 analogue (idle high-balance customers — every fixture
    customer has at least one order, so 'idle' = fewer than 5): the
    positive-balance average is a 1-row broadcast; order counts aggregate
    BEFORE the join, so the customer join sees one row per custkey; then
    a tiny per-segment aggregate."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    cutoff = cust.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    cnts = orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n"))
    idle = (
        cust.join(cnts, F.col("o_custkey") == F.col("c_custkey"), "left")
        .withColumn("n", F.coalesce(F.col("n"), F.lit(0)))
        .crossJoin(F.broadcast(cutoff))
        .filter((F.col("c_acctbal") > F.col("avg_bal")) & (F.col("n") < 5))
    )
    return idle.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_cust"),
        F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
    )


@register(
    "rel_q8_market_share",
    """WITH flat AS (
         SELECT year(o_orderdate) AS o_year,
                l_extendedprice * (1 - l_discount) AS volume,
                sn.n_name AS supp_nation
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN part ON l_partkey = p_partkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation cn ON c_nationkey = cn.n_nationkey
         JOIN region ON cn.n_regionkey = r_regionkey
         JOIN nation sn ON s_nationkey = sn.n_nationkey
         WHERE r_name = 'ASIA' AND p_type = 'ECONOMY')
       SELECT o_year,
              round(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END)
                    / sum(volume), 6) AS mkt_share
       FROM flat GROUP BY o_year""",
)
def rel_q8(spark, sf_dir):
    """TPC-H Q8 analogue (national market share): the seven-table join.
    Constant dims (nation ×2, region) broadcast-hinted; part/supplier/
    customer hint-free (threshold/AQE decide); the lineitem⋈orders spine
    shuffles once on orderkey. The share is a conditional-sum ratio —
    one aggregate pass, no self-join."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    cn = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
    )
    sn = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    flat = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(part.filter(F.col("p_type") == "ECONOMY"), F.col("l_partkey") == F.col("p_partkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(
            F.broadcast(region.filter(F.col("r_name") == "ASIA")),
            F.col("cn_region") == F.col("r_regionkey"),
        )
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            vol.alias("volume"),
            "supp_nation",
        )
    )
    return flat.groupBy("o_year").agg(
        F.round(
            F.sum(
                F.when(F.col("supp_nation") == "NATION_3", F.col("volume")).otherwise(
                    F.lit(0.0)
                )
            )
            / F.sum("volume"),
            6,
        ).alias("mkt_share")
    )


@register(
    "rel_q13_order_histogram",
    """WITH cnts AS (
         SELECT c_custkey, count(o_orderkey) AS c_count
         FROM customer LEFT JOIN orders ON o_custkey = c_custkey
         GROUP BY c_custkey)
       SELECT c_count, count(*) AS custdist
       FROM cnts GROUP BY c_count""",
)
def rel_q13(spark, sf_dir):
    """TPC-H Q13 analogue (customer order-count distribution): LEFT join
    keeps zero-order customers (count(o_orderkey) ignores the nulls),
    then a double aggregation — both shuffles are on shrinking keys."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    cnts = (
        cust.join(orders, F.col("o_custkey") == F.col("c_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return cnts.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "rel_q17_small_qty_revenue",
    """WITH pa AS (
         SELECT l_partkey AS pk, 0.5 * avg(l_quantity) AS half_avg
         FROM lineitem GROUP BY l_partkey)
       SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
       FROM lineitem
       JOIN part ON l_partkey = p_partkey
       JOIN pa ON l_partkey = pk
       WHERE p_brand = 'Brand#13' AND l_quantity < half_avg""",
)
def rel_q17(spark, sf_dir):
    """TPC-H Q17 analogue (small-quantity-order revenue): the correlated
    avg-quantity subquery becomes a per-part aggregate joined back on
    partkey — both sides hash-partition on the SAME key, so the join is
    co-located after one shuffle each; no correlated re-scan per row."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#13"
    ).select("p_partkey")
    pa = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (F.lit(0.5) * F.avg("l_quantity")).alias("half_avg")
    )
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(pa, F.col("l_partkey") == F.col("pk"))
        .filter(F.col("l_quantity") < F.col("half_avg"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


@register(
    "rel_cube_flag_status",
    """SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
              coalesce(l_linestatus, 'ALL') AS l_linestatus,
              count(*)::BIGINT AS n, round(sum(l_quantity), 2) AS qty
       FROM lineitem
       GROUP BY CUBE (l_returnflag, l_linestatus)""",
)
def rel_cube(spark, sf_dir):
    """CUBE grouping sets (all 4 margin combinations of flag × status):
    Spark expands the sets into one shuffled aggregation — the
    complement of rel_rollup_order_priority's hierarchy."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("l_returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("l_linestatus"),
            "n",
            "qty",
        )
    )


@register(
    "rel_running_customer_revenue",
    """SELECT o_custkey, o_orderkey,
              row_number() OVER w::BIGINT AS order_seq,
              round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                                            ORDER BY o_orderdate, o_orderkey
                                            ROWS UNBOUNDED PRECEDING), 2) AS running_rev,
              round(o_totalprice - coalesce(lag(o_totalprice) OVER w, 0.0), 2) AS delta_prev
       FROM orders
       WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""",
)
def rel_running_revenue(spark, sf_dir):
    """Partitioned analytic-window battery (row_number + running sum +
    lag delta) per customer in order-date order — all three share ONE
    (custkey, date) exchange+sort; never a global window. 2dp-exact
    sums keep the running totals boundary-safe."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).cast("long").alias("order_seq"),
        F.round(F.sum("o_totalprice").over(wrun), 2).alias("running_rev"),
        F.round(
            F.col("o_totalprice") - F.coalesce(F.lag("o_totalprice").over(w), F.lit(0.0)),
            2,
        ).alias("delta_prev"),
    )


@register(
    "rel_profile_lineitem",
    """WITH w AS (
         SELECT count(*)::BIGINT AS n,
                sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END)::BIGINT AS q_nulls,
                count(DISTINCT l_quantity)::BIGINT AS q_distinct,
                min(l_quantity)::VARCHAR AS q_min, max(l_quantity)::VARCHAR AS q_max,
                sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END)::BIGINT AS f_nulls,
                count(DISTINCT l_returnflag)::BIGINT AS f_distinct,
                min(l_returnflag) AS f_min, max(l_returnflag) AS f_max,
                sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)::BIGINT AS d_nulls,
                count(DISTINCT l_shipdate)::BIGINT AS d_distinct,
                min(l_shipdate)::VARCHAR AS d_min, max(l_shipdate)::VARCHAR AS d_max
         FROM lineitem)
       SELECT 'l_quantity' AS column, n AS n_rows, q_nulls AS n_nulls,
              q_distinct AS n_distinct, q_min AS min_str, q_max AS max_str FROM w
       UNION ALL
       SELECT 'l_returnflag', n, f_nulls, f_distinct, f_min, f_max FROM w
       UNION ALL
       SELECT 'l_shipdate', n, d_nulls, d_distinct, d_min, d_max FROM w""",
)
def rel_profile_lineitem(spark, sf_dir):
    """Column profiling (operators.profile.profile_table): numeric, string
    and date columns of lineitem in ONE aggregation pass (Catalyst fuses
    the 15 aggregates; the wide row unpivots via stack). Exact distinct
    for oracle determinism; at 100 TB swap approx_count_distinct."""
    from semantic_cpp_spark.operators.profile import profile_table

    li = load_table(spark, sf_dir, "lineitem")
    return profile_table(li, ["l_quantity", "l_returnflag", "l_shipdate"])


@register(
    "rel_grouped_percentiles",
    """SELECT o_orderpriority,
              count(*)::BIGINT AS n,
              round(quantile_cont(o_totalprice, 0.5), 6) AS p50,
              round(quantile_cont(o_totalprice, 0.9), 6) AS p90
       FROM orders GROUP BY o_orderpriority""",
)
def rel_grouped_percentiles(spark, sf_dir):
    """GROUPED exact percentiles (per order priority): with a grouping
    key, `F.percentile`'s buffers are per-GROUP — the merge concentrates
    one group per reducer, not the whole table, so the single-reducer
    pathology the ungrouped sort-path fixes (stats.percentiles_exact_
    sorted) doesn't apply while groups stay bounded. Skewed/huge groups
    would salt or fall back to the sort-path per group."""
    orders = load_table(spark, sf_dir, "orders")
    qs = F.percentile(F.col("o_totalprice"), F.array(F.lit(0.5), F.lit(0.9)))
    return (
        orders.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("n"), qs.alias("__q"))
        .select(
            "o_orderpriority",
            "n",
            F.round(F.col("__q")[0], 6).alias("p50"),
            F.round(F.col("__q")[1], 6).alias("p90"),
        )
    )


def _zorder_sql() -> str:
    from semantic_cpp_spark.operators.layout import zvalue_sql

    zx = zvalue_sql("(o_custkey % 65536)", "(o_orderkey % 65536)")
    return f"""WITH p AS (SELECT o_custkey % 65536 AS x, o_orderkey % 65536 AS y
                          FROM orders),
    zr AS (SELECT x, y, {zvalue_sql('x', 'y')} AS z FROM p),
    r AS (SELECT x, y, z,
                 row_number() OVER (ORDER BY z, x, y) - 1 AS rk,
                 count(*) OVER () AS n_total
          FROM zr)
    SELECT (rk * 16 // n_total)::BIGINT AS bucket,
           count(*)::BIGINT AS n,
           min(x)::BIGINT AS x_min, max(x)::BIGINT AS x_max,
           min(y)::BIGINT AS y_min, max(y)::BIGINT AS y_max
    FROM r GROUP BY 1"""


@register("rel_zorder_bucket_stats", _zorder_sql())
def rel_zorder_bucket_stats(spark, sf_dir):
    """Z-order (Morton) clustering locality report over orders
    (operators.layout): interleave custkey/orderkey bits, rank by the
    engine ordinal (never a partitionless window), cut into 16
    file-sized runs, report each run's bounding box — the min/max-
    pruning evidence behind OPTIMIZE ZORDER, from pure Column math."""
    from semantic_cpp_spark.operators.layout import zorder_bucket_stats

    orders = load_table(spark, sf_dir, "orders")
    return zorder_bucket_stats(
        orders,
        F.col("o_custkey") % 65536,
        F.col("o_orderkey") % 65536,
        16,
    )


@register(
    "rel_price_histogram",
    """WITH b AS (SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi FROM orders)
       SELECT CASE WHEN hi = lo THEN 0
                   ELSE least(floor((o_totalprice - lo) / ((hi - lo) / 20.0)), 19)
              END::BIGINT AS bucket,
              count(*)::BIGINT AS n,
              round(min(o_totalprice), 2) AS b_min,
              round(max(o_totalprice), 2) AS b_max
       FROM orders, b
       GROUP BY 1""",
)
def rel_price_histogram(spark, sf_dir):
    """Adaptive equi-width histogram (20 buckets over the observed
    [min, max]): bounds are a 1-row aggregate broadcast back over the
    scan, bucketing is a pure map, the rollup is a 20-key aggregate —
    the distribution-profile shape for any numeric column at any scale.
    The max value is clamped into the last bucket (least(…, 19)); a
    degenerate all-equal column (hi = lo) collapses to bucket 0 on both
    engines instead of NaN/null divergence (r3 advisor)."""
    orders = load_table(spark, sf_dir, "orders")
    b = orders.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    )
    bucket = F.when(F.col("hi") == F.col("lo"), F.lit(0)).otherwise(
        F.least(
            F.floor(
                (F.col("o_totalprice") - F.col("lo"))
                / ((F.col("hi") - F.col("lo")) / 20.0)
            ),
            F.lit(19),
        )
    ).cast("long")
    return (
        orders.crossJoin(F.broadcast(b))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("b_min"),
            F.round(F.max("o_totalprice"), 2).alias("b_max"),
        )
    )


# -- round 6: grouping sets + lead/lag order gaps ----------------------------

@register(
    "rel_grouping_sets",
    """SELECT l_returnflag, l_linestatus,
              grouping(l_returnflag)::BIGINT AS g_flag,
              grouping(l_linestatus)::BIGINT AS g_status,
              round(sum(l_quantity), 2) AS sum_qty,
              round(sum(l_extendedprice), 2) AS sum_price,
              count(*) AS n
       FROM lineitem
       GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                               (l_returnflag), ())""",
)
def rel_grouping_sets(spark, sf_dir):
    """GROUPING SETS: detail, per-flag subtotal, and grand total in ONE
    pass (Spark expands the sets in a single Expand+Aggregate — no
    N-scan union). grouping() flags disambiguate rollup NULLs from data
    NULLs. Complements rel_rollup_order_priority / rel_cube_flag_status
    with the explicit-sets form."""
    li = load_table(spark, sf_dir, "lineitem")
    flag, status = F.col("l_returnflag"), F.col("l_linestatus")
    return (
        li.groupingSets([[flag, status], [flag], []], flag, status)
        .agg(
            F.grouping(flag).cast("long").alias("g_flag"),
            F.grouping(status).cast("long").alias("g_status"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "rel_order_gaps_lead_lag",
    """WITH g AS (
      SELECT o_custkey,
             date_diff('day',
                       lag(CAST(o_orderdate AS DATE)) OVER (
                         PARTITION BY o_custkey
                         ORDER BY o_orderdate, o_orderkey),
                       CAST(o_orderdate AS DATE)) AS gap_days
      FROM orders)
    SELECT c_mktsegment,
           count(gap_days) AS n_gaps,
           round(avg(gap_days), 6) AS avg_gap_days,
           max(gap_days) AS max_gap_days
    FROM g JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment""",
)
def rel_order_gaps(spark, sf_dir):
    """Inter-order gap analysis via lag(): days since the customer's
    previous order, aggregated per market segment. The window partitions
    by o_custkey — state is one row per customer, parallelism is the
    number of customers (scales with SF); ties broken by orderkey for a
    deterministic lag. customer carries no broadcast hint (scales with
    SF; AQE decides)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    g = orders.select(
        "o_custkey",
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lag(F.col("o_orderdate").cast("date")).over(w),
        ).cast("long").alias("gap_days"),
    )
    return (
        g.join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.count("gap_days").alias("n_gaps"),
            F.round(F.avg("gap_days"), 6).alias("avg_gap_days"),
            F.max("gap_days").alias("max_gap_days"),
        )
    )


@register(
    "rel_equidepth_histogram",
    """WITH c AS (SELECT quantile_cont(o_totalprice, 0.25) AS c0,
                         quantile_cont(o_totalprice, 0.5) AS c1,
                         quantile_cont(o_totalprice, 0.75) AS c2
                  FROM orders)
       SELECT (CASE WHEN o_totalprice >= c2 THEN 3
                    WHEN o_totalprice >= c1 THEN 2
                    WHEN o_totalprice >= c0 THEN 1 ELSE 0 END)::BIGINT AS bucket,
              count(*) AS n,
              round(min(o_totalprice), 2) AS lo,
              round(max(o_totalprice), 2) AS hi
       FROM orders, c
       GROUP BY bucket""",
)
def rel_equidepth_histogram(spark, sf_dir):
    """Equi-DEPTH histogram of order value: quartile cutoffs via the
    distributed sort + rank-selection percentile path (broadcast 1-row
    cutoffs + CASE — the same scale shape as the quality bands),
    complementing rel_price_histogram's equi-WIDTH form. Bucket
    populations are ~n/4 by construction — the histogram optimizers
    build for selectivity estimation."""
    from semantic_cpp_spark.functions import stats

    orders = load_table(spark, sf_dir, "orders")
    cuts = stats.percentiles_exact_sorted(
        orders, F.col("o_totalprice"), [0.25, 0.5, 0.75],
        ["__c0", "__c1", "__c2"],
    )
    bucket = stats.band_by_cuts(
        F.col("o_totalprice"), ["__c0", "__c1", "__c2"]
    )
    return (
        orders.crossJoin(F.broadcast(cuts))
        .withColumn("bucket", bucket)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


@register(
    "rel_basket_lift",
    """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    tot AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM li),
    item AS (SELECT l_partkey, count(*) AS c FROM li GROUP BY l_partkey),
    p AS (SELECT a.l_partkey AS x, b.l_partkey AS y, count(*) AS support
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          GROUP BY a.l_partkey, b.l_partkey
          HAVING count(*) >= 3)
    SELECT x, y, support::BIGINT AS support,
           round(support::DOUBLE * n_orders / (ix.c * iy.c), 6) AS lift
    FROM p JOIN item ix ON ix.l_partkey = x
           JOIN item iy ON iy.l_partkey = y, tot
    ORDER BY round(support::DOUBLE * n_orders / (ix.c * iy.c), 6) DESC, x, y
    LIMIT 50""",
)
def rel_basket_lift(spark, sf_dir):
    """Market-basket association: the top-50 part pairs by lift
    (P(x,y)/(P(x)·P(y)) over orders) with support ≥ 3 — the classic
    co-occurrence mining query (Agrawal–Srikant association-rule
    support/lift, without the rule expansion).

    Scale shape: the self-join is keyed on l_orderkey with fan-out
    bounded by items-per-order (≤17 in TPC-H → ≤136 pairs/order — never
    quadratic in the table); item counts join back keyed on the part;
    order total rides in as one broadcast scalar; selection is
    TakeOrdered on the ROUNDED lift with (x, y) tie-breaks so the
    boundary is engine-stable. Lift in double (support·N as an int64
    product could overflow at 10⁹ orders). The distinct basket table
    is materialized once (r15): four consumers (order total, item
    counts, both self-join sides) each re-ran the scan + distinct
    exchange when they shared only the DataFrame object."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).distinct().localCheckpoint()
    tot = li.agg(F.count_distinct("l_orderkey").alias("n_orders"))
    item = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c"))
    a, b = li.alias("a"), li.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(F.col("a.l_partkey").alias("x"), F.col("b.l_partkey").alias("y"))
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= 3)
    )
    ix = item.select(F.col("l_partkey").alias("x"), F.col("c").alias("cx"))
    iy = item.select(F.col("l_partkey").alias("y"), F.col("c").alias("cy"))
    lift = F.round(
        F.col("support").cast("double") * F.col("n_orders") / (F.col("cx") * F.col("cy")),
        6,
    )
    return (
        pairs.join(ix, "x")
        .join(iy, "y")
        .crossJoin(F.broadcast(tot))
        .select("x", "y", F.col("support").cast("long").alias("support"), lift.alias("lift"))
        .orderBy(F.desc("lift"), "x", "y")
        .limit(50)
    )


@register(
    "rel_scd2_customer_history",
    """WITH o AS (SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice
                  FROM orders),
    v AS (SELECT o_custkey,
                 row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate, o_orderkey) AS version,
                 o_orderdate AS valid_from,
                 lead(o_orderdate) OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderdate, o_orderkey)
                   AS valid_to,
                 sum(CAST(round(o_totalprice * 100) AS BIGINT))
                   OVER (PARTITION BY o_custkey
                         ORDER BY o_orderdate, o_orderkey
                         ROWS UNBOUNDED PRECEDING) AS cum_cents
          FROM o)
    SELECT o_custkey AS custkey, version::BIGINT AS version,
           valid_from::VARCHAR AS valid_from,
           coalesce(valid_to::VARCHAR, '9999-12-31') AS valid_to,
           round(cum_cents / 100.0, 2) AS cum_spend,
           (valid_to IS NULL) AS is_current
    FROM v""",
)
def rel_scd2_customer_history(spark, sf_dir):
    """Type-2 slowly-changing-dimension build — the lakehouse CDC
    pattern: each customer's order stream becomes versioned validity
    intervals [valid_from, valid_to) with a running lifetime spend and
    an is_current flag (open interval = sentinel high date). ONE window
    per customer carries version, next-date, and the running sum in a
    single exchange+sort; the running sum is exact int64 cents (a
    running DOUBLE sum would drift order-dependently across engines).
    Dates project to strings for the hash compare (repo convention)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    cum = F.sum(
        F.round(F.col("o_totalprice") * 100).cast("long")
    ).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    nxt = F.lead("o_orderdate").over(w)
    return o.select(
        F.col("o_custkey").alias("custkey"),
        F.row_number().over(w).cast("long").alias("version"),
        F.col("o_orderdate").cast("string").alias("valid_from"),
        F.coalesce(nxt.cast("string"), F.lit("9999-12-31")).alias("valid_to"),
        F.round(cum / F.lit(100.0), 2).alias("cum_spend"),
        nxt.isNull().alias("is_current"),
    )


@register(
    "rel_brand_return_rate",
    """SELECT p.p_brand,
              count(*)::BIGINT AS n_items,
              round(sum(l.l_quantity), 2) AS total_qty,
              round(sum(CASE WHEN l.l_returnflag = 'R'
                             THEN l.l_quantity ELSE 0 END), 2) AS returned_qty,
              round(sum(CASE WHEN l.l_returnflag = 'R'
                             THEN l.l_quantity ELSE 0 END)
                    / sum(l.l_quantity), 6) AS return_rate,
              CAST(round(sum(CASE WHEN l.l_returnflag = 'R'
                             THEN CAST(l.l_extendedprice AS DECIMAL(15,2))
                                  * (1 - CAST(l.l_discount AS DECIMAL(15,2)))
                             ELSE 0 END), 2) AS DOUBLE) AS revenue_at_risk
       FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
       GROUP BY p.p_brand""",
)
def rel_brand_return_rate(spark, sf_dir):
    """Per-brand return analysis: return rate by quantity and the
    discounted revenue sitting in returned items — the merchandising
    follow-up to Q10's customer view. One fact⋈dim join (part un-hinted,
    repo convention: it scales with SF, AQE decides) + a brand groupBy;
    2dp-exact fixture sums, ratio rounded once."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    ret = F.col("l_returnflag") == "R"
    rev = money("l_extendedprice") * (1 - money("l_discount"))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.round(F.sum("l_quantity"), 2).alias("total_qty"),
            F.round(F.sum(F.when(ret, F.col("l_quantity")).otherwise(0)), 2).alias("returned_qty"),
            F.round(
                F.sum(F.when(ret, F.col("l_quantity")).otherwise(0))
                / F.sum("l_quantity"),
                6,
            ).alias("return_rate"),
            money_sum(F.when(ret, rev).otherwise(0)).alias("revenue_at_risk"),
        )
    )
