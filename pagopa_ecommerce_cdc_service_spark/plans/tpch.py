"""Relational query suite over the TPC-H-ish testdata (TESTDATA.md).

The reference has no relational layer (SURVEY.md §2.4: no joins/aggregations
exist in it); this suite is the generalized-engine surface required by
BASELINE.json's north star, exercised against the DuckDB oracle.

Scale notes (100 TB design):
- region/nation/supplier/part are dimension tables → every join against them
  is broadcast (Catalyst picks it under the threshold; explicit
  F.broadcast() documents intent and survives stat misestimates).
- fact-fact joins (orders⋈lineitem) shuffle on the join key; AQE handles
  skew/coalescing.
- aggregates are partial-aggregable expressions (map-side combine), never
  Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .helpers import (
    SQL_CHARGE,
    SQL_DISC_PRICE,
    avg_double,
    charge,
    dec,
    disc_price,
    money_sum,
    read,
    registrar,
)

QUERIES = {}
ORACLES = {}
query = registrar(QUERIES, ORACLES)


# ---------------------------------------------------------------------------
# q1: pricing summary report (TPC-H Q1 shape)
# ---------------------------------------------------------------------------
@query(
    "q1_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)      AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM({SQL_DISC_PRICE}) AS DOUBLE)                        AS sum_disc_price,
           CAST(SUM({SQL_CHARGE}) AS DOUBLE)                            AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)      AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE) / COUNT(*)       AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            money_sum(dec("l_quantity"), "sum_qty"),
            money_sum(dec("l_extendedprice"), "sum_base_price"),
            money_sum(disc_price(), "sum_disc_price"),
            money_sum(charge(), "sum_charge"),
            (F.sum(dec("l_quantity")).cast("double") / F.count("*")).alias("avg_qty"),
            (F.sum(dec("l_extendedprice")).cast("double") / F.count("*")).alias("avg_price"),
            (F.sum(dec("l_discount", 3, 2)).cast("double") / F.count("*")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# q3: shipping priority (join customer ⋈ orders ⋈ lineitem, top 10)
# ---------------------------------------------------------------------------
@query(
    "q3_shipping_priority",
    f"""
    SELECT l_orderkey,
           CAST(SUM({SQL_DISC_PRICE}) AS DOUBLE) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1996-06-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1996-06-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = F.lit("1996-06-15 00:00:00").cast("timestamp")
    cust = read(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = read(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = read(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        # customer is NOT hinted: at bench scale Catalyst broadcasts it from
        # size stats anyway, and at 100 TB customer is fact-sized — a forced
        # broadcast would OOM; supplier/nation/region/part stay hinted
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(money_sum(disc_price(), "revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


# ---------------------------------------------------------------------------
# q4: order priority checking (EXISTS semi-join)
# ---------------------------------------------------------------------------
@query(
    "q4_order_priority",
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-04-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-08-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-04-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-08-01 00:00:00").cast("timestamp"))
    )
    li = read(spark, sf_dir, "lineitem")
    joined = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate),
        "left_semi",
    )
    return joined.groupBy("o_orderpriority").agg(F.count("*").alias("order_count"))


# ---------------------------------------------------------------------------
# q5: local supplier volume (6-way join through region)
# ---------------------------------------------------------------------------
@query(
    "q5_local_supplier_volume",
    f"""
    SELECT n_name, CAST(SUM({SQL_DISC_PRICE}) AS DOUBLE) AS revenue
    FROM customer JOIN orders   ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
                  JOIN supplier ON l_suppkey = s_suppkey
                  JOIN nation   ON c_nationkey = n_nationkey
                  JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA' AND c_nationkey = s_nationkey
    GROUP BY n_name
    """,
)
def q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read(spark, sf_dir, "customer")
    orders = read(spark, sf_dir, "orders")
    li = read(spark, sf_dir, "lineitem")
    supp = read(spark, sf_dir, "supplier")
    nation = read(spark, sf_dir, "nation")
    region = read(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(money_sum(disc_price(), "revenue"))
    )


# ---------------------------------------------------------------------------
# q6: forecast revenue change (pure scan + filter + agg; pushdown showcase)
# ---------------------------------------------------------------------------
@query(
    "q6_revenue_change",
    """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                   * CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.04 AND 0.06
      AND l_quantity < 24
    """,
)
def q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.04)
            & (F.col("l_discount") <= 0.06)
            & (F.col("l_quantity") < 24)
        )
        .agg(money_sum(dec("l_extendedprice") * dec("l_discount", 3, 2), "revenue"))
    )


# ---------------------------------------------------------------------------
# q7: volume between two supplier/customer nations
# ---------------------------------------------------------------------------
@query(
    "q7_nation_volume",
    f"""
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(volume) AS DOUBLE) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l_shipdate) AS INTEGER) AS l_year,
             {SQL_DISC_PRICE} AS volume
      FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
                    JOIN orders   ON o_orderkey = l_orderkey
                    JOIN customer ON c_custkey = o_custkey
                    JOIN nation n1 ON s_nationkey = n1.n_nationkey
                    JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
         OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read(spark, sf_dir, "lineitem")
    orders = read(spark, sf_dir, "orders")
    cust = read(spark, sf_dir, "customer")
    supp = read(spark, sf_dir, "supplier")
    n1 = read(spark, sf_dir, "nation").alias("n1")
    n2 = read(spark, sf_dir, "nation").alias("n2")
    df = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), supp.s_nationkey == F.col("n1.n_nationkey"))
        .join(F.broadcast(n2), cust.c_nationkey == F.col("n2.n_nationkey"))
        .filter(
            ((F.col("n1.n_name") == "NATION_1") & (F.col("n2.n_name") == "NATION_2"))
            | ((F.col("n1.n_name") == "NATION_2") & (F.col("n2.n_name") == "NATION_1"))
        )
        .select(
            F.col("n1.n_name").alias("supp_nation"),
            F.col("n2.n_name").alias("cust_nation"),
            F.year("l_shipdate").cast("int").alias("l_year"),
            disc_price().alias("volume"),
        )
    )
    return df.groupBy("supp_nation", "cust_nation", "l_year").agg(
        money_sum(F.col("volume"), "revenue")
    )


# ---------------------------------------------------------------------------
# q10: returned-item reporting (top 20 customers by lost revenue)
# ---------------------------------------------------------------------------
@query(
    "q10_returned_items",
    f"""
    SELECT c_custkey, c_name,
           CAST(SUM({SQL_DISC_PRICE}) AS DOUBLE) AS revenue,
           c_acctbal, n_name
    FROM customer JOIN orders   ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
                  JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read(spark, sf_dir, "customer")
    orders = read(spark, sf_dir, "orders")
    li = read(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = read(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(money_sum(disc_price(), "revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
    )


# ---------------------------------------------------------------------------
# q13: customer order-count distribution (left outer join + double group)
# ---------------------------------------------------------------------------
@query(
    "q13_customer_distribution",
    """
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    """,
)
def q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read(spark, sf_dir, "customer")
    orders = read(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


# ---------------------------------------------------------------------------
# q14: promo revenue share (conditional aggregation ratio)
# ---------------------------------------------------------------------------
@query(
    "q14_promo_share",
    f"""
    SELECT CAST(100.0 AS DOUBLE)
           * CAST(SUM(CASE WHEN p_type LIKE 'PROMO%' THEN {SQL_DISC_PRICE}
                           ELSE CAST(0 AS DECIMAL(17,4)) END) AS DOUBLE)
           / CAST(SUM({SQL_DISC_PRICE}) AS DOUBLE) AS promo_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
    """,
)
def q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    part = read(spark, sf_dir, "part")
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    promo = F.when(F.col("p_type").like("PROMO%"), disc_price()).otherwise(
        F.lit(0).cast("decimal(17,4)")
    )
    return joined.agg(
        (
            F.lit(100.0).cast("double")
            * F.sum(promo).cast("double")
            / F.sum(disc_price()).cast("double")
        ).alias("promo_revenue")
    )


# ---------------------------------------------------------------------------
# q18: large-volume customers (group-having + re-join)
# ---------------------------------------------------------------------------
@query(
    "q18_large_orders",
    """
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
    FROM customer JOIN orders   ON c_custkey = o_custkey
                  JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > CAST(150 AS DECIMAL(12,2))
    )
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    """,
)
def q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read(spark, sf_dir, "customer")
    orders = read(spark, sf_dir, "orders")
    li = read(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(dec("l_quantity")).alias("q"))
        .filter(F.col("q") > F.lit(150).cast("decimal(12,2)"))
        .select("l_orderkey")
    )
    return (
        li.join(big.withColumnRenamed("l_orderkey", "big_orderkey"),
                li.l_orderkey == F.col("big_orderkey"), "left_semi")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(money_sum(dec("l_quantity"), "total_qty"))
    )


# ---------------------------------------------------------------------------
# q19: disjunctive predicate revenue (part ⋈ lineitem, OR-of-ANDs)
# ---------------------------------------------------------------------------
@query(
    "q19_disjunctive_revenue",
    f"""
    SELECT CAST(SUM({SQL_DISC_PRICE}) AS DOUBLE) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity >= 5)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity >= 15)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50 AND l_quantity >= 25)
    """,
)
def q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read(spark, sf_dir, "lineitem")
    part = read(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), part.p_partkey == li.l_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15) & (F.col("l_quantity") >= 5))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(10, 30) & (F.col("l_quantity") >= 15))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(20, 50) & (F.col("l_quantity") >= 25))
    )
    return j.filter(cond).agg(money_sum(disc_price(), "revenue"))


# ---------------------------------------------------------------------------
# q22-ish: idle high-balance customers (scalar subquery + anti-join);
# idle := no orders since 1999 (every customer in this data has orders)
# ---------------------------------------------------------------------------
@query(
    "q22_idle_customers",
    """
    SELECT cntrycode, COUNT(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
    FROM (
      SELECT CAST(c_nationkey % 10 AS INTEGER) AS cntrycode, c_acctbal
      FROM customer
      WHERE c_acctbal > (
              SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)
              FROM customer WHERE c_acctbal > 0.0)
        AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                          AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
    ) custsale
    GROUP BY cntrycode
    """,
)
def q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read(spark, sf_dir, "customer")
    orders = read(spark, sf_dir, "orders")
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(
        (F.sum(dec("c_acctbal")).cast("double") / F.count("c_acctbal")).alias("a")
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("a"))
        .join(
            orders.filter(
                F.col("o_orderdate") >= F.lit("1999-01-01 00:00:00").cast("timestamp")
            ),
            cust.c_custkey == orders.o_custkey,
            "left_anti",
        )
        .select((F.col("c_nationkey") % 10).cast("int").alias("cntrycode"), "c_acctbal")
        .groupBy("cntrycode")
        .agg(
            F.count("*").alias("numcust"),
            money_sum(dec("c_acctbal"), "totacctbal"),
        )
    )


# ---------------------------------------------------------------------------
# rollup: revenue by region/nation with subtotals (grouping sets)
# ---------------------------------------------------------------------------
@query(
    "q_rollup_revenue",
    f"""
    SELECT COALESCE(r_name, 'ALL') AS region_name,
           COALESCE(n_name, 'ALL') AS nation_name,
           CAST(SUM({SQL_DISC_PRICE}) AS DOUBLE) AS revenue,
           COUNT(*) AS n_lineitems
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
                  JOIN nation   ON s_nationkey = n_nationkey
                  JOIN region   ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read(spark, sf_dir, "lineitem")
    supp = read(spark, sf_dir, "supplier")
    nation = read(spark, sf_dir, "nation")
    region = read(spark, sf_dir, "region")
    j = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return (
        j.rollup("r_name", "n_name")
        .agg(money_sum(disc_price(), "revenue"), F.count("*").alias("n_lineitems"))
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region_name"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation_name"),
            "revenue",
            "n_lineitems",
        )
    )


# ---------------------------------------------------------------------------
# supplier revenue ranking per year (fact-dim join + window over agg)
# ---------------------------------------------------------------------------
@query(
    "q_top_suppliers_yearly",
    f"""
    SELECT o_year, s_name, revenue, rk FROM (
      SELECT o_year, s_name, revenue,
             RANK() OVER (PARTITION BY o_year ORDER BY revenue DESC, s_name) AS rk
      FROM (
        SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year, s_name,
               CAST(SUM({SQL_DISC_PRICE}) AS DOUBLE) AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                      JOIN supplier ON l_suppkey = s_suppkey
        GROUP BY CAST(year(o_orderdate) AS INTEGER), s_name
      ) t
    ) ranked
    WHERE rk <= 3
    """,
)
def q_top_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = read(spark, sf_dir, "lineitem")
    orders = read(spark, sf_dir, "orders")
    supp = read(spark, sf_dir, "supplier")
    per = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"), "s_name")
        .agg(money_sum(disc_price(), "revenue"))
    )
    w = Window.partitionBy("o_year").orderBy(F.desc("revenue"), F.asc("s_name"))
    return (
        per.withColumn("rk", F.rank().over(w).cast("long"))
        .filter(F.col("rk") <= 3)
        .select("o_year", "s_name", "revenue", "rk")
    )


# ---------------------------------------------------------------------------
# q2-ish: min-cost supplier per part in a region (correlated MIN subquery).
# No partsupp table in the testdata: lineitem stands in as the part-supplier
# relation, supply cost := MIN(l_extendedprice) ever charged for the pair.
# ---------------------------------------------------------------------------
@query(
    "q2_min_cost_supplier",
    """
    WITH ps AS (
      SELECT l_partkey AS partkey, l_suppkey AS suppkey,
             MIN(CAST(l_extendedprice AS DECIMAL(12,2))) AS supplycost
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    eu AS (
      SELECT partkey, suppkey, supplycost, s_acctbal, s_name, n_name
      FROM ps JOIN supplier ON s_suppkey = suppkey
              JOIN nation   ON s_nationkey = n_nationkey
              JOIN region   ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'
    )
    SELECT s_acctbal, s_name, n_name, p_partkey,
           CAST(supplycost AS DOUBLE) AS supplycost
    FROM eu JOIN part ON p_partkey = partkey
    WHERE p_size = 25 AND p_type = 'SMALL'
      AND supplycost = (SELECT MIN(e2.supplycost) FROM eu e2
                        WHERE e2.partkey = p_partkey)
    """,
)
def q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = read(spark, sf_dir, "lineitem")
    supp = read(spark, sf_dir, "supplier")
    nation = read(spark, sf_dir, "nation")
    region = read(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    part = read(spark, sf_dir, "part").filter(
        (F.col("p_size") == 25) & (F.col("p_type") == "SMALL")
    )
    ps = li.groupBy(
        F.col("l_partkey").alias("partkey"), F.col("l_suppkey").alias("suppkey")
    ).agg(F.min(dec("l_extendedprice")).alias("supplycost"))
    eu = (
        ps.join(F.broadcast(supp), ps.suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("partkey", "supplycost", "s_acctbal", "s_name", "n_name")
    )
    # correlated MIN → per-part window min over the region-filtered set
    w = Window.partitionBy("partkey")
    return (
        eu.withColumn("min_cost", F.min("supplycost").over(w))
        .filter(F.col("supplycost") == F.col("min_cost"))
        .join(F.broadcast(part), F.col("partkey") == part.p_partkey)
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey",
            F.col("supplycost").cast("double").alias("supplycost"),
        )
    )


# ---------------------------------------------------------------------------
# q8: national market share inside a region (8-table join, ratio of
# conditional aggregates per year)
# ---------------------------------------------------------------------------
@query(
    "q8_market_share",
    f"""
    SELECT o_year,
           CAST(SUM(CASE WHEN nation = 'NATION_7' THEN volume
                         ELSE CAST(0 AS DECIMAL(17,4)) END) AS DOUBLE)
           / CAST(SUM(volume) AS DOUBLE) AS mkt_share
    FROM (
      SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
             {SQL_DISC_PRICE} AS volume,
             n2.n_name AS nation
      FROM lineitem JOIN part ON p_partkey = l_partkey
                    JOIN supplier ON s_suppkey = l_suppkey
                    JOIN orders ON l_orderkey = o_orderkey
                    JOIN customer ON o_custkey = c_custkey
                    JOIN nation n1 ON c_nationkey = n1.n_nationkey
                    JOIN region ON n1.n_regionkey = r_regionkey
                    JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
        AND o_orderdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
                            AND TIMESTAMP '1996-12-31 00:00:00'
    ) all_nations
    GROUP BY o_year
    """,
)
def q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read(spark, sf_dir, "lineitem")
    part = read(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    supp = read(spark, sf_dir, "supplier")
    orders = read(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between(
            F.lit("1995-01-01 00:00:00").cast("timestamp"),
            F.lit("1996-12-31 00:00:00").cast("timestamp"),
        )
    )
    cust = read(spark, sf_dir, "customer")
    n1 = read(spark, sf_dir, "nation").alias("n1")
    n2 = read(spark, sf_dir, "nation").alias("n2")
    region = read(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    vol = F.when(F.col("n2.n_name") == "NATION_7", disc_price()).otherwise(
        F.lit(0).cast("decimal(17,4)")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), cust.c_nationkey == F.col("n1.n_nationkey"))
        .join(F.broadcast(region), F.col("n1.n_regionkey") == region.r_regionkey)
        .join(F.broadcast(n2), supp.s_nationkey == F.col("n2.n_nationkey"))
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            (F.sum(vol).cast("double") / F.sum(disc_price()).cast("double")).alias(
                "mkt_share"
            )
        )
    )


# ---------------------------------------------------------------------------
# q9-ish: product-type profit by nation and year (no partsupp → profit is
# the discounted price; the join/aggregate shape is what matters)
# ---------------------------------------------------------------------------
@query(
    "q9_product_profit",
    f"""
    SELECT nation, o_year, CAST(SUM(amount) AS DOUBLE) AS sum_profit
    FROM (
      SELECT n_name AS nation,
             CAST(year(o_orderdate) AS INTEGER) AS o_year,
             {SQL_DISC_PRICE} AS amount
      FROM lineitem JOIN part ON p_partkey = l_partkey
                    JOIN supplier ON s_suppkey = l_suppkey
                    JOIN orders ON o_orderkey = l_orderkey
                    JOIN nation ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%red%'
    ) profit
    GROUP BY nation, o_year
    """,
)
def q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read(spark, sf_dir, "lineitem")
    part = read(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    supp = read(spark, sf_dir, "supplier")
    orders = read(spark, sf_dir, "orders")
    nation = read(spark, sf_dir, "nation")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(money_sum(disc_price(), "sum_profit"))
    )


# ---------------------------------------------------------------------------
# q11-ish: important parts by shipped value for one nation's suppliers
# (aggregate + scalar-subquery threshold). partsupp → lineitem stand-in.
# ---------------------------------------------------------------------------
@query(
    "q11_important_parts",
    f"""
    WITH pv AS (
      SELECT l_partkey AS partkey, SUM({SQL_DISC_PRICE}) AS value
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
                    JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_7'
      GROUP BY l_partkey
    )
    SELECT partkey, CAST(value AS DOUBLE) AS value
    FROM pv
    -- scale-free threshold: value > 3x the average part value (TPC-H scales
    -- its fraction by 1/SF). Cross-multiplied so both engines compare exact
    -- decimals -- no engine-specific decimal-division rounding
    WHERE value * (SELECT COUNT(*) FROM pv) > (SELECT SUM(value) * 3 FROM pv)
    """,
)
def q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read(spark, sf_dir, "lineitem")
    supp = read(spark, sf_dir, "supplier")
    nation = read(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    pv = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(F.sum(disc_price()).alias("value"))
    )
    thresh = pv.agg(
        F.sum("value").alias("total"), F.count("*").alias("cnt")
    )
    return (
        pv.crossJoin(F.broadcast(thresh))
        .filter(F.col("value") * F.col("cnt") > F.col("total") * 3)
        .select("partkey", F.col("value").cast("double").alias("value"))
    )


# ---------------------------------------------------------------------------
# q12-ish: late shipments by return class × order priority (no
# shipmode/receiptdate → late := shipped >90 days after order date)
# ---------------------------------------------------------------------------
@query(
    "q12_late_shipments",
    """
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_priority_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_priority_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
      AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_returnflag
    """,
)
def q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read(spark, sf_dir, "orders")
    li = read(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAY"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_priority_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_priority_count"),
        )
    )


# ---------------------------------------------------------------------------
# q15: top supplier by quarterly revenue (CTE reused + scalar MAX equality)
# ---------------------------------------------------------------------------
@query(
    "q15_top_supplier",
    f"""
    WITH revenue0 AS (
      SELECT l_suppkey AS supplier_no, SUM({SQL_DISC_PRICE}) AS r
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, CAST(r AS DOUBLE) AS total_revenue
    FROM supplier JOIN revenue0 ON s_suppkey = supplier_no
    WHERE r = (SELECT MAX(r) FROM revenue0)
    """,
)
def q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    supp = read(spark, sf_dir, "supplier")
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(disc_price()).alias("r")
    )
    mx = rev.agg(F.max("r").alias("mx"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("r") == F.col("mx"))
        .join(F.broadcast(supp), F.col("supplier_no") == supp.s_suppkey)
        .select("s_suppkey", "s_name", F.col("r").cast("double").alias("total_revenue"))
    )


# ---------------------------------------------------------------------------
# q16-ish: supplier count per part profile, excluding bad suppliers
# (NOT IN anti-join + COUNT DISTINCT). partsupp → lineitem pairs.
# ---------------------------------------------------------------------------
@query(
    "q16_part_supplier_count",
    """
    SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1' AND p_type NOT LIKE 'MEDIUM%'
      AND p_size IN (1, 4, 9, 16, 25, 36, 49)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    """,
)
def q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read(spark, sf_dir, "lineitem")
    part = read(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (~F.col("p_type").like("MEDIUM%"))
        & (F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49))
    )
    bad = read(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


# ---------------------------------------------------------------------------
# q17: small-quantity-order revenue (correlated AVG per part)
# ---------------------------------------------------------------------------
@query(
    "q17_small_qty_revenue",
    """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0
           AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#3' AND p_type = 'ECONOMY'
      AND l_quantity < (SELECT 0.2 * AVG(l_quantity) FROM lineitem l2
                        WHERE l2.l_partkey = p_partkey)
    """,
)
def q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read(spark, sf_dir, "lineitem")
    part = read(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#3") & (F.col("p_type") == "ECONOMY")
    )
    # l_quantity is integer-valued → SUM/COUNT in double is exact and
    # order-independent, so the 0.2*AVG threshold bit-matches DuckDB
    per_part = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_thresh")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(per_part), li.l_partkey == F.col("pk"))
        .filter(F.col("l_quantity") < F.col("qty_thresh"))
        .agg(
            (F.sum(dec("l_extendedprice")).cast("double") / F.lit(7.0)).alias(
                "avg_yearly"
            )
        )
    )


# ---------------------------------------------------------------------------
# q20-ish: suppliers shipping significant volumes of a part family
# (IN-subquery chain → semi-join onto an aggregate-HAVING set)
# ---------------------------------------------------------------------------
@query(
    "q20_volume_suppliers",
    """
    SELECT s_suppkey, s_name, s_acctbal
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_3'
      AND s_suppkey IN (
        SELECT l_suppkey
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_name LIKE 'red%'
          AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY l_suppkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > CAST(500 AS DECIMAL(12,2))
      )
    """,
)
def q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    part = read(spark, sf_dir, "part").filter(F.col("p_name").like("red%"))
    supp = read(spark, sf_dir, "supplier")
    nation = read(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    volume = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum(dec("l_quantity")).alias("q"))
        .filter(F.col("q") > F.lit(500).cast("decimal(12,2)"))
        .select("l_suppkey")
    )
    return (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(volume, supp.s_suppkey == volume.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name", "s_acctbal")
    )


# ---------------------------------------------------------------------------
# q21-ish: suppliers who alone shipped late in multi-supplier orders
# (EXISTS + NOT EXISTS → semi- + anti-join with non-equi conditions).
# No receiptdate → late := shipped >60 days after the order date.
# ---------------------------------------------------------------------------
@query(
    "q21_waiting_orders",
    """
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
                  JOIN orders ON o_orderkey = l1.l_orderkey
                  JOIN nation ON s_nationkey = n_nationkey
    WHERE o_orderstatus = 'F' AND n_name = 'NATION_2'
      AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY s_name
    """,
)
def q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read(spark, sf_dir, "lineitem")
    orders = read(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    supp = read(spark, sf_dir, "supplier")
    nation = read(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_2")
    late_cutoff = F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")
    l1 = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.col("l_shipdate") > late_cutoff)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select("l_orderkey", "l_suppkey", "s_name", "o_orderdate")
        .alias("l1")
    )
    l2 = li.select("l_orderkey", "l_suppkey").alias("l2")
    l3 = li.select("l_orderkey", "l_suppkey", "l_shipdate").alias("l3")
    with_other = l1.join(
        l2,
        (F.col("l2.l_orderkey") == F.col("l1.l_orderkey"))
        & (F.col("l2.l_suppkey") != F.col("l1.l_suppkey")),
        "left_semi",
    )
    only_late = with_other.join(
        l3,
        (F.col("l3.l_orderkey") == F.col("l1.l_orderkey"))
        & (F.col("l3.l_suppkey") != F.col("l1.l_suppkey"))
        & (F.col("l3.l_shipdate") > F.col("l1.o_orderdate") + F.expr("INTERVAL 60 DAY")),
        "left_anti",
    )
    return only_late.groupBy("s_name").agg(F.count("*").alias("numwait"))


# ---------------------------------------------------------------------------
# bucketed co-located fact-fact join: both fact tables are written
# bucketBy(8, orderkey) + sortBy, read back through the catalog, and joined
# — Spark plans a sort-merge join with ZERO exchanges (bucket layout
# satisfies both sides' distribution requirement; plan-asserted in
# tests/test_plan_quality.py). THE pre-shuffle technique for a 100 TB
# pipeline: pay the orderkey shuffle once at ingest, then every
# orders⋈lineitem join — the workload's hottest shape — runs
# exchange-free forever. The oracle is the plain join: bucketing must be
# invisible in values.
# ---------------------------------------------------------------------------
@query(
    "q_bucketed_colocated_join",
    """
    SELECT o.o_orderpriority,
           COUNT(*) AS n_lineitems,
           COUNT(DISTINCT o.o_orderkey) AS n_orders,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(3,2)))) AS DOUBLE)
             AS revenue
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def q_bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .helpers import gate_workdir

    workdir = gate_workdir("bucket-join-gate-")
    tables = {}
    # deterministic table names + overwrite: repeated gate/bench runs in a
    # long-lived session replace the catalog entries instead of leaking a
    # uuid-named pair per invocation
    for t, key in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
        name = f"bkt_{t}_gate"
        (
            read(spark, sf_dir, t)
            .write.bucketBy(8, key)
            .sortBy(key)
            .option("path", f"{workdir}/{name}")
            .mode("overwrite")
            .saveAsTable(name)
        )
        tables[t] = name
    o = spark.table(tables["orders"])
    li = spark.table(tables["lineitem"])
    joined = o.join(li, o["o_orderkey"] == li["l_orderkey"])
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_lineitems"),
        F.count_distinct("o_orderkey").alias("n_orders"),
        money_sum(disc_price(), "revenue"),
    )


# ---------------------------------------------------------------------------
# Z-ORDER clustered layout + box scan: orders rewritten on the Morton key
# of (o_custkey, days(o_orderdate)) — the multi-column locality layout
# (Delta/Iceberg OPTIMIZE ZORDER BY, built here from primitives:
# operators/layout.py). A single-column sort prunes one dimension and
# leaves every file spanning the other's full range; the Morton layout
# gives every file a narrow box in BOTH, so parquet min/max footer stats
# skip most files for any (customer × date) box predicate —
# tests/test_zorder_layout.py measures exactly that against a date-sorted
# twin of the same data. The oracle is the plain filtered aggregate over
# the original table: layout must be invisible in values.
# ---------------------------------------------------------------------------
@query(
    "q_zorder_box_scan",
    """
    SELECT COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS sum_price
    FROM orders
    WHERE o_custkey < 200 AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    """,
)
def q_zorder_box_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from ..operators.layout import write_zordered
    from .helpers import gate_workdir

    orders = read(spark, sf_dir, "orders")
    workdir = gate_workdir("zorder-gate-")
    dest = f"{workdir}/orders_z_{uuid.uuid4().hex[:8]}"
    write_zordered(
        orders,
        dest,
        F.col("o_custkey"),
        F.datediff(F.col("o_orderdate"), F.lit("1992-01-01").cast("date")),
        n_files=16,
    )
    laid = spark.read.parquet(dest)
    return laid.filter(
        (F.col("o_custkey") < 200)
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    ).agg(
        F.count("*").alias("n_orders"),
        money_sum(dec("o_totalprice", 14, 2), "sum_price"),
    )


# ---------------------------------------------------------------------------
# cube: revenue over ALL subsets of (region, returnflag) — the full
# grouping-sets lattice (2^2 sets in one pass; Spark expands the lattice
# map-side and aggregates once, no per-set rescan). GROUPING() flags
# distinguish the subtotal rows from genuine NULL keys cross-engine.
# ---------------------------------------------------------------------------
@query(
    "q_cube_revenue",
    f"""
    SELECT COALESCE(r_name, 'ALL') AS region_name,
           COALESCE(l_returnflag, 'ALL') AS returnflag,
           CAST(GROUPING(r_name) AS BIGINT) AS g_region,
           CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
           CAST(SUM({SQL_DISC_PRICE}) AS DOUBLE) AS revenue,
           COUNT(*) AS n_lineitems
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
                  JOIN nation   ON s_nationkey = n_nationkey
                  JOIN region   ON n_regionkey = r_regionkey
    GROUP BY CUBE (r_name, l_returnflag)
    """,
)
def q_cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read(spark, sf_dir, "lineitem")
    supp = read(spark, sf_dir, "supplier")
    nation = read(spark, sf_dir, "nation")
    region = read(spark, sf_dir, "region")
    j = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return (
        j.cube("r_name", "l_returnflag")
        .agg(
            F.grouping("r_name").cast("long").alias("g_region"),
            F.grouping("l_returnflag").cast("long").alias("g_flag"),
            money_sum(disc_price(), "revenue"),
            F.count("*").alias("n_lineitems"),
        )
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region_name"),
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            "g_region",
            "g_flag",
            "revenue",
            "n_lineitems",
        )
    )
