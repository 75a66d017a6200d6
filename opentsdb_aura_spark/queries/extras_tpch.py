"""TPC-H-shaped extras beyond queries/tpch.py: join-strategy and
filter-shape variants over the relational tables.

Split from queries/extras.py (round 6): registration side-effects
only -- query names, oracles, and behavior unchanged.
"""

from __future__ import annotations

from opentsdb_aura_spark.queries.base import *  # noqa: F401,F403
from opentsdb_aura_spark.queries.base import _r  # shared underscore helper



@register(
    "tpch_simple_filter_agg",
    """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1995-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""",
)
def tpch_simple_filter_agg(spark, sf_dir):
    """Relational health: TPC-H Q6-style selective filter + agg (all
    predicates push to the scan)."""
    ensure_session_confs(spark)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return li.where(
        (F.col("l_shipdate") >= F.lit("1994-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(_r(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))


@register(
    "tpch_local_supplier_volume",
    """SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA' AND c_nationkey = s_nationkey
GROUP BY 1""",
)
def tpch_local_supplier_volume(spark, sf_dir):
    """TPC-H Q5 shape: five-way join with the local-supplier condition
    (customer and supplier in the same nation).  Only the fixed-size
    dims (nation, region) carry broadcast hints; customer/supplier/
    orders are O(SF) and left to AQE sizing.  The region filter
    reaches the nation join before any fact row is touched."""
    ensure_session_confs(spark)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    region = spark.read.parquet(f"{sf_dir}/region.parquet").where(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey))
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(_r(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


@register(
    "tpch_semi_join_orders",
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity > 45)
GROUP BY 1""",
)
def tpch_semi_join_orders(spark, sf_dir):
    """Relational health: EXISTS → left_semi join."""
    ensure_session_confs(spark)
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").where(F.col("l_quantity") > 45)
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@register(
    "tpch_anti_join_customers",
    """WITH cust AS (
  SELECT c_custkey, c_mktsegment FROM customer
  UNION ALL
  SELECT c_custkey + 10000000, c_mktsegment FROM customer WHERE c_custkey % 10 = 0)
SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_customers
FROM cust
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY 1""",
)
def tpch_anti_join_customers(spark, sf_dir):
    """Relational health: NOT EXISTS → left_anti join (customers who
    never ordered).

    Every fixture customer has orders, so the anti-join was a 0-row
    no-op; plant orphans (r6 dhash recipe): every c_custkey % 10 == 0
    re-appears shifted by +1e7 — an id no order references — so the
    anti-join emits exactly the planted orphans, grouped by segment."""
    ensure_session_confs(spark)
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_mktsegment"
    )
    orphans = cust.where(F.col("c_custkey") % 10 == 0).select(
        (F.col("c_custkey") + 10000000).alias("c_custkey"), "c_mktsegment"
    )
    cust = cust.unionByName(orphans)
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )


@register(
    "tpch_promo_revenue",
    """SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                                     THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
                    / sum(l_extendedprice * (1 - l_discount)), 6) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-02-01 00:00:00'""",
)
def tpch_promo_revenue(spark, sf_dir):
    """TPC-H Q14 shape: selective fact filter, join to the part dim,
    conditional-aggregate ratio in one pass.  The month filter pushes
    to the lineitem scan; part is O(SF) so no forced broadcast — AQE
    size-picks (broadcast at bench SF)."""
    ensure_session_confs(spark)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-02-01 00:00:00").cast("timestamp"))
    )
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return li.join(part, li.l_partkey == part.p_partkey).agg(
        _r(F.lit(100.0) * F.sum(promo) / F.sum(rev), 6).alias("promo_revenue_pct")
    )


@register(
    "tpch_large_orders",
    """SELECT c_name, o_orderkey, round(o_totalprice, 2) AS total_price,
       round(sum(l_quantity), 2) AS total_qty
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                     GROUP BY 1 HAVING sum(l_quantity) > 300)
GROUP BY 1, 2, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 20""",
)
def tpch_large_orders(spark, sf_dir):
    """TPC-H Q18 shape: aggregate subquery (orders whose line quantities
    sum past a threshold) feeding a semi-join, then re-aggregate and
    top-20.  The HAVING pre-aggregate shrinks the fact table to a few
    keys before any dimension is touched; the final ordering is a
    TakeOrderedAndProject, not a global sort."""
    ensure_session_confs(spark)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    big = li.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("_q")).where(F.col("_q") > 300)
    return (
        li.join(big.select("l_orderkey"), "l_orderkey", "left_semi")
        .join(orders, F.col("l_orderkey") == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_name", "o_orderkey", "o_totalprice")
        .agg(_r(F.sum("l_quantity"), 2).alias("total_qty"))
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(20)
        .select("c_name", "o_orderkey", _r("o_totalprice", 2).alias("total_price"), "total_qty")
    )


@register(
    "tpch_returned_items",
    """SELECT c_custkey, c_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       round(c_acctbal, 2) AS acctbal
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
GROUP BY 1, 2, c_acctbal
ORDER BY revenue DESC, c_custkey
LIMIT 20""",
)
def tpch_returned_items(spark, sf_dir):
    """TPC-H Q10 shape: who returned the most last quarter — two fact
    filters (return flag on lineitem, quarter on orders) both push to
    their scans before the joins; top-20 via TakeOrderedAndProject."""
    ensure_session_confs(spark)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").where(F.col("l_returnflag") == "R")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
    )
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name", "c_acctbal")
        .agg(_r(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
        .select("c_custkey", "c_name", "revenue", _r("c_acctbal", 2).alias("acctbal"))
    )


@register(
    "tpch_late_orders_priority",
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY 1""",
)
def tpch_late_orders_priority(spark, sf_dir):
    """TPC-H Q4 shape (adapted: the driver's lineitem has no
    commit/receipt dates, so "late" = shipped >60 days after the order
    date): correlated EXISTS with a cross-table predicate → left_semi
    join carrying the inequality in the join condition; counts per
    priority after."""
    ensure_session_confs(spark)
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01 00:00:00").cast("timestamp"))
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    cond = (orders.o_orderkey == li.l_orderkey) & (
        li.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 60 DAYS")
    )
    return (
        orders.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@register(
    "tpch_order_count_distribution",
    """WITH c_orders AS (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY 1)
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM c_orders GROUP BY 1""",
)
def tpch_order_count_distribution(spark, sf_dir):
    """TPC-H Q13 shape: per-customer order counts via a LEFT join (zero
    orders must count), then the distribution of those counts — an
    aggregate of an aggregate, two well-combined shuffles."""
    ensure_session_confs(spark)
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@register(
    "tpch_small_quantity_revenue",
    """SELECT round(sum(l_extendedprice) / 7.0, 4) AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#23'
  AND l_quantity < (SELECT 0.2 * avg(l_quantity) FROM lineitem l2
                    WHERE l2.l_partkey = lineitem.l_partkey)""",
)
def tpch_small_quantity_revenue(spark, sf_dir):
    """TPC-H Q17 shape: correlated scalar subquery (per-part average
    quantity) de-correlated into an aggregate + equi-join — the
    per-part averages frame is O(|part|), so AQE broadcast-picks it;
    the brand filter prunes the part dim before the fact join."""
    ensure_session_confs(spark)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    part = spark.read.parquet(f"{sf_dir}/part.parquet").where(F.col("p_brand") == "Brand#23")
    avg_q = li.groupBy("l_partkey").agg((F.lit(0.2) * F.avg("l_quantity")).alias("_thr"))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(avg_q.withColumnRenamed("l_partkey", "_pk"), F.col("l_partkey") == F.col("_pk"))
        .where(F.col("l_quantity") < F.col("_thr"))
        .agg(_r(F.sum("l_extendedprice") / 7.0, 4).alias("avg_yearly"))
    )


@register(
    "tpch_disjunctive_filter",
    """SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)""",
)
def tpch_disjunctive_filter(spark, sf_dir):
    """TPC-H Q19 shape: disjunctive cross-table predicates.  The
    single-table residues of the OR (quantity ∈ [1,30]; brand ∈ the
    three literals) are stated explicitly so each reaches its own scan
    as a pushed filter — Catalyst does not factor disjunctions across
    a join on its own, and at 100 TB the unpushed variant reads every
    lineitem row."""
    ensure_session_confs(spark)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").where(
        (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 30)
    )
    part = spark.read.parquet(f"{sf_dir}/part.parquet").where(
        F.col("p_brand").isin("Brand#12", "Brand#23", "Brand#34")
    )
    q = F.col("l_quantity")
    sz = F.col("p_size")
    cond = (
        ((F.col("p_brand") == "Brand#12") & sz.between(1, 5) & q.between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & sz.between(1, 10) & q.between(10, 20))
        | ((F.col("p_brand") == "Brand#34") & sz.between(1, 15) & q.between(20, 30))
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .where(cond)
        .agg(_r(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


@register(
    "tpch_idle_rich_customers",
    """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_cust,
       round(sum(c_acctbal), 2) AS total_bal
FROM customer
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
GROUP BY 1""",
)
def tpch_idle_rich_customers(spark, sf_dir):
    """TPC-H Q22 shape: uncorrelated scalar subquery (global average
    balance — a 1-row broadcast) gating an anti-join against the
    RECENT order log (customers idle since 2000; the date filter
    pushes to the orders scan before the anti-join, shrinking its
    build side the way Q22's window does)."""
    ensure_session_confs(spark)
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").where(
        F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp")
    )
    avg_bal = cust.where(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal").alias("_avg"))
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("_avg"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_cust"),
            _r(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
    )


