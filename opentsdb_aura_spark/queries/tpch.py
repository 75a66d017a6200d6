"""Relational health checks (TPC-H-ish shapes).

Split from the monolithic catalog.py (round 5): registration
side-effects only — query names, oracles, and behavior unchanged.
"""

from __future__ import annotations

from opentsdb_aura_spark.queries.base import *  # noqa: F401,F403
from opentsdb_aura_spark.queries.base import _r  # shared underscore helper


# ============================================================ relational health (TPC-H-ish)


@register(
    "tpch_pricing_summary",
    """SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_discount), 6) AS avg_disc,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY 1, 2""",
)
def tpch_pricing_summary(spark, sf_dir):
    """Relational health check: TPC-H Q1-style pricing summary."""
    ensure_session_confs(spark)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _r(F.sum("l_quantity"), 2).alias("sum_qty"),
            _r(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            _r(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            _r(F.avg("l_quantity"), 4).alias("avg_qty"),
            _r(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "tpch_revenue_by_nation",
    """SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY 1""",
)
def tpch_revenue_by_nation(spark, sf_dir):
    """Relational health check: multi-join revenue rollup.

    Only ``nation`` (fixed 25 rows at every SF) carries a broadcast
    hint.  ``customer`` is O(SF) — ~15 M rows / several GB at sf100 —
    so a forced broadcast would OOM executors at scale; AQE +
    autoBroadcastJoinThreshold size-pick it instead (still a
    BroadcastHashJoin at small SF, plan-asserted in test_plans)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(_r(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


@register(
    "tpch_shipping_priority",
    """SELECT l_orderkey,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       CAST(floor(epoch(o_orderdate)) AS BIGINT) AS order_epoch,
       o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate > TIMESTAMP '1998-01-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10""",
)
def tpch_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape: selective dimension filter on customer,
    aggregate, top-10 by revenue (TakeOrderedAndProject — no global
    sort materializes).  No forced broadcast on customer: it is O(SF),
    so the hint is left to AQE/autoBroadcastJoinThreshold, which still
    picks BroadcastHashJoin at small SF (plan-asserted)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    cutoff = "1998-01-01"
    return (
        li.where(F.col("l_shipdate") > F.lit(cutoff).cast("timestamp"))
        .join(
            orders.where(F.col("o_orderdate") < F.lit(cutoff).cast("timestamp")),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            cust.where(F.col("c_mktsegment") == "BUILDING"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_r(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.floor(F.col("o_orderdate").cast("timestamp").cast("double")).cast("bigint").alias("order_epoch"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@register(
    "tpch_volume_shipping",
    """SELECT supp_nation, cust_nation, l_year,
       CAST(round(sum(volume), 2) AS DOUBLE) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(l_shipdate) AS BIGINT) AS l_year,
         CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18, 4)) AS volume
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
      OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3'))
) GROUP BY 1, 2, 3""",
)
def tpch_volume_shipping(spark, sf_dir):
    """TPC-H Q7 shape (volume shipping): revenue between two nations in
    both directions by ship year — a 5-way join where the same dim
    (nation) joins twice under different roles.  Both nation joins are
    tiny dims AQE broadcasts; the fact-side shuffles stay on the join
    keys."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    n1 = nat.select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    n2 = nat.select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation"))
    pair = (
        (F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_8")
    ) | ((F.col("supp_nation") == "NATION_8") & (F.col("cust_nation") == "NATION_3"))
    return (
        li.join(supp, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .join(n1, F.col("s_nationkey") == F.col("n1_key"))
        .join(n2, F.col("c_nationkey") == F.col("n2_key"))
        .where(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year"))
        .agg(
            F.round(
                F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")), 2
            )
            .cast("double")
            .alias("revenue")
        )
    )


@register(
    "tpch_market_share",
    """SELECT o_year,
       round(CAST(sum(CASE WHEN nation = 'NATION_3' THEN volume ELSE CAST(0 AS DECIMAL(18, 4)) END) AS DOUBLE)
             / CAST(sum(volume) AS DOUBLE), 6) AS mkt_share
FROM (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
         CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18, 4)) AS volume,
         n2.n_name AS nation
  FROM lineitem
  JOIN part ON p_partkey = l_partkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region ON n1.n_regionkey = r_regionkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
) GROUP BY 1""",
)
def tpch_market_share(spark, sf_dir):
    """TPC-H Q8 shape (national market share): one nation's share of
    ECONOMY-part revenue sold into ASIA customers, by order year — a
    7-way join with region scoping on the customer side and the share
    computed as a conditional-sum ratio in ONE aggregation (no
    self-join of the revenue stream)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    n1 = nat.select(F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region"))
    n2 = nat.select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation"))
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    return (
        li.join(part.where(F.col("p_type") == "ECONOMY"), F.col("p_partkey") == F.col("l_partkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .join(n1, F.col("c_nationkey") == F.col("n1_key"))
        .join(region.where(F.col("r_name") == "ASIA"), F.col("n1_region") == F.col("r_regionkey"))
        .join(supp, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(n2, F.col("s_nationkey") == F.col("n2_key"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            _r(
                F.sum(F.when(F.col("nation") == "NATION_3", vol).otherwise(F.lit(0).cast("decimal(18,4)"))).cast("double")
                / F.sum(vol).cast("double"),
                6,
            ).alias("mkt_share")
        )
    )


@register(
    "tpch_profit_by_nation_year",
    """SELECT nation, o_year,
       CAST(round(sum(amount), 2) AS DOUBLE) AS profit
FROM (
  SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
         CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18, 4)) AS amount
  FROM lineitem
  JOIN part ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE p_name LIKE '%widget%'
) GROUP BY 1, 2""",
)
def tpch_profit_by_nation_year(spark, sf_dir):
    """TPC-H Q9 shape (product-type profit): revenue on parts whose
    name matches a pattern, grouped by SUPPLIER nation and order year.
    (The fixture has no partsupp table, so the supply-cost term of
    Q9's amount is absent — the join/aggregation topology is the
    point.)  The per-group sums span thousands of doubles, where FP
    summation order flips the last cent between engines — so the
    amount is summed as DECIMAL(18,4) on both sides (exact,
    order-independent) and only the final result returns to double."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    return (
        li.join(part.where(F.col("p_name").like("%widget%")), F.col("p_partkey") == F.col("l_partkey"))
        .join(supp, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(nat, F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(
            F.round(
                F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")), 2
            )
            .cast("double")
            .alias("profit")
        )
    )


@register(
    "tpch_top_supplier",
    """WITH rev AS (
  SELECT l_suppkey AS supplier_no,
         CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18, 4))), 2) AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY 1)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN rev ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM rev)""",
)
def tpch_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape (top supplier): quarterly revenue per supplier,
    then the supplier(s) achieving the maximum — the view + correlated
    max realized as a window max over the aggregated (small) revenue
    frame, never a second scan of lineitem."""
    from pyspark.sql.window import Window

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    rev = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.round(
                F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")), 2
            )
            .cast("double")
            .alias("total_revenue")
        )
    )
    # global max over the |suppliers|-row aggregate: a bounded window
    top = rev.withColumn("max_rev", F.max("total_revenue").over(Window.partitionBy())).where(
        F.col("total_revenue") == F.col("max_rev")
    )
    return supp.join(top, F.col("s_suppkey") == F.col("supplier_no")).select(
        "s_suppkey", "s_name", "total_revenue"
    )


@register(
    "tpch_min_price_part_per_type",
    """SELECT p_type, p_partkey, p_name, round(p_retailprice, 2) AS price
FROM part
WHERE p_size < 25
  AND p_retailprice = (SELECT min(p2.p_retailprice) FROM part p2
                       WHERE p2.p_type = part.p_type AND p2.p_size < 25)""",
)
def tpch_min_price_part_per_type(spark, sf_dir):
    """TPC-H Q2 shape (minimum-cost argmin): for each part type, the
    part(s) at the minimum retail price within a size bound — the
    correlated min subquery realized as a window min per type (one
    shuffle on p_type), not a re-scan per row.  (No partsupp table in
    the fixture, so price stands in for supply cost.)"""
    from pyspark.sql.window import Window

    part = spark.read.parquet(f"{sf_dir}/part.parquet").where(F.col("p_size") < 25)
    w = Window.partitionBy("p_type")
    return (
        part.withColumn("min_price", F.min("p_retailprice").over(w))
        .where(F.col("p_retailprice") == F.col("min_price"))
        .select("p_type", "p_partkey", "p_name", _r(F.col("p_retailprice"), 2).alias("price"))
    )


@register(
    "tpch_waiting_suppliers",
    """WITH late AS (
  SELECT l_orderkey, l_suppkey FROM lineitem JOIN orders ON o_orderkey = l_orderkey
  WHERE o_orderstatus = 'F' AND l_shipdate > o_orderdate + INTERVAL 30 DAY
  GROUP BY 1, 2),
allsupp AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
waits AS (
  SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
  FROM late l1
  JOIN supplier ON s_suppkey = l1.l_suppkey
  WHERE EXISTS (SELECT 1 FROM allsupp a
                WHERE a.l_orderkey = l1.l_orderkey AND a.l_suppkey <> l1.l_suppkey)
    AND NOT EXISTS (SELECT 1 FROM late l3
                    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey)
  GROUP BY s_name)
SELECT s_name, numwait FROM (
  SELECT s_name, numwait, row_number() OVER (ORDER BY numwait DESC, s_name) AS rn
  FROM waits) WHERE rn <= 10""",
)
def tpch_waiting_suppliers(spark, sf_dir):
    """TPC-H Q21 shape (suppliers who kept orders waiting): for
    finished orders, suppliers whose line shipped late (> 30 days
    after the order date — the fixture has no commit/receipt dates)
    where the order involved OTHER suppliers but no other supplier was
    late; top 10 by wait count.  The correlated EXISTS / NOT-EXISTS
    pair is realized as ONE per-order aggregate — n_suppliers ≥ 2 for
    the EXISTS, exactly-one-late-supplier for the NOT EXISTS — joined
    back to the late pairs, so the order's line list is scanned once
    instead of per-candidate; the oracle keeps the classic
    correlated-subquery formulation as an independent derivation.
    Ref: Q21 semantics per the public TPC-H spec; the reference engine
    has no relational path (extension surface)."""
    from pyspark.sql.window import Window

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet")

    ord_f = orders.where(F.col("o_orderstatus") == "F").select("o_orderkey", "o_orderdate")
    lines = li.join(ord_f, F.col("l_orderkey") == F.col("o_orderkey")).select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias("late"),
    )
    per_order = lines.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("late"), F.col("l_suppkey"))).alias("n_late_supp"),
    )
    late_pairs = lines.where(F.col("late")).select("l_orderkey", "l_suppkey").distinct()
    waits = (
        late_pairs.join(
            per_order.where((F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1)), "l_orderkey"
        )
        .join(supp, F.col("s_suppkey") == F.col("l_suppkey"))  # dim-sized: AQE broadcasts
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )
    w = Window.partitionBy().orderBy(F.col("numwait").desc(), F.col("s_name"))
    return (
        waits.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 10)
        .select("s_name", "numwait")
    )


@register(
    "tpch_supplier_counts_by_part",
    """SELECT p_brand, p_type, p_size,
       CAST(count(DISTINCT ps.l_suppkey) AS BIGINT) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
JOIN part ON p_partkey = ps.l_partkey
WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
  AND p_size IN (1, 4, 9, 14, 19, 24)
  AND ps.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3""",
)
def tpch_supplier_counts_by_part(spark, sf_dir):
    """TPC-H Q16 shape (parts/supplier relationship): distinct
    supplier counts per (brand, type, size) slice, excluding one brand
    and type and a bad-supplier set (negative balance stands in for
    the spec's complaint comment; the fixture has no partsupp table,
    so DISTINCT (l_partkey, l_suppkey) from lineitem IS the
    part-supplier relation).  The NOT-IN realizes as a broadcastable
    anti-join against the small excluded-supplier set; the distinct
    count shuffles once on the part attributes."""
    ensure_session_confs(spark)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet")

    ps = li.select("l_partkey", "l_suppkey").distinct()
    bad = supp.where(F.col("s_acctbal") < 0).select(F.col("s_suppkey").alias("l_suppkey"))
    kept = ps.join(bad, "l_suppkey", "left_anti")
    pf = part.where(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 24)
    )
    return (
        kept.join(pf, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "tpch_important_stock",
    """WITH sup AS (SELECT s_suppkey FROM supplier WHERE s_nationkey < 12),
val AS (
  SELECT l_partkey, round(sum(l_quantity * p_retailprice), 2) AS part_value
  FROM (SELECT l_partkey, l_suppkey, sum(l_quantity) AS l_quantity
        FROM lineitem JOIN sup ON l_suppkey = s_suppkey GROUP BY 1, 2)
  JOIN part ON p_partkey = l_partkey
  GROUP BY 1)
SELECT l_partkey AS p_partkey, part_value
FROM val WHERE part_value > (SELECT 2.0 * avg(part_value) FROM val)""",
)
def tpch_important_stock(spark, sf_dir):
    """TPC-H Q11 shape (important stock): per-part supplied value
    (quantity × retail price over lineitem, standing in for partsupp
    availqty × supplycost) restricted to suppliers of a nation subset,
    keeping parts whose value exceeds TWICE the global mean (an
    SF-invariant stand-in for the spec's fraction-of-total threshold,
    which keeps the qualifying set non-degenerate at every fixture
    SF) — the scalar subquery realized as a 1-row aggregate
    broadcast-cross-joined into the per-part stream (the
    tpch_idle_rich_customers pattern), not a window over an unbounded
    frame."""
    ensure_session_confs(spark)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet")

    sup = supp.where(F.col("s_nationkey") < 12).select("s_suppkey")
    by_ps = (
        li.join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("l_quantity"))
    )
    val = (
        by_ps.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("l_partkey")
        .agg(_r(F.sum(F.col("l_quantity") * F.col("p_retailprice")), 2).alias("part_value"))
    )
    total_val = val.agg((F.avg("part_value") * F.lit(2.0)).alias("_threshold"))
    return (
        val.crossJoin(F.broadcast(total_val))
        .where(F.col("part_value") > F.col("_threshold"))
        .select(F.col("l_partkey").alias("p_partkey"), "part_value")
    )


@register(
    "tpch_excess_supply_semi",
    """SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey
  FROM lineitem
  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  GROUP BY l_suppkey, l_partkey
  HAVING sum(l_quantity) > 40)""",
)
def tpch_excess_supply_semi(spark, sf_dir):
    """TPC-H Q20 shape (excess supply, nested semi-joins): suppliers
    who moved > 40 units of some 'small%' part in 1996 — part-name
    semi-join into a per-(supplier, part) quantity aggregate, then a
    semi-join into supplier (the fixture has no partsupp availqty, so
    shipped quantity stands in for stock level).  Both IN-subqueries
    realize as semi-joins: the part filter prunes before the
    aggregate, and supplier sees only qualifying keys."""
    ensure_session_confs(spark)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet")

    small = part.where(F.col("p_name").like("small%")).select("p_partkey")
    qual = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        )
        .join(small, F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .where(F.col("qty") > 40)
        .select("l_suppkey")
        .distinct()
    )
    return supp.join(qual, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi").select(
        "s_suppkey", "s_name"
    )
