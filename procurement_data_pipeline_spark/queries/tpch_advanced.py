"""TPC-H-shaped queries, second tranche: the multi-way-join / correlated /
self-join shapes (Q2, Q7, Q8, Q9, Q11, Q16, Q20, Q21 equivalents).

The driver tables have no ``partsupp`` relation and no commit/receipt
dates, so each query is adapted to this schema while keeping the operator
shape that makes the original interesting:

- Q2  → min-cost supplier per part, decorrelated MIN-subquery join-back
- Q7  → bidirectional nation-pair volume (double dim alias join)
- Q8  → market share (7-way join + conditional share division)
- Q9  → product profit by nation/year (cost proxy from part retail price)
- Q11 → important parts by spend, HAVING over a global scalar subquery
- Q16 → supplier counts per part attribute with NOT IN exclusion
- Q20 → concentrated suppliers via nested semi-join chain
- Q21 → suppliers who were the *only* late shipper on multi-supplier
        orders: EXISTS + NOT EXISTS self-joins with non-equi residuals

All money aggregation is exact integer cents (see functions/money.py), so
the DuckDB oracle hashes bit-identically regardless of partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from procurement_data_pipeline_spark.functions.money import cents, dollars
from procurement_data_pipeline_spark.operators.parallelism import widen_scan
from procurement_data_pipeline_spark.queries.tpch import _disc_price_cents, _REVENUE_SQL
from procurement_data_pipeline_spark.registry import register
from procurement_data_pipeline_spark.sources.tables import load_table


def _ts(s: str):
    return F.lit(s).cast("timestamp")


@register(
    "tpch_q2_min_cost_supplier",
    oracle="""
WITH ps AS (
  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
         MIN(CAST(FLOOR(l_extendedprice * 100 / l_quantity) AS BIGINT)) AS supply_cents
  FROM lineitem GROUP BY l_partkey, l_suppkey
),
eu AS (
  SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
  FROM supplier s
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  WHERE r.r_name = 'EUROPE'
),
costs AS (
  SELECT ps.ps_partkey, ps.supply_cents, eu.s_name, eu.s_acctbal, eu.n_name
  FROM ps JOIN eu ON ps.ps_suppkey = eu.s_suppkey
),
best AS (
  SELECT ps_partkey AS b_partkey, MIN(supply_cents) AS min_cents
  FROM costs GROUP BY ps_partkey
)
SELECT CAST(FLOOR(c.s_acctbal * 100) AS BIGINT) AS s_acctbal_cents,
       c.s_name, c.n_name, p.p_partkey,
       CAST(c.supply_cents AS DOUBLE) / 100.0 AS supply_cost
FROM costs c
JOIN best b ON c.ps_partkey = b.b_partkey AND c.supply_cents = b.min_cents
JOIN part p ON c.ps_partkey = p.p_partkey
WHERE p.p_size = 15
ORDER BY s_acctbal_cents DESC, c.n_name, c.s_name, p.p_partkey
LIMIT 100
""",
    tags=("analytics", "A6", "J4", "O3"),
)
def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-cost supplier per part (TPC-H Q2 shape; lineitem unit prices
    stand in for partsupp supply cost). The correlated MIN subquery is
    decorrelated into a MIN window over the partkey partitioning — one
    shuffle computes the minimum and filters to it in the same pass (the
    oracle keeps the aggregate + join-back form; same rows)."""
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    part = load_table(spark, sf_dir, "part")

    ps = li.groupBy(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).agg(
        F.min(
            F.floor(F.col("l_extendedprice") * 100 / F.col("l_quantity")).cast("long")
        ).alias("supply_cents")
    )
    eu = (
        supplier.join(
            F.broadcast(
                nation.join(
                    region.filter(F.col("r_name") == "EUROPE"),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                ).select("n_nationkey", "n_name")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
    ).select("s_suppkey", "s_name", "s_acctbal", "n_name")
    # Part filter applied BEFORE the min-cost window: only size-15 parts'
    # supplier rows flow into the shuffle, and the per-part minimum is
    # unchanged (it ranges over that part's suppliers only). The correlated
    # MIN then resolves as a window over the partkey partitioning — ONE
    # pass, no groupBy + join-back replay of the costs lineage.
    costs = (
        ps.join(
            F.broadcast(
                part.filter(F.col("p_size") == 15).select("p_partkey")
            ),
            F.col("ps_partkey") == F.col("p_partkey"),
        )
        .join(eu, F.col("ps_suppkey") == F.col("s_suppkey"))
        .select("ps_partkey", "p_partkey", "supply_cents", "s_name", "s_acctbal", "n_name")
    )
    w_min = Window.partitionBy("ps_partkey")
    return (
        costs.withColumn("min_cents", F.min("supply_cents").over(w_min))
        .filter(F.col("supply_cents") == F.col("min_cents"))
        .select(
            cents("s_acctbal").alias("s_acctbal_cents"),
            "s_name",
            "n_name",
            "p_partkey",
            dollars(F.col("supply_cents")).alias("supply_cost"),
        )
        .orderBy(
            F.col("s_acctbal_cents").desc(),
            F.col("n_name"),
            F.col("s_name"),
            F.col("p_partkey"),
        )
        .limit(100)
    )


@register(
    "tpch_q7_nation_volume",
    oracle=f"""
SELECT supp_nation, cust_nation, l_year,
       CAST(SUM(rev) AS DOUBLE) / 100.0 AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(EXTRACT(year FROM l.l_shipdate) AS INTEGER) AS l_year,
         {_REVENUE_SQL.replace('l_extendedprice', 'l.l_extendedprice').replace('l_discount', 'l.l_discount')} AS rev
  FROM supplier s
  JOIN lineitem l ON s.s_suppkey = l.l_suppkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_7')
      OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_2'))
    AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
) shipping
GROUP BY supp_nation, cust_nation, l_year
""",
    tags=("analytics", "J4", "J7"),
)
def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bidirectional nation-pair shipping volume (TPC-H Q7 shape). The
    nation dim joins twice under different roles — two broadcast joins of
    the same ≤25-row table, then the symmetric pair predicate. The pair
    filter lands *after* both broadcasts so Catalyst can still push the
    per-side IN(n2,n7) conjuncts it derives down to each nation scan."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")

    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_7")
    ) | ((F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_2"))
    return (
        li.filter(
            (F.col("l_shipdate") >= _ts("1996-01-01"))
            & (F.col("l_shipdate") < _ts("1998-01-01"))
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(dollars(F.sum(_disc_price_cents())).alias("revenue"))
    )


@register(
    "tpch_q8_market_share",
    oracle=f"""
SELECT o_year,
       CAST(SUM(CASE WHEN nation = 'NATION_7' THEN rev ELSE 0 END) AS DOUBLE)
         / CAST(SUM(rev) AS DOUBLE) AS mkt_share
FROM (
  SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS INTEGER) AS o_year,
         {_REVENUE_SQL.replace('l_extendedprice', 'l.l_extendedprice').replace('l_discount', 'l.l_discount')} AS rev,
         n2.n_name AS nation
  FROM part p
  JOIN lineitem l ON p.p_partkey = l.l_partkey
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
  JOIN region r ON n1.n_regionkey = r.r_regionkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
  WHERE r.r_name = 'ASIA' AND p.p_type = 'ECONOMY'
    AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
) all_nations
GROUP BY o_year
""",
    tags=("analytics", "J4", "J7", "A5"),
    bench=True,
)
def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """National market share (TPC-H Q8 shape) — the widest join in the
    set: 7 relations. Fact⋈fact (lineitem⋈orders) shuffles on orderkey;
    part/customer ride AQE's size decision; nation/region are broadcast.
    The share is one IEEE division of two exact cent sums."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    part = load_table(spark, sf_dir, "part")

    asia_keys = (
        nation.join(
            region.filter(F.col("r_name") == "ASIA"),
            F.col("n_regionkey") == F.col("r_regionkey"),
        ).select(F.col("n_nationkey").alias("cust_nkey"))
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("supp_nkey"), F.col("n_name").alias("nation")
    )
    rev = _disc_price_cents()
    return (
        li.join(
            part.filter(F.col("p_type") == "ECONOMY"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(
            orders.filter(
                (F.col("o_orderdate") >= _ts("1996-01-01"))
                & (F.col("o_orderdate") < _ts("1998-01-01"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(asia_keys), F.col("c_nationkey") == F.col("cust_nkey"))
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("supp_nkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (
                F.sum(F.when(F.col("nation") == "NATION_7", rev).otherwise(F.lit(0)))
                .cast("double")
                / F.sum(rev).cast("double")
            ).alias("mkt_share")
        )
    )


@register(
    "tpch_q9_product_profit",
    oracle=f"""
SELECT nation, o_year, CAST(SUM(amount) AS DOUBLE) / 100.0 AS sum_profit
FROM (
  SELECT n.n_name AS nation,
         CAST(EXTRACT(year FROM o.o_orderdate) AS INTEGER) AS o_year,
         {_REVENUE_SQL.replace('l_extendedprice', 'l.l_extendedprice').replace('l_discount', 'l.l_discount')}
           - CAST(l.l_quantity AS BIGINT)
             * CAST(FLOOR(CAST(FLOOR(p.p_retailprice * 100) AS BIGINT) * 6 / 10.0) AS BIGINT)
           AS amount
  FROM part p
  JOIN lineitem l ON p.p_partkey = l.l_partkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  WHERE p.p_name LIKE '%red%'
) profit
GROUP BY nation, o_year
""",
    tags=("analytics", "J4", "A1"),
    bench=True,
)
def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-type profit by nation and year (TPC-H Q9 shape; supply cost
    proxied as 60% of part retail price since there is no partsupp).
    Profit stays in exact integer cents: revenue_cents − qty·cost_cents."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    part = load_table(spark, sf_dir, "part")

    cost_cents = F.floor(cents("p_retailprice") * 6 / F.lit(10.0)).cast("long")
    amount = _disc_price_cents() - F.col("l_quantity").cast("long") * cost_cents
    return (
        li.join(
            part.filter(F.col("p_name").like("%red%")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year")
        )
        .agg(dollars(F.sum(amount)).alias("sum_profit"))
    )


@register(
    "tpch_q11_important_parts",
    oracle="""
WITH spend AS (
  SELECT l.l_partkey AS ps_partkey,
         SUM(CAST(FLOOR(l.l_extendedprice * 100) AS BIGINT)) AS value_cents
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  WHERE n.n_name = 'NATION_2'
  GROUP BY l.l_partkey
)
SELECT ps_partkey, CAST(value_cents AS DOUBLE) / 100.0 AS part_value
FROM spend
WHERE CAST(value_cents AS DOUBLE)
      > (SELECT CAST(SUM(value_cents) AS DOUBLE) FROM spend) * 0.001
""",
    tags=("analytics", "A6", "C2"),
)
def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Important parts by spend share (TPC-H Q11 shape): per-part spend
    for one nation's suppliers, kept only when above a fraction of the
    global total — HAVING against a scalar subquery. The spend aggregate
    is computed once and consumed twice (threshold + filter); the scalar
    arrives as a broadcast single-row join, no driver round-trip."""
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")

    nation2_supp = supplier.join(
        F.broadcast(nation.filter(F.col("n_name") == "NATION_2")),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey")
    spend = (
        li.join(nation2_supp, F.col("l_suppkey") == F.col("s_suppkey"), "left_semi")
        .groupBy(F.col("l_partkey").alias("ps_partkey"))
        .agg(F.sum(cents("l_extendedprice")).alias("value_cents"))
    )
    total = spend.agg(
        (F.sum("value_cents").cast("double") * F.lit(0.001)).alias("threshold")
    )
    return (
        spend.join(F.broadcast(total))
        .filter(F.col("value_cents").cast("double") > F.col("threshold"))
        .select("ps_partkey", dollars(F.col("value_cents")).alias("part_value"))
    )


@register(
    "tpch_q16_supplier_part_counts",
    oracle="""
SELECT p.p_brand, p.p_type, p.p_size,
       COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_brand <> 'Brand#1' AND p.p_type <> 'PROMO'
  AND p.p_size IN (1, 5, 15, 25, 35, 45)
  AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p.p_brand, p.p_type, p.p_size
""",
    tags=("analytics", "A2", "J5"),
)
def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier counts per part attribute (TPC-H Q16 shape): NOT IN over a
    filtered supplier set (negative balance ≈ 'complaints') becomes a
    left-anti join — safe here because s_suppkey is non-nullable, which is
    the only case where NOT IN and anti-join agree."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")

    bad_supp = supplier.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(
            F.broadcast(bad_supp),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .join(
            part.filter(
                (F.col("p_brand") != "Brand#1")
                & (F.col("p_type") != "PROMO")
                & (F.col("p_size").isin(1, 5, 15, 25, 35, 45))
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "tpch_q20_concentrated_suppliers",
    oracle="""
WITH red_parts AS (
  SELECT p_partkey FROM part WHERE p_name LIKE 'red%'
),
shipped AS (
  SELECT l_suppkey, l_partkey,
         SUM(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                   AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
              THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS qty_1996,
         SUM(CAST(l_quantity AS BIGINT)) AS qty_total
  FROM lineitem JOIN red_parts ON l_partkey = p_partkey
  GROUP BY l_suppkey, l_partkey
),
hot AS (
  SELECT DISTINCT l_suppkey FROM shipped WHERE qty_1996 * 2 > qty_total
)
SELECT s.s_name, n.n_name
FROM supplier s
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE n.n_name = 'NATION_4'
  AND s.s_suppkey IN (SELECT l_suppkey FROM hot)
ORDER BY s.s_name
""",
    tags=("analytics", "J5", "A1"),
)
def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concentrated suppliers (TPC-H Q20 shape): nested IN-subquery chain
    — parts by name prefix → per-(supplier, part) shipped quantities →
    suppliers whose 1996 share exceeded half their total — realized as a
    semi-join ladder. The 50% test is integer (qty·2 > total), exact on
    both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")

    red = part.filter(F.col("p_name").like("red%")).select("p_partkey")
    in_1996 = (F.col("l_shipdate") >= _ts("1996-01-01")) & (
        F.col("l_shipdate") < _ts("1997-01-01")
    )
    qty = F.col("l_quantity").cast("long")
    hot = (
        li.join(F.broadcast(red), F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(
            F.sum(F.when(in_1996, qty).otherwise(F.lit(0).cast("long"))).alias(
                "qty_1996"
            ),
            F.sum(qty).alias("qty_total"),
        )
        .filter(F.col("qty_1996") * 2 > F.col("qty_total"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        supplier.join(
            F.broadcast(nation.filter(F.col("n_name") == "NATION_4")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(hot, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_name", "n_name")
        .orderBy("s_name")
    )


@register(
    "tpch_q21_waiting_supplier",
    oracle="""
SELECT s.s_name, COUNT(*) AS numwait
FROM lineitem l1
JOIN orders o ON o.o_orderkey = l1.l_orderkey
JOIN supplier s ON l1.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE o.o_orderstatus = 'F'
  AND n.n_name = 'NATION_0'
  AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
  )
GROUP BY s.s_name
ORDER BY numwait DESC, s.s_name
LIMIT 100
""",
    tags=("analytics", "J5", "J6", "A4"),
    bench=True,
)
def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers who kept orders waiting (TPC-H Q21 shape; 'late' = shipped
    more than 60 days after order date, standing in for receipt>commit).

    The textbook EXISTS/NOT-EXISTS form is three lineitem passes (base +
    semi + anti self-joins). Rewritten as ONE pass: per order, collect the
    supplier set and the late-supplier set (``collect_set`` — bounded by
    suppliers-per-order, a small constant); a supplier qualifies iff the
    order has >1 supplier (the EXISTS), exactly one supplier shipped late
    (the NOT EXISTS), and it is that supplier. COUNT(*) over qualifying l1
    rows = the order's late-line count, summed per supplier. The groupBy
    rides the join's existing l_orderkey partitioning — no extra exchange,
    and lineitem is scanned once instead of three times."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")

    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")
    # The collect_set aggregate is the query's compute sink; distributing
    # the scan by l_orderkey parallelizes its map side (guide §2.5) and
    # satisfies the groupBy's clustering so the aggregate exchange
    # disappears (§2.4). No-op at scale via the widen_scan guard.
    li = widen_scan(li, "l_orderkey")
    per_order = (
        li.join(
            orders.filter(F.col("o_orderstatus") == "F").select(
                "o_orderkey", "o_orderdate"
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey")
        .agg(
            F.size(F.collect_set("l_suppkey")).alias("_n_supp"),
            F.collect_set(F.when(late, F.col("l_suppkey"))).alias("_late_supps"),
            F.sum(F.when(late, 1).otherwise(0)).alias("_n_late_lines"),
        )
        .filter((F.col("_n_supp") > 1) & (F.size("_late_supps") == 1))
        .select(
            F.col("_late_supps")[0].alias("l_suppkey"),
            F.col("_n_late_lines"),
        )
    )
    return (
        per_order.join(
            F.broadcast(
                supplier.join(
                    nation.filter(F.col("n_name") == "NATION_0"),
                    F.col("s_nationkey") == F.col("n_nationkey"),
                ).select("s_suppkey", "s_name")
            ),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("s_name")
        .agg(F.sum("_n_late_lines").cast("bigint").alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name"))
        .limit(100)
    )


@register(
    "abc_part_classification",
    # ABC (Pareto) inventory classification — the procurement classic: rank
    # parts by revenue, classify by cumulative share (A <= 80%, B <= 95%,
    # C rest). Revenue accumulates in exact integer cents; shares are
    # single exactly-rounded divisions of exact longs, so the class cuts
    # agree bit-exactly. The global window runs over the PART-grain rollup
    # (dimension-sized — #parts rows, not facts), the acceptable place for
    # a single-partition sort.
    oracle=f"""
WITH rev AS (
  SELECT l_partkey AS partkey, SUM({_REVENUE_SQL}) AS rev_cents
  FROM lineitem GROUP BY l_partkey
),
ranked AS (
  SELECT partkey, CAST(rev_cents AS BIGINT) AS rev_cents,
         CAST(SUM(rev_cents) OVER (ORDER BY rev_cents DESC, partkey ASC
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS DOUBLE)
         / CAST(SUM(rev_cents) OVER () AS DOUBLE) AS cum_share
  FROM rev
)
SELECT partkey, rev_cents, cum_share,
       CASE WHEN cum_share <= 0.80 THEN 'A'
            WHEN cum_share <= 0.95 THEN 'B'
            ELSE 'C' END AS abc_class
FROM ranked
""",
    tags=("procurement", "abc", "pareto"),
)
def q_abc_part_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC classification of parts by revenue contribution. The Pareto
    running sum goes through the DISTRIBUTED exact cumsum
    (operators/ranks.py) — part grain is sf-proportional, so the old
    no-partition window rode ONE partition; the total is a broadcast
    scalar. Integer cents keep both forms bit-identical."""
    from procurement_data_pipeline_spark.caching import scoped_persist
    from procurement_data_pipeline_spark.operators.ranks import (
        with_global_cumsum,
    )

    li = load_table(spark, sf_dir, "lineitem")
    rev = scoped_persist(
        li.groupBy(F.col("l_partkey").alias("partkey")).agg(
            F.sum(_disc_price_cents()).alias("rev_cents")
        )
    )
    cum_df = with_global_cumsum(
        rev,
        [F.col("rev_cents").desc(), F.col("partkey").asc()],
        "rev_cents",
        "_cum",
    )
    tot = rev.agg(F.sum("rev_cents").alias("_tot"))
    share = F.col("_cum").cast("double") / F.col("_tot").cast("double")
    return cum_df.crossJoin(F.broadcast(tot)).select(
        "partkey",
        F.col("rev_cents").cast("long").alias("rev_cents"),
        share.alias("cum_share"),
        F.when(share <= 0.80, "A")
        .when(share <= 0.95, "B")
        .otherwise("C")
        .alias("abc_class"),
    )


@register(
    "supplier_scorecard",
    # Per-supplier delivery/quality scorecard: volume, exact-cents revenue,
    # return rate, and mean discount — the vendor-evaluation rollup behind
    # the reference's preferred-supplier ranking. Rates are single
    # divisions of exact integers.
    oracle=f"""
WITH s AS (
  SELECT l_suppkey,
         CAST(COUNT(*) AS BIGINT) AS n_lines,
         CAST(SUM({_REVENUE_SQL}) AS BIGINT) AS revenue_cents,
         CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_returned,
         SUM(CAST(FLOOR(l_discount * 10000) AS BIGINT)) AS disc_bp_total
  FROM lineitem GROUP BY l_suppkey
)
SELECT s.l_suppkey AS suppkey, sup.s_name,
       n_lines, revenue_cents,
       CAST(n_returned AS DOUBLE) / CAST(n_lines AS DOUBLE) AS return_rate,
       CAST(disc_bp_total AS DOUBLE) / CAST(n_lines AS DOUBLE) AS avg_discount_bp
FROM s JOIN supplier sup ON s.l_suppkey = sup.s_suppkey
""",
    tags=("procurement", "scorecard", "supplier"),
)
def q_supplier_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vendor scorecard: one fact aggregation (map-side partials) + a
    broadcast dimension join for names — the at-scale rollup shape."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    s = li.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(_disc_price_cents()).cast("long").alias("revenue_cents"),
        F.sum(
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
        ).alias("n_returned"),
        F.sum(F.floor(F.col("l_discount") * 10000).cast("long")).alias(
            "disc_bp_total"
        ),
    )
    return s.join(
        F.broadcast(sup.select("s_suppkey", "s_name")),
        F.col("l_suppkey") == F.col("s_suppkey"),
    ).select(
        F.col("l_suppkey").alias("suppkey"),
        "s_name",
        "n_lines",
        "revenue_cents",
        (F.col("n_returned").cast("double") / F.col("n_lines").cast("double")).alias(
            "return_rate"
        ),
        (
            F.col("disc_bp_total").cast("double") / F.col("n_lines").cast("double")
        ).alias("avg_discount_bp"),
    )
