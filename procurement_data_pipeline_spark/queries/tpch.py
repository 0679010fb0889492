"""TPC-H-shaped analytical queries over the driver tables.

These exercise the heavy relational paths (wide aggregation, multi-way join
with broadcast dims, top-k) and are the benchmark headline set.

Money math is done in exact integer cents / basis points: Spark and DuckDB
round double→decimal casts differently at half-way points, but
FLOOR(x*100)→BIGINT, pure integer products, and a single IEEE division for
presentation are bit-identical across engines, so the oracle value-hash is
stable while the aggregation stays order-insensitive.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from procurement_data_pipeline_spark.functions.money import (
    basis_points,
    cents,
    dollars,
)
from procurement_data_pipeline_spark.operators.parallelism import widen_scan
from procurement_data_pipeline_spark.registry import register
from procurement_data_pipeline_spark.sources.tables import load_table


def _disc_price_cents() -> Column:
    """(extendedprice * (1 - discount)) in integer cents."""
    prod = cents("l_extendedprice") * (F.lit(10000) - basis_points("l_discount"))
    return F.floor(prod / F.lit(10000.0)).cast("long")


def _charge_cents() -> Column:
    """(extendedprice * (1 - discount) * (1 + tax)) in integer cents."""
    prod = (
        cents("l_extendedprice")
        * (F.lit(10000) - basis_points("l_discount"))
        * (F.lit(10000) + basis_points("l_tax"))
    )
    return F.floor(prod / F.lit(100000000.0)).cast("long")


_REVENUE_SQL = (
    "CAST(FLOOR(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)"
    " * (10000 - CAST(FLOOR(l_discount * 10000) AS BIGINT)) / 10000.0) AS BIGINT)"
)


@register(
    "tpch_q1_pricing_summary",
    oracle="""
WITH li AS (
  SELECT l_returnflag, l_linestatus,
         CAST(l_quantity AS BIGINT) AS qty,
         CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS ext_cents,
         CAST(FLOOR(l_discount * 10000) AS BIGINT) AS disc_bp,
         CAST(FLOOR(l_tax * 10000) AS BIGINT) AS tax_bp
  FROM lineitem
  WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
),
ext AS (
  SELECT *,
         CAST(FLOOR(ext_cents * (10000 - disc_bp) / 10000.0) AS BIGINT) AS disc_price_cents,
         CAST(FLOOR(ext_cents * (10000 - disc_bp) * (10000 + tax_bp) / 100000000.0) AS BIGINT) AS charge_cents
  FROM li
)
SELECT l_returnflag, l_linestatus,
       CAST(SUM(qty) AS BIGINT) AS sum_qty,
       CAST(SUM(ext_cents) AS DOUBLE) / 100.0 AS sum_base_price,
       CAST(SUM(disc_price_cents) AS DOUBLE) / 100.0 AS sum_disc_price,
       CAST(SUM(charge_cents) AS DOUBLE) / 100.0 AS sum_charge,
       CAST(SUM(qty) AS DOUBLE) / COUNT(*) AS avg_qty,
       CAST(SUM(ext_cents) AS DOUBLE) / COUNT(*) / 100.0 AS avg_price,
       CAST(SUM(disc_bp) AS DOUBLE) / COUNT(*) / 10000.0 AS avg_disc,
       COUNT(*) AS count_order
FROM ext
GROUP BY l_returnflag, l_linestatus
""",
    tags=("analytics", "A1", "A5"),
    bench=True,
)
def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary report — single wide hash aggregate over the fact
    table; partial aggregation map-side, one shuffle of ~6 groups."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    li = li.select(
        "l_returnflag",
        "l_linestatus",
        F.col("l_quantity").cast("long").alias("qty"),
        cents("l_extendedprice").alias("ext_cents"),
        basis_points("l_discount").alias("disc_bp"),
        _disc_price_cents().alias("disc_price_cents"),
        _charge_cents().alias("charge_cents"),
    )
    n = F.count(F.lit(1))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("qty").cast("long").alias("sum_qty"),
        dollars(F.sum("ext_cents")).alias("sum_base_price"),
        dollars(F.sum("disc_price_cents")).alias("sum_disc_price"),
        dollars(F.sum("charge_cents")).alias("sum_charge"),
        (F.sum("qty").cast("double") / n).alias("avg_qty"),
        (F.sum("ext_cents").cast("double") / n / F.lit(100.0)).alias("avg_price"),
        (F.sum("disc_bp").cast("double") / n / F.lit(10000.0)).alias("avg_disc"),
        n.alias("count_order"),
    )


@register(
    "tpch_q3_shipping_priority",
    oracle=f"""
SELECT l.l_orderkey,
       CAST(SUM({_REVENUE_SQL}) AS DOUBLE) / 100.0 AS revenue,
       o.o_orderdate, o.o_orderpriority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l.l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, l.l_orderkey ASC
LIMIT 10
""",
    tags=("analytics", "J4", "O1"),
    bench=True,
)
def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping priority — selective dim filter, fact join, top-10.

    No broadcast hint on customer: it scales with data volume, so the
    planner/AQE picks broadcast only while the filtered side actually fits.
    The order-by-limit is a TakeOrderedAndProject, no global sort."""
    customer, orders, li = (
        load_table(spark, sf_dir, t) for t in ("customer", "orders", "lineitem")
    )
    return (
        li.filter(F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp"))
        .join(
            orders.filter(F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            customer.filter(F.col("c_mktsegment") == "BUILDING"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dollars(F.sum(_disc_price_cents())).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


@register(
    "tpch_q5_local_supplier_revenue",
    oracle=f"""
SELECT n.n_name,
       CAST(SUM({_REVENUE_SQL}) AS DOUBLE) / 100.0 AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n.n_name
ORDER BY revenue DESC, n.n_name ASC
""",
    tags=("analytics", "J4", "J7", "A8"),
    bench=True,
)
def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-supplier revenue — 6-way join. Only the bounded dims
    (region, nation: fixed ≤25 rows at any scale) carry broadcast hints;
    supplier/customer grow with the dataset, so their join strategy is left
    to size statistics + AQE — broadcast at test scale, shuffle join at
    100 TB where a forced broadcast would OOM the executors."""
    customer, orders, li, supplier, nation, region = (
        load_table(spark, sf_dir, t)
        for t in ("customer", "orders", "lineitem", "supplier", "nation", "region")
    )
    asia_nations = nation.join(
        F.broadcast(region.filter(F.col("r_name") == "ASIA")),
        F.col("n_regionkey") == F.col("r_regionkey"),
    ).select("n_nationkey", "n_name")
    return (
        li.join(
            orders.filter(
                (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            customer,
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(asia_nations), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(dollars(F.sum(_disc_price_cents())).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("n_name").asc())
    )


@register(
    "tpch_q6_revenue_forecast",
    oracle="""
SELECT CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)
               * CAST(FLOOR(l_discount * 10000) AS BIGINT)) AS DOUBLE)
       / 10000.0 / 100.0 AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
    tags=("analytics", "P5", "A5"),
    bench=True,
)
def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-change forecast — pure scan+filter+global-sum. The whole
    predicate reaches the Parquet reader (PushedFilters); no shuffle beyond
    the single-row final aggregate. The canary query for pushdown health."""
    li = load_table(spark, sf_dir, "lineitem")
    filtered = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    rev = F.sum(cents("l_extendedprice") * basis_points("l_discount"))
    return filtered.agg(
        (rev.cast("double") / F.lit(10000.0) / F.lit(100.0)).alias("revenue")
    )


@register(
    "tpch_q4_order_priority",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
  )
GROUP BY o_orderpriority
""",
    tags=("analytics", "J5", "A1"),
)
def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-priority check (TPC-H Q4 shape, late-shipment predicate since
    the dataset has no commit/receipt dates): EXISTS → left-semi join with a
    non-equi residual condition on top of the orderkey equi-join."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    window = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    late = window.join(
        li,
        (F.col("o_orderkey") == F.col("l_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


@register(
    "tpch_q10_returned_items",
    oracle=f"""
SELECT c.c_custkey, c.c_name,
       CAST(SUM({_REVENUE_SQL}) AS DOUBLE) / 100.0 AS revenue,
       c.c_acctbal, n.n_name
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
  AND l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
ORDER BY revenue DESC, c.c_custkey ASC
LIMIT 20
""",
    tags=("analytics", "J4", "O2"),
    bench=True,
)
def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returned-item revenue top-20 — fact⋈fact shuffle join plus two
    broadcast dims; TakeOrderedAndProject caps the result driver-side."""
    customer, orders, li, nation = (
        load_table(spark, sf_dir, t)
        for t in ("customer", "orders", "lineitem", "nation")
    )
    return (
        li.filter(F.col("l_returnflag") == "R")
        .join(
            orders.filter(
                (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dollars(F.sum(_disc_price_cents())).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@register(
    "tpch_q12_priority_lines",
    oracle="""
SELECT l.l_returnflag,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders o
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l.l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l.l_returnflag
""",
    tags=("analytics", "J4", "A1"),
)
def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority line counts (TPC-H Q12 shape keyed on returnflag — the
    dataset has no shipmode): join + conditional-sum pivot aggregation."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


@register(
    "tpch_q14_promo_revenue",
    oracle=f"""
SELECT 100.0 * CAST(SUM(CASE WHEN p.p_type LIKE 'PROMO%'
                             THEN {_REVENUE_SQL} ELSE 0 END) AS DOUBLE)
       / CAST(SUM({_REVENUE_SQL}) AS DOUBLE) AS promo_revenue_pct
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
  AND l.l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
""",
    tags=("analytics", "J4", "A5"),
)
def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promotion revenue share — broadcast part dim, conditional global sum,
    one IEEE division at the very end (integer cents underneath)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    joined = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    ).join(part, F.col("l_partkey") == F.col("p_partkey"))
    promo = F.when(
        F.col("p_type").like("PROMO%"), _disc_price_cents()
    ).otherwise(F.lit(0).cast("long"))
    return joined.agg(
        (
            F.lit(100.0)
            * F.sum(promo).cast("double")
            / F.sum(_disc_price_cents()).cast("double")
        ).alias("promo_revenue_pct")
    )


@register(
    "tpch_q17_small_quantity",
    oracle="""
WITH avg_qty AS (
  SELECT l_partkey AS ap_partkey,
         0.5 * (CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) / COUNT(*)) AS half_avg
  FROM lineitem GROUP BY l_partkey
)
SELECT CAST(SUM(CAST(FLOOR(l.l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
       / 100.0 / 7.0 AS avg_weekly_revenue
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
JOIN avg_qty a ON l.l_partkey = a.ap_partkey
WHERE p.p_brand = 'Brand#1' AND p.p_size < 15
  AND l.l_quantity < a.half_avg
""",
    tags=("analytics", "A6", "J4"),
)
def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-quantity-order revenue (TPC-H Q17 shape): per-part average via
    self-aggregation joined back to the fact — the correlated-subquery
    pattern decorrelated into an aggregate+join, Spark's preferred plan.
    Quantities are integral doubles, so SUM/COUNT is order-exact."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    avg_qty = li.groupBy(F.col("l_partkey").alias("ap_partkey")).agg(
        (
            F.lit(0.5)
            * (
                F.sum(F.col("l_quantity").cast("long")).cast("double")
                / F.count(F.lit(1))
            )
        ).alias("half_avg")
    )
    return (
        li.join(
            part.filter((F.col("p_brand") == "Brand#1") & (F.col("p_size") < 15)),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(avg_qty, F.col("l_partkey") == F.col("ap_partkey"))
        .filter(F.col("l_quantity") < F.col("half_avg"))
        .agg(
            (
                F.sum(cents("l_extendedprice")).cast("double")
                / F.lit(100.0)
                / F.lit(7.0)
            ).alias("avg_weekly_revenue")
        )
    )


@register(
    "tpch_q18_large_volume",
    oracle="""
WITH big AS (
  SELECT l_orderkey AS b_orderkey
  FROM lineitem GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS BIGINT)) > 300
)
SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
       CAST(FLOOR(o.o_totalprice * 100) AS BIGINT) AS total_price_cents,
       CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
JOIN big ON o.o_orderkey = big.b_orderkey
GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
ORDER BY total_price_cents DESC, o.o_orderkey ASC
LIMIT 100
""",
    tags=("analytics", "A1", "P5", "O3"),
    bench=True,
)
def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-volume customers — HAVING on a grouped fact feeding a semi-join
    back into the same fact. The `big` aggregate reuses the lineitem shuffle
    partitioning for the subsequent orderkey join (no extra exchange)."""
    customer, orders, li = (
        load_table(spark, sf_dir, t) for t in ("customer", "orders", "lineitem")
    )
    # One l_orderkey distribution serves the whole query: the `big` HAVING
    # aggregate and the final per-order groupBy both cluster by orderkey
    # (guide §2.4), and because both branches hang off the IDENTICAL
    # repartition subtree, Spark reuses the exchange — lineitem is scanned
    # and shuffled ONCE instead of twice. Single-split scans also gain full
    # map-side parallelism (§2.5); no-op at scale via the widen_scan guard.
    li = widen_scan(li, "l_orderkey")
    big = (
        li.groupBy(F.col("l_orderkey").alias("b_orderkey"))
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("_sq"))
        .filter(F.col("_sq") > 300)
        .select("b_orderkey")
    )
    return (
        li.join(big, F.col("l_orderkey") == F.col("b_orderkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            cents("o_totalprice").alias("total_price_cents"),
            "sum_qty",
        )
        .orderBy(F.col("total_price_cents").desc(), F.col("o_orderkey").asc())
        .limit(100)
    )


@register(
    "tpch_q19_disjunctive_revenue",
    oracle=f"""
SELECT CAST(SUM({_REVENUE_SQL}) AS DOUBLE) / 100.0 AS revenue
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 5
       AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 10
       AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#24' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 20 AND 30)
""",
    tags=("analytics", "J4", "P5"),
)
def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discounted revenue under a 3-arm disjunctive predicate (TPC-H Q19
    shape). Catalyst extracts the common join key and pushes the per-side
    conjuncts (brand/size to part, quantity bounds to lineitem) below the
    broadcast join."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    q = F.col("l_quantity")
    arm = lambda brand, size_hi, q_lo, q_hi: (  # noqa: E731
        (F.col("p_brand") == brand)
        & (F.col("p_size") >= 1)
        & (F.col("p_size") <= size_hi)
        & (q >= q_lo)
        & (q <= q_hi)
    )
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .filter(
            arm("Brand#1", 5, 1, 11)
            | arm("Brand#12", 10, 10, 20)
            | arm("Brand#24", 15, 20, 30)
        )
        .agg(dollars(F.sum(_disc_price_cents())).alias("revenue"))
    )


@register(
    "tpch_q13_customer_distribution",
    oracle="""
WITH per_cust AS (
  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
  FROM customer c
  LEFT JOIN orders o ON c.c_custkey = o.o_custkey
  GROUP BY c.c_custkey
)
SELECT c_count, COUNT(*) AS custdist
FROM per_cust
GROUP BY c_count
""",
    tags=("analytics", "J1", "A1"),
)
def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer order-count distribution (TPC-H Q13 shape): LEFT join so
    zero-order customers land in the c_count=0 bucket, then a histogram
    re-aggregation. COUNT(o_orderkey) — not COUNT(*) — is the null-aware
    subtlety."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        customer.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "tpch_q15_top_supplier",
    oracle=f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         SUM({_REVENUE_SQL}) AS total_revenue_cents
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name,
       CAST(r.total_revenue_cents AS DOUBLE) / 100.0 AS total_revenue
FROM supplier s
JOIN revenue r ON s.s_suppkey = r.supplier_no
WHERE r.total_revenue_cents = (SELECT MAX(total_revenue_cents) FROM revenue)
""",
    tags=("analytics", "A6", "C2"),
)
def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top supplier by quarterly revenue (TPC-H Q15 shape): derived revenue
    aggregate consumed twice — once for the max scalar, once for the final
    join. Spark materializes the agg once under AQE subquery reuse; the
    scalar arrives via a broadcast single-row join."""
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    revenue = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(_disc_price_cents()).alias("total_revenue_cents"))
    )
    top = revenue.agg(F.max("total_revenue_cents").alias("_max_rev"))
    return (
        revenue.join(F.broadcast(top))
        .filter(F.col("total_revenue_cents") == F.col("_max_rev"))
        .join(supplier, F.col("supplier_no") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            dollars(F.col("total_revenue_cents")).alias("total_revenue"),
        )
    )


@register(
    "tpch_q22_dormant_customers",
    oracle="""
WITH positive AS (
  SELECT CAST(SUM(CAST(FLOOR(c_acctbal * 100) AS BIGINT)) AS DOUBLE)
         / COUNT(*) / 100.0 AS avg_bal
  FROM customer WHERE c_acctbal > 0.0
)
SELECT c.c_nationkey,
       COUNT(*) AS numcust,
       CAST(SUM(CAST(FLOOR(c.c_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100.0
         AS totacctbal
FROM customer c, positive p
WHERE c.c_acctbal > p.avg_bal
  AND NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey
      AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
  )
GROUP BY c.c_nationkey
""",
    tags=("analytics", "J5", "A6"),
)
def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dormant high-balance customers (TPC-H Q22 shape, grouped by nation
    since the dataset has no phone column; dormant = no orders since
    2000): scalar average subquery as a broadcast single-row join +
    NOT EXISTS as a left-anti join."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    avg_bal = customer.filter(F.col("c_acctbal") > 0.0).agg(
        (
            F.sum(cents("c_acctbal")).cast("double")
            / F.count(F.lit(1))
            / F.lit(100.0)
        ).alias("avg_bal")
    )
    return (
        customer.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(
            orders.select(F.col("o_custkey").alias("c_custkey")),
            "c_custkey",
            "left_anti",
        )
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dollars(F.sum(cents("c_acctbal"))).alias("totacctbal"),
        )
    )
