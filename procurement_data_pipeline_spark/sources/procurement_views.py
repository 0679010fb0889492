"""Procurement-shaped views over the driver's TPC-H-ish tables.

The reference engine's data model (FIXTURES.md) is ``orders``, ``inventory``,
``products``, ``suppliers``, ``product_suppliers``. The correctness corpus
(TESTDATA.md) is a TPC-H-ish star schema. This module derives the former from
the latter **deterministically**, in two synchronized dialects:

* DataFrame builders (the engine-under-test path, idiomatic PySpark), and
* a DuckDB ``WITH``-clause prelude (:data:`ORACLE_VIEWS`) used verbatim by
  every parity oracle query, so the driver's duckdb comparison runs the exact
  same derivation.

Derivation rules (all order-insensitive / exactly computable so float
nondeterminism cannot leak into the oracle hash):

* products          ← part            (safety_stock_level = p_size * 10)
* suppliers         ← supplier
* product_suppliers ← lineitem pairs  (unit_cost = MIN(extendedprice/quantity)
                                       rounded to DECIMAL(12,2); priority =
                                       rank of that cost within the product)
* orders            ← lineitem rows   (order_id = l_orderkey so that
                                       COUNT(DISTINCT order_id) is meaningful;
                                       order_date = CAST(l_shipdate AS DATE))
* inventory         ← lineitem pre-cutoff, grouped by (part, suppkey%3+1) —
                      yields multiple warehouses per product, exercising the
                      reference's SUM/SUM/MAX warehouse rollup
                      (reference: docker/dags/sql/net_demand.sql:14-24).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from procurement_data_pipeline_spark.operators.parallelism import widen_scan
from procurement_data_pipeline_spark.sources.tables import load_table

# Fixed analysis window: a month with substantive demand at every sf.
DEMAND_FROM = "1998-01-01"
DEMAND_TO = "1998-02-01"
INV_CUTOFF = "1998-01-01"
CALC_DATE = "1998-02-01"
# Earlier knowledge cutoff for the data-quality checks, so the anti-joins
# surface real rows (parts first shipped after this date have no "registered"
# supplier mapping / inventory snapshot yet).
QUALITY_CUTOFF = "1996-01-01"


def products(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return part.select(
        F.col("p_partkey").alias("product_id"),
        F.col("p_name").alias("product_name"),
        (F.col("p_size") * F.lit(10)).cast("int").alias("safety_stock_level"),
        F.lit(True).alias("is_active"),
    )


def suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    supplier = load_table(spark, sf_dir, "supplier")
    return supplier.select(
        F.col("s_suppkey").alias("supplier_id"),
        F.col("s_name").alias("supplier_name"),
        F.lit(True).alias("is_active"),
    )


def product_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    # unit_cost is built from exact integer cents (FLOOR(min_ratio*100)) so no
    # double→decimal cast ambiguity can leak into the oracle comparison:
    # Spark and DuckDB round double→decimal differently at half-way points,
    # but integer arithmetic + one IEEE division are bit-identical.
    li = load_table(spark, sf_dir, "lineitem")
    # ONE exchange for the whole derivation: hash-distributing the scan by
    # l_partkey satisfies BOTH the (product, supplier) groupBy's clustering
    # and the priority window's product partitioning, so neither adds its
    # own exchange (guide §2.4 "two operations keyed the same way share
    # one exchange"). widen_scan doubles as the single-split-source fix
    # (§2.5) and no-ops at scale, where the plan keeps its groupBy+window
    # exchanges as before. Measured sf0.1: 0.87 s -> 0.49 s, 2 -> 1
    # exchanges.
    li = widen_scan(li, "l_partkey")
    pairs = li.groupBy(
        F.col("l_partkey").alias("product_id"),
        F.col("l_suppkey").alias("supplier_id"),
    ).agg(
        F.floor(F.min(F.col("l_extendedprice") / F.col("l_quantity")) * 100)
        .cast("long")
        .alias("unit_cost_cents")
    )
    w = Window.partitionBy("product_id").orderBy(
        F.col("unit_cost_cents").asc(), F.col("supplier_id").asc()
    )
    return pairs.select(
        "product_id",
        "supplier_id",
        (F.col("unit_cost_cents").cast("double") / F.lit(100.0)).alias("unit_cost"),
        F.row_number().over(w).cast("int").alias("priority"),
    )


def orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round-12 cold-JVM A/B (VERDICT r11 item 1) measured the r11
    # l_partkey widen here NEUTRAL-to-worse for its headline consumer
    # (agg_orders_daily: widened 0.78/0.84/0.72 s vs un-widened
    # 0.79/0.74/0.68 s min-of-3, fresh JVM each, interleaved) — the map
    # side is one cheap projection, so the repartition replaced nothing.
    # Reverted per the keep-only-cold-wins rule; the headline MRP chain
    # does not read this view (queries/parity.py computes it as one
    # product-grain aggregate of lineitem).
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_orderkey").alias("order_id"),
        F.col("l_partkey").alias("product_id"),
        F.col("l_quantity").cast("int").alias("quantity"),
        F.col("l_shipdate").cast("date").alias("order_date"),
    )


def inventory(spark: SparkSession, sf_dir: str, cutoff: str = INV_CUTOFF) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # Same l_partkey distribution as orders(): it satisfies BOTH the
    # (product, warehouse) snapshot groupBy and the warehouse rollup's
    # product_id re-aggregation (subset clustering, guide §2.4), collapsing
    # the branch's 2 exchanges to this one while parallelizing the
    # single-split scan (§2.5). The shipdate filter pushes below the
    # repartition, so only the pre-cutoff rows shuffle.
    li = widen_scan(li, "l_partkey")
    return (
        li.filter(F.col("l_shipdate") < F.lit(cutoff).cast("timestamp"))
        .groupBy(
            F.col("l_partkey").alias("product_id"),
            (F.col("l_suppkey") % F.lit(3) + F.lit(1)).cast("int").alias("warehouse_id"),
        )
        .agg(
            F.sum(F.col("l_quantity").cast("int")).cast("int").alias("available_qty"),
            (F.count(F.lit(1)) * F.lit(5)).cast("int").alias("reserved_qty"),
            (F.max(F.col("l_quantity").cast("int")) + F.lit(20)).cast("int").alias("safety_stock"),
        )
        .withColumn("snapshot_date", F.lit(cutoff).cast("date"))
    )


# DuckDB prelude mirroring the builders above; every parity oracle starts
# with ``WITH {ORACLE_VIEWS}, …``.
ORACLE_VIEWS = f"""
products AS (
  SELECT p_partkey AS product_id,
         p_name AS product_name,
         CAST(p_size * 10 AS INTEGER) AS safety_stock_level,
         TRUE AS is_active
  FROM part
),
suppliers AS (
  SELECT s_suppkey AS supplier_id, s_name AS supplier_name, TRUE AS is_active
  FROM supplier
),
ps_pairs AS (
  SELECT l_partkey AS product_id,
         l_suppkey AS supplier_id,
         CAST(FLOOR(MIN(l_extendedprice / l_quantity) * 100) AS BIGINT) AS unit_cost_cents
  FROM lineitem
  GROUP BY 1, 2
),
product_suppliers AS (
  SELECT product_id, supplier_id,
         CAST(unit_cost_cents AS DOUBLE) / 100.0 AS unit_cost,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY product_id ORDER BY unit_cost_cents ASC, supplier_id ASC
         ) AS INTEGER) AS priority
  FROM ps_pairs
),
porders AS (
  SELECT l_orderkey AS order_id,
         l_partkey AS product_id,
         CAST(l_quantity AS INTEGER) AS quantity,
         CAST(l_shipdate AS DATE) AS order_date
  FROM lineitem
),
inventory AS (
  SELECT l_partkey AS product_id,
         CAST(l_suppkey % 3 + 1 AS INTEGER) AS warehouse_id,
         CAST(SUM(CAST(l_quantity AS INTEGER)) AS INTEGER) AS available_qty,
         CAST(COUNT(*) * 5 AS INTEGER) AS reserved_qty,
         CAST(MAX(CAST(l_quantity AS INTEGER)) + 20 AS INTEGER) AS safety_stock,
         DATE '{INV_CUTOFF}' AS snapshot_date
  FROM lineitem
  WHERE l_shipdate < TIMESTAMP '{INV_CUTOFF} 00:00:00'
  GROUP BY 1, 2
)
""".strip()


def register_sql_views(spark: SparkSession, sf_dir: str) -> list[str]:
    """Expose the procurement data model as temp views so users can run
    plain ``spark.sql`` against ``orders``/``inventory``/``products``/
    ``suppliers``/``product_suppliers`` — the SQL-first surface reference
    users have (they wrote Trino SQL, not DataFrame code)."""
    views = {
        "orders": orders(spark, sf_dir),
        "inventory": inventory(spark, sf_dir),
        "products": products(spark, sf_dir),
        "suppliers": suppliers(spark, sf_dir),
        "product_suppliers": product_suppliers(spark, sf_dir),
    }
    for name, df in views.items():
        df.createOrReplaceTempView(name)
    return sorted(views)
