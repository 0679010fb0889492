"""MRP net-demand calculation — the reference's golden query.

Reference semantics (docker/dags/sql/net_demand.sql:4-87, README.md:257-268):

    net_demand = GREATEST(0, demand + safety_stock - (available - reserved))

as a four-stage chain: window demand per product, warehouse-rollup inventory,
preferred-supplier selection (ROW_NUMBER rank 1 by priority then cost), and
the final left-join/null-fill/clamp projection keeping only positive demand.

Spark-first notes:
* Each stage is a plain DataFrame function, so Catalyst sees one logical plan
  end-to-end (predicate pushdown through the joins, partial aggregation
  before the shuffles).
* The supplier dimension is broadcast (tiny by the reference data model); the
  ranked⋈demand⋈inventory⋈products joins all share the ``product_id`` key, so
  one shuffle partitioning is reused across the join chain instead of
  re-shuffling per join.
* Window rank=1 benefits from Catalyst's InferWindowGroupLimit — the filter
  on ``supplier_rank = 1`` becomes a per-partition group limit, not a full
  materialization of ranks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from procurement_data_pipeline_spark.functions.money import mrp_net_demand
from procurement_data_pipeline_spark.operators.aggregate import demand_window


def rollup_inventory(inventory: DataFrame) -> DataFrame:
    """Aggregate inventory across warehouses to product grain.

    SUM(available), SUM(reserved), MAX(safety_stock) — reference
    docker/dags/sql/net_demand.sql:14-24.
    """
    return inventory.groupBy("product_id").agg(
        F.sum("available_qty").cast("int").alias("available_qty"),
        F.sum("reserved_qty").cast("int").alias("reserved_qty"),
        F.max("safety_stock").cast("int").alias("safety_stock"),
    )


def rank_suppliers(product_suppliers: DataFrame) -> DataFrame:
    """Deterministic preferred-supplier ranking per product.

    ROW_NUMBER() over (priority, unit_cost, supplier_id) — reference
    docker/dags/sql/net_demand.sql:26-38 with supplier_id appended as the
    documented tie-break (SURVEY.md §4 item 3).
    """
    w = Window.partitionBy("product_id").orderBy(
        F.col("priority").asc(), F.col("unit_cost").asc(), F.col("supplier_id").asc()
    )
    return product_suppliers.withColumn(
        "supplier_rank", F.row_number().over(w).cast("int")
    )


def preferred_suppliers(product_suppliers: DataFrame) -> DataFrame:
    return rank_suppliers(product_suppliers).filter(F.col("supplier_rank") == 1)


def net_demand(
    orders: DataFrame,
    inventory: DataFrame,
    products: DataFrame,
    suppliers: DataFrame,
    product_suppliers: DataFrame,
    date_from: str,
    date_to: str,
    calc_date: str,
) -> DataFrame:
    """Full MRP chain → (product, preferred supplier, net_demand, costs).

    Only rows with net_demand > 0 survive (reference net_demand.sql:86);
    estimated_cost is pinned to DECIMAL(18,2) as net_demand_insert.sql:66
    pins its insert cast.
    """
    # total_demand only: the reference CTE's order_count is never consumed
    # by the chain (net_demand.sql:8 vs :50-54), so the demand branch is one
    # shuffle by construction (see demand_window docstring).
    daily = demand_window(orders, date_from, date_to)
    parts = (
        preferred_suppliers(product_suppliers)
        .join(daily, "product_id", "left")
        .join(rollup_inventory(inventory), "product_id", "left")
    )
    return net_demand_from_parts(parts, products, suppliers, calc_date)


def net_demand_from_parts(
    parts: DataFrame,
    products: DataFrame,
    suppliers: DataFrame,
    calc_date: str,
) -> DataFrame:
    """Final MRP join/clamp/projection (net_demand.sql:40-87) over ONE
    per-product relation ``parts``: product_id, the preferred supplier's
    supplier_id / unit_cost / priority, and total_demand, available_qty,
    reserved_qty, safety_stock (NULL where the product has no demand or no
    inventory; the COALESCEs of :func:`mrp_net_demand` absorb them).

    ``products ⟕ daily ⟕ inv ⋈ ranked`` equals ``products ⋈ (ranked ⟕ daily
    ⟕ inv)`` because every join is on ``product_id``, so :func:`net_demand`
    builds ``parts`` that way from its three branches, and the headline
    path (queries/parity.py) computes it as one product-grain aggregate of
    the fact; both share this projection."""
    net = mrp_net_demand(
        F.col("total_demand"),
        F.col("safety_stock"),
        F.col("safety_stock_level"),
        F.col("available_qty"),
        F.col("reserved_qty"),
    )

    return (
        products.filter(F.col("is_active"))
        .join(parts, "product_id", "inner")
        .join(
            F.broadcast(suppliers.filter(F.col("is_active"))), "supplier_id", "inner"
        )
        .withColumn("net_demand", net)
        .filter(F.col("net_demand") > 0)
        .select(
            "product_id",
            "product_name",
            "supplier_id",
            "supplier_name",
            F.col("priority").alias("supplier_priority"),
            "net_demand",
            "unit_cost",
            (F.col("net_demand") * F.col("unit_cost"))
            .cast("decimal(18,2)")
            .alias("estimated_cost"),
            F.lit(calc_date).cast("date").alias("calculation_date"),
        )
    )


def present_net_demand(nd: DataFrame) -> DataFrame:
    """Presentation order for the materialized/export boundary —
    ``ORDER BY supplier_id, supplier_priority, net_demand DESC``
    (reference net_demand.sql:87). A global sort is presentation-only
    work: apply it at the final write, never mid-chain (Spark would
    add a range-partition exchange per use)."""
    return nd.orderBy(
        F.col("supplier_id").asc(),
        F.col("supplier_priority").asc(),
        F.col("net_demand").desc(),
    )
