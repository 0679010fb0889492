"""Daily order aggregation (reference parity: docker/dags/sql/aggregate_orders.sql:6-14).

``SUM(quantity)`` + ``COUNT(DISTINCT order_id)`` grouped by product and day.
A single hash-aggregate with map-side partial aggregation; the date predicate
sits directly on the (partition) date column so a date-partitioned layout
prunes at the source.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def aggregate_orders(
    orders: DataFrame,
    date_from: str | None = None,
    date_to: str | None = None,
) -> DataFrame:
    """orders(order_id, product_id, quantity, order_date) → daily demand."""
    df = orders
    if date_from is not None:
        df = df.filter(F.col("order_date") >= F.lit(date_from).cast("date"))
    if date_to is not None:
        df = df.filter(F.col("order_date") < F.lit(date_to).cast("date"))
    return df.groupBy("product_id", "order_date").agg(
        F.sum("quantity").cast("int").alias("total_quantity"),
        F.countDistinct("order_id").cast("int").alias("order_count"),
    )


def demand_window(orders: DataFrame, date_from: str, date_to: str) -> DataFrame:
    """Window-total demand per product (the net-demand chain's first CTE,

    reference docker/dags/sql/net_demand.sql:4-12 with a range instead of a
    single-day equality — same partition-pruning shape). The reference CTE
    also declares ``COUNT(DISTINCT order_id)`` (net_demand.sql:8), but
    nothing downstream reads it (only total_ordered is joined,
    net_demand.sql:50-54), so it is not computed.
    """
    df = orders.filter(
        (F.col("order_date") >= F.lit(date_from).cast("date"))
        & (F.col("order_date") < F.lit(date_to).cast("date"))
    )
    return df.groupBy("product_id").agg(
        F.sum("quantity").cast("int").alias("total_demand")
    )
