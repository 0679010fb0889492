"""Dashboard KPI queries (reference parity: metabase_setup_dag.py:237-313).

Latest-partition KPI shapes over the derived tables: total demand scalar,
demand by supplier, order-status breakdown, total estimated cost, and
demand by product and supplier together (``demand_breakdown``). The
latest-partition selection is the reference's scalar subquery
``WHERE d = (SELECT MAX(d) …)`` — expressed the same way here via a join
against the 1-row max-date aggregate (Catalyst executes it as a broadcast
semi-join; no driver round-trip)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from procurement_data_pipeline_spark.caching import scoped_persist


def _latest(df: DataFrame, date_col: str) -> DataFrame:
    latest = df.agg(F.max(date_col).alias(date_col))
    return df.join(F.broadcast(latest), date_col)


def total_net_demand(net_demand: DataFrame) -> DataFrame:
    """KPI 1 — scalar total demand on the latest calculation_date."""
    return _latest(net_demand, "calculation_date").agg(
        F.sum("net_demand").cast("bigint").alias("total_net_demand")
    )


def demand_by_supplier(net_demand: DataFrame) -> DataFrame:
    """KPI 3 — per-supplier demand, highest first."""
    return (
        _latest(net_demand, "calculation_date")
        .groupBy("supplier_name")
        .agg(F.sum("net_demand").cast("bigint").alias("total_demand"))
        .orderBy(F.col("total_demand").desc(), F.col("supplier_name").asc())
    )


def order_status_breakdown(orders: DataFrame, status_col: str = "status") -> DataFrame:
    """KPI 4 — order count by status on the latest order_date."""
    return (
        _latest(orders, "order_date")
        .groupBy(status_col)
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def total_estimated_cost(net_demand: DataFrame) -> DataFrame:
    """KPI 5 — total procurement cost, pinned to DECIMAL(12,2)

    (reference metabase_setup_dag.py:306)."""
    return _latest(net_demand, "calculation_date").agg(
        F.sum("estimated_cost").cast("decimal(12,2)").alias("total_estimated_cost")
    )


def kpi_summary(
    net_demand: DataFrame, orders: DataFrame, status_col: str = "status"
) -> DataFrame:
    """All scalar dashboard KPIs in ONE pass per source (KPIs 1, 4, 5 —
    metabase_setup_dag.py:246-313): total net demand and total estimated
    cost ride a single aggregate over the latest net_demand partition
    (instead of replaying the 5-join MRP chain once per KPI card), and the
    latest-day order-status counts pivot in one aggregate over orders.

    The two 1-row aggregates meet on a literal key — a broadcast hash join,
    not a nested loop. Money is presented as ROUND(CAST(.. AS DOUBLE), 2)
    after the reference's DECIMAL(12,2) pin so the value survives both
    engines' pandas conversion identically.

    Latest-partition selection is ONE pass per source: aggregate per date
    (map-side partials; #dates groups), then ``max_by(struct(..), date)``
    picks the latest date's row in a second, tiny global aggregate. The
    scalar-subquery form (``_latest``) would replay each source's full
    lineage twice — here that lineage is the 5-join MRP chain, so the
    one-pass shape halves the query."""
    by_date = net_demand.groupBy("calculation_date").agg(
        F.sum("net_demand").cast("bigint").alias("tnd"),
        F.round(
            F.sum("estimated_cost").cast("decimal(12,2)").cast("double"), 2
        ).alias("tec"),
    )
    core = by_date.agg(
        F.max_by(F.struct("tnd", "tec"), F.col("calculation_date")).alias("_s")
    ).select(
        F.col("_s.tnd").alias("total_net_demand"),
        F.col("_s.tec").alias("total_estimated_cost"),
    )
    cnt = lambda s: F.sum(  # noqa: E731
        F.when(F.col(status_col) == s, 1).otherwise(0)
    ).cast("bigint")
    status_by_date = orders.groupBy("order_date").agg(
        cnt("F").alias("f"), cnt("O").alias("o"), cnt("P").alias("p")
    )
    status = status_by_date.agg(
        F.max_by(F.struct("f", "o", "p"), F.col("order_date")).alias("_s")
    ).select(
        F.col("_s.f").alias("orders_f"),
        F.col("_s.o").alias("orders_o"),
        F.col("_s.p").alias("orders_p"),
    )
    return (
        core.withColumn("_k", F.lit(1))
        .join(status.withColumn("_k", F.lit(1)), "_k")
        .drop("_k")
    )


def demand_breakdown(net_demand: DataFrame) -> DataFrame:
    """KPIs 2+3 in one aggregation pass: per-product AND per-supplier demand
    as grouping sets. Each row expands into its (dim_type, dim_name)
    memberships map-side (the same Expand shape Spark's rollup uses), so
    both dashboard breakdowns ride ONE shuffle over the chain instead of
    two full replays (metabase_setup_dag.py:264-289).

    The latest-date filter happens AFTER the per-(date, dim) aggregation:
    the aggregated relation is persisted (it's #dates × #dims rows — tiny
    next to the fact lineage), so the max-date scalar and the final filter
    both hit the cache and the MRP chain runs exactly once."""
    dims = F.explode(
        F.array(
            F.struct(
                F.lit("product").alias("dim_type"),
                F.col("product_name").alias("dim_name"),
            ),
            F.struct(
                F.lit("supplier").alias("dim_type"),
                F.col("supplier_name").alias("dim_name"),
            ),
        )
    )
    by_date = (
        net_demand.select(dims.alias("_d"), "calculation_date", "net_demand")
        .groupBy(
            "calculation_date",
            F.col("_d.dim_type").alias("dim_type"),
            F.col("_d.dim_name").alias("dim_name"),
        )
        .agg(F.sum("net_demand").cast("bigint").alias("total_demand"))
    )
    by_date = scoped_persist(by_date)
    return (
        _latest(by_date, "calculation_date")
        .select("dim_type", "dim_name", "total_demand")
        .orderBy(F.col("total_demand").desc(), "dim_type", "dim_name")
    )
