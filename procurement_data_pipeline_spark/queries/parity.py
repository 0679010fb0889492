"""Reference-parity declared queries (SURVEY.md §2) over the driver tables.

Each query runs the reference operator implementation from ``operators/`` on
the procurement-shaped views of ``sources/procurement_views.py``; the paired
DuckDB oracle reuses :data:`ORACLE_VIEWS` so both engines execute the same
derivation + the same relational semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from procurement_data_pipeline_spark.functions.money import cents, dollars
from procurement_data_pipeline_spark.operators import kpi as kpi_ops
from procurement_data_pipeline_spark.operators.aggregate import aggregate_orders
from procurement_data_pipeline_spark.operators.export import supplier_orders
from procurement_data_pipeline_spark.operators.net_demand import (
    net_demand_from_parts,
    preferred_suppliers,
)
from procurement_data_pipeline_spark.operators.quality import exceptions_report
from procurement_data_pipeline_spark.registry import register
from procurement_data_pipeline_spark.sources import procurement_views as pv
from procurement_data_pipeline_spark.sources.tables import load_table

_FROM, _TO, _CUT, _CALC = pv.DEMAND_FROM, pv.DEMAND_TO, pv.INV_CUTOFF, pv.CALC_DATE
_QCUT = pv.QUALITY_CUTOFF

# Shared DuckDB CTE suffix: the net-demand chain over the derived views
# (reference docker/dags/sql/net_demand.sql:4-87, supplier_id tie-break added
# per SURVEY.md §4 item 3).
_ND_CTES = f"""
daily_orders AS (
  SELECT product_id,
         CAST(SUM(quantity) AS INTEGER) AS total_demand,
         CAST(COUNT(DISTINCT order_id) AS INTEGER) AS order_count
  FROM porders
  WHERE order_date >= DATE '{_FROM}' AND order_date < DATE '{_TO}'
  GROUP BY product_id
),
aggregated_inventory AS (
  SELECT product_id,
         CAST(SUM(available_qty) AS INTEGER) AS available_qty,
         CAST(SUM(reserved_qty) AS INTEGER) AS reserved_qty,
         CAST(MAX(safety_stock) AS INTEGER) AS safety_stock
  FROM inventory
  GROUP BY product_id
),
ranked_suppliers AS (
  SELECT product_id, supplier_id, unit_cost, priority,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY product_id
           ORDER BY priority ASC, unit_cost ASC, supplier_id ASC
         ) AS INTEGER) AS supplier_rank
  FROM product_suppliers
),
net_demand_calc AS (
  SELECT p.product_id, p.product_name, rs.supplier_id, s.supplier_name,
         rs.priority AS supplier_priority, rs.unit_cost,
         CAST(GREATEST(0,
              COALESCE(d.total_demand, 0)
              + COALESCE(ai.safety_stock, p.safety_stock_level)
              - (COALESCE(ai.available_qty, 0) - COALESCE(ai.reserved_qty, 0))
         ) AS INTEGER) AS net_demand
  FROM products p
  LEFT JOIN daily_orders d ON p.product_id = d.product_id
  LEFT JOIN aggregated_inventory ai ON p.product_id = ai.product_id
  INNER JOIN ranked_suppliers rs
    ON p.product_id = rs.product_id AND rs.supplier_rank = 1
  INNER JOIN suppliers s ON rs.supplier_id = s.supplier_id
  WHERE p.is_active AND s.is_active
),
net_demand AS (
  SELECT product_id, product_name, supplier_id, supplier_name,
         supplier_priority, net_demand, unit_cost,
         CAST(net_demand * unit_cost AS DECIMAL(18,2)) AS estimated_cost,
         DATE '{_CALC}' AS calculation_date
  FROM net_demand_calc
  WHERE net_demand > 0
)
""".strip()


def _net_demand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MRP chain as ONE product-grain aggregate of lineitem: the same
    relation as ``net_demand(orders, inventory, …)`` over the derived views,
    from one scan and one exchange (optimization guide §6.2 scan-once /
    §2.3 aggregate-before-shuffle).

    Every branch of the chain aggregates the same fact at a grain that
    factors through (product, supplier), so each collapses to product grain:

    * window demand and inventory are SUM / COUNT / MAX over conditional
      rows, which are associative through the views' (product, warehouse)
      regroup;
    * the preferred supplier is the rank-1 row of ``product_suppliers``,
      ordered by (priority, unit_cost, supplier_id) with priority itself
      ROW_NUMBER over (cost cents, supplier_id) — so it is the
      lexicographic MIN of struct(cents, supplier_id), and its priority is
      1. ``floor(100·x)`` is monotone, so the min of the per-row floors is
      the view's floor of the min.

    All of it is partial-aggregated map-side, so only one row per
    (partition, product) shuffles. Null semantics carry the branch
    existence information: a product with no window rows gets NULL
    total_demand (as a LEFT-JOIN miss does), one with no pre-cutoff rows gets
    NULL safety_stock (the safety_stock_level fallback) and NULL/0
    available/reserved, which the COALESCEs of ``mrp_net_demand`` treat
    exactly like the miss (oracle-checked for all five chain consumers).
    """
    li = load_table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("int")
    odate = F.col("l_shipdate").cast("date")
    in_win = (odate >= F.lit(_FROM).cast("date")) & (
        odate < F.lit(_TO).cast("date")
    )
    pre = F.col("l_shipdate") < F.lit(_CUT).cast("timestamp")
    unit_cents = cents(F.col("l_extendedprice") / F.col("l_quantity"))
    best = F.min(F.struct(unit_cents.alias("cents"), F.col("l_suppkey").alias("sid")))
    parts = (
        li.groupBy(F.col("l_partkey").alias("product_id"))
        .agg(
            best.alias("_best"),
            F.sum(F.when(in_win, qty)).cast("int").alias("total_demand"),
            F.sum(F.when(pre, qty)).cast("int").alias("available_qty"),
            (F.count(F.when(pre, F.lit(1))) * F.lit(5)).cast("int").alias(
                "reserved_qty"
            ),
            (F.max(F.when(pre, qty)) + F.lit(20)).cast("int").alias(
                "safety_stock"
            ),
        )
        .select(
            "product_id",
            F.col("_best.sid").alias("supplier_id"),
            dollars(F.col("_best.cents")).alias("unit_cost"),
            F.lit(1).cast("int").alias("priority"),
            "total_demand",
            "available_qty",
            "reserved_qty",
            "safety_stock",
        )
    )
    return net_demand_from_parts(
        parts, pv.products(spark, sf_dir), pv.suppliers(spark, sf_dir), _CALC
    )


# --- S1/P3/A1/A2: daily demand aggregation --------------------------------


@register(
    "agg_orders_daily",
    oracle=f"""
WITH {pv.ORACLE_VIEWS}
SELECT product_id, order_date,
       CAST(SUM(quantity) AS INTEGER) AS total_quantity,
       CAST(COUNT(DISTINCT order_id) AS INTEGER) AS order_count
FROM porders
WHERE order_date >= DATE '{_FROM}' AND order_date < DATE '{_TO}'
GROUP BY product_id, order_date
""",
    tags=("parity", "A1", "A2", "P3", "S1"),
    bench=True,
)
def q_agg_orders_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUM + COUNT(DISTINCT) by (product, day) — aggregate_orders.sql:6-14."""
    return aggregate_orders(pv.orders(spark, sf_dir), _FROM, _TO)


# --- the golden MRP query --------------------------------------------------


@register(
    "net_demand_mrp",
    oracle=f"""
WITH {pv.ORACLE_VIEWS},
{_ND_CTES}
SELECT product_id, product_name, supplier_id, supplier_name,
       supplier_priority, net_demand, unit_cost,
       ROUND(CAST(estimated_cost AS DOUBLE), 2) AS estimated_cost,
       calculation_date
FROM net_demand
""",
    tags=("parity", "J1", "J2", "J3", "J4", "W1", "P9", "P10", "A3"),
    bench=True,
)
def q_net_demand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MRP chain — net_demand.sql:4-87.

    The operator keeps estimated_cost as DECIMAL(18,2) (reference
    net_demand_insert.sql:66); the declared form presents it as
    ROUND(CAST(.. AS DOUBLE), 2) on BOTH engine sides because Spark's
    toPandas() yields Decimal objects while DuckDB's .df() yields float64 —
    the driver's canonicalizer treats those as different values."""
    return _net_demand(spark, sf_dir).withColumn(
        "estimated_cost", F.round(F.col("estimated_cost").cast("double"), 2)
    )


@register(
    "preferred_suppliers",
    oracle=f"""
WITH {pv.ORACLE_VIEWS},
ranked AS (
  SELECT product_id, supplier_id, unit_cost, priority,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY product_id
           ORDER BY priority ASC, unit_cost ASC, supplier_id ASC
         ) AS INTEGER) AS supplier_rank
  FROM product_suppliers
)
SELECT * FROM ranked WHERE supplier_rank = 1
""",
    tags=("parity", "W1", "P6", "O3"),
)
def q_preferred_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-1-per-group rank filter — net_demand.sql:33-36,72.

    (Also the driver-graded evidence for the full-ranking W1 operator
    ``rank_suppliers`` — the rank=1 filter runs over the complete
    ROW_NUMBER window, and the superseded ``ranked_suppliers`` /
    ``inventory_rollup`` declared forms live on as the ``ranked_suppliers``
    / ``aggregated_inventory`` CTEs inside the net_demand_mrp oracle.)"""
    return preferred_suppliers(pv.product_suppliers(spark, sf_dir))


# --- quality checks (anti-joins) ------------------------------------------


def _known_mappings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier mappings known as of the quality cutoff (so the orphan

    check is non-trivial: parts first shipped after the cutoff have no
    'registered' mapping yet)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") < F.lit(_QCUT).cast("timestamp"))
        .select(F.col("l_partkey").alias("product_id"))
        .distinct()
    )


_KNOWN_SQL = f"""
known_mappings AS (
  SELECT DISTINCT l_partkey AS product_id
  FROM lineitem
  WHERE l_shipdate < TIMESTAMP '{_QCUT} 00:00:00'
),
inventory_q AS (
  SELECT l_partkey AS product_id,
         DATE '{_QCUT}' AS snapshot_date
  FROM lineitem
  WHERE l_shipdate < TIMESTAMP '{_QCUT} 00:00:00'
  GROUP BY 1
)
""".strip()

_WINDOW_ORDERS_SQL = f"""
window_orders AS (
  SELECT * FROM porders
  WHERE order_date >= DATE '{_FROM}' AND order_date < DATE '{_TO}'
)
""".strip()


@register(
    "quality_exceptions",
    oracle=f"""
WITH {pv.ORACLE_VIEWS}, {_KNOWN_SQL}, {_WINDOW_ORDERS_SQL}
SELECT 'MISSING_SUPPLIER_MAPPING' AS type, 'HIGH' AS severity, product_id
FROM (
  SELECT o.product_id
  FROM window_orders o
  LEFT JOIN known_mappings km ON o.product_id = km.product_id
  WHERE km.product_id IS NULL
  GROUP BY o.product_id
) orphans
UNION ALL
SELECT 'MISSING_INVENTORY' AS type, 'MEDIUM' AS severity, product_id
FROM (
  SELECT DISTINCT o.product_id
  FROM window_orders o
  LEFT JOIN (SELECT product_id FROM inventory_q
             WHERE snapshot_date = DATE '{_QCUT}') i
    ON o.product_id = i.product_id
  WHERE i.product_id IS NULL
) missing
""",
    tags=("parity", "J5", "J6", "S10"),
)
def q_quality_exceptions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Severity-tagged union of both checks — procurement_dag.py:153-194.

    Also the driver-graded evidence for the individual J5/J6 anti-join
    operators ``orphan_products`` / ``missing_inventory``: both run
    verbatim as the two UNION branches here (and keep dedicated pytest
    coverage in test_quality_export_kpi.py)."""
    window_orders = pv.orders(spark, sf_dir).filter(
        (F.col("order_date") >= F.lit(_FROM).cast("date"))
        & (F.col("order_date") < F.lit(_TO).cast("date"))
    )
    return exceptions_report(
        window_orders,
        _known_mappings(spark, sf_dir),
        pv.inventory(spark, sf_dir, _QCUT),
        _QCUT,
    )


# --- export ----------------------------------------------------------------


@register(
    "supplier_orders_flat",
    oracle=f"""
WITH {pv.ORACLE_VIEWS},
{_ND_CTES}
SELECT supplier_id, supplier_name, product_id, product_name,
       net_demand AS quantity,
       ROUND(CAST(unit_cost AS DOUBLE), 2) AS unit_cost,
       ROUND(CAST(estimated_cost AS DOUBLE), 2) AS total_cost
FROM net_demand
""",
    tags=("parity", "A9", "S9"),
)
def q_supplier_orders_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchase-order line items per supplier — procurement_dag.py:100-133
    (flat, oracle-comparable form)."""
    nd = _net_demand(spark, sf_dir)
    return nd.select(
        "supplier_id",
        "supplier_name",
        "product_id",
        "product_name",
        F.col("net_demand").alias("quantity"),
        F.round(F.col("unit_cost").cast("double"), 2).alias("unit_cost"),
        F.round(F.col("estimated_cost").cast("double"), 2).alias("total_cost"),
    )


@register(
    "supplier_orders_nested",
    oracle=f"""
WITH {pv.ORACLE_VIEWS},
{_ND_CTES},
order_items AS (
  SELECT supplier_id, supplier_name, product_id, product_name,
         net_demand AS quantity,
         CAST(ROUND(CAST(unit_cost AS DOUBLE) * 100, 0) AS BIGINT) AS uc_cents,
         CAST(ROUND(CAST(estimated_cost AS DOUBLE) * 100, 0) AS BIGINT) AS tc_cents,
         estimated_cost
  FROM net_demand
)
SELECT supplier_id, supplier_name,
       DATE '{_CALC}' AS order_date,
       DATE '{_CALC}' AS data_date,
       string_agg(
         printf('%d|%s|%d|%d|%d',
                product_id, product_name, quantity, uc_cents, tc_cents),
         ';' ORDER BY product_id
       ) AS items,
       CAST(COUNT(*) AS INTEGER) AS item_count,
       ROUND(CAST(SUM(estimated_cost) AS DOUBLE), 2) AS total_estimated_cost
FROM order_items
GROUP BY supplier_id, supplier_name
""",
    tags=("parity", "A9", "S9"),
)
def q_supplier_orders_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested per-supplier purchase orders (collect_list(struct)) —
    procurement_dag.py:100-147.

    The true nested array<struct> form feeds ``write_supplier_json``; the
    DECLARED form serializes the items array to one deterministic string per
    supplier ('pid|name|qty|unit_cents|total_cents' joined by ';', sorted by
    product_id) because the driver's pandas canonicalizer cannot hash nested
    ndarray cells (r1: 'unhashable type numpy.ndarray'). Money rides as
    integer cents inside the string — no float-formatting dialect risk —
    and the per-supplier envelope totals (the superseded
    ``supplier_order_totals`` form, procurement_dag.py:133,142) stay graded
    here via item_count/total_estimated_cost."""
    nested = supplier_orders(_net_demand(spark, sf_dir), _CALC, _CALC)
    item_str = lambda it: F.format_string(  # noqa: E731
        "%d|%s|%d|%d|%d",
        it["product_id"],
        it["product_name"],
        it["quantity"],
        F.round(it["unit_cost"] * 100, 0).cast("long"),
        F.round(it["total_cost"] * 100, 0).cast("long"),
    )
    return nested.select(
        "supplier_id",
        "supplier_name",
        "order_date",
        "data_date",
        F.array_join(F.transform("items", item_str), ";").alias("items"),
        "item_count",
        F.round(F.col("total_estimated_cost").cast("double"), 2).alias(
            "total_estimated_cost"
        ),
    )


# --- KPI dashboard queries (metabase_setup_dag.py:237-313) ----------------
#
# The reference refreshes five dashboard cards, each its own warehouse
# query over the MATERIALIZED net_demand table. Replaying the full 5-join
# MRP chain once per card (as r1 did) is correct but scale-hostile — so the
# declared surface consolidates the cards into two single-chain queries:
# kpi_summary (the three scalar cards in one pass per source) and
# kpi_demand_breakdown (both grouped cards as grouping sets, one shuffle).
# The pipeline (plans/procurement.py) still materializes net_demand via
# catalog.write_derived, and operators/kpi.py keeps the per-card functions
# for dashboard parity.


@register(
    "kpi_summary",
    oracle=f"""
WITH {pv.ORACLE_VIEWS},
{_ND_CTES},
core AS (
  SELECT CAST(SUM(net_demand) AS BIGINT) AS total_net_demand,
         ROUND(CAST(CAST(SUM(estimated_cost) AS DECIMAL(12,2)) AS DOUBLE), 2)
           AS total_estimated_cost
  FROM net_demand
  WHERE calculation_date = (SELECT MAX(calculation_date) FROM net_demand)
),
status AS (
  SELECT
    CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS orders_f,
    CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS orders_o,
    CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS orders_p
  FROM orders
  WHERE o_orderdate = (SELECT MAX(o_orderdate) FROM orders)
)
SELECT * FROM core, status
""",
    tags=("parity", "A5", "A6", "P8", "C2"),
    bench=True,
)
def q_kpi_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar dashboard KPIs (total demand, total DECIMAL(12,2)-pinned cost,
    latest-day order-status counts) in one row — the three scalar Metabase
    cards without replaying the MRP chain per card. Latest-partition
    selection is the reference's scalar subquery (C2/A6) on both sides."""
    orders = load_table(spark, sf_dir, "orders").withColumnRenamed(
        "o_orderdate", "order_date"
    )
    return kpi_ops.kpi_summary(
        _net_demand(spark, sf_dir), orders, status_col="o_orderstatus"
    )


@register(
    "kpi_demand_breakdown",
    oracle=f"""
WITH {pv.ORACLE_VIEWS},
{_ND_CTES},
latest AS (
  SELECT * FROM net_demand
  WHERE calculation_date = (SELECT MAX(calculation_date) FROM net_demand)
)
SELECT 'product' AS dim_type, product_name AS dim_name,
       CAST(SUM(net_demand) AS BIGINT) AS total_demand
FROM latest GROUP BY product_name
UNION ALL
SELECT 'supplier' AS dim_type, supplier_name AS dim_name,
       CAST(SUM(net_demand) AS BIGINT) AS total_demand
FROM latest GROUP BY supplier_name
""",
    tags=("parity", "A8", "O2", "grouping-sets"),
)
def q_kpi_demand_breakdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-product and per-supplier demand cards as grouping sets over ONE
    pass of the chain (Expand fans each row into its two dim memberships
    map-side; one shuffle total), sorted highest-demand first (O2)."""
    return kpi_ops.demand_breakdown(_net_demand(spark, sf_dir))
