"""Deterministic synthetic procurement data (reference generator parity).

Shapes mirror docker/dags/hdfs_upload_data_dag.py:47-117 and
docker/dags/sql/ddl_postgres.sql:51-82: 1000 orders/day uniform over 5
products (qty 1-100, 4 statuses), 5 inventory rows/day, and the 5/3/10
master-data seed. Generation is seeded (the reference's unseeded ``random``
is replaced per SURVEY.md §7.3 so golden tests are stable) and happens
driver-side only for the tiny dims; order generation is distributed via
``spark.range`` + column expressions so a 1000× day would still generate
in parallel.

The master data is built as JVM-local relations (:func:`_local_relation`),
not with ``spark.createDataFrame(list)``. On classic Spark that call plans
a PythonRDD scan (``Scan ExistingRDD``): every stage reading it starts
Python workers, and its size is unknown (``Long.MaxValue``), so no join
against it is ever broadcast at plan time and AQE must first run extra
shuffle stages to measure it. A literal relation is a ``LocalTableScan``
of known size, so joins broadcast it at plan time.
"""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

ORDER_STATUSES = ("PENDING", "CONFIRMED", "SHIPPED", "DELIVERED")
VALID_PRODUCT_IDS = (1, 2, 3, 4, 5)


def generate_orders(
    spark: SparkSession, exec_date: str, n: int = 1000, seed: int = 42
) -> DataFrame:
    """Distributed order generation: spark.range → deterministic per-row
    pseudo-randoms (xxhash64 of (id, seed) — reproducible regardless of
    partitioning, unlike F.rand whose draw depends on partition layout)."""
    d = dt.date.fromisoformat(exec_date)
    base_id = int(d.strftime("%Y%m%d")) * 100000
    rows = spark.range(n)
    h = lambda salt: F.abs(F.xxhash64(F.col("id"), F.lit(seed), F.lit(salt)))  # noqa: E731
    return rows.select(
        (F.lit(base_id) + F.col("id")).alias("order_id"),
        (h("p") % len(VALID_PRODUCT_IDS) + 1).cast("int").alias("product_id"),
        (h("q") % 100 + 1).cast("int").alias("quantity"),
        F.element_at(
            F.array(*[F.lit(s) for s in ORDER_STATUSES]),
            (h("s") % len(ORDER_STATUSES) + 1).cast("int"),
        ).alias("status"),
        F.lit(exec_date).cast("date").alias("order_date"),
    )


def generate_inventory(
    spark: SparkSession, exec_date: str, seed: int = 42
) -> DataFrame:
    rows = spark.range(len(VALID_PRODUCT_IDS))
    h = lambda salt: F.abs(F.xxhash64(F.col("id"), F.lit(seed), F.lit(salt)))  # noqa: E731
    return rows.select(
        (F.col("id") + 1).cast("int").alias("product_id"),
        (h("a") % 451 + 50).cast("int").alias("available_qty"),
        (h("r") % 51).cast("int").alias("reserved_qty"),
        (h("s") % 81 + 20).cast("int").alias("safety_stock"),
        F.lit(1).cast("int").alias("warehouse_id"),
        F.lit(exec_date).cast("date").alias("snapshot_date"),
    )


PRODUCTS_SEED = [
    (1, "Widget A", "WGT-001", "Electronics", Decimal("29.99"), 100, 1, True),
    (2, "Widget B", "WGT-002", "Electronics", Decimal("49.99"), 50, 1, True),
    (3, "Component X", "CMP-001", "Hardware", Decimal("15.99"), 200, 1, True),
    (4, "Component Y", "CMP-002", "Hardware", Decimal("24.99"), 150, 1, True),
    (5, "Assembly Kit", "ASM-001", "Kits", Decimal("89.99"), 30, 1, True),
]

SUPPLIERS_SEED = [
    (1, "TechSupply Co", "SUP-001", 5, Decimal("0.98"), True),
    (2, "Global Parts Inc", "SUP-002", 7, Decimal("0.95"), True),
    (3, "FastShip Ltd", "SUP-003", 3, Decimal("0.92"), True),
]

PRODUCT_SUPPLIERS_SEED = [
    (1, 1, Decimal("20.00"), 1, True),
    (1, 2, Decimal("22.00"), 2, False),
    (2, 1, Decimal("35.00"), 1, True),
    (2, 3, Decimal("36.50"), 2, False),
    (3, 2, Decimal("11.00"), 1, True),
    (3, 3, Decimal("10.50"), 2, False),
    (4, 2, Decimal("44.00"), 1, True),
    (4, 1, Decimal("46.00"), 2, False),
    (5, 3, Decimal("60.00"), 1, True),
    (5, 2, Decimal("62.00"), 2, False),
]


PRODUCTS_SCHEMA = T.StructType(
    [
        T.StructField("product_id", T.IntegerType(), False),
        T.StructField("product_name", T.StringType()),
        T.StructField("product_code", T.StringType()),
        T.StructField("category", T.StringType()),
        T.StructField("unit_price", T.DecimalType(10, 2)),
        T.StructField("safety_stock_level", T.IntegerType()),
        T.StructField("min_order_quantity", T.IntegerType()),
        T.StructField("is_active", T.BooleanType()),
    ]
)

SUPPLIERS_SCHEMA = T.StructType(
    [
        T.StructField("supplier_id", T.IntegerType(), False),
        T.StructField("supplier_name", T.StringType()),
        T.StructField("supplier_code", T.StringType()),
        T.StructField("lead_time_days", T.IntegerType()),
        T.StructField("reliability_score", T.DecimalType(3, 2)),
        T.StructField("is_active", T.BooleanType()),
    ]
)

PRODUCT_SUPPLIERS_SCHEMA = T.StructType(
    [
        T.StructField("product_id", T.IntegerType(), False),
        T.StructField("supplier_id", T.IntegerType(), False),
        T.StructField("unit_cost", T.DecimalType(10, 2)),
        T.StructField("priority", T.IntegerType()),
        T.StructField("is_preferred", T.BooleanType()),
    ]
)


def _local_relation(
    spark: SparkSession, rows: list[tuple], schema: T.StructType
) -> DataFrame:
    """Python rows as a JVM-local relation (``LocalTableScan``) with
    exactly ``schema``, nullability included.

    Every value becomes a typed literal, so the plan carries the rows
    itself: no Python worker, a plan-time size, and the same plan whatever
    the Arrow setting.
    """
    structs = [
        F.struct(*[F.lit(v).cast(f.dataType) for v, f in zip(row, schema)])
        for row in rows
    ]
    table = F.array(*structs).cast(T.ArrayType(schema, containsNull=False))
    return spark.sql("VALUES (1)").select(F.inline(table))


def master_data(spark: SparkSession) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The 5/3/10 master-data seed (ddl_postgres.sql:51-82)."""
    return (
        _local_relation(spark, PRODUCTS_SEED, PRODUCTS_SCHEMA),
        _local_relation(spark, SUPPLIERS_SEED, SUPPLIERS_SCHEMA),
        _local_relation(spark, PRODUCT_SUPPLIERS_SEED, PRODUCT_SUPPLIERS_SCHEMA),
    )
