"""Quality-check, export, and KPI operator tests (reference scenarios 3-4 of
FIXTURES.md: orphan products / missing inventory / nested JSON shape)."""

from __future__ import annotations

import datetime as dt
import json
import os
from decimal import Decimal

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from procurement_data_pipeline_spark.operators.export import (
    supplier_orders,
    write_exceptions_json,
    write_supplier_json,
)
from procurement_data_pipeline_spark.operators.kpi import (
    demand_by_supplier,
    order_status_breakdown,
    total_net_demand,
)
from procurement_data_pipeline_spark.operators.quality import (
    exceptions_report,
    missing_inventory,
    orphan_products,
)

D = dt.date
DAY = D(2026, 1, 14)


@pytest.fixture(scope="module")
def orders(spark):
    return spark.createDataFrame(
        [(1, 1, 10, DAY), (2, 1, 5, DAY), (3, 99, 7, DAY), (4, 7, 3, DAY)],
        "order_id long, product_id int, quantity int, order_date date",
    )


@pytest.fixture(scope="module")
def mappings(spark):
    return spark.createDataFrame(
        [(1, 1), (7, 2)], "product_id int, supplier_id int"
    )


@pytest.fixture(scope="module")
def inventory(spark):
    return spark.createDataFrame(
        [(1, 1, 100, 0, 10, DAY), (99, 1, 5, 0, 1, DAY)],
        "product_id int, warehouse_id int, available_qty int, reserved_qty int,"
        " safety_stock int, snapshot_date date",
    )


def test_orphan_products(spark, orders, mappings):
    got = {r.product_id: r.order_count for r in orphan_products(orders, mappings).collect()}
    assert got == {99: 1}


def test_missing_inventory(spark, orders, inventory):
    got = {r.product_id for r in missing_inventory(orders, inventory, "2026-01-14").collect()}
    assert got == {7}


def test_missing_inventory_respects_snapshot_date(spark, orders, inventory):
    got = {r.product_id for r in missing_inventory(orders, inventory, "2026-01-13").collect()}
    assert got == {1, 7, 99}  # no snapshot on that date at all


def test_exceptions_report_shape(spark, orders, mappings, inventory, tmp_path):
    df = exceptions_report(orders, mappings, inventory, "2026-01-14")
    rows = {(r.type, r.severity, r.product_id) for r in df.collect()}
    assert rows == {
        ("MISSING_SUPPLIER_MAPPING", "HIGH", 99),
        ("MISSING_INVENTORY", "MEDIUM", 7),
    }
    path = write_exceptions_json(df, str(tmp_path / "exceptions.json"), "2026-01-14")
    doc = json.loads(open(path).read())
    assert doc["exception_count"] == 2
    assert {e["type"] for e in doc["exceptions"]} == {
        "MISSING_SUPPLIER_MAPPING",
        "MISSING_INVENTORY",
    }


@pytest.fixture(scope="module")
def nd(spark):
    return spark.createDataFrame(
        [
            (1, "Widget A", 1, "TechSupply Co", 1, 100, 20.0, Decimal("2000.00"), D(2026, 1, 15)),
            (2, "Widget B", 1, "TechSupply Co", 1, 50, 35.0, Decimal("1750.00"), D(2026, 1, 15)),
            (3, "Component X", 2, "Global Parts Inc", 1, 200, 11.0, Decimal("2200.00"), D(2026, 1, 15)),
        ],
        "product_id int, product_name string, supplier_id int, supplier_name string,"
        " supplier_priority int, net_demand int, unit_cost double,"
        " estimated_cost decimal(18,2), calculation_date date",
    )


def test_supplier_orders_nested_shape(spark, nd):
    out = supplier_orders(nd, "2026-01-16", "2026-01-15")
    rows = {r.supplier_id: r for r in out.collect()}
    assert set(rows) == {1, 2}
    s1 = rows[1]
    assert s1.item_count == 2
    assert [i.product_id for i in s1.items] == [1, 2]  # sorted
    assert s1.total_estimated_cost == Decimal("3750.00")
    assert s1.items[0].total_cost == 2000.0


def test_write_supplier_json_golden_shape(spark, nd, tmp_path):
    out = supplier_orders(nd, "2026-01-16", "2026-01-15")
    paths = write_supplier_json(out, str(tmp_path), generated_at="2026-01-15T22:00:00")
    assert sorted(p.split("/")[-1] for p in paths) == ["supplier_1.json", "supplier_2.json"]
    doc = json.loads(open(sorted(paths)[0]).read())
    # golden shape from reference README.md:306-326
    assert doc == {
        "supplier_id": 1,
        "supplier_name": "TechSupply Co",
        "order_date": "2026-01-16",
        "data_date": "2026-01-15",
        "generated_at": "2026-01-15T22:00:00",
        "items": [
            {
                "product_id": 1,
                "product_name": "Widget A",
                "quantity": 100,
                "unit_cost": 20.0,
                "total_cost": 2000.0,
            },
            {
                "product_id": 2,
                "product_name": "Widget B",
                "quantity": 50,
                "unit_cost": 35.0,
                "total_cost": 1750.0,
            },
        ],
        "total_estimated_cost": 3750.0,
    }


def test_kpi_total_and_by_supplier(spark, nd):
    assert total_net_demand(nd).collect()[0].total_net_demand == 350
    got = demand_by_supplier(nd).collect()
    assert [(r.supplier_name, r.total_demand) for r in got] == [
        ("Global Parts Inc", 200),
        ("TechSupply Co", 150),
    ]


def test_kpi_latest_partition_only(spark, nd):
    older = spark.createDataFrame(
        [(9, "Old", 9, "Old Sup", 1, 999, 1.0, Decimal("999.00"), D(2026, 1, 1))],
        nd.schema,
    )
    assert total_net_demand(nd.unionByName(older)).collect()[0].total_net_demand == 350


def test_order_status_breakdown(spark):
    orders = spark.createDataFrame(
        [(1, "PENDING", DAY), (2, "PENDING", DAY), (3, "SHIPPED", DAY), (4, "PENDING", D(2026, 1, 13))],
        "order_id long, status string, order_date date",
    )
    got = {r.status: r.order_count for r in order_status_breakdown(orders).collect()}
    assert got == {"PENDING": 2, "SHIPPED": 1}


def test_export_leaves_checksums_on_for_later_writes(spark, nd, tmp_path):
    """The JSON export skips .crc sidecars without switching checksums off
    on the JVM-wide cached file system that every later write shares."""
    out = supplier_orders(nd, "2026-01-16", "2026-01-15")
    export_dir = tmp_path / "export"
    write_supplier_json(out, str(export_dir), generated_at="2026-01-15T22:00:00")
    exc = spark.createDataFrame(
        [("MISSING_INVENTORY", "MEDIUM", 7)],
        "type string, severity string, product_id int",
    )
    write_exceptions_json(exc, str(export_dir / "exceptions.json"), "2026-01-15")
    assert sorted(os.listdir(export_dir)) == [
        "exceptions.json", "supplier_1.json", "supplier_2.json"
    ]
    nd.write.parquet(str(tmp_path / "after"))
    assert any(n.endswith(".crc") for n in os.listdir(tmp_path / "after"))
