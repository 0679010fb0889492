"""MRP net-demand operator unit tests on reference-replica fixtures.

Fixtures mirror FIXTURES.md: 5 products / 3 suppliers / 2 mappings per
product (docker/dags/sql/ddl_postgres.sql:51-82), exercising every scenario
the reference's semantics define: clamp-at-zero, COALESCE safety-stock
fallback, inactive exclusion, multi-warehouse rollup, rank tie-breaks.
"""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

import pytest
from pyspark.sql import types as T

from procurement_data_pipeline_spark.operators.net_demand import (
    net_demand,
    preferred_suppliers,
    rollup_inventory,
)

D = dt.date


def _orders(spark, rows):
    return spark.createDataFrame(
        rows,
        T.StructType(
            [
                T.StructField("order_id", T.LongType()),
                T.StructField("product_id", T.IntegerType()),
                T.StructField("quantity", T.IntegerType()),
                T.StructField("order_date", T.DateType()),
            ]
        ),
    )


def _inventory(spark, rows):
    return spark.createDataFrame(
        rows,
        T.StructType(
            [
                T.StructField("product_id", T.IntegerType()),
                T.StructField("warehouse_id", T.IntegerType()),
                T.StructField("available_qty", T.IntegerType()),
                T.StructField("reserved_qty", T.IntegerType()),
                T.StructField("safety_stock", T.IntegerType()),
                T.StructField("snapshot_date", T.DateType()),
            ]
        ),
    )


def _products(spark, rows):
    return spark.createDataFrame(
        rows,
        T.StructType(
            [
                T.StructField("product_id", T.IntegerType()),
                T.StructField("product_name", T.StringType()),
                T.StructField("safety_stock_level", T.IntegerType()),
                T.StructField("is_active", T.BooleanType()),
            ]
        ),
    )


def _suppliers(spark, rows):
    return spark.createDataFrame(
        rows,
        T.StructType(
            [
                T.StructField("supplier_id", T.IntegerType()),
                T.StructField("supplier_name", T.StringType()),
                T.StructField("is_active", T.BooleanType()),
            ]
        ),
    )


def _mappings(spark, rows):
    return spark.createDataFrame(
        rows,
        T.StructType(
            [
                T.StructField("product_id", T.IntegerType()),
                T.StructField("supplier_id", T.IntegerType()),
                T.StructField("unit_cost", T.DecimalType(10, 2)),
                T.StructField("priority", T.IntegerType()),
            ]
        ),
    )


DAY = D(2026, 1, 14)


@pytest.fixture(scope="module")
def golden(spark):
    """Reference golden-day replica (ddl_postgres.sql seed + one day's data)."""
    products = _products(
        spark,
        [
            (1, "Widget A", 100, True),
            (2, "Widget B", 50, True),
            (3, "Component X", 200, True),
            (4, "Component Y", 150, True),
            (5, "Assembly Kit", 30, True),
        ],
    )
    suppliers = _suppliers(
        spark,
        [(1, "TechSupply Co", True), (2, "Global Parts Inc", True), (3, "FastShip Ltd", True)],
    )
    mappings = _mappings(
        spark,
        [
            (1, 1, Decimal("20.00"), 1),
            (1, 2, Decimal("22.00"), 2),
            (2, 1, Decimal("35.00"), 1),
            (2, 3, Decimal("36.50"), 2),
            (3, 2, Decimal("11.00"), 1),
            (3, 3, Decimal("10.50"), 2),
            (4, 2, Decimal("44.00"), 1),
            (4, 1, Decimal("46.00"), 2),
            (5, 3, Decimal("60.00"), 1),
            (5, 2, Decimal("62.00"), 2),
        ],
    )
    return products, suppliers, mappings


def _run(spark, golden, orders_rows, inv_rows, **kw):
    products, suppliers, mappings = golden
    return net_demand(
        _orders(spark, orders_rows),
        _inventory(spark, inv_rows),
        products,
        suppliers,
        mappings,
        "2026-01-14",
        "2026-01-15",
        "2026-01-15",
        **kw,
    )


def test_mrp_formula_and_supplier_selection(spark, golden):
    # demand 100, stock position 150-10=140, safety 60 → net 100+60-140=20
    out = _run(
        spark,
        golden,
        [(1, 1, 100, DAY)],
        [(1, 1, 150, 10, 60, DAY)],
    ).collect()
    # all 5 products appear (LEFT JOIN keeps orderless products at their
    # safety-stock demand); product 1 carries the computed MRP value
    assert {r.product_id for r in out} == {1, 2, 3, 4, 5}
    r = next(x for x in out if x.product_id == 1)
    assert r.net_demand == 20
    assert r.supplier_id == 1  # priority-1 supplier
    assert r.estimated_cost == Decimal("400.00")
    assert r.calculation_date == D(2026, 1, 15)


def test_clamp_at_zero_excludes_row(spark, golden):
    # demand 5 + safety 10 - (500-0) < 0 → clamped to 0 → filtered out
    out = _run(spark, golden, [(1, 1, 5, DAY)], [(1, 1, 500, 0, 10, DAY)]).collect()
    assert 1 not in {r.product_id for r in out}


def test_safety_stock_fallback_when_inventory_missing(spark, golden):
    # product 2 has orders but no inventory: COALESCE(ai.safety_stock,
    # p.safety_stock_level)=50; available/reserved→0 → net = 40+50 = 90
    out = _run(spark, golden, [(10, 2, 40, DAY)], []).collect()
    by_pid = {r.product_id: r for r in out}
    assert by_pid[2].net_demand == 90
    assert by_pid[2].supplier_id == 1  # priority 1 beats cheaper priority 2


def test_no_orders_product_gets_safety_stock_demand(spark, golden):
    # Products with no orders and no inventory still appear with
    # net = safety_stock_level (LEFT JOIN semantics, net_demand.sql:64-68).
    out = _run(spark, golden, [], []).collect()
    by_pid = {r.product_id: r for r in out}
    assert set(by_pid) == {1, 2, 3, 4, 5}
    assert by_pid[3].net_demand == 200
    # product 3: supplier 2 has priority 1 despite supplier 3 being cheaper
    assert by_pid[3].supplier_id == 2


def test_multi_warehouse_rollup(spark, golden):
    # SUM(available), SUM(reserved), MAX(safety) across warehouses
    inv = [
        (1, 1, 100, 10, 60, DAY),
        (1, 2, 50, 5, 80, DAY),
    ]
    out = _run(spark, golden, [(1, 1, 200, DAY)], inv).collect()
    r = next(x for x in out if x.product_id == 1)
    # net = 200 + max(60,80) - (150 - 15) = 145
    assert r.net_demand == 145


def test_rollup_inventory_shapes(spark):
    inv = _inventory(
        spark,
        [(1, 1, 100, 10, 60, DAY), (1, 2, 50, 5, 80, DAY), (2, 1, 9, 1, 7, DAY)],
    )
    got = {r.product_id: r for r in rollup_inventory(inv).collect()}
    assert (got[1].available_qty, got[1].reserved_qty, got[1].safety_stock) == (150, 15, 80)
    assert (got[2].available_qty, got[2].reserved_qty, got[2].safety_stock) == (9, 1, 7)


def test_inactive_product_and_supplier_excluded(spark, golden):
    products, suppliers, mappings = golden
    products = products.replace({True: False}, subset=["is_active"]).filter(
        "product_id = 1"
    ).unionByName(products.filter("product_id != 1"))
    out = net_demand(
        _orders(spark, [(1, 1, 100, DAY)]),
        _inventory(spark, []),
        products,
        suppliers,
        mappings,
        "2026-01-14",
        "2026-01-15",
        "2026-01-15",
    ).collect()
    assert 1 not in {r.product_id for r in out}


def test_preferred_supplier_tie_break_by_cost(spark, golden):
    # same priority, different cost → cheaper wins rank 1
    mappings = _mappings(
        spark,
        [(9, 1, Decimal("10.00"), 1), (9, 2, Decimal("9.50"), 1)],
    )
    out = preferred_suppliers(mappings).collect()
    assert len(out) == 1 and out[0].supplier_id == 2


def test_demand_window_filters_dates(spark, golden):
    orders = [
        (1, 1, 100, DAY),
        (2, 1, 999, D(2026, 1, 13)),  # outside window
        (3, 1, 999, D(2026, 1, 15)),  # outside window (exclusive end)
    ]
    out = _run(spark, golden, orders, [(1, 1, 100, 0, 50, DAY)]).collect()
    r = next(x for x in out if x.product_id == 1)
    assert r.net_demand == 100 + 50 - 100


def test_present_net_demand_output_order(spark, sf_dir):
    """O1: final ORDER BY supplier_id, supplier_priority, net_demand DESC
    (net_demand.sql:87) at the presentation boundary."""
    from procurement_data_pipeline_spark.operators.net_demand import (
        present_net_demand,
    )
    from procurement_data_pipeline_spark.queries.parity import _net_demand

    rows = present_net_demand(_net_demand(spark, sf_dir)).collect()
    assert len(rows) > 1
    keys = [
        (r.supplier_id, r.supplier_priority, -r.net_demand) for r in rows
    ]
    assert keys == sorted(keys)


def test_one_pass_chain_equals_view_chain(spark, tmp_path):
    """The headline's one product-grain aggregate (queries/parity.py) must
    equal the operator chain over the derived views on the same files.

    * part 1: suppliers 10 and 11 cost 10.0045 and 10.001, which floor to
      the same 1000 cents, so the LOWER supplier id wins although 11 is
      cheaper before flooring;
    * part 2: no demand-window rows; its cheapest supplier (13) only ships
      after the window, which still counts for the cost ranking;
    * part 3: no pre-cutoff rows, so safety_stock falls back to
      safety_stock_level (p_size * 10);
    * part 4: stock covers demand, so the clamp drops it;
    * part 5: no lineitem rows, so no supplier and no output row.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    from procurement_data_pipeline_spark.queries.parity import _net_demand
    from procurement_data_pipeline_spark.sources import procurement_views as pv

    pre, win, post = (
        dt.datetime(1997, 12, 15),
        dt.datetime(1998, 1, 10),
        dt.datetime(1998, 3, 1),
    )
    # (orderkey, partkey, suppkey, quantity, extendedprice, shipdate)
    rows = [
        (1, 1, 10, 2.0, 20.009, pre),
        (2, 1, 11, 1.0, 10.001, pre),
        (3, 1, 12, 5.0, 100.0, win),
        (4, 2, 12, 4.0, 8.0, pre),
        (5, 2, 13, 3.0, 3.0, post),
        (6, 3, 11, 7.0, 70.0, win),
        (7, 3, 10, 2.0, 30.0, win),
        (8, 4, 10, 50.0, 500.0, pre),
        (9, 4, 11, 50.0, 600.0, pre),
    ]
    cols = list(zip(*rows))
    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array(cols[0], pa.int64()),
                "l_partkey": pa.array(cols[1], pa.int64()),
                "l_suppkey": pa.array(cols[2], pa.int64()),
                "l_quantity": pa.array(cols[3], pa.float64()),
                "l_extendedprice": pa.array(cols[4], pa.float64()),
                "l_shipdate": pa.array(cols[5], pa.timestamp("us")),
            }
        ),
        str(tmp_path / "lineitem.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "p_partkey": pa.array([1, 2, 3, 4, 5], pa.int64()),
                "p_name": [f"part {i}" for i in range(1, 6)],
                "p_size": pa.array([1, 2, 3, 4, 5], pa.int32()),
            }
        ),
        str(tmp_path / "part.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "s_suppkey": pa.array([10, 11, 12, 13], pa.int64()),
                "s_name": [f"supplier {i}" for i in (10, 11, 12, 13)],
            }
        ),
        str(tmp_path / "supplier.parquet"),
    )
    sf = str(tmp_path)

    one_pass = _net_demand(spark, sf)
    views = net_demand(
        pv.orders(spark, sf),
        pv.inventory(spark, sf),
        pv.products(spark, sf),
        pv.suppliers(spark, sf),
        pv.product_suppliers(spark, sf),
        pv.DEMAND_FROM,
        pv.DEMAND_TO,
        pv.CALC_DATE,
    )
    assert one_pass.schema == views.schema
    got = sorted(one_pass.collect())
    assert got == sorted(views.collect())
    by_pid = {r.product_id: r for r in got}
    assert set(by_pid) == {1, 2, 3}
    assert (by_pid[1].supplier_id, by_pid[1].unit_cost) == (10, 10.0)
    assert by_pid[1].net_demand == 5 + 22 - (3 - 10)
    assert (by_pid[2].supplier_id, by_pid[2].unit_cost) == (13, 1.0)
    assert by_pid[2].net_demand == 0 + 24 - (4 - 5)
    assert by_pid[3].net_demand == 9 + 30
    assert {r.supplier_priority for r in got} == {1}
