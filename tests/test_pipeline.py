"""End-to-end daily-pipeline test (reference golden-path replica) + runner
semantics + generator determinism + catalog registration."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from procurement_data_pipeline_spark.catalog import (
    Warehouse,
    register_tables,
    sync_partitions,
)
from procurement_data_pipeline_spark.generate import (
    PRODUCT_SUPPLIERS_SCHEMA,
    PRODUCT_SUPPLIERS_SEED,
    PRODUCTS_SCHEMA,
    PRODUCTS_SEED,
    SUPPLIERS_SCHEMA,
    SUPPLIERS_SEED,
    generate_inventory,
    generate_orders,
    master_data,
)
from procurement_data_pipeline_spark.plans.procurement import (
    build_daily_pipeline,
    run_daily,
)
from procurement_data_pipeline_spark.plans.runner import Pipeline, Task

EXEC_DATE = "2026-01-14"
ARROW_CONF = "spark.sql.execution.arrow.pyspark.enabled"
# Spark jobs of one warm DAG day, raw-zone writes included, as measured on
# Spark 4.1.2 at 2, 4 and 8 cores. A PythonRDD master-data scan or a
# schema-inferring warehouse read each add jobs.
WARM_DAY_JOBS = 24


def _write_day(spark, wh, date, n=1000):
    wh.write_orders(generate_orders(spark, date, n=n))
    wh.write_inventory(generate_inventory(spark, date))


def test_generators_deterministic_and_in_range(spark):
    a = generate_orders(spark, EXEC_DATE, n=200).collect()
    b = generate_orders(spark, EXEC_DATE, n=200).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert len({r.order_id for r in a}) == 200
    assert all(1 <= r.product_id <= 5 and 1 <= r.quantity <= 100 for r in a)
    inv = generate_inventory(spark, EXEC_DATE).collect()
    assert len(inv) == 5
    assert all(50 <= r.available_qty <= 500 and r.reserved_qty <= 50 for r in inv)


@pytest.mark.parametrize("arrow", ["true", "false"])
def test_master_data_is_jvm_local(spark, arrow):
    """The seed frames plan as local relations, never as a PythonRDD scan
    (Python workers, unknown size, no plan-time broadcast), whatever the
    Arrow setting."""
    old = spark.conf.get(ARROW_CONF)
    spark.conf.set(ARROW_CONF, arrow)
    try:
        seeds = (
            (PRODUCTS_SEED, PRODUCTS_SCHEMA),
            (SUPPLIERS_SEED, SUPPLIERS_SCHEMA),
            (PRODUCT_SUPPLIERS_SEED, PRODUCT_SUPPLIERS_SCHEMA),
        )
        for df, (rows, schema) in zip(master_data(spark), seeds):
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "ExistingRDD" not in plan and "LocalTableScan" in plan, plan
            assert df.schema == schema
            assert sorted(map(tuple, df.collect())) == sorted(rows)
    finally:
        spark.conf.set(ARROW_CONF, old)


def test_warm_day_job_budget(spark, tmp_path, spark_jobs):
    wh = Warehouse(str(tmp_path / "wh"))
    wh.init_layout()
    master = master_data(spark)
    _write_day(spark, wh, "2026-01-13")
    build_daily_pipeline(spark, wh, "2026-01-13", *master).run()  # warm-up
    with spark_jobs() as jobs:
        _write_day(spark, wh, EXEC_DATE)
        results = build_daily_pipeline(spark, wh, EXEC_DATE, *master).run()
    assert {r.status for r in results.values()} == {"success"}, results
    assert jobs.n <= WARM_DAY_JOBS, jobs.n


def test_aggregation_echo_reports_landed_rows(spark, tmp_path, monkeypatch):
    """The verification echo counts what the write left in the day's
    partition, so a write that lost a row shows in the task result."""
    write_derived = Warehouse.write_derived

    def lossy(self, df, table, partition_col):
        if table == "aggregated_orders":
            df = df.filter(F.col("product_id") != 1)
        write_derived(self, df, table, partition_col)

    monkeypatch.setattr(Warehouse, "write_derived", lossy)
    wh = Warehouse(str(tmp_path / "wh"))
    wh.init_layout()
    _write_day(spark, wh, EXEC_DATE)
    ctx: dict = {}
    build_daily_pipeline(spark, wh, EXEC_DATE, *master_data(spark)).run(ctx)
    landed = (
        spark.read.parquet(wh.path("processed/aggregated_orders"))
        .filter(F.col("order_date") == EXEC_DATE)
        .agg(F.count(F.lit(1)).alias("n"), F.sum("total_quantity").alias("qty"))
        .collect()[0]
    )
    assert landed.n == 4
    assert ctx["aggregate_orders"] == {"rows": 4, "total_quantity": landed.qty}


def test_daily_pipeline_end_to_end(spark, tmp_path):
    wh, results = run_daily(spark, str(tmp_path / "wh"), EXEC_DATE)
    assert {r.status for r in results.values()} == {"success"}, results

    # derived tables materialized and partitioned
    agg = wh.read_derived(spark, "aggregated_orders")
    assert agg.filter(F.col("order_date") == EXEC_DATE).count() == 5
    nd = wh.read_derived(spark, "net_demand")
    assert nd.count() > 0
    assert nd.filter(F.col("net_demand") <= 0).count() == 0

    # supplier JSONs: MRP-consistent totals, one file per supplier with
    # demand; order date = data date + 1 (procurement_dag.py:361-362)
    out_dir = wh.path("output/supplier_orders", "2026-01-15")
    files = sorted(os.listdir(out_dir))
    assert files and all(f.startswith("supplier_") for f in files)
    doc = json.load(open(os.path.join(out_dir, files[0])))
    assert doc["order_date"] == "2026-01-15"
    assert doc["data_date"] == EXEC_DATE
    assert doc["total_estimated_cost"] == round(
        sum(i["total_cost"] for i in doc["items"]), 2
    )
    for item in doc["items"]:
        assert item["quantity"] > 0
        assert item["total_cost"] == round(item["quantity"] * item["unit_cost"], 2)

    # quality log exists with the reference envelope
    exc = json.load(open(wh.path("logs/exceptions", f"exceptions_{EXEC_DATE}.json")))
    assert exc["date"] == EXEC_DATE
    assert exc["exception_count"] == len(exc["exceptions"]) == 0  # clean seed data

    # archive copied — supplier orders AND the exceptions log
    # (procurement_dag.py:293-306 uploads both)
    assert sorted(os.listdir(wh.path("processed/supplier_orders", "2026-01-15"))) == files
    assert os.listdir(wh.path("processed/logs_exceptions", EXEC_DATE)) == [
        f"exceptions_{EXEC_DATE}.json"
    ]
    assert os.path.isfile(
        wh.path("processed/logs_exceptions", EXEC_DATE, f"exceptions_{EXEC_DATE}.json")
    )


def test_pipeline_net_demand_matches_direct_mrp(spark, tmp_path):
    """Cross-check: warehouse round-trip equals computing the MRP directly."""
    from procurement_data_pipeline_spark.operators.net_demand import net_demand

    wh, _ = run_daily(spark, str(tmp_path / "wh2"), EXEC_DATE)
    products, suppliers, ps = master_data(spark)
    direct = net_demand(
        generate_orders(spark, EXEC_DATE),
        generate_inventory(spark, EXEC_DATE),
        products,
        suppliers,
        ps.select("product_id", "supplier_id", "unit_cost", "priority"),
        EXEC_DATE,
        "2026-01-15",
        EXEC_DATE,  # calculation_date = data date (net_demand.sql:84)
    )
    via_wh = wh.read_derived(spark, "net_demand")
    key = lambda df: sorted(  # noqa: E731
        (r.product_id, r.supplier_id, r.net_demand, str(r.estimated_cost))
        for r in df.collect()
    )
    assert key(direct) == key(via_wh)


def test_runner_fanout_failure_skips_dependents_only(spark):
    pipe = Pipeline("t")
    log = []
    pipe.add(Task("a", lambda ctx: log.append("a") or 1))
    pipe.add(Task("bad", lambda ctx: 1 / 0, deps=("a",), retries=1))
    pipe.add(Task("c", lambda ctx: log.append("c") or ctx["a"] + 1, deps=("a",)))
    pipe.add(Task("d", lambda ctx: log.append("d"), deps=("bad",)))
    res = pipe.run()
    assert res["a"].status == "success"
    assert res["bad"].status == "failed" and res["bad"].attempts == 2
    assert res["c"].status == "success"  # independent branch continues
    assert res["d"].status == "skipped"
    assert "d" not in log


def test_catalog_registration_and_partition_discovery(spark, tmp_path):
    wh = Warehouse(str(tmp_path / "whc"))
    wh.init_layout()
    wh.write_orders(generate_orders(spark, EXEC_DATE, n=50))
    wh.write_orders(generate_orders(spark, "2026-01-15", n=40), stage_csv=True)
    wh.write_inventory(generate_inventory(spark, EXEC_DATE))
    # CSV staging sink (S6): the last staged batch, with a header row
    staged = spark.read.option("header", True).csv(wh.path("staging", "orders"))
    assert staged.count() == 40
    register_tables(spark, wh)
    assert {t.name for t in spark.catalog.listTables("procurement")} >= {
        "orders",
        "inventory",
    }
    got = spark.table("procurement.orders")
    assert got.select("order_date").distinct().count() == 2
    # partition-pruned read
    plan = (
        got.filter(F.col("order_date") == EXEC_DATE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [isnotnull(order_date" in plan
    # partition metadata sync (S14): a day written after registration is
    # invisible to the catalog table until its partitions are recovered
    wh.write_orders(generate_orders(spark, "2026-01-16", n=30))
    days = lambda: spark.table("procurement.orders").select("order_date").distinct().count()  # noqa: E731
    assert days() == 2
    sync_partitions(spark, "procurement", ("orders",))
    assert days() == 3
    assert spark.table("procurement.orders").count() == 50 + 40 + 30


def test_bucketed_join_eliminates_shuffle(spark, sf_dir):
    from procurement_data_pipeline_spark.catalog import write_bucketed_table
    from procurement_data_pipeline_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").limit(2000)
    orders = load_table(spark, sf_dir, "orders").limit(1000)
    write_bucketed_table(li, "b_lineitem", "l_orderkey", num_buckets=8)
    write_bucketed_table(orders, "b_orders", "o_orderkey", num_buckets=8)
    try:
        # force a non-broadcast join so the exchange question is real
        with_conf = [
            ("spark.sql.autoBroadcastJoinThreshold", "-1"),
            ("spark.sql.adaptive.enabled", "false"),
        ]
        old = {k: spark.conf.get(k) for k, _ in with_conf}
        for k, v in with_conf:
            spark.conf.set(k, v)
        try:
            joined = spark.table("b_lineitem").join(
                spark.table("b_orders"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan}"
            assert joined.count() > 0
        finally:
            for k, v in old.items():
                spark.conf.set(k, v)
    finally:
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
        spark.sql("DROP TABLE IF EXISTS b_orders")


def test_salted_join_matches_plain_join(spark, sf_dir):
    from procurement_data_pipeline_spark.operators.skew import salted_join
    from procurement_data_pipeline_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    plain = (
        li.join(orders, "l_orderkey")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("q"))
    )
    salted = (
        salted_join(li, orders, "l_orderkey", n_salt=8)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("q"))
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_left_join_preserves_unmatched(spark):
    from procurement_data_pipeline_spark.operators.skew import salted_join

    fat = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k int, v string")
    slim = spark.createDataFrame([(1, "x")], "k int, w string")
    got = {r.k: r.w for r in salted_join(fat, slim, "k", how="left").collect()}
    assert got == {1: "x", 2: None, 3: None}


def test_two_phase_count_distinct_exact(spark, sf_dir):
    from procurement_data_pipeline_spark.operators.skew import (
        two_phase_count_distinct,
    )
    from procurement_data_pipeline_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    expected = {
        (r.l_returnflag,): r.n
        for r in li.groupBy("l_returnflag")
        .agg(F.countDistinct("l_orderkey").alias("n"))
        .collect()
    }
    got = {
        (r.l_returnflag,): r.n_distinct
        for r in two_phase_count_distinct(li, "l_returnflag", "l_orderkey").collect()
    }
    assert got == expected


def test_two_phase_count_distinct_excludes_nulls(spark):
    """COUNT(DISTINCT x) skips NULLs; all-NULL groups still appear with 0."""
    from procurement_data_pipeline_spark.operators.skew import (
        two_phase_count_distinct,
    )

    df = spark.createDataFrame(
        [("a", 1), ("a", 1), ("a", None), ("b", None), ("b", None)],
        "g string, x int",
    )
    got = {
        r.g: r.n_distinct
        for r in two_phase_count_distinct(df, "g", "x", n_salt=4).collect()
    }
    assert got == {"a": 1, "b": 0}


def test_compact_dir_reduces_files_preserves_rows(spark, sf_dir, tmp_path):
    from procurement_data_pipeline_spark.catalog import compact_dir
    from procurement_data_pipeline_spark.sources.tables import load_table

    path = str(tmp_path / "frag")
    src = load_table(spark, sf_dir, "orders")
    src.repartition(40).write.parquet(path)
    import os as _os

    before_files = sum(
        f.endswith(".parquet") for f in _os.listdir(path)
    )
    before_rows = spark.read.parquet(path).count()
    compact_dir(spark, path, target_file_bytes=64 * 1024 * 1024)
    after_files = sum(f.endswith(".parquet") for f in _os.listdir(path))
    assert after_files < before_files
    assert spark.read.parquet(path).count() == before_rows


def test_sorted_layout_narrows_rowgroup_stats(spark, sf_dir, tmp_path):
    """write_sorted_layout must yield files whose [min, max] cluster-column
    ranges are (near-)disjoint — the property parquet footer-stats pruning
    depends on. Verified directly from the parquet metadata via pyarrow."""
    import pyarrow.parquet as pq

    from procurement_data_pipeline_spark.catalog import write_sorted_layout
    from procurement_data_pipeline_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders")
    path = str(tmp_path / "sorted_orders")
    write_sorted_layout(orders, path, "o_orderdate", num_files=8)

    ranges = []
    for f in os.listdir(path):
        if not f.endswith(".parquet"):
            continue
        meta = pq.ParquetFile(os.path.join(path, f)).metadata
        idx = {
            meta.row_group(0).column(i).path_in_schema: i
            for i in range(meta.num_columns)
        }["o_orderdate"]
        for rg in range(meta.num_row_groups):
            st = meta.row_group(rg).column(idx).statistics
            ranges.append((st.min, st.max))
    assert len(ranges) >= 2, "expected multiple files/row groups"
    ranges.sort()
    overlaps = sum(
        1 for (a, b) in zip(ranges, ranges[1:]) if b[0] < a[1]
    )
    # range-partitioned + sorted ⇒ at most boundary-touching overlap
    assert overlaps <= len(ranges) // 4, (overlaps, len(ranges), ranges[:5])
    # row count preserved
    assert spark.read.parquet(path).count() == orders.count()


def test_multi_day_pipeline_accumulates_partitions(spark, tmp_path):
    from procurement_data_pipeline_spark.plans.procurement import run_daily

    root = str(tmp_path / "wh")
    for day in ("2026-01-13", "2026-01-14", "2026-01-15"):
        wh, results = run_daily(spark, root, day, seed=7)
        assert all(r.error is None for r in results.values()), results

    # raw zone holds one partition dir per day; derived net_demand holds one
    # calculation_date partition per run (= the data date)
    orders = spark.read.parquet(wh.path("raw/orders"))
    days = {r.order_date.isoformat() for r in orders.select("order_date").distinct().collect()}
    assert days == {"2026-01-13", "2026-01-14", "2026-01-15"}
    nd = spark.read.parquet(wh.path("processed/net_demand"))
    calc_days = {
        r.calculation_date.isoformat()
        for r in nd.select("calculation_date").distinct().collect()
    }
    assert calc_days == {"2026-01-13", "2026-01-14", "2026-01-15"}
    # latest-partition KPI semantics pick the newest calculation date
    from procurement_data_pipeline_spark.operators.kpi import total_net_demand

    latest = total_net_demand(nd).collect()[0]
    latest_only = nd.filter(F.col("calculation_date") == "2026-01-15")
    assert latest.total_net_demand == (
        latest_only.agg(F.sum("net_demand")).collect()[0][0]
    )


def test_register_sql_views_enables_plain_sql(spark, sf_dir):
    from procurement_data_pipeline_spark.sources.procurement_views import (
        register_sql_views,
    )

    names = register_sql_views(spark, sf_dir)
    assert names == [
        "inventory", "orders", "product_suppliers", "products", "suppliers"
    ]
    row = spark.sql(
        """
        SELECT COUNT(*) AS n
        FROM orders o JOIN product_suppliers ps ON o.product_id = ps.product_id
        WHERE ps.priority = 1
        """
    ).collect()[0]
    assert row.n > 0


def test_rerun_same_day_is_idempotent(spark, tmp_path):
    from procurement_data_pipeline_spark.plans.procurement import run_daily

    root = str(tmp_path / "wh")
    wh, r1 = run_daily(spark, root, "2026-02-01", seed=11)
    n_orders_1 = spark.read.parquet(wh.path("raw/orders")).count()
    nd_1 = spark.read.parquet(wh.path("processed/net_demand")).count()
    # retry/backfill of the SAME day must replace, not append
    wh, r2 = run_daily(spark, root, "2026-02-01", seed=11)
    assert spark.read.parquet(wh.path("raw/orders")).count() == n_orders_1
    assert spark.read.parquet(wh.path("processed/net_demand")).count() == nd_1


def test_merge_upsert_updates_inserts_idempotent(spark, tmp_path):
    from procurement_data_pipeline_spark.catalog import merge_upsert

    path = str(tmp_path / "dim")
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "k int, name string, v int"
    )
    merge_upsert(spark, path, base, ["k"])
    updates = spark.createDataFrame(
        [(2, "b2", 21), (4, "d", 40)], "k int, name string, v int"
    )
    merge_upsert(spark, path, updates, ["k"])
    got = {r.k: (r.name, r.v) for r in spark.read.parquet(path).collect()}
    assert got == {1: ("a", 10), 2: ("b2", 21), 3: ("c", 30), 4: ("d", 40)}
    # idempotent re-merge of the same batch
    merge_upsert(spark, path, updates, ["k"])
    again = {r.k: (r.name, r.v) for r in spark.read.parquet(path).collect()}
    assert again == got


def test_cli_run_daily_and_run_query(spark, tmp_path, capsys):
    """CLI surface: run-daily produces the warehouse artifacts, run-query
    executes a declared query, list-queries enumerates the registry."""
    from procurement_data_pipeline_spark.__main__ import main

    rc = main(
        ["run-daily", "--date", EXEC_DATE, "--warehouse", str(tmp_path / "whcli")]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "aggregate_orders" in out
    assert os.path.isdir(str(tmp_path / "whcli" / "processed" / "supplier_orders"))

    assert main(["list-queries"]) == 0
    listed = capsys.readouterr().out
    assert "net_demand_mrp\toracle" in listed

    assert main(["run-query", "nope_not_a_query"]) == 2


def test_merge_upsert_read_modify_merge_same_lineage(spark, tmp_path):
    """Advice r9: updates derived from the SAME spark.read.parquet(path)
    lineage as the existing table (read-modify-merge) made the anti-join
    condition compare same-origin attributes — AnalysisException. The
    key side is renamed to temp names, which also breaks the lineage."""
    from pyspark.sql import functions as F

    from procurement_data_pipeline_spark.catalog import merge_upsert

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], "k int, v int"
    )
    merge_upsert(spark, path, base, ["k"])
    updates = (
        spark.read.parquet(path)
        .filter(F.col("k") <= 2)
        .withColumn("v", F.col("v") + 100)
    )
    merge_upsert(spark, path, updates, ["k"])
    got = {r.k: r.v for r in spark.read.parquet(path).collect()}
    assert got == {1: 110, 2: 120, 3: 30}
