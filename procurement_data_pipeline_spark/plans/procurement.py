"""The daily procurement pipeline (reference procurement_dag.py end-to-end).

Task graph (procurement_dag.py:379):
    sync_partitions >> aggregate_orders >> calculate_net_demand
    >> [export_supplier_json, quality_checks] >> copy_to_processed

Date semantics (procurement_dag.py:348-375): the run processes ``exec_date``
(the data date — Airflow's interval_end + 1); net demand is stamped with
``calculation_date = exec_date`` (net_demand.sql:84) and the supplier order
is dated ``exec_date + 1`` (the next business day, interval_end + 2).

Each stage is a DataFrame plan over the warehouse; materialization points
match the reference's (derived tables persisted, exports collected only at
the declared per-supplier boundary).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from procurement_data_pipeline_spark.functions.dates import shift_date
from procurement_data_pipeline_spark.catalog import (
    LOGS_EXCEPTIONS,
    OUTPUT_SUPPLIER_ORDERS,
    PROCESSED,
    Warehouse,
)
from procurement_data_pipeline_spark.operators.aggregate import aggregate_orders
from procurement_data_pipeline_spark.operators.export import (
    sidecar_free_fs,
    supplier_orders,
    write_exceptions_json,
    write_supplier_json,
)
from procurement_data_pipeline_spark.operators.net_demand import (
    net_demand,
    present_net_demand,
)
from procurement_data_pipeline_spark.operators.quality import exceptions_report
from procurement_data_pipeline_spark.plans.runner import Pipeline


def build_daily_pipeline(
    spark: SparkSession,
    wh: Warehouse,
    exec_date: str,
    products,
    suppliers,
    product_suppliers,
) -> Pipeline:
    pipe = Pipeline(f"procurement_{exec_date}")
    next_day = shift_date(exec_date, 1)  # exclusive end of the 1-day window
    order_date = shift_date(exec_date, 1)  # supplier_order_date: data date + 1

    @pipe.task("sync_partitions")
    def sync_partitions(ctx: dict[str, Any]):
        # Raw zones are plain parquet dirs → Spark partition discovery is the
        # sync (catalog-registered deployments call recoverPartitions here).
        ctx["orders_raw"] = wh.read_orders(spark).filter(
            F.col("order_date") == F.lit(exec_date).cast("date")
        )
        ctx["inventory_raw"] = wh.read_inventory(spark).filter(
            F.col("snapshot_date") == F.lit(exec_date).cast("date")
        )
        return True

    @pipe.task("aggregate_orders", deps=("sync_partitions",))
    def aggregate(ctx: dict[str, Any]):
        agg = aggregate_orders(ctx["orders_raw"], exec_date, next_day)
        wh.write_derived(agg, "aggregated_orders", "order_date")
        # verification echo (procurement_dag.py:47-56): what landed in the
        # day's partition, not a re-run of the aggregation
        landed = wh.read_derived(spark, "aggregated_orders", agg.schema).filter(
            F.col("order_date") == F.lit(exec_date).cast("date")
        )
        check = landed.agg(
            F.count(F.lit(1)).alias("n"), F.sum("total_quantity").alias("qty")
        ).collect()[0]
        return {"rows": check["n"], "total_quantity": check["qty"]}

    @pipe.task("calculate_net_demand", deps=("aggregate_orders",))
    def calc_net_demand(ctx: dict[str, Any]):
        nd = net_demand(
            ctx["orders_raw"],
            ctx["inventory_raw"],
            products,
            suppliers,
            product_suppliers.select(
                "product_id", "supplier_id", "unit_cost", "priority"
            ),
            exec_date,
            next_day,
            exec_date,  # calculation_date = data date (net_demand.sql:84)
        )
        # final ORDER BY supplier_id, supplier_priority, net_demand DESC
        # (net_demand.sql:87) — applied once, at the materialization boundary
        written = present_net_demand(nd)
        wh.write_derived(written, "net_demand", "calculation_date")
        ctx["net_demand_df"] = wh.read_derived(
            spark, "net_demand", written.schema
        ).filter(F.col("calculation_date") == F.lit(exec_date).cast("date"))
        return True

    @pipe.task("export_supplier_json", deps=("calculate_net_demand",))
    def export(ctx: dict[str, Any]):
        docs = supplier_orders(ctx["net_demand_df"], order_date, exec_date)
        out_dir = wh.path(OUTPUT_SUPPLIER_ORDERS, order_date)
        return write_supplier_json(docs, out_dir)

    @pipe.task("quality_checks", deps=("calculate_net_demand",))
    def quality(ctx: dict[str, Any]):
        exc = exceptions_report(
            ctx["orders_raw"],
            product_suppliers.select("product_id").distinct(),
            ctx["inventory_raw"],
            exec_date,
        )
        path = wh.path(LOGS_EXCEPTIONS, f"exceptions_{exec_date}.json")
        return write_exceptions_json(exc, path, exec_date)

    @pipe.task(
        "copy_to_processed", deps=("export_supplier_json", "quality_checks")
    )
    def archive(ctx: dict[str, Any]):
        # procurement_dag.py:197-308 — archive exports/logs next to the
        # warehouse tables (filesystem copy; data movement, not query work).
        # Copies go through Hadoop FileUtil so the archive works on whatever
        # filesystem the warehouse lives on (file://, hdfs://, s3a://) —
        # same reasoning as incremental_refresh / compact_dir / merge_upsert.
        jvm = spark._jvm
        hconf = spark._jsc.hadoopConfiguration()
        hpath = jvm.org.apache.hadoop.fs.Path

        def _copy(src_str: str, dst_str: str) -> None:
            src_p = hpath(src_str)
            fs = src_p.getFileSystem(hconf)
            # the archive holds the exported files only, like the export
            dst_p, dfs = sidecar_free_fs(spark, dst_str)
            # Delete-then-copy: FileUtil.copy into an EXISTING dir nests
            # src under it; removing dst first gives the rerun the same
            # replace-in-place semantics the old copytree(dirs_exist_ok)
            # had (and stronger: no stale files survive).
            if dfs.exists(dst_p):
                dfs.delete(dst_p, True)
            jvm.org.apache.hadoop.fs.FileUtil.copy(
                fs, src_p, dfs, dst_p, False, True, hconf
            )

        src = wh.path(OUTPUT_SUPPLIER_ORDERS, order_date)
        dst = wh.path(PROCESSED, "supplier_orders", order_date)
        _copy(src, dst)
        # Exceptions-log parity (procurement_dag.py:293-306): the daily
        # exceptions JSON is archived under processed/logs_exceptions/<date>
        # exactly as the reference uploads it to /logs/exceptions/<date>.
        log_src = wh.path(LOGS_EXCEPTIONS, f"exceptions_{exec_date}.json")
        log_fs = hpath(log_src).getFileSystem(hconf)
        if log_fs.exists(hpath(log_src)):
            log_dst = wh.path(PROCESSED, "logs_exceptions", exec_date)
            log_fs.mkdirs(hpath(log_dst))
            _copy(log_src, log_dst + "/" + f"exceptions_{exec_date}.json")
        return dst

    return pipe


def run_daily(
    spark: SparkSession,
    warehouse_root: str,
    exec_date: str,
    orders_df=None,
    inventory_df=None,
    seed: int = 42,
):
    """Convenience end-to-end: ingest (generated or provided) → pipeline."""
    from procurement_data_pipeline_spark.generate import (
        generate_inventory,
        generate_orders,
        master_data,
    )

    wh = Warehouse(warehouse_root)
    wh.init_layout()
    orders = orders_df if orders_df is not None else generate_orders(spark, exec_date, seed=seed)
    inventory = (
        inventory_df if inventory_df is not None else generate_inventory(spark, exec_date, seed=seed)
    )
    wh.write_orders(orders)
    wh.write_inventory(inventory)
    products, suppliers, product_suppliers = master_data(spark)
    pipe = build_daily_pipeline(
        spark, wh, exec_date, products, suppliers, product_suppliers
    )
    results = pipe.run()
    return wh, results
