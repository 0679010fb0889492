"""Per-supplier nested purchase-order export.

Reference parity: procurement_dag.py:100-147 groups net-demand rows by
supplier driver-side and writes one nested JSON per supplier. The Spark-native
form builds the nested document distributedly — ``collect_list(struct(...))``
inside a grouped aggregation — so the only driver-side step is the final
bounded write (one row per supplier by construction).

The items array is sorted by product_id (reference iterates rows ordered by
supplier/priority/demand; a deterministic inner order is required for
oracle-stable hashing of nested output).
"""

from __future__ import annotations

import json
from datetime import datetime, timezone

from py4j.java_gateway import is_instance_of
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def supplier_orders(net_demand: DataFrame, order_date: str, data_date: str) -> DataFrame:
    """net_demand rows → one nested row per supplier.

    Output: supplier_id, supplier_name, order_date, data_date,
    items: array<struct<product_id, product_name, quantity, unit_cost,
    total_cost>>, item_count, total_estimated_cost.
    """
    item = F.struct(
        F.col("product_id"),
        F.col("product_name"),
        F.col("net_demand").alias("quantity"),
        F.round(F.col("unit_cost").cast("double"), 2).alias("unit_cost"),
        F.round(F.col("estimated_cost").cast("double"), 2).alias("total_cost"),
    )
    return (
        net_demand.filter(F.col("net_demand") > 0)
        .groupBy("supplier_id", "supplier_name")
        .agg(
            F.sort_array(F.collect_list(item)).alias("items"),
            F.count(F.lit(1)).cast("int").alias("item_count"),
            F.sum("estimated_cost").cast("decimal(18,2)").alias("total_estimated_cost"),
        )
        .select(
            "supplier_id",
            "supplier_name",
            F.lit(order_date).cast("date").alias("order_date"),
            F.lit(data_date).cast("date").alias("data_date"),
            "items",
            "item_count",
            "total_estimated_cost",
        )
    )


def sidecar_free_fs(spark, path_str: str):
    """``(path, fs)`` for writing ``path_str`` without ``.crc`` sidecars:
    the consumers of the JSON exports and their archive list the directory
    and expect exactly the files the reference writes.

    ``getFileSystem`` returns a JVM-wide cached instance that every later
    write in the process shares, so instead of switching its checksums off
    this returns the raw file system under a checksumming one (local
    ``file:``); other file systems come back as they are."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path_str)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if is_instance_of(
        spark._sc._gateway, fs, "org.apache.hadoop.fs.ChecksumFileSystem"
    ):
        fs = fs.getRawFileSystem()
    return p, fs


def _write_text_hadoop(spark, path_str: str, text: str) -> None:
    """Create/overwrite a small text file through the Hadoop FileSystem API
    (parents auto-created), so the JSON sinks work wherever the warehouse
    lives — file://, hdfs://, s3a:// — like every other warehouse write."""
    p, fs = sidecar_free_fs(spark, path_str)
    out = fs.create(p, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def write_supplier_json(
    supplier_orders_df: DataFrame, out_dir: str, generated_at: str | None = None
) -> list[str]:
    """Write ``supplier_{id}.json`` files (reference procurement_dag.py:135-147).

    The row set is one-per-supplier — a declared, bounded export boundary —
    so a driver-side collect here is the Spark analogue of the reference's
    XCom hop, not a scalability bug.
    """
    generated_at = generated_at or datetime.now(timezone.utc).isoformat()
    spark = supplier_orders_df.sparkSession
    paths = []
    for row in supplier_orders_df.collect():
        doc = {
            "supplier_id": int(row["supplier_id"]),
            "supplier_name": row["supplier_name"],
            "order_date": row["order_date"].isoformat(),
            "data_date": row["data_date"].isoformat(),
            "generated_at": generated_at,
            "items": [
                {
                    "product_id": int(i["product_id"]),
                    "product_name": i["product_name"],
                    "quantity": int(i["quantity"]),
                    "unit_cost": round(float(i["unit_cost"]), 2),
                    "total_cost": round(float(i["total_cost"]), 2),
                }
                for i in row["items"]
            ],
            "total_estimated_cost": round(float(row["total_estimated_cost"]), 2),
        }
        path = out_dir.rstrip("/") + f"/supplier_{doc['supplier_id']}.json"
        _write_text_hadoop(spark, path, json.dumps(doc, indent=2))
        paths.append(path)
    return paths


def write_exceptions_json(exceptions_df: DataFrame, out_path: str, date: str) -> str:
    """Exception log ``{date, exception_count, exceptions[]}``

    (reference procurement_dag.py:184-190)."""
    records = [
        {"type": r["type"], "severity": r["severity"], "product_id": int(r["product_id"])}
        for r in exceptions_df.collect()
    ]
    _write_text_hadoop(
        exceptions_df.sparkSession,
        out_path,
        json.dumps(
            {"date": date, "exception_count": len(records), "exceptions": records},
            indent=2,
        ),
    )
    return out_path
