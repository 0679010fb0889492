"""Catalog & physical layout management (reference parity S8/S13/S14).

The reference's layout contract (README.md:241-253): Hive-style
date-partitioned raw zones, managed derived tables, processed archive. Here
the warehouse is any filesystem root; tables are parquet directories with
``key=value`` partition dirs that Spark discovers natively, plus optional
catalog registration (external tables + ``recoverPartitions`` replacing
Trino's ``sync_partition_metadata``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

RAW_ORDERS = "raw/orders"
RAW_STOCK = "raw/stock"
PROCESSED = "processed"
OUTPUT_SUPPLIER_ORDERS = "output/supplier_orders"
LOGS_EXCEPTIONS = "logs/exceptions"

# The raw-zone contracts, partition column last. Writes cast to them and
# reads declare them, so no read runs a schema-inference job and the
# catalog DDL (register_tables) comes from the same definition.
ORDERS_SCHEMA = T.StructType(
    [
        T.StructField("order_id", T.LongType()),
        T.StructField("product_id", T.IntegerType()),
        T.StructField("quantity", T.IntegerType()),
        T.StructField("status", T.StringType()),
        T.StructField("order_date", T.DateType()),
    ]
)
STOCK_SCHEMA = T.StructType(
    [
        T.StructField("product_id", T.IntegerType()),
        T.StructField("available_qty", T.IntegerType()),
        T.StructField("reserved_qty", T.IntegerType()),
        T.StructField("safety_stock", T.IntegerType()),
        T.StructField("warehouse_id", T.IntegerType()),
        T.StructField("snapshot_date", T.DateType()),
    ]
)


class Warehouse:
    """A filesystem-rooted warehouse with the reference's directory layout."""

    def __init__(self, root: str):
        self.root = root

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    def init_layout(self) -> None:
        """hdfs_initialize_dag.py:26-33 parity — create the landing zones."""
        for p in (RAW_ORDERS, RAW_STOCK, PROCESSED, OUTPUT_SUPPLIER_ORDERS, LOGS_EXCEPTIONS):
            os.makedirs(self.path(p), exist_ok=True)

    # --- partitioned writes (S6-S8) ---------------------------------------

    @staticmethod
    def _write_partitioned(df: DataFrame, partition_col: str, path: str) -> None:
        """Idempotent partitioned write: dynamic partition overwrite replaces
        exactly the partitions present in ``df`` and leaves the rest of the
        table untouched, so re-running a day (task retry, backfill) cannot
        duplicate rows. The reference's INSERT INTO append (trino_client.py)
        lacks this — a deliberate upgrade, not a parity break, since a
        single clean run produces identical content.
        """
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(partition_col)
            .parquet(path)
        )

    def write_orders(self, orders: DataFrame, stage_csv: bool = False) -> None:
        """Partitioned parquet write: one call replaces the reference's
        generate-CSV → pyarrow → WebHDFS upload chain
        (hdfs_upload_data_dag.py:122-221)."""
        self._write_raw(orders, ORDERS_SCHEMA, "orders", RAW_ORDERS, stage_csv)

    def write_inventory(self, inventory: DataFrame, stage_csv: bool = False) -> None:
        self._write_raw(inventory, STOCK_SCHEMA, "stock", RAW_STOCK, stage_csv)

    def _write_raw(
        self, df: DataFrame, schema: T.StructType, stage: str, zone: str, stage_csv: bool
    ) -> None:
        df = df.select(*[F.col(f.name).cast(f.dataType).alias(f.name) for f in schema])
        if stage_csv:
            df.write.mode("overwrite").option("header", True).csv(
                self.path("staging", stage)
            )
        self._write_partitioned(df, schema.fields[-1].name, self.path(zone))

    def read_orders(self, spark: SparkSession) -> DataFrame:
        return spark.read.schema(ORDERS_SCHEMA).parquet(self.path(RAW_ORDERS))

    def read_inventory(self, spark: SparkSession) -> DataFrame:
        return spark.read.schema(STOCK_SCHEMA).parquet(self.path(RAW_STOCK))

    def write_derived(self, df: DataFrame, table: str, partition_col: str) -> None:
        """Materialize a derived table (INSERT INTO … SELECT parity, S5),
        idempotently per partition (see _write_partitioned)."""
        self._write_partitioned(df, partition_col, self.path(PROCESSED, table))

    def read_derived(
        self, spark: SparkSession, table: str, schema: T.StructType | None = None
    ) -> DataFrame:
        """Read a derived table; a known ``schema`` (the frame that wrote
        it) skips the schema-inference job."""
        reader = spark.read if schema is None else spark.read.schema(schema)
        return reader.parquet(self.path(PROCESSED, table))


def register_tables(spark: SparkSession, wh: Warehouse, db: str = "procurement") -> None:
    """CREATE SCHEMA/TABLE + partition-metadata sync (S13-S14).

    External parquet tables over the warehouse paths; recoverPartitions is
    the Spark-native ``CALL hive.system.sync_partition_metadata`` /
    ``MSCK REPAIR TABLE`` (trino_init_tables_dag.py:33-96,
    utils/trino_client.py:130-151)."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    for table, path, schema in (
        ("orders", wh.path(RAW_ORDERS), ORDERS_SCHEMA),
        ("inventory", wh.path(RAW_STOCK), STOCK_SCHEMA),
    ):
        columns = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in schema)
        spark.sql(f"DROP TABLE IF EXISTS {db}.{table}")
        spark.sql(
            f"CREATE TABLE {db}.{table} ({columns}) USING PARQUET"
            f" PARTITIONED BY ({schema.fields[-1].name}) LOCATION '{path}'"
        )
        spark.sql(f"MSCK REPAIR TABLE {db}.{table}")


def sync_partitions(spark: SparkSession, db: str, tables: tuple[str, ...]) -> None:
    for t in tables:
        spark.catalog.recoverPartitions(f"{db}.{t}")


def recover_swap(spark: SparkSession, path: str) -> bool:
    """Recover a directory swap interrupted between its two renames.

    :func:`swap_dir` can crash after parking the live directory at
    ``path__old`` but before promoting the replacement; readers must call
    this (or :func:`swap_dir` itself, which does) so a half-finished swap
    restores the last complete state instead of presenting an empty
    table. Returns True if a parked directory was restored.
    """
    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    old = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "__old")
    if not fs.exists(root) and fs.exists(old):
        fs.rename(old, root)
        return True
    return False


def swap_dir(spark: SparkSession, tmp_path: str, path: str) -> None:
    """Promote ``tmp_path`` to ``path`` without a lose-everything window.

    A delete-then-rename swap has a crash window where the data is simply
    GONE (deleted, replacement not yet promoted) — and a reader that
    "recovers" from the missing directory by starting fresh silently
    discards all accumulated state. This swap parks the live directory at
    ``path__old`` instead of deleting it, promotes the replacement, then
    drops the parked copy; every crash point leaves either the old or the
    new complete state recoverable (:func:`recover_swap` handles the
    one window where the live name is briefly vacant). Hadoop-FS rename
    is atomic on hdfs:// and file://; on object stores it is a copy —
    slower, same recovery story.
    """
    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    tmp = jvm.org.apache.hadoop.fs.Path(tmp_path)
    old = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "__old")
    # every rename is CHECKED (code-review r8): Hadoop FileSystem.rename
    # reports failure by returning False, not raising — an unchecked
    # failed park would strand the replacement in tmp while the caller
    # believes it committed, and an unchecked failed promote would let
    # the final delete below destroy the parked (only) copy of the state.
    if not fs.exists(root) and fs.exists(old):
        # an earlier swap crashed after parking: __old IS the live state
        if not fs.rename(old, root):
            raise IOError(f"swap_dir: could not restore parked state to {path}")
    if fs.exists(old):  # root exists too → parked copy is superseded garbage
        fs.delete(old, True)
    if fs.exists(root):
        if not fs.rename(root, old):
            raise IOError(f"swap_dir: could not park live state of {path}")
    if not fs.rename(tmp, root):
        # root is vacant (we just parked it) — recover_swap will restore
        # __old on the next touch; surface the failure instead of letting
        # the trailing delete run
        raise IOError(f"swap_dir: could not promote {tmp_path} to {path}")
    if fs.exists(old):
        fs.delete(old, True)


def write_bucketed_table(
    df: DataFrame,
    name: str,
    bucket_col: str,
    num_buckets: int = 32,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Materialize a bucketed (hash-clustered) managed table.

    Bucketing pre-shuffles the data at write time: two tables bucketed on
    the same key with the same bucket count join WITHOUT a runtime exchange
    (Catalyst proves the co-partitioning), and aggregations on the bucket
    key skip their shuffle too. The at-scale pattern for fact⋈fact joins
    that recur every run — pay the shuffle once at ingest, never at query.
    sortBy additionally pre-orders within buckets, enabling sort-merge
    without the sort.
    """
    writer = df.write.mode(mode).bucketBy(num_buckets, bucket_col)
    if sort_col is not None:
        writer = writer.sortBy(sort_col)
    writer.format("parquet").saveAsTable(name)


def compact_dir(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Rewrite a parquet directory into ~target-sized files.

    The small-files problem is the dominant operational failure mode of
    long-running partitioned ingests (every micro-append adds a file; scans
    then pay per-file open cost and lose row-group locality). Compaction =
    read → repartition to ceil(bytes/target) → atomic-ish rewrite via a
    temp dir. Returns the new file count.

    Size measurement and the swap go through the Hadoop FileSystem API
    (same reasoning as ``operators/incremental.py``'s partition drop): the
    operator's pitch is long-running ingests, which live on hdfs://
    or object storage where ``os.walk``/``shutil`` silently see nothing.
    """
    df = spark.read.parquet(path)
    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    size = 0
    it = fs.listFiles(root, True)  # recursive
    while it.hasNext():
        status = it.next()
        if status.getPath().getName().endswith(".parquet"):
            size += status.getLen()
    n_files = max(1, -(-size // target_file_bytes))
    tmp_str = path.rstrip("/") + "__compacting"
    df.repartition(n_files).write.mode("overwrite").parquet(tmp_str)
    swap_dir(spark, tmp_str, path)
    return n_files


def write_sorted_layout(
    df: DataFrame,
    path: str,
    cluster_col: str,
    sort_cols: list[str] | None = None,
    num_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Write parquet clustered + sorted on the filter column so row-group
    min/max statistics actually prune.

    ``repartitionByRange`` puts disjoint value ranges in disjoint files and
    ``sortWithinPartitions`` orders rows inside each file, so every file and
    row group covers a narrow ``cluster_col`` interval. A point or range
    filter then skips whole files via footer stats instead of scanning —
    the poor-man's Z-order, and the single highest-leverage layout choice
    for a 100 TB table queried by time/key range. (Random layout makes
    every row group's [min, max] span the whole domain — stats prune
    nothing.)

    ``num_files`` pins the range-partition count (size it to ~128 MB-1 GB
    per file); default lets Spark/AQE decide, which can coalesce small
    inputs to one file.
    """
    sort_cols = [cluster_col, *(sort_cols or [])]
    ranged = (
        df.repartitionByRange(num_files, F.col(cluster_col))
        if num_files is not None
        else df.repartitionByRange(F.col(cluster_col))
    )
    (
        ranged.sortWithinPartitions(*[F.col(c) for c in sort_cols])
        .write.mode(mode)
        .parquet(path)
    )


def z_value(
    cols: list,  # Column expressions, already bucketed to [0, 2**bits)
    bits: int,
) -> "F.Column":
    """Morton (Z-curve) code: interleave the low ``bits`` bits of each
    bucketed dimension. Pure bitwise JVM expressions — bits*len(cols)
    OR/SHIFT terms, fully inside whole-stage codegen."""
    d = len(cols)
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, c in enumerate(cols):
            bit = F.shiftright(c.cast("long"), b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * d + i))
    return z


def z_order_write(
    df: DataFrame,
    path: str,
    cols: list[str],
    num_files: int | None = None,
    bits: int | None = None,
    mode: str = "overwrite",
    bucket_mode: str = "width",
) -> None:
    """Write parquet Z-ordered on 2-4 numeric columns: every file covers a
    narrow interval in EVERY listed dimension simultaneously.

    ``write_sorted_layout`` makes row-group stats prune on one column but
    leaves every other column's [min, max] spanning the whole domain. The
    Z-curve interleaves the bits of all dimensions, so contiguous z-ranges
    are near-square hyper-rectangles: a filter on ANY of the columns skips
    most files via footer stats — the layout Delta/Iceberg OPTIMIZE ZORDER
    applies to 100 TB tables queried along several axes. (The trade: each
    single dimension prunes ~n_files^(1/d) instead of n_files.)

    ``bucket_mode='width'`` (default) buckets uniform-width over the
    observed global [min, max] — one cheap agg, right for roughly-uniform
    columns. ``bucket_mode='quantile'`` buckets by approxQuantile
    boundaries instead (equi-DEPTH): on skewed columns uniform-width
    collapses most rows into a few buckets and the z-curve degenerates to
    a linear sort on the remaining dimension, while quantile buckets keep
    every bucket equally populated (Delta's range-id approach). Quantile
    mode caps bits at 8 (256 boundaries embedded as a literal array; the
    per-row assignment is a codegen'd array count, no join). NULLs sort
    first (bucket 0) in both modes. The write itself is one
    repartitionByRange on the z-value (sampled range boundaries, no
    global sort) + per-file sort.
    """
    if not 2 <= len(cols) <= 4:
        raise ValueError("z_order_write wants 2-4 columns")
    if bucket_mode not in ("width", "quantile"):
        raise ValueError(f"bucket_mode must be width|quantile, got {bucket_mode}")
    if bits is None:
        bits = min(60 // len(cols), 8) if bucket_mode == "quantile" else 60 // len(cols)
    if bucket_mode == "quantile" and bits > 8:
        raise ValueError("quantile mode supports at most bits=8 (256 buckets)")
    n_buckets = 1 << bits
    bucketed = []
    if bucket_mode == "quantile":
        probs = [i / n_buckets for i in range(1, n_buckets)]
        # ONE multi-column approxQuantile pass (it ignores nulls); the
        # per-column form would scan the input once per z-order column.
        doubled = df.select(
            *[F.col(c).cast("double").alias(c) for c in cols]
        )
        all_qs = doubled.approxQuantile(list(cols), probs, 1.0 / (4 * n_buckets))
        for c, qs in zip(cols, all_qs):
            # Boundary b_k = approx k/n-quantile; bucket = #boundaries <= x.
            if not qs:
                bucketed.append(F.lit(0).cast("long"))
                continue
            arr = F.array(*[F.lit(float(q)) for q in qs])
            cnt = F.size(
                F.filter(arr, lambda b: b <= F.col(c).cast("double"))
            ).cast("long")
            bucketed.append(F.coalesce(cnt, F.lit(0).cast("long")))
    else:
        bounds = df.agg(
            *[F.min(F.col(c).cast("double")).alias(f"min_{c}") for c in cols],
            *[F.max(F.col(c).cast("double")).alias(f"max_{c}") for c in cols],
        ).collect()[0]
        for c in cols:
            lo, hi = bounds[f"min_{c}"], bounds[f"max_{c}"]
            if lo is None or hi is None or hi <= lo:
                bucketed.append(F.lit(0).cast("long"))
                continue
            norm = (F.col(c).cast("double") - F.lit(lo)) / F.lit(hi - lo)
            # NULL guard must wrap the whole expression: F.least SKIPS
            # nulls (least(k, NULL) = k), so a coalesce around it never
            # fires and NULLs would land in the TOP bucket instead of 0.
            bucketed.append(
                F.when(F.col(c).isNull(), F.lit(0).cast("long")).otherwise(
                    F.least(
                        F.lit(n_buckets - 1),
                        F.floor(norm * F.lit(float(n_buckets))).cast("long"),
                    )
                )
            )
    zed = df.withColumn("_z", z_value(bucketed, bits))
    ranged = (
        zed.repartitionByRange(num_files, F.col("_z"))
        if num_files is not None
        else zed.repartitionByRange(F.col("_z"))
    )
    ranged.sortWithinPartitions("_z").drop("_z").write.mode(mode).parquet(path)


def merge_upsert(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_cols: list[str],
) -> None:
    """MERGE INTO for plain parquet: upsert ``updates`` into the table at
    ``path`` by key (matched rows replaced, new keys appended).

    Plain parquet has no transactional MERGE (that's a table-format
    feature); the scalable rewrite is anti-join the existing table against
    the update keys, union the updates, and swap directories atomically-ish
    (write to a temp dir, rename — same pattern as ``compact_dir``). Cost
    is one table rewrite per merge: right for daily dimension refreshes,
    wrong for high-frequency point updates (use a real table format there).
    Idempotent: re-merging the same batch yields an identical table.

    Existence probe and the swap use the Hadoop FileSystem API so the
    upsert works wherever the table lives (file://, hdfs://, s3a://)."""
    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())

    def _has_parquet() -> bool:
        if not fs.exists(root):
            return False
        it = fs.listFiles(root, True)
        while it.hasNext():
            if it.next().getPath().getName().endswith(".parquet"):
                return True
        return False

    if _has_parquet():
        existing = spark.read.parquet(path)
        # NULL-SAFE anti-join (code-review r8): with plain key equality an
        # existing NULL-key row never matches the updates' NULL-key row
        # (NULL != NULL), so every re-merge appended another copy —
        # breaking the documented idempotency. eqNullSafe treats the NULL
        # key as a key like any other: matched → replaced, once.
        # Rename the key side to unique temp names before the join
        # (advice r9): when ``updates`` derives from the same
        # spark.read.parquet(path) lineage as ``existing`` (read-modify-
        # merge), existing[k] vs upd_keys[k] compares same-origin
        # attributes — ambiguous/trivially-true — and Spark raises
        # AnalysisException. Distinct names also break the shared lineage.
        upd_keys = updates.select(
            *[F.col(k).alias("_mk_" + k) for k in key_cols]
        ).distinct()
        cond = None
        for k in key_cols:
            c = existing[k].eqNullSafe(F.col("_mk_" + k))
            cond = c if cond is None else (cond & c)
        kept = existing.join(upd_keys, cond, "left_anti")
        merged = kept.unionByName(updates.select(*existing.columns))
    else:
        merged = updates
    tmp_str = path.rstrip("/") + "__merging"
    merged.write.mode("overwrite").parquet(tmp_str)
    swap_dir(spark, tmp_str, path)
