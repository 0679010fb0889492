"""``load_table``'s per-process parquet schema cache (sources/tables.py).

A local single file is inferred once; later reads impose that schema and
launch no Spark job. Everything the cache cannot vouch for — a file
rewritten in place, a missing table, a multi-file directory — takes the
plain inferring read.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from procurement_data_pipeline_spark.sources import tables
from procurement_data_pipeline_spark.sources.tables import load_table


def _write(path, **cols):
    pq.write_table(pa.table(cols), str(path))


def test_second_load_of_a_file_launches_no_job(spark, spark_jobs, tmp_path):
    _write(tmp_path / "part.parquet", p_partkey=[1, 2, 3], p_name=["a", "b", "c"])
    with spark_jobs() as first:
        inferred = load_table(spark, str(tmp_path), "part")
    with spark_jobs() as second:
        pinned = load_table(spark, str(tmp_path), "part")
    assert first.n >= 1  # the one schema-inference job
    assert second.n == 0
    assert pinned.schema == inferred.schema
    assert sorted(pinned.collect()) == sorted(inferred.collect())


def test_file_rewritten_in_place_is_read_with_its_new_schema(spark, tmp_path):
    path = tmp_path / "supplier.parquet"
    _write(path, s_suppkey=[1, 2], s_name=["x", "y"])
    assert load_table(spark, str(tmp_path), "supplier").columns == [
        "s_suppkey",
        "s_name",
    ]
    # a new file at the same path: another size (and mtime), so another key
    _write(path, s_suppkey=[1, 2, 3], s_name=["x", "y", "z"], s_acctbal=[0.5, 1.5, 2.5])
    df = load_table(spark, str(tmp_path), "supplier")
    assert df.columns == ["s_suppkey", "s_name", "s_acctbal"]
    assert df.count() == 3


def test_missing_table_still_raises(spark, tmp_path):
    for _ in range(2):
        with pytest.raises(AnalysisException):
            load_table(spark, str(tmp_path), "part")
    assert not tables.source_fits_broadcast(spark, str(tmp_path), "part")


def test_multi_file_directory_is_read_uncached(spark, spark_jobs, tmp_path):
    table_dir = tmp_path / "nation.parquet"
    table_dir.mkdir()
    _write(table_dir / "part-0.parquet", n_nationkey=[0, 1], n_name=["A", "B"])
    _write(table_dir / "part-1.parquet", n_nationkey=[2], n_name=["C"])
    expected = spark.read.parquet(str(table_dir))
    for _ in range(2):
        with spark_jobs() as jobs:
            df = load_table(spark, str(tmp_path), "nation")
        assert jobs.n >= 1  # inferred on every read
        assert df.schema == expected.schema
        assert sorted(r.n_nationkey for r in df.collect()) == [0, 1, 2]
    assert not any(str(table_dir) in key[0] for key in tables._SCHEMAS)


def test_cache_stays_bounded_under_concurrent_loads(spark, tmp_path, monkeypatch):
    """Query builders load tables from many threads at once (the plan-audit
    fixture uses a pool): concurrent inserts and evictions must neither
    raise nor let the cache outgrow its bound, and every frame must still
    carry its own file's schema."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    monkeypatch.setattr(tables, "_SCHEMAS", {})
    monkeypatch.setattr(tables, "_SCHEMAS_MAX", 3)
    dirs = []
    for i in range(12):
        d = tmp_path / f"sf{i}"
        d.mkdir()
        _write(d / "region.parquet", **{f"c{i}": [i]})
        dirs.append(d)

    def load(d):
        return load_table(spark, str(d), "region").columns

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            got = list(pool.map(load, dirs * 2, timeout=120))
    finally:
        sys.setswitchinterval(old)
    assert got == [[f"c{i}"] for i in range(12)] * 2
    assert len(tables._SCHEMAS) <= 3
