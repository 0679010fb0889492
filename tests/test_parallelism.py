"""Input-size guards on the layouts a cluster actually reads.

The bundled fixtures are one parquet file per table, but at scale a table
is a directory of many files. ``widen_scan`` must stay a no-op once the
files already yield a split per core, and ``fits_broadcast`` must count
every file's bytes — a directory's own entry size says nothing about its
contents. Anything that cannot be sized (a vanished file, a remote URI)
must make both guards do nothing.
"""

from __future__ import annotations

import os

import pytest

from procurement_data_pipeline_spark.operators.parallelism import (
    fits_broadcast,
    widen_scan,
)
from procurement_data_pipeline_spark.sources.tables import (
    load_table,
    source_fits_broadcast,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _widened(df) -> bool:
    plan = _plan(df)
    return "RoundRobinPartitioning" in plan or "hashpartitioning" in plan


@pytest.fixture
def cores(spark) -> int:
    n = spark.sparkContext.defaultParallelism
    if n < 2:
        pytest.skip("a single-core session never widens")
    return n


@pytest.fixture
def lineitem_dir(spark, sf_dir, cores, tmp_path):
    """A ``lineitem.parquet/`` directory holding one data file per core."""
    out = str(tmp_path / "lineitem.parquet")
    load_table(spark, sf_dir, "lineitem").repartition(cores).write.parquet(out)
    df = spark.read.parquet(out)
    assert len(df.inputFiles()) == cores
    return out, df


def test_widen_scan_fires_on_single_file_fixture(spark, sf_dir, cores):
    li = load_table(spark, sf_dir, "lineitem")
    assert not _widened(li)
    assert "hashpartitioning(l_partkey" in _plan(widen_scan(li, "l_partkey"))
    assert "RoundRobinPartitioning" in _plan(widen_scan(li))


def test_widen_scan_noop_on_multi_file_directory(lineitem_dir):
    _, df = lineitem_dir
    assert not _widened(widen_scan(df, "l_partkey"))
    assert not _widened(widen_scan(df.select("l_orderkey"), "l_orderkey"))
    assert not _widened(widen_scan(df))


def test_fits_broadcast_sums_every_file(lineitem_dir):
    path, df = lineitem_dir
    total = sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )
    # the budget sits above the directory entry's own size, so a guard
    # that sized the directory path instead of its files would pass
    assert total - 1 > os.path.getsize(path)
    assert fits_broadcast(df, total)
    assert not fits_broadcast(df, total - 1)


def test_unsizable_inputs_disable_both_guards(
    spark, sf_dir, lineitem_dir, monkeypatch
):
    path, df = lineitem_dir
    # a file listed at read time that is gone by plan time
    victim = next(f for f in os.listdir(path) if f.endswith(".parquet"))
    os.remove(os.path.join(path, victim))
    assert not fits_broadcast(df)
    assert widen_scan(df, "l_partkey") is df
    # a remote URI cannot be sized on the local filesystem
    li = load_table(spark, sf_dir, "lineitem")
    monkeypatch.setattr(li, "inputFiles", lambda: ["hdfs://nn/lineitem.parquet"])
    assert not fits_broadcast(li)
    assert widen_scan(li, "l_partkey") is li


def test_part_broadcast_guard(spark, sf_dir, tmp_path):
    """The part-grain forced broadcasts (BFS frontier, affinity item
    counts, triangle counts) are gated on the part source: the tiny
    fixture broadcasts (plan unchanged), a part source past the budget —
    or one that is missing — falls back to the shuffle join."""
    assert source_fits_broadcast(spark, sf_dir, "part")
    assert not source_fits_broadcast(spark, str(tmp_path), "part")
    part = load_table(spark, sf_dir, "part")
    size = os.path.getsize(os.path.join(sf_dir, "part.parquet"))
    assert fits_broadcast(part, size)
    assert not fits_broadcast(part, size - 1)
