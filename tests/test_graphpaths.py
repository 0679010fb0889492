"""Bounded BFS: the distributed hop distances must equal an independent
Python BFS over the same co-purchase edges."""

from __future__ import annotations

from collections import deque

import duckdb

from procurement_data_pipeline_spark.registry import load_all


def test_bfs_matches_python_reference(spark, sf_dir):
    edges_rows = duckdb.sql(
        f"""
        SELECT DISTINCT a.l_partkey, b.l_partkey
        FROM '{sf_dir}/lineitem.parquet' a JOIN '{sf_dir}/lineitem.parquet' b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        """
    ).fetchall()
    seed = duckdb.sql(
        f"""
        SELECT l_partkey FROM '{sf_dir}/lineitem.parquet'
        GROUP BY 1 ORDER BY SUM(CAST(l_quantity AS BIGINT)) DESC, l_partkey
        LIMIT 1
        """
    ).fetchone()[0]
    adj: dict[int, list[int]] = {}
    for pa, pb in edges_rows:
        adj.setdefault(pa, []).append(pb)
    want = {seed: 0}
    q = deque([seed])
    while q:
        u = q.popleft()
        if want[u] >= 3:
            continue
        for v in adj.get(u, ()):
            if v not in want:
                want[v] = want[u] + 1
                q.append(v)
    rows = load_all()["part_copurchase_bfs"].builder(spark, sf_dir).collect()
    got = {r["part"]: r["hops"] for r in rows}
    assert got == want
    assert min(want.values()) == 0  # seed present at hop 0


def test_bfs_hop_consistency(spark, sf_dir):
    """Every part at hop h > 0 must have a co-purchase neighbor at h-1 —
    the defining property of BFS layers, checked against the edge set."""
    rows = load_all()["part_copurchase_bfs"].builder(spark, sf_dir).collect()
    got = {r["part"]: r["hops"] for r in rows}
    edges = duckdb.sql(
        f"""
        SELECT DISTINCT a.l_partkey, b.l_partkey
        FROM '{sf_dir}/lineitem.parquet' a JOIN '{sf_dir}/lineitem.parquet' b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        """
    ).fetchall()
    preds: dict[int, set[int]] = {}
    for pa, pb in edges:
        preds.setdefault(pb, set()).add(pa)
    for part, h in got.items():
        if h == 0:
            continue
        assert any(got.get(p) == h - 1 for p in preds.get(part, ())), (part, h)

