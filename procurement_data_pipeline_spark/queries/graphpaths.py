"""Declared query: bounded breadth-first search over the co-purchase graph.

part_copurchase_bfs — shortest-hop distance (≤ 3 hops) from the
highest-volume part to every part reachable through the co-purchase
graph (two parts are adjacent when some order contains both). The
"customers who bought X also bought…" expansion, and the repo's first
graded BOUNDED-ITERATION BFS: the Spark side unrolls three frontier
join+min-hop rounds (the Pregel pattern with a compile-time hop budget),
while the DuckDB oracle runs a genuine ``WITH RECURSIVE`` CTE — the
iterative DataFrame form is hash-checked against the declarative
recursive-SQL definition, the same evidence pattern the connected-
components oracle uses (queries/curation.py cluster_safe_split).

Exactness: everything is integer (part keys, hop counts, MIN) — no
float anywhere.

Scale shape: building the edge set is the dominant cost — a self-join of
lineitem on orderkey (orders hold ≤ 7 lines in TPC-H-shaped data, so the
blowup is bounded per order) followed by one distinct; the same shape
part_affinity_rules ships. Each BFS round then shuffles only the
CURRENT frontier joined to edges on the part key — frontier size is
bounded by |V|, independent of fact volume, and the hop budget bounds
the number of rounds. Edges are scoped-persisted across the three
rounds so the fact-side join runs once, and each round's distance
relation is persisted so lineage stays linear (no exponential replay).

Registers past the graded first-50 prefix (GRADE_OVERFLOW in
__spark_entry__.py); tools/check_oracle.py hash-checks it at sf0.01.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from procurement_data_pipeline_spark.caching import scoped_persist
from procurement_data_pipeline_spark.operators.parallelism import widen_scan
from procurement_data_pipeline_spark.registry import register
from procurement_data_pipeline_spark.sources.tables import (
    load_table,
    source_fits_broadcast,
)


def _copurchase_edges(li):
    """Directed co-purchase edges via ONE basket pass (groupBy +
    collect_set + in-codegen pair expansion, both orientations emitted
    together) instead of the fact-table self-join: the same distinct edge
    set — collect_set dedupes repeat lines, set elements are pairwise
    distinct so pa != pb holds by construction — with one fewer shuffle
    of the fact and a widened scan (guide §2.4/§2.5)."""
    basket = (
        widen_scan(
            li.select(
                F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
            ),
            "o",
        )
        .groupBy("o")
        .agg(F.sort_array(F.collect_set("p")).alias("ps"))
    )
    return (
        basket.select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) -> "
                    "flatten(transform(slice(ps, i + 2, size(ps)), "
                    "y -> array(struct(x AS pa, y AS pb), "
                    "struct(y AS pa, x AS pb))))))"
                )
            ).alias("e")
        )
        .select("e.pa", "e.pb")
        .distinct()
    )

_MAX_HOPS = 3


@register(
    "part_copurchase_bfs",
    oracle=f"""
WITH RECURSIVE
edges AS (
  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
),
seed AS (
  SELECT l_partkey AS part FROM lineitem
  GROUP BY 1
  ORDER BY SUM(CAST(l_quantity AS BIGINT)) DESC, l_partkey
  LIMIT 1
),
reach(part, hop) AS (
  SELECT part, 0 FROM seed
  UNION
  SELECT e.pb, r.hop + 1
  FROM reach r JOIN edges e ON e.pa = r.part
  WHERE r.hop < {_MAX_HOPS}
)
SELECT part, CAST(MIN(hop) AS INTEGER) AS hops
FROM reach GROUP BY part
""",
    tags=("part", "graph", "bfs"),
)
def q_part_copurchase_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    edges = scoped_persist(_copurchase_edges(li))
    seed = (
        widen_scan(li, "l_partkey")
        .groupBy(F.col("l_partkey").alias("part"))
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("q"))
        .orderBy(F.desc("q"), "part")
        .limit(1)
        .select("part")
    )
    dist = seed.select("part", F.lit(0).alias("hops"))
    # The BFS frontier is part-grain (⊆ the part catalog), but parts scale
    # with SF in TPC-H-shaped data: the part source's on-disk bytes bound
    # the frontier's cardinality, so they gate the §3.1 broadcast.
    bcast_ok = source_fits_broadcast(spark, sf_dir, "part")
    for h in range(1, _MAX_HOPS + 1):
        frontier = dist.filter(F.col("hops") == h - 1)
        # The frontier is PART-grain, so broadcasting it keeps the cached
        # edge list un-shuffled on every hop: 3 edge exchanges → 0 (guide
        # §3.1) — guarded by the provable part-dimension size bound above
        # so the win can never become a broadcast OOM at true scale.
        nxt = (F.broadcast(frontier) if bcast_ok else frontier).join(
            edges, frontier["part"] == edges["pa"]
        ).select(
            F.col("pb").alias("part"), F.lit(h).alias("hops")
        )
        dist = scoped_persist(
            dist.unionByName(nxt).groupBy("part").agg(F.min("hops").alias("hops"))
        )
    return dist.select("part", F.col("hops").cast("int").alias("hops"))


@register(
    "part_graph_assortativity",
    # Degree assortativity of the co-purchase graph: do popular parts
    # co-occur with other popular parts (r > 0, hub-clustered catalogs)
    # or with the long tail (r < 0, hub-and-spoke)? Newman's r is the
    # Pearson correlation of endpoint degrees over the directed edge
    # list — exact integer degrees and moments (the edge relation is the
    # SAME distinct co-purchase pairs the BFS query walks), two IEEE
    # sqrts, one division.
    oracle="""
WITH edges AS (
  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
),
deg AS (
  SELECT pa AS part, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY pa
),
pairs AS (
  SELECT da.d AS dx, db.d AS dy
  FROM edges e JOIN deg da ON da.part = e.pa JOIN deg db ON db.part = e.pb
),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
         CAST(SUM(dx) AS BIGINT) AS sx,
         CAST(SUM(dy) AS BIGINT) AS sy,
         SUM(CAST(dx AS HUGEINT) * dy) AS sxy,
         SUM(CAST(dx AS HUGEINT) * dx) AS sxx,
         SUM(CAST(dy AS HUGEINT) * dy) AS syy
  FROM pairs
)
SELECT n_edges,
       CASE WHEN n_edges * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
             AND n_edges * CAST(syy AS DOUBLE)
                 - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0 THEN
         (n_edges * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / (sqrt(n_edges * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            * sqrt(n_edges * CAST(syy AS DOUBLE)
                   - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
       ELSE NULL END AS assortativity
FROM m
""",
    tags=("part", "graph", "statistics"),
)
def q_part_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge build is the BFS query's distinct-pair join (order-key
    co-location); degrees are one part-grain count broadcast back onto
    the edges; the readout is one 1-row moment aggregate."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = scoped_persist(_copurchase_edges(li))
    deg = edges.groupBy(F.col("pa").alias("part")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    da = deg.select(F.col("part").alias("pa"), F.col("d").alias("dx"))
    db = deg.select(F.col("part").alias("pb"), F.col("d").alias("dy"))
    pairs = edges.join(F.broadcast(da), "pa").join(F.broadcast(db), "pb")
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    m = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_edges"),
        F.sum("dx").cast("long").alias("sx"),
        F.sum("dy").cast("long").alias("sy"),
        F.sum(dec("dx") * dec("dy")).alias("sxy"),
        F.sum(dec("dx") * dec("dx")).alias("sxx"),
        F.sum(dec("dy") * dec("dy")).alias("syy"),
    )
    n = F.col("n_edges")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxyd = F.col("sxy").cast("double")
    sxxd, syyd = F.col("sxx").cast("double"), F.col("syy").cast("double")
    vx = n * sxxd - sxd * sxd
    vy = n * syyd - syd * syd
    return m.select(
        "n_edges",
        F.when(
            (vx > 0) & (vy > 0),
            (n * sxyd - sxd * syd) / (F.sqrt(vx) * F.sqrt(vy)),
        ).alias("assortativity"),
    )
