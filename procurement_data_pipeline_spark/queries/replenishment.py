"""Declared queries: classical replenishment economics per part.

* part_eoq — the economic order quantity (Harris/Wilson EOQ,
  ``sqrt(2·D·S / H)``) plus the newsvendor critical-fractile stock level,
  side by side per part. This introduces a new exactness contract to the
  oracle suite: **IEEE-754 requires sqrt to be correctly rounded** (unlike
  ``ln``/``pow``/``erf``, which are banned in graded outputs), so
  ``sqrt`` of a bit-identical double is bit-identical across Spark (JVM
  ``Math.sqrt``) and DuckDB (libm) — probed in tests. The argument chain
  is exact-integers → one cast → one multiply → one divide, each a single
  IEEE op both engines perform identically.
* part_croston_forecast — Croston's method, THE standard forecast for
  intermittent demand (most parts ship on few days; a plain moving
  average smears zeros into the rate). Two exponential smoothings — of
  the nonzero demand sizes and of the inter-demand gaps — whose ratio is
  the demand rate per day. The recurrence is evaluated with the repo's
  ordered-fold contract (Spark ``F.aggregate`` over a day-sorted list ==
  DuckDB ``list_reduce`` over ``list(... ORDER BY day)``), seeded with
  the first observation on both sides, α=0.25 (exact binary).

Cost contract (documented constants, not data columns — the testdata has
no cost tables): ordering cost S = $100/order = 1e8 micro-dollars;
holding cost H = 20% of ``p_retailprice`` per unit-period, quantized to
exact micro as ``FLOOR(p_retailprice * 200000.0)``; newsvendor
underage:overage = 3:1 → critical fractile 0.75 → the 75th-percentile
daily demand as a pure order statistic (``ceil(0.75·n)`` = ``(3n+3)//4``,
1-based).

Scale shape: both queries are two hash aggregations of lineitem keyed by
part (daily grain, then part grain) plus a broadcast of the ``part`` dim
— the same one-fact-pass shape as the reference's demand rollup
(/root/reference/sql/net_demand.sql daily_orders CTE). The per-part
collected lists are bounded by the calendar (≤ #days in history), never
by fact volume, so the fold stays O(days) per part at any scale.

Later additions: part_demand_classes (Syntetos-Boylan ADI/CV² quadrant),
part_stockout_projection (first-crossing runout day), part_abc_xyz_matrix
(Pareto × variability planning matrix), and part_lot_sizing_ww
(Wagner-Whitin optimal dynamic lot sizing — an exact all-integer dynamic
program evaluated as an ordered fold; see its register block).

All names register past the graded first-50 prefix (GRADE_OVERFLOW in
__spark_entry__.py); tools/check_oracle.py hash-checks them at sf0.01.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from procurement_data_pipeline_spark.operators.parallelism import widen_scan
from procurement_data_pipeline_spark.registry import register
from procurement_data_pipeline_spark.sources.tables import load_table

# Ordering cost S in micro-dollars ($100) and the holding-rate multiplier
# turning p_retailprice into micro-dollars of annual holding cost (20%).
_ORDER_COST_MICRO = 100_000_000
_HOLD_MICRO_PER_PRICE = 200_000.0


def _daily_demand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(partkey, day, qty): shipped units per part per day, exact bigint."""
    li = load_table(spark, sf_dir, "lineitem")
    # l_partkey distribution serves every consumer: the (part, day) groupBy
    # here and the per-part aggregations/windows downstream all cluster by
    # partkey (guide §2.4 — one exchange for the whole family), and the
    # single-split scan's map side parallelizes (§2.5).
    li = widen_scan(li, "l_partkey")
    return li.groupBy(
        F.col("l_partkey").alias("partkey"),
        F.col("l_shipdate").cast("date").alias("day"),
    ).agg(F.sum(F.col("l_quantity").cast("long")).alias("qty"))


@register(
    "part_eoq",
    oracle=f"""
WITH daily AS (
  SELECT l_partkey AS partkey, CAST(l_shipdate AS DATE) AS day,
         SUM(CAST(l_quantity AS BIGINT)) AS qty
  FROM lineitem GROUP BY 1, 2
),
per AS (
  SELECT partkey,
         SUM(qty) AS demand_units,
         COUNT(*) AS n_demand_days,
         list_sort(list(qty)) AS dl
  FROM daily GROUP BY 1
),
costed AS (
  SELECT per.partkey, demand_units, n_demand_days,
         dl[(3 * n_demand_days + 3) // 4] AS newsvendor_stock,
         CAST(FLOOR(p.p_retailprice * {_HOLD_MICRO_PER_PRICE!r}) AS BIGINT)
           AS holding_micro
  FROM per JOIN part p ON p.p_partkey = per.partkey
),
fin AS (
  SELECT *,
         sqrt(CAST(demand_units AS DOUBLE) * {2 * _ORDER_COST_MICRO}.0
              / CAST(holding_micro AS DOUBLE)) AS eoq_units
  FROM costed
)
SELECT partkey,
       CAST(demand_units AS BIGINT) AS demand_units,
       CAST(n_demand_days AS BIGINT) AS n_demand_days,
       CAST(newsvendor_stock AS BIGINT) AS newsvendor_stock,
       holding_micro, eoq_units,
       CAST(demand_units AS DOUBLE) / eoq_units AS orders_per_period
FROM fin
""",
    tags=("part", "replenishment", "planning"),
)
def q_part_eoq(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    per = (
        _daily_demand(spark, sf_dir)
        .groupBy("partkey")
        .agg(
            F.sum("qty").alias("demand_units"),
            F.count(F.lit(1)).alias("n_demand_days"),
            F.sort_array(F.collect_list("qty")).alias("dl"),
        )
    )
    # ceil(0.75·n) as exact integer arithmetic; F.get is 0-based.
    idx = F.floor((3 * F.col("n_demand_days") + 3) / 4).cast("int")
    costed = per.join(
        F.broadcast(
            p.select(
                F.col("p_partkey").alias("partkey"),
                F.floor(F.col("p_retailprice") * _HOLD_MICRO_PER_PRICE)
                .cast("long")
                .alias("holding_micro"),
            )
        ),
        "partkey",
    )
    eoq = F.sqrt(
        F.col("demand_units").cast("double")
        * float(2 * _ORDER_COST_MICRO)
        / F.col("holding_micro").cast("double")
    )
    return costed.select(
        "partkey",
        "demand_units",
        "n_demand_days",
        F.get("dl", idx - 1).alias("newsvendor_stock"),
        "holding_micro",
        eoq.alias("eoq_units"),
        (F.col("demand_units").cast("double") / eoq).alias("orders_per_period"),
    )


@register(
    "part_croston_forecast",
    # α=0.25 Croston: z' = 0.75·z + 0.25·q ; p' = 0.75·p + 0.25·gap,
    # seeded with the first demand observation (gap := 1) — both engines
    # fold the SAME day-ordered list with the SAME IEEE ops, so the
    # smoothed doubles are bit-identical (ordered-fold contract, as in
    # orders_kaplan_meier).
    oracle="""
WITH daily AS (
  SELECT l_partkey AS partkey, CAST(l_shipdate AS DATE) AS day,
         SUM(CAST(l_quantity AS BIGINT)) AS qty
  FROM lineitem GROUP BY 1, 2
),
seq AS (
  SELECT partkey, day, qty,
         COALESCE(day - LAG(day) OVER (PARTITION BY partkey ORDER BY day), 1)
           AS gap
  FROM daily
),
folded AS (
  SELECT partkey, COUNT(*) AS n_demand_days,
         list_reduce(
           list(struct_pack(q := CAST(qty AS DOUBLE), g := CAST(gap AS DOUBLE))
                ORDER BY day),
           (acc, x) -> struct_pack(
             q := acc.q * CAST(0.75 AS DOUBLE) + x.q * CAST(0.25 AS DOUBLE),
             g := acc.g * CAST(0.75 AS DOUBLE) + x.g * CAST(0.25 AS DOUBLE))
         ) AS s
  FROM seq GROUP BY partkey
)
SELECT partkey,
       CAST(n_demand_days AS BIGINT) AS n_demand_days,
       s.q AS smoothed_qty,
       s.g AS smoothed_gap,
       s.q / s.g AS croston_rate
FROM folded
""",
    tags=("part", "replenishment", "forecast"),
)
def q_part_croston_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("partkey").orderBy("day")
    seq = _daily_demand(spark, sf_dir).withColumn(
        "gap", F.coalesce(F.datediff("day", F.lag("day").over(w)), F.lit(1))
    )
    # Day-ordered (day, q, g) structs: array_sort orders by the leading
    # field; days are unique per part after the daily aggregation.
    folded = seq.groupBy("partkey").agg(
        F.count(F.lit(1)).alias("n_demand_days"),
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("day"),
                        F.col("qty").cast("double").alias("q"),
                        F.col("gap").cast("double").alias("g"),
                    )
                )
            ),
            lambda x: F.struct(x["q"].alias("q"), x["g"].alias("g")),
        ).alias("lst"),
    )
    # list_reduce seeds with the first element; mirror that exactly.
    fold = F.aggregate(
        F.filter(F.col("lst"), lambda x, i: i >= 1),
        F.element_at(F.col("lst"), 1),
        lambda acc, x: F.struct(
            (acc["q"] * 0.75 + x["q"] * 0.25).alias("q"),
            (acc["g"] * 0.75 + x["g"] * 0.25).alias("g"),
        ),
    )
    return folded.select(
        "partkey",
        "n_demand_days",
        fold["q"].alias("smoothed_qty"),
        fold["g"].alias("smoothed_gap"),
        (fold["q"] / fold["g"]).alias("croston_rate"),
    )


@register(
    "part_demand_classes",
    # Syntetos–Boylan demand classification — the standard gate deciding
    # WHICH forecaster a part gets (smooth → exponential smoothing,
    # intermittent → Croston, erratic/lumpy → bootstrap): ADI (average
    # inter-demand interval; the gaps telescope, so Σgaps = last−first+1
    # with the same first-gap:=1 convention as part_croston_forecast) vs
    # CV² of the nonzero demand sizes, cut at the published 1.32 / 0.49
    # thresholds. CV² is the exact integer ratio (n·Σq² − (Σq)²) / (Σq)²
    # carried in decimal(38,0)/HUGEINT, ONE division at the end; the
    # class label compares bit-identical doubles with identical literals.
    oracle="""
WITH daily AS (
  SELECT l_partkey AS partkey, CAST(l_shipdate AS DATE) AS day,
         SUM(CAST(l_quantity AS BIGINT)) AS qty
  FROM lineitem GROUP BY 1, 2
),
per AS (
  SELECT partkey, COUNT(*) AS n, SUM(qty) AS s1, SUM(qty * qty) AS s2,
         MIN(day) AS d0, MAX(day) AS d1
  FROM daily GROUP BY 1
),
m AS (
  SELECT partkey, n,
         CAST(d1 - d0 + 1 AS DOUBLE) / CAST(n AS DOUBLE) AS adi,
         CAST(CAST(n AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE)
           / CAST(CAST(s1 AS HUGEINT) * s1 AS DOUBLE) AS cv2
  FROM per
)
SELECT partkey, CAST(n AS BIGINT) AS n_demand_days, adi, cv2,
       CASE WHEN adi < 1.32 AND cv2 < 0.49 THEN 'smooth'
            WHEN adi >= 1.32 AND cv2 < 0.49 THEN 'intermittent'
            WHEN adi < 1.32 THEN 'erratic'
            ELSE 'lumpy' END AS demand_class
FROM m
""",
    tags=("part", "replenishment", "classification"),
)
def q_part_demand_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    per = (
        _daily_demand(spark, sf_dir)
        .groupBy("partkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("qty").alias("s1"),
            F.sum(F.col("qty") * F.col("qty")).alias("s2"),
            F.min("day").alias("d0"),
            F.max("day").alias("d1"),
        )
    )
    n = F.col("n")
    adi = (F.datediff("d1", "d0") + 1).cast("double") / n.cast("double")
    cv2 = (dec(n) * dec(F.col("s2")) - dec(F.col("s1")) * dec(F.col("s1"))).cast(
        "double"
    ) / (dec(F.col("s1")) * dec(F.col("s1"))).cast("double")
    m = per.select(
        "partkey",
        n.alias("n_demand_days"),
        adi.alias("adi"),
        cv2.alias("cv2"),
    )
    return m.withColumn(
        "demand_class",
        F.when((F.col("adi") < 1.32) & (F.col("cv2") < 0.49), "smooth")
        .when((F.col("adi") >= 1.32) & (F.col("cv2") < 0.49), "intermittent")
        .when(F.col("adi") < 1.32, "erratic")
        .otherwise("lumpy"),
    )


@register(
    "part_stockout_projection",
    # The planner's daily question: given opening stock, WHEN does each
    # part run out? Opening stock is a documented contract (¼ of total
    # shipped demand, floor — the testdata has no stock table); shipments
    # replay as the demand flow; the stockout day is the first day the
    # running total exceeds opening stock. Exact integers end to end;
    # the only window is the per-part cumulative sum.
    oracle="""
WITH daily AS (
  SELECT l_partkey AS partkey, CAST(l_shipdate AS DATE) AS day,
         SUM(CAST(l_quantity AS BIGINT)) AS qty
  FROM lineitem GROUP BY 1, 2
),
walked AS (
  SELECT partkey, day, qty,
         SUM(qty) OVER (PARTITION BY partkey ORDER BY day
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum,
         SUM(qty) OVER (PARTITION BY partkey) AS total,
         MIN(day) OVER (PARTITION BY partkey) AS first_day
  FROM daily
)
SELECT partkey,
       CAST(MAX(total) // 4 AS BIGINT) AS opening_units,
       MIN(CASE WHEN cum > total // 4 THEN day END) AS stockout_day,
       CAST(date_diff('day', MIN(first_day),
                      MIN(CASE WHEN cum > total // 4 THEN day END))
            AS INTEGER) AS days_covered
FROM walked GROUP BY partkey
""",
    tags=("part", "replenishment", "projection"),
)
def q_part_stockout_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_demand(spark, sf_dir)
    cum_w = (
        Window.partitionBy("partkey")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    part_w = Window.partitionBy("partkey")
    walked = daily.select(
        "partkey",
        "day",
        F.sum("qty").over(cum_w).alias("cum"),
        F.sum("qty").over(part_w).alias("total"),
        F.min("day").over(part_w).alias("first_day"),
    )
    opening = F.floor(F.col("total") / 4).cast("long")
    out_day = F.min(F.when(F.col("cum") > opening, F.col("day")))
    return walked.groupBy("partkey").agg(
        F.max(opening).alias("opening_units"),
        out_day.alias("stockout_day"),
        F.datediff(out_day, F.min("first_day")).cast("int").alias("days_covered"),
    )


@register(
    "part_abc_xyz_matrix",
    # The ABC-XYZ planning matrix — the composition every inventory team
    # pins to the wall: ABC (Pareto revenue contribution, cuts 80/95 —
    # identical definition to abc_part_classification) × XYZ (demand
    # variability as CV² of daily demand, cuts 0.25/1.0 ≡ CV 0.5/1.0,
    # squared so no sqrt is needed for the CLASSIFICATION itself). Each
    # cell reports part count, exact-cents revenue, revenue share, and
    # demand units — AX cells get stock policies, CZ cells get
    # make-to-order. All sums exact integers; the two shares are single
    # IEEE divisions.
    oracle="""
WITH rev AS (
  SELECT l_partkey AS partkey,
         SUM(CAST(FLOOR(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)
             * (10000 - CAST(FLOOR(l_discount * 10000) AS BIGINT)) / 10000.0)
             AS BIGINT)) AS rev_cents
  FROM lineitem GROUP BY 1
),
abc AS (
  SELECT partkey, rev_cents,
         CASE WHEN CAST(SUM(rev_cents) OVER (ORDER BY rev_cents DESC, partkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS DOUBLE)
                   / CAST(SUM(rev_cents) OVER () AS DOUBLE) <= 0.80 THEN 'A'
              WHEN CAST(SUM(rev_cents) OVER (ORDER BY rev_cents DESC, partkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS DOUBLE)
                   / CAST(SUM(rev_cents) OVER () AS DOUBLE) <= 0.95 THEN 'B'
              ELSE 'C' END AS abc_class
  FROM rev
),
daily AS (
  SELECT l_partkey AS partkey, CAST(l_shipdate AS DATE) AS day,
         SUM(CAST(l_quantity AS BIGINT)) AS qty
  FROM lineitem GROUP BY 1, 2
),
xyz AS (
  SELECT partkey, SUM(qty) AS demand_units,
         CASE WHEN CAST(CAST(COUNT(*) AS HUGEINT) * SUM(qty * qty)
                        - CAST(SUM(qty) AS HUGEINT) * SUM(qty) AS DOUBLE)
                   / CAST(CAST(SUM(qty) AS HUGEINT) * SUM(qty) AS DOUBLE)
                   <= 0.25 THEN 'X'
              WHEN CAST(CAST(COUNT(*) AS HUGEINT) * SUM(qty * qty)
                        - CAST(SUM(qty) AS HUGEINT) * SUM(qty) AS DOUBLE)
                   / CAST(CAST(SUM(qty) AS HUGEINT) * SUM(qty) AS DOUBLE)
                   <= 1.0 THEN 'Y'
              ELSE 'Z' END AS xyz_class
  FROM daily GROUP BY partkey
)
SELECT a.abc_class, x.xyz_class,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(SUM(a.rev_cents) AS BIGINT) AS revenue_cents,
       CAST(SUM(a.rev_cents) AS DOUBLE)
         / CAST((SELECT SUM(rev_cents) FROM rev) AS DOUBLE) AS revenue_share,
       CAST(SUM(x.demand_units) AS BIGINT) AS demand_units
FROM abc a JOIN xyz x ON x.partkey = a.partkey
GROUP BY 1, 2
""",
    tags=("part", "replenishment", "classification"),
)
def q_part_abc_xyz_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from procurement_data_pipeline_spark.caching import scoped_persist
    from procurement_data_pipeline_spark.queries.tpch import _disc_price_cents

    # Scan-once (guide §6.2): the ABC side (per-part revenue) and the XYZ
    # side (per-part CV² of daily demand) both aggregate lineitem — one
    # (part, day) conditional aggregation feeds both, so the fact is read
    # and exchanged ONCE. Per-part revenue = sum of per-(part, day) sums
    # (exact integer cents, associative); the daily relation is the same
    # (partkey, day, qty) _daily_demand computes — reproduced here with
    # the revenue column added rather than shared, because adding a column
    # to the shared helper would widen the five sibling queries' scans.
    li = widen_scan(load_table(spark, sf_dir, "lineitem"), "l_partkey")
    base = scoped_persist(
        li.groupBy(
            F.col("l_partkey").alias("partkey"),
            F.col("l_shipdate").cast("date").alias("day"),
        ).agg(
            F.sum(F.col("l_quantity").cast("long")).alias("qty"),
            F.sum(_disc_price_cents()).alias("day_rev_cents"),
        )
    )
    rev = scoped_persist(
        base.groupBy("partkey").agg(
            F.sum("day_rev_cents").alias("rev_cents")
        )
    )
    # distributed exact Pareto cumsum over the sf-proportional part grain
    # (operators/ranks.py) + a broadcast scalar total — replaces the old
    # single-partition no-partition window; integer cents, hash unchanged
    from procurement_data_pipeline_spark.operators.ranks import (
        with_global_cumsum,
    )

    cum_df = with_global_cumsum(
        rev,
        [F.col("rev_cents").desc(), F.col("partkey").asc()],
        "rev_cents",
        "_cum",
    )
    tot0 = rev.agg(F.sum("rev_cents").alias("_tot"))
    cum_share = F.col("_cum").cast("double") / F.col("_tot").cast("double")
    abc = cum_df.crossJoin(F.broadcast(tot0)).select(
        "partkey",
        "rev_cents",
        F.when(cum_share <= 0.80, "A")
        .when(cum_share <= 0.95, "B")
        .otherwise("C")
        .alias("abc_class"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    per = base.groupBy("partkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("qty").alias("s1"),
        F.sum(F.col("qty") * F.col("qty")).alias("s2"),
    )
    cv2 = (
        dec(F.col("n")) * dec(F.col("s2")) - dec(F.col("s1")) * dec(F.col("s1"))
    ).cast("double") / (dec(F.col("s1")) * dec(F.col("s1"))).cast("double")
    xyz = per.select(
        "partkey",
        F.col("s1").alias("demand_units"),
        F.when(cv2 <= 0.25, "X").when(cv2 <= 1.0, "Y").otherwise("Z").alias(
            "xyz_class"
        ),
    )
    total_rev = rev.agg(F.sum("rev_cents").alias("t"))
    cell = (
        abc.join(xyz, "partkey")
        .groupBy("abc_class", "xyz_class")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.sum("rev_cents").cast("long").alias("revenue_cents"),
            F.sum("demand_units").cast("long").alias("demand_units"),
        )
    )
    return cell.join(F.broadcast(total_rev)).select(
        "abc_class",
        "xyz_class",
        "n_parts",
        "revenue_cents",
        (F.col("revenue_cents").cast("double") / F.col("t").cast("double")).alias(
            "revenue_share"
        ),
        "demand_units",
    )


# --- Wagner-Whitin dynamic lot sizing -------------------------------------
# Cost contract (documented constants, same convention as part_eoq): setup
# K = $100/order = 10_000 cents; holding h = 5 cents per unit per month.
_WW_K_CENTS = 10_000
_WW_H_CENTS = 5


@register(
    "part_lot_sizing_ww",
    # Wagner-Whitin optimal dynamic lot sizing per part — an EXACT dynamic
    # program evaluated entirely with higher-order functions, in BOTH
    # engines. The recurrence f(t) = min_{j<=t} [f(j-1) + K + h·Σ_{k=j..t}
    # (m_k - m_j)·d_k] runs as an ordered fold whose accumulator is the
    # list of candidate entries [m_j, D_{j-1}, M_{j-1}, f(j-1)] (D/M =
    # prefix sums of d and m·d), so each step is one list_min over a
    # bounded candidate list. EVERY operation is integer arithmetic —
    # unlike the IEEE-contract folds (Croston/Holt) there is no
    # floating-point anywhere until the final presentation division, so
    # cross-engine equality is unconditional. Zero-demand months never
    # enter (WW planning property: ordering off a demand point is never
    # optimal; month indices in the holding term keep calendar gaps
    # priced). The final f(T) is evaluated outside the fold from the
    # total prefixes.
    #
    # Scale shape: two keyed aggregations of lineitem (month grain, then
    # part grain); the O(T²) DP is bounded by the CALENDAR (T = months of
    # history), per part, at any fact volume. single_order/lot_for_lot
    # bounds ship alongside as self-evident invariants (ww <= both).
    oracle=f"""
WITH monthly AS (
  SELECT l_partkey AS partkey,
         CAST((year(CAST(l_shipdate AS DATE)) - 1990) * 12
              + month(CAST(l_shipdate AS DATE)) - 1 AS BIGINT) AS m,
         CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT) AS d
  FROM lineitem GROUP BY 1, 2
),
pre AS (
  SELECT partkey, m, d,
         CAST(SUM(d) OVER (PARTITION BY partkey ORDER BY m
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS dd,
         CAST(SUM(m * d) OVER (PARTITION BY partkey ORDER BY m
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS mm
  FROM monthly
),
lists AS (
  SELECT partkey,
         CAST(COUNT(*) AS BIGINT) AS n_periods,
         CAST(SUM(d) AS BIGINT) AS total_qty,
         MIN(m) AS m1, MAX(dd) AS dt, MAX(mm) AS mt,
         list([[m, d, dd, mm]] ORDER BY m) AS xs
  FROM pre GROUP BY 1
),
folded AS (
  SELECT partkey, n_periods, total_qty, m1, dt, mt,
         list_reduce(
           list_prepend(CAST([] AS BIGINT[][]), xs),
           (acc, x) -> list_append(acc,
             [x[1][1],
              x[1][3] - x[1][2],
              x[1][4] - x[1][1] * x[1][2],
              COALESCE(list_min(list_transform(acc, e ->
                e[4] + {_WW_K_CENTS}
                + {_WW_H_CENTS} * ((x[1][4] - x[1][1] * x[1][2] - e[3])
                                   - e[1] * (x[1][3] - x[1][2] - e[2])))),
                CAST(0 AS BIGINT))])
         ) AS entries
  FROM lists
)
SELECT partkey, n_periods, total_qty,
       CAST(list_min(list_transform(entries, e ->
         e[4] + {_WW_K_CENTS}
         + {_WW_H_CENTS} * ((mt - e[3]) - e[1] * (dt - e[2])))) AS DOUBLE)
         / 100.0 AS ww_cost,
       CAST({_WW_K_CENTS} + {_WW_H_CENTS} * (mt - m1 * dt) AS DOUBLE)
         / 100.0 AS single_order_cost,
       CAST(n_periods * {_WW_K_CENTS} AS DOUBLE) / 100.0 AS lot_for_lot_cost
FROM folded
""",
    tags=("part", "lot-sizing", "dynamic-program", "replenishment"),
)
def q_part_lot_sizing_ww(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # One l_partkey distribution serves the whole chain: the (part, month)
    # groupBy, the per-part prefix window, and the per-part fold aggregate
    # all cluster by partkey (guide §2.4), so the O(T²) DP fold spreads
    # over every core instead of riding the single-split scan (§2.5).
    li = widen_scan(li, "l_partkey")
    monthly = li.groupBy(
        F.col("l_partkey").alias("partkey"),
        (
            (F.year(F.col("l_shipdate").cast("date")) - 1990) * 12
            + F.month(F.col("l_shipdate").cast("date"))
            - 1
        )
        .cast("long")
        .alias("m"),
    ).agg(F.sum(F.floor(F.col("l_quantity")).cast("long")).cast("long").alias("d"))
    w = (
        Window.partitionBy("partkey")
        .orderBy("m")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    pre = monthly.select(
        "partkey",
        "m",
        "d",
        F.sum("d").over(w).cast("long").alias("dd"),
        F.sum(F.col("m") * F.col("d")).over(w).cast("long").alias("mm"),
    )
    lists = pre.groupBy("partkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_periods"),
        F.sum("d").cast("long").alias("total_qty"),
        F.min("m").alias("m1"),
        F.max("dd").alias("dt"),
        F.max("mm").alias("mt"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("m", "d", "dd", "mm"))),
            lambda s: F.array(F.array(s["m"], s["d"], s["dd"], s["mm"])),
        ).alias("xs"),
    )

    def _ww_step(acc, x):
        m, d, din, min_ = x[0][0], x[0][1], x[0][2], x[0][3]
        dprev, mprev = din - d, min_ - m * d
        cand = F.transform(
            acc,
            lambda e: e[3]
            + F.lit(_WW_K_CENTS)
            + F.lit(_WW_H_CENTS)
            * ((mprev - e[2]) - e[0] * (dprev - e[1])),
        )
        fprev = F.coalesce(F.array_min(cand), F.lit(0).cast("long"))
        return F.concat(acc, F.array(F.array(m, dprev, mprev, fprev)))

    folded = lists.select(
        "partkey",
        "n_periods",
        "total_qty",
        "m1",
        "dt",
        "mt",
        F.aggregate(
            F.col("xs"),
            F.expr("CAST(array() AS ARRAY<ARRAY<BIGINT>>)"),
            _ww_step,
        ).alias("entries"),
    )
    ww_cents = F.array_min(
        F.transform(
            F.col("entries"),
            lambda e: e[3]
            + F.lit(_WW_K_CENTS)
            + F.lit(_WW_H_CENTS)
            * ((F.col("mt") - e[2]) - e[0] * (F.col("dt") - e[1])),
        )
    )
    single_cents = F.lit(_WW_K_CENTS) + F.lit(_WW_H_CENTS) * (
        F.col("mt") - F.col("m1") * F.col("dt")
    )
    return folded.select(
        "partkey",
        "n_periods",
        "total_qty",
        (ww_cents.cast("double") / 100.0).alias("ww_cost"),
        (single_cents.cast("double") / 100.0).alias("single_order_cost"),
        (
            (F.col("n_periods") * F.lit(_WW_K_CENTS)).cast("double") / 100.0
        ).alias("lot_for_lot_cost"),
    )
