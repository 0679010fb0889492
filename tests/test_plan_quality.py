"""Physical-plan quality gate (never-regress invariants for scale).

A correct-but-cartesian plan passes the oracle at sf0.01 and melts down at
100 TB; these tests pin the plan shapes that make the declared queries
scale-safe. tools/plan_audit.py prints the full audit table.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

from plan_audit import plan_stats  # noqa: E402

from procurement_data_pipeline_spark.registry import load_all

# Queries where a BroadcastNestedLoopJoin is the *intended* plan:
# - brute-force similarity scores every (corpus, query) pair by design
# - the latest-partition KPI pattern joins a broadcast single-row aggregate
#   with no equi-key (a 1×N nested loop is optimal there)
# - TPC-H value-threshold shapes compare each row against a broadcast
#   single-row global aggregate (q11 fraction-of-total-value, q22
#   avg-balance) — a 1×N nested loop against one row is the optimal plan,
#   identical in character to the allowlisted KPI scalar broadcasts.
BNLJ_ALLOWED = {
    "emb_knn_bruteforce",
    "emb_cosine_neardup",
    "kpi_summary",
    "kpi_demand_breakdown",
    "tpch_q11_important_parts",  # broadcast single-row global-sum scalar
    "part_abc_xyz_matrix",  # broadcast single-row total-revenue scalar
    "orders_ar_aging",  # broadcast single-row as-of date + total scalar
    "tpch_q22_dormant_customers",  # broadcast single-row avg-balance scalar
    "docs_corpus_mix",  # broadcast single-row mixture-scale scalar
    "docs_vocab_topk_sketch",  # broadcast single-row Σpmin merge scalar
    "docs_corpus_mix_temperature",  # same mixture-scale scalar broadcast
    "docs_tfidf_topterms",  # broadcast single-row corpus-size (N) scalar
    "emb_semantic_decontaminate",  # corpus × broadcast eval set by design
    "events_daily_dense",  # bounded #days × #types calendar grid build
    "docs_bm25_search",  # broadcast single-row corpus stats (N, avgdl) scalar
    "docs_lexical_knn",  # broadcast single-row probe-id / probe-norm scalars
    "supplier_triangle_count",  # broadcast single-row max-shared / count scalars
    "customer_rfm",  # broadcast single-row global ref-date scalar
    "part_affinity_rules",  # broadcast single-row basket-count (N) scalar
    "docs_keyness_chi2",  # broadcast single-row corpus token total scalar
    "docs_collocations",  # broadcast single-row token total (N) scalar
    "emb_knn_classify",  # broadcast-queries kNN + broadcast truth labels
    "nation_budget_apportionment",  # 1-row total / leftover scalars (×3)
    "orders_benford_first_digit",  # broadcast single-row order-count scalar
    "referential_integrity_audit",  # 7× crossJoin of two 1-row audit aggs
    "docs_substring_contamination",  # corpus × broadcast 5-row probe set
    "docs_repeat_factors",  # broadcast single-row budget/source-count scalar
    "emb_pca_power",  # 64-row matrix/vector + 1-row max-norm scalars per sweep
    "lineitem_skew_diagnosis",  # broadcast single-row key-count stats scalar
    "events_kmv_type_overlap",  # |types|² pair enumeration over the bounded type domain
    "events_ab_cuped",  # broadcast single-row θ / global-pre-mean scalar
    "part_reorder_points",  # broadcast single-row calendar-day-count scalar
    "events_state_dwell_share",  # broadcast single-row total-dwell scalar
    "emb_hard_negatives",  # broadcast-queries kNN shape (same as emb_knn_classify)
    "orders_ship_leadlag",  # broadcast 13-row lag dimension × day-grain rollup
    "events_neyman_sample",  # broadcast 1-row W / leftover scalars × 5-stratum relation
    "emb_knn_eval_prf",  # consumes emb_knn_classify's broadcast-queries kNN shape
    "emb_retrieval_ndcg",  # broadcast-queries kNN shape (same as emb_knn_classify)
    "events_ab_permutation",  # broadcast single-row observed-diff scalar
    "supplier_spend_lorenz",  # broadcast single-row total-spend scalar
    "events_user_pareto_share",  # broadcast 4-row tier dimension
    "orders_weekday_index",  # broadcast single-row global-average scalar
    "emb_knn_calibration",  # consumes emb_knn_classify's broadcast-queries kNN shape
    "events_ab_mannwhitney",  # broadcast single-row tie-correction scalar
    "emb_knn_auc",  # consumes emb_knn_classify's broadcast-queries kNN shape
    "orders_revenue_acf",  # broadcast 7-row lag dimension × day grain
    "emb_twonn_mu",  # broadcast-queries distance scan (emb_knn_classify shape)
    "docs_langid_kappa",  # broadcast single-row chance-agreement scalar
    "events_ab_qte",  # broadcast 9-row decile dimension × 2-row arm relation
    "part_multi_sourcing",  # broadcast single-row part-total scalar
    "docs_bpe_vocab",  # merge table × broadcast single-row segment-stats scalar
    "events_time_to_nth",  # broadcast 9-row decile dimension × 1-row sorted fold
    "customer_value_migration",  # broadcast single-row customer-total scalar
    "customer_first_value_repeat",  # broadcast single-row scalar (if planned)
    "events_error_pchart",  # broadcast single-row pooled-rate scalar
    "part_kraljic_matrix",  # broadcast two 1-row median order-statistic scalars
    "orders_rmst",  # bounded priorities × 18-row dense week-grid cross
    "events_cramers_v",  # broadcast single-row margins-total scalar
    "supplier_share_momentum",  # broadcast 1-row split-day + totals scalars
    "part_slow_movers",  # broadcast single-row as-of-date scalar
    "orders_ljung_box",  # broadcast 1-row n_days scalar into the 7-lag ACF
    "events_ewma_chart",  # broadcast 1-row mean/sigma/day-array scalar
    "orders_seasonal_decompose",  # broadcast 1-row seasonal-mean scalar
    "events_user_state_cdc",  # broadcast 1-row stream-midpoint scalar
    # global-rank utility sites (operators/ranks.py): the prefix-offset
    # triangular join runs over the ≤#shuffle-partitions per-pid count
    # relation (≤32 rows here, ≤#cluster-partitions anywhere) — the same
    # bounded-scalar BNLJ class as the 1-row broadcasts above
    "supplier_spend_gini",  # triangular prefix-offset join (ranks.py)
    "docs_interleaved_shuffle",  # triangular prefix-offset join (ranks.py)
    "abc_part_classification",  # ranks.py offsets + 1-row Pareto-total scalar
    "supplier_spend_concentration",  # two ranks.py triangular offset joins
    "part_price_qty_spearman",  # two ranks.py offset joins (midrank classes)
    "part_price_size_skyline",  # ranks.py offset join (prefix max over price classes)
    "events_value_deciles",  # ranks.py offset join + 1-row total scalar
}

# Queries where an Exchange SinglePartition feeding a Sort/Window is the
# *intended* plan because the sorted relation is BOUNDED — by a calendar
# span, a value domain, or a fixed dimension — never by corpus/fact rows.
# Anything NOT listed here must compute global order the distributed way
# (operators/ranks.py: range-partition + prefix offsets + local
# row_number), which is how the 13 entity-grain offenders VERDICT r7
# flagged were fixed in round 8. The stated bound is the allowlist
# contract: if a query's input grain changes, its entry must be
# re-justified.
SP_SORT_ALLOWED = {
    "docs_ks_lengths": "ECDF grid over DISTINCT n_chars values — bounded by the document-length domain, not corpus rows",
    "docs_vocab_growth": "prefix window over the ~dozen geometric sample-size levels",
    "emb_knn_auc": "ROC rank sweep over the bounded probe-set scores (N_QUERIES·k rows)",
    "events_ewma_chart": "EWMA fold over day grain (~calendar span, ≤2.6k rows)",
    "events_neyman_sample": "allocation walk over the 5-stratum relation",
    "events_peak_concurrency": "carry window over calendar days (≤2.6k rows)",
    "lineitem_volume_discount_curve": "quantity classes (~50 distinct integer quantities)",
    "nation_budget_apportionment": "largest-remainder walk over the 25-nation relation",
    "nation_part_lq": "location-quotient grid over nation x brand (25 x 25)",
    "orders_forecast_backtest": "rolling-origin folds over day grain (~calendar span)",
    "orders_logrank": "risk-set fold over distinct event days (~calendar span)",
    "orders_monthly_growth": "month grain (~84 rows)",
    "orders_open_backlog_daily": "interval sweep over calendar days (~2.5k rows, documented 100 TB-safe bound)",
    "orders_seasonal_decompose": "day + weekday grains (~calendar span)",
    "supplier_spend_lorenz": "cumulative share over the 10-row decile relation",
}

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def audits(spark):
    # Plan building + explain are driver-side analysis round-trips;
    # threads overlap them (guide §2.6) — this fixture was the suite's
    # second-biggest wall-time item (129 s serial for 312 plans). The
    # versioned-table queries stay SERIAL: their builders create/refresh
    # one shared on-disk fixture, and concurrent builds race on its
    # commit directories (same split as test_registry's smoke).
    from concurrent.futures import ThreadPoolExecutor

    def one(item):
        name, spec = item
        return name, plan_stats(spec.builder(spark, SF_DIR))

    items = load_all().items()
    out = dict(one(i) for i in items if i[0].startswith("versioned_"))
    with ThreadPoolExecutor(max_workers=8) as pool:
        out.update(
            pool.map(
                one, [i for i in items if not i[0].startswith("versioned_")]
            )
        )
    return out


def test_no_cartesian_products_anywhere(audits):
    offenders = [n for n, s in audits.items() if s["cartesian"]]
    assert not offenders, f"cartesian product in: {offenders}"


def test_nested_loop_joins_only_where_intended(audits):
    offenders = [
        n for n, s in audits.items() if s["bnlj"] and n not in BNLJ_ALLOWED
    ]
    assert not offenders, f"unexpected BroadcastNestedLoopJoin in: {offenders}"


def test_single_partition_sorts_only_where_bounded(audits):
    """A no-partition Window compiles to Exchange SinglePartition + Sort —
    one task sorts everything. Only bounded-grain relations may do that
    (SP_SORT_ALLOWED states each bound); entity/fact-grain rank queries
    use the distributed exact-rank path instead (operators/ranks.py)."""
    offenders = [
        n
        for n, s in audits.items()
        if s["single_partition_sorts"] and n not in SP_SORT_ALLOWED
    ]
    assert not offenders, (
        f"unexpected single-partition sort in: {offenders} — use "
        "operators/ranks.py or add a bounded-grain rationale"
    )


def test_filtered_scans_push_down(audits):
    # Every query with a date/flag filter must reach the parquet reader.
    must_push = [
        "tpch_q1_pricing_summary",
        "tpch_q3_shipping_priority",
        "tpch_q5_local_supplier_revenue",
        "tpch_q6_revenue_forecast",
        "tpch_q10_returned_items",
        "agg_orders_daily",
        "net_demand_mrp",
        "events_value_moving_avg",
    ]
    missing = [
        n for n in must_push if audits[n]["scans_with_pushdown"] == 0
    ]
    assert not missing, f"no PushedFilters in: {missing}"


def test_dim_joins_are_broadcast(audits):
    # The MRP chain and the TPC-H star joins must broadcast their dims —
    # a sort-merge join against a 5-row dimension is a planning regression.
    # The chain joins its one product-grain aggregate to two dims (product,
    # supplier), and that aggregate is its only fact exchange.
    s = audits["net_demand_mrp"]
    assert s["broadcast_joins"] >= 2 and s["smj"] == 0, s
    assert s["exchanges"] <= 1, s
    s = audits["tpch_q5_local_supplier_revenue"]
    assert s["broadcast_joins"] >= 3 and s["smj"] == 0, s


def test_single_fact_queries_have_bounded_shuffles(audits):
    # Scan→aggregate queries should shuffle at most twice (partial/final,
    # plus one more when a distinct-aggregate expands).
    for q in (
        "tpch_q1_pricing_summary",
        "tpch_q6_revenue_forecast",
        "docs_dedup_exact",
        "events_type_pivot_daily",
    ):
        assert audits[q]["exchanges"] <= 2, (q, audits[q])


def test_hash_sample_is_a_pure_filter(audits):
    # Hash sampling must stay a projection/filter: zero shuffles, zero joins.
    s = audits["docs_hash_sample"]
    assert s["exchanges"] == 0 and s["bnlj"] == 0 and s["smj"] == 0, s


def test_asof_join_plans_as_window_not_join(audits):
    # The as-of operator is the union + running-last window: exactly one
    # shuffle (the window partitioning) and NO join node of any kind.
    s = audits["events_asof_last_click"]
    assert s["exchanges"] <= 1, s
    assert s["broadcast_joins"] == 0 and s["smj"] == 0 and s["bnlj"] == 0, s


def test_range_join_avoids_nested_loop(audits):
    # The bucketed range join must plan as hash equi-joins — the whole
    # point of the operator is dodging the non-equi BNLJ/cartesian.
    s = audits["events_click_attribution"]
    assert s["bnlj"] == 0 and s["cartesian"] == 0, s


def test_q21_single_lineitem_pass(audits):
    # Q21's set-based rewrite must not regress to self-join form: one
    # lineitem scan and at most 2 shuffles (join + final top-k agg).
    s = audits["tpch_q21_waiting_supplier"]
    assert s["scans"] <= 4 and s["exchanges"] <= 2, s


def test_scd2_single_exchange(audits):
    # The SCD2 builder's windows and aggregate all reuse the user_id hash
    # partitioning — exactly one Exchange, no join of any kind.
    s = audits["events_user_state_scd2"]
    assert s["exchanges"] == 1, s
    assert s["broadcast_joins"] == 0 and s["smj"] == 0 and s["bnlj"] == 0, s


def test_kmeans_assignment_is_shuffle_free(audits):
    # Assignment closes over the centroid matrix inside a vectorized
    # pandas UDF: a pure projection over the scan — no shuffle, no join.
    # (The between-rounds centroid updates run at build time as separate
    # bounded jobs; this pins the output plan.)
    s = audits["emb_kmeans"]
    assert s["exchanges"] == 0, s
    assert s["broadcast_joins"] == 0 and s["smj"] == 0 and s["bnlj"] == 0, s


def test_zscore_single_moments_pass(audits):
    # One grouped-moments shuffle + broadcast join back: the fact table is
    # never shuffled a second time.
    s = audits["events_value_zscore_outliers"]
    assert s["exchanges"] <= 1, s
    assert s["bnlj"] == 0 and s["smj"] == 0, s


def test_cdc_diff_joins_on_the_key(audits):
    # The snapshot diff must plan as a keyed join (SMJ/BHJ), never a
    # nested loop over FACT rows; the one allowed BNLJ is the broadcast
    # 1-row stream-midpoint scalar (round-7: replaced a driver collect so
    # the query is a single job — its agg adds the third exchange).
    s = audits["events_user_state_cdc"]
    assert s["bnlj"] <= 1 and s["cartesian"] == 0, s
    assert s["smj"] + s["broadcast_joins"] >= 1, s  # the keyed diff join
    assert s["exchanges"] <= 3, s


def test_correlation_single_moments_pass(audits):
    # Exact Pearson correlation: one grouped-moments shuffle, no joins —
    # the fact table is scanned and shuffled exactly once.
    s = audits["events_value_hour_correlation"]
    assert s["exchanges"] <= 1, s
    assert s["broadcast_joins"] == 0 and s["smj"] == 0 and s["bnlj"] == 0, s


def test_share_windows_over_rollup_only(audits):
    # Ratio-to-report: aggregate once, window over the tiny rollup — at
    # most two exchanges (agg + day re-partition), never a second fact
    # shuffle or a join.
    s = audits["events_type_share_daily"]
    assert s["exchanges"] <= 2, s
    assert s["broadcast_joins"] == 0 and s["smj"] == 0 and s["bnlj"] == 0, s
