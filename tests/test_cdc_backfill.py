"""snapshot_diff changelog semantics (all three arms), observed-write
telemetry, point-in-time joins, SCD2 interval compaction and dwell shares."""

from __future__ import annotations

from pyspark.sql import functions as F

from procurement_data_pipeline_spark.operators.cdc import snapshot_diff
from procurement_data_pipeline_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


# ------------------------------------------------------------------ CDC


def test_snapshot_diff_all_three_arms(spark):
    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, "d", None)],
        ["k", "s", "v"],
    )
    new = spark.createDataFrame(
        [(1, "a", 10), (2, "B", 20), (4, "d", 40), (5, "e", 50)],
        ["k", "s", "v"],
    )
    out = {r["k"]: r for r in snapshot_diff(old, new, ["k"]).collect()}
    assert set(out) == {2, 3, 4, 5}  # key 1 unchanged -> dropped
    assert out[2]["change_type"] == "update" and out[2]["new_s"] == "B"
    assert out[3]["change_type"] == "delete" and out[3]["new_s"] is None
    assert out[4]["change_type"] == "update"  # NULL -> 40 must be a change
    assert out[5]["change_type"] == "insert" and out[5]["old_s"] is None


def test_snapshot_diff_null_equality_is_not_a_change(spark):
    old = spark.createDataFrame([(1, None)], "k long, v int")
    new = spark.createDataFrame([(1, None)], "k long, v int")
    assert snapshot_diff(old, new, ["k"]).count() == 0


def test_snapshot_diff_rejects_unknown_compare_cols(spark):
    old = spark.createDataFrame([(1, 2)], ["k", "v"])
    new = spark.createDataFrame([(1, 2)], ["k", "v"])
    try:
        snapshot_diff(old, new, ["k"], ["nope"])
        raise AssertionError("expected ValueError")
    except ValueError as e:
        assert "nope" in str(e)


# ------------------------------------------------------------ telemetry


def test_observed_write_metrics_ride_the_write_job(spark, tmp_path):
    """One action: the parquet write both materializes the data AND yields
    the audit metrics — equal to recomputed truth, no second job."""
    from procurement_data_pipeline_spark.plans.telemetry import (
        with_observed_write,
    )

    ev = load_table(spark, SF_DIR, "events")
    path = str(tmp_path / "out")
    got = with_observed_write(
        ev,
        path,
        metrics={
            # DISTINCT aggregates are disallowed in observed metrics —
            # approx_count_distinct is the observed-metrics-legal form.
            "n_users": F.approx_count_distinct("user_id"),
            "value_micros": F.sum(
                F.floor(F.col("value") * 1000000).cast("long")
            ),
        },
    )
    assert got["n_rows"] == ev.count()
    exact_users = ev.select("user_id").distinct().count()
    assert abs(got["n_users"] - exact_users) <= max(0.05 * exact_users, 2)
    assert got["value_micros"] == ev.agg(
        F.sum(F.floor(F.col("value") * 1000000).cast("long"))
    ).collect()[0][0]
    assert spark.read.parquet(path).count() == got["n_rows"]


def test_observed_write_rejects_reserved_name(spark, tmp_path):
    from procurement_data_pipeline_spark.plans.telemetry import (
        with_observed_write,
    )

    try:
        with_observed_write(
            load_table(spark, SF_DIR, "events"),
            str(tmp_path / "x"),
            metrics={"n_rows": F.count(F.lit(1))},
        )
        raise AssertionError("expected ValueError")
    except ValueError as e:
        assert "reserved" in str(e)


def test_pit_join_never_leaks_the_future(spark, sf_dir):
    """Feature-store contract: the attached state's interval must CONTAIN
    the fact timestamp — state_since <= ts, and no later interval exists
    that also starts at-or-before ts (i.e. the match is the LATEST valid
    version, verified against a brute-force recomputation)."""
    from collections import defaultdict

    from procurement_data_pipeline_spark.registry import load_all
    from procurement_data_pipeline_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    rows = load_all()["events_scd2_pointintime"].builder(spark, sf_dir).collect()
    assert rows
    ev = (
        load_table(spark, sf_dir, "events")
        .select(
            "user_id", "event_id", "event_type",
            F.unix_micros("ts").alias("ts_us"),
        )
        .collect()
    )
    browse = defaultdict(list)
    for r in ev:
        if r["event_type"] != "purchase":
            browse[r["user_id"]].append((r["ts_us"], r["event_id"], r["event_type"]))
    for u in browse:
        browse[u].sort()
    for r in rows:
        prior = [b for b in browse.get(r["user_id"], []) if b[0] <= r["ts_us"]]
        if not prior:
            assert r["state_at"] is None  # fact precedes any state
            continue
        assert r["state_since_us"] <= r["ts_us"]  # never the future
        # the matched state equals the last browse event's type at-or-before
        assert r["state_at"] == prior[-1][2], (r, prior[-1])


def test_scd2_compact_intervals_partition_the_timeline(spark, sf_dir):
    from procurement_data_pipeline_spark.operators.cdc import scd2_compact
    from procurement_data_pipeline_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("ts_us")
    )
    out = scd2_compact(ev, "user_id", "ts_us", "event_id", "event_type").collect()
    by_u = {}
    for r in sorted(out, key=lambda r: (r["user_id"], r["version"])):
        by_u.setdefault(r["user_id"], []).append(r)
    for ivs in by_u.values():
        assert ivs[-1]["is_current"] == 1 and ivs[-1]["valid_to"] is None
        for a, b in zip(ivs, ivs[1:]):
            assert a["valid_to"] == b["valid_from"]  # gapless, half-open
            assert a["event_type"] != b["event_type"]  # truly compacted
            assert b["is_current"] == 0 or b is ivs[-1]


def test_dwell_shares_sum_to_one(spark, sf_dir):
    from procurement_data_pipeline_spark.registry import load_all

    rows = load_all()["events_state_dwell_share"].builder(spark, sf_dir).collect()
    assert rows
    assert abs(sum(r["dwell_share"] for r in rows) - 1.0) < 1e-9
    assert all(r["dwell_us"] >= 0 for r in rows)
