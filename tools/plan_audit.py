"""Physical-plan quality audit over every declared query.

For each registry entry, build the DataFrame at a given sf_dir and inspect
the optimized physical plan for the properties that determine scale
behavior:

* parquet scans and whether each carries PushedFilters
* exchange (shuffle) count
* broadcast vs sort-merge vs nested-loop join mix
* cartesian products (always a bug at scale)
* whole-stage codegen presence

Writes a markdown table to stdout (redirect to PLANS.md for an audit
snapshot). tests/test_plan_quality.py enforces the invariants that must
never regress.

Usage: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from procurement_data_pipeline_spark.registry import load_all  # noqa: E402
from procurement_data_pipeline_spark.session import get_session  # noqa: E402


def _single_partition_sorts(plan: str) -> int:
    """Count Exchange-SinglePartition nodes whose CONSUMER is a Sort.

    The formatted plan prints a tree section (``+- NodeName (id)``) and a
    detail section (``(id) NodeName`` blocks). SinglePartition-ness lives
    in the detail block's ``Arguments:`` line; the consumer relationship
    lives in the tree (the nearest preceding line with shallower indent).
    Node ids are deduped so an AQE re-print cannot double count.
    """
    sp_ids: set[str] = set()
    current: tuple[str, str] | None = None  # (id, name) of open detail block
    for line in plan.splitlines():
        m = re.match(r"^\((\d+)\) (\w+)", line)
        if m:
            current = (m.group(1), m.group(2))
            continue
        if (
            current is not None
            and current[1] == "Exchange"
            and line.startswith("Arguments: SinglePartition")
        ):
            sp_ids.add(current[0])
    if not sp_ids:
        return 0
    tree: list[tuple[int, str, str]] = []  # (indent, name, id)
    for line in plan.splitlines():
        m = re.match(r"^([ :+|-]*)([A-Za-z][\w ]*?) \((\d+)\)\s*$", line)
        if m:
            tree.append((len(m.group(1)), m.group(2), m.group(3)))
    def parent(i: int) -> tuple[int, str, str] | None:
        for j in range(i - 1, -1, -1):
            if tree[j][0] < tree[i][0]:
                return tree[j]
        return None

    counted: set[str] = set()
    for i, (indent, _name, nid) in enumerate(tree):
        if nid not in sp_ids or nid in counted:
            continue
        p = parent(i)
        # exact "Sort" (SortAggregate must NOT match: a global aggregate
        # choosing sort-based final aggregation exchanges one partial row
        # per upstream partition — bounded, never whole-relation rows)
        if p is None or not (p[1] == "Sort" or p[1].startswith("Window")):
            continue
        if p[1] == "Sort":
            gp = parent(tree.index(p))
            if gp is not None and gp[1] == "SortAggregate":
                continue
        counted.add(nid)
    return len(counted)


def plan_stats(df) -> dict:
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    # The formatted plan prints each node twice (tree + detail section);
    # count only the detail headers "(<n>) <NodeName>" so every physical
    # node is counted exactly once.
    node = lambda name: len(  # noqa: E731
        re.findall(rf"^\(\d+\) {name}\b", plan, re.MULTILINE)
    )
    return {
        "scans": node("Scan parquet"),
        "scans_with_pushdown": len(re.findall(r"PushedFilters: \[(?!\])", plan)),
        "exchanges": node("Exchange"),
        # Exchange SinglePartition feeding a Sort — the compiled form of a
        # Window.orderBy with NO partitionBy: every input row moves to ONE
        # task and is sorted there (Spark's own "No Partition Defined for
        # Window" warning — VERDICT r7: the class the shuffle counter
        # alone never surfaced). A SinglePartition exchange feeding a
        # final HashAggregate is NOT counted: partial aggregation means
        # that exchange carries one row per upstream partition, which is
        # the correct global-aggregate shape at any scale.
        "single_partition_sorts": _single_partition_sorts(plan),
        "broadcast_joins": node("BroadcastHashJoin"),
        "smj": node("SortMergeJoin"),
        "bnlj": node("BroadcastNestedLoopJoin"),
        "cartesian": node("CartesianProduct"),
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_session("plan-audit")
    # widen decisions depend on the core count, so audits from different
    # machines are only comparable at the same defaultParallelism
    cores = spark.sparkContext.defaultParallelism
    print(f"# Plan audit @ {sf_dir} · defaultParallelism={cores}\n")
    print(
        "| query | scans | pushdown | shuffles | 1psort | bhj | smj | bnlj | cartesian |"
    )
    print("|---|---|---|---|---|---|---|---|---|")
    for name, spec in sorted(load_all().items()):
        try:
            s = plan_stats(spec.builder(spark, sf_dir))
        except Exception as ex:  # pragma: no cover - audit robustness
            print(f"| {name} | ERROR: {ex} | | | | | | | |")
            continue
        print(
            f"| {name} | {s['scans']} | {s['scans_with_pushdown']}"
            f" | {s['exchanges']} | {s['single_partition_sorts']}"
            f" | {s['broadcast_joins']} | {s['smj']}"
            f" | {s['bnlj']} | {s['cartesian']} |"
        )


if __name__ == "__main__":
    main()
