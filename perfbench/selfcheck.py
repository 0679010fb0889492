"""Self-checks for the benchmark itself.

    python3 perfbench/selfcheck.py [workload ...]

For each workload (default: all), on the smallest inputs:

1. an untraced and a traced run each compute every metric BENCHMARK.json
   declares for that mode (none missing, none left at 0 in a layer the
   workload loads), with every check passing;
2. a run with one deliberately damaged result reports it as failed;
3. finally, in a directory holding only BENCHMARK.json and perfbench/, the
   benchmark exits non-zero without printing a result.

Exits 0 when every check holds. Each run starts its own JVM, so a full pass
takes five to ten minutes on 4 cores.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Per-layer metrics that must be non-zero in a traced run: the layers each
# workload loads. A wrapper that stopped matching its target shows here.
NONZERO = {
    "headline_queries": (
        "sources.load_s", "sources.load_calls", "sources.load_jobs", "queries.build_s",
        "queries.exec_s", "operators.jobs", "operators.tasks", "operators.run_s",
    ),
    "daily_batch": (
        "plans.sync_partitions_s", "plans.aggregate_orders_s", "plans.calculate_net_demand_s",
        "plans.export_supplier_json_s", "plans.quality_checks_s", "plans.copy_to_processed_s",
        "catalog.write_raw_s", "catalog.write_derived_s", "catalog.files_written",
        "catalog.stored_bytes", "export.write_s", "export.json_files", "versioning.write_s",
        "versioning.read_s", "versioning.data_files", "versioning.manifest_bytes",
        "versioning.corpus_read_s", "ingestion.ingest_s", "ingestion.jobs_per_batch",
        "ingestion.accept_ratio", "operators.jobs", "operators.tasks", "caching.persists",
    ),
}


def bench(root: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(root, "perfbench", "run.py"), *args],
        cwd=root, capture_output=True, text=True, timeout=600,
    )


def result(proc: subprocess.CompletedProcess) -> tuple[dict, dict]:
    """The result line and the ``perfbench-report`` line of a run."""
    if proc.returncode != 0:
        raise AssertionError(f"exit {proc.returncode}: {proc.stderr[-2000:]}")
    lines = proc.stdout.strip().splitlines()
    report = next(ln for ln in lines if ln.startswith("perfbench-report "))
    return json.loads(lines[-1]), json.loads(report.split(" ", 1)[1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)
    workloads = sys.argv[1:] or [w["name"] for w in declared["workloads"]]
    problems: list[str] = []

    for w in workloads:
        for trace, kind in (("0", "end_to_end"), ("1", "per_layer")):
            res, report = result(bench(ROOT, "--workload", w, "--seed", "7", "--seconds", "1",
                                       "--trace", trace, "--tiny"))
            want = {m["name"] for m in declared[kind]}
            if set(res["metrics"]) != want:
                problems.append(f"{w} trace={trace}: metrics {sorted(want ^ set(res['metrics']))}")
            if report["missing_metrics"]:
                problems.append(f"{w} trace={trace}: not computed {report['missing_metrics']}")
            if trace == "1":
                zero = [n for n in NONZERO[w] if not res["metrics"][n]["value"]]
                if zero:
                    problems.append(f"{w} trace=1: loaded layers read 0: {zero}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"{w} trace={trace}: checks failed: {res} {report['errors']}")
        res, _ = result(bench(ROOT, "--workload", w, "--seed", "7", "--seconds", "1",
                              "--trace", "0", "--tiny", "--corrupt"))
        if res["correct"] or res["failed"] < 1:
            problems.append(f"{w}: a damaged result went unnoticed: {res}")

    bare = os.path.join(ROOT, ".perfbench_work", "selfcheck-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    proc = bench(bare, "--workload", workloads[0], "--seed", "7", "--seconds", "1",
                 "--trace", "0")
    shutil.rmtree(bare, ignore_errors=True)
    if proc.returncode == 0 or proc.stdout.strip():
        problems.append(f"bare directory: exit {proc.returncode}, stdout {proc.stdout[-300:]!r}")

    for p in problems:
        print("FAIL", p)
    print("selfcheck:", "ok" if not problems else f"{len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
