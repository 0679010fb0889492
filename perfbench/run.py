"""Repository benchmark: run one workload and print its metrics.

    python3 perfbench/run.py --workload headline_queries --seed 1 --seconds 15 --trace 0

Run from the repository root. The workloads, metric names, units and
regression bounds are declared in ``BENCHMARK.json``; ``--trace 0`` prints
the end-to-end metrics, ``--trace 1`` the per-layer ones (see README.md).
The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
An earlier line (prefixed ``perfbench-report``) carries the run context and
the workload-specific figures that are not gated.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "procurement_data_pipeline_spark"


def _workloads():
    import daily
    import headline

    return {"headline_queries": headline.run, "daily_batch": daily.run}


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _isolate(work_dir: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work_dir``."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(cores))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"  # no /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts  # spark-submit's launcher JVM
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-java-options '{jvm_opts}' pyspark-shell"
    os.chdir(work_dir)  # spark-warehouse/ and any metastore land here


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="smallest inputs (self-check); not for measurement")
    ap.add_argument("--corrupt", action="store_true",
                    help="damage one measured result before its check (self-check)")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    declared = _declared()
    workloads = _workloads()
    if args.workload not in workloads:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    sys.path.insert(0, ROOT)
    work_dir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work_dir, ignore_errors=True)
    os.makedirs(work_dir)
    _isolate(work_dir)

    from harness import Run, tail

    r = Run(args.workload, args.seed, args.seconds, bool(args.trace), work_dir,
            args.tiny, args.corrupt)
    try:
        r.launch()
        workloads[args.workload](r)
        if r.traced:
            r.tracer.dump(
                os.path.join(ROOT, ".perfbench_out", f"trace-{args.workload}-{args.seed}.json"),
                {"ops_checked": r.ops},
            )
    finally:
        r.shutdown()
        r.rss.stop()
        os.chdir(ROOT)
        shutil.rmtree(work_dir, ignore_errors=True)

    measured = r.measured()
    failed = sum(1 for o in measured if not o["ok"])
    if r.traced:
        values = {**r.setup, **r.layers,
                  "trace.op_p50_s": r.metrics["op_p50_s"],
                  "memory.peak_rss_mb": r.metrics["peak_rss_mb"],
                  "context.calibration_s": r.report["context"]["calibration_s"],
                  "context.cpu_steal_share": r.report["context"]["cpu_steal_share"],
                  "context.default_parallelism": r.report["context"]["defaultParallelism"],
                  "context.cores": r.report["context"]["cores"]}
        names = declared["per_layer"]
    else:
        values = r.metrics
        names = declared["end_to_end"]
    # A layer the workload never calls reads 0 by design; any other
    # declared metric the run did not compute is listed as missing (and
    # printed as 0, as the result line must carry every declared name).
    bypassed = {m["name"]: 0.0 for m in names
                if m["name"].split(".")[0] in r.bypassed and m["name"] not in values}
    values = {**bypassed, **values}
    missing = [m["name"] for m in names if m["name"] not in values]
    report = {
        **r.report,
        "workload": args.workload,
        "seed": args.seed,
        "setup": r.setup,
        "failed_ratio": failed / len(measured),
        "op_tail_s": tail([o["latency_s"] for o in measured]),
        "errors": sorted({o["error"] for o in r.ops if "error" in o})[:5],
        "bypassed": sorted(bypassed),
        "missing_metrics": missing,
        **r.metrics,
    }
    print("perfbench-report " + json.dumps(report), flush=True)
    if r.traced:
        print("perfbench-layers " + json.dumps(values), flush=True)
    if missing:
        print(f"perfbench: metrics not computed: {', '.join(missing)}", file=sys.stderr)
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in names}
    print(json.dumps({"correct": failed == 0, "attempted": len(measured),
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
