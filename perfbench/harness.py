"""Shared run state: session launch and shutdown, the closed op loop, the
end-to-end statistics and the per-layer metrics every workload reports."""

from __future__ import annotations

import os
import platform
import statistics
import time

import numpy as np

from instrument import PeakRss, Tracer

SETUP_REPEATS = 3


def median(values) -> float:
    """Harrell–Davis estimate of the median: a mean of the order statistics
    weighted by the Beta((n+1)/2, (n+1)/2) mass over each rank's share of
    [0, 1]. Unlike the sample median it does not jump when two samples of
    different size swap ranks around the middle, which on a mix of 19
    different queries is most of the sample median's run-to-run spread.
    Of one sample it is that sample, of two their mean."""
    x = np.sort(np.asarray(list(values), dtype=float))
    n = len(x)
    if n < 2:
        return float(x[0]) if n else 0.0
    a = (n + 1) / 2
    steps = 256
    grid = np.linspace(0.0, 1.0, n * steps + 1)
    with np.errstate(divide="ignore"):  # log(0) at the ends: weight 0
        log_pdf = (a - 1) * np.log(grid * (1.0 - grid))
    pdf = np.exp(log_pdf - log_pdf.max())  # no underflow at large n
    cdf = np.concatenate([[0.0], np.cumsum((pdf[1:] + pdf[:-1]) / 2)])
    weights = np.diff(cdf[::steps]) / cdf[-1]
    return float(weights @ x)


def mean(values) -> float:
    values = list(values)
    return statistics.fmean(values) if values else 0.0


def tail(values: list[float]) -> dict | None:
    """The highest percentile that still has at least 10 samples beyond it."""
    n = len(values)
    if n < 11:
        return None
    ranked = sorted(values)
    return {"value": ranked[n - 11], "percentile": round(100.0 * (n - 10) / n, 1), "samples": n}


def cpu_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks since boot from ``/proc/stat``: on a shared
    virtual machine the hypervisor's steal is the ambient load."""
    with open("/proc/stat") as f:
        ticks = [int(v) for v in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


class Run:
    """One benchmark process: one Spark session, one closed loop of ops."""

    def __init__(self, workload: str, seed: int, seconds: float, traced: bool,
                 work_dir: str, tiny: bool, corrupt: bool):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.traced, self.tiny, self.corrupt = traced, tiny, corrupt
        self.work_dir = work_dir
        self.rss = PeakRss().start()
        self.setup: dict[str, float] = {}
        self.ops: list[dict] = []  # kind, name, latency_s, ok, measured, error
        self.metrics: dict[str, float] = {}  # end-to-end, set by the workload
        self.layers: dict[str, float] = {}  # per-layer, traced runs only
        self.report: dict[str, object] = {}  # printed, not gated
        self.spark = None
        self.specs: dict = {}
        self.tracer: Tracer | None = None
        self.steal_share = 0.0  # of all CPU time while measuring
        self.pass_s: list[float] = []  # wall clock of each measured pass
        self.bypassed: tuple[str, ...] = ()  # layers the workload never calls

    def path(self, *parts: str) -> str:
        return os.path.join(self.work_dir, *parts)

    # --- set-up ----------------------------------------------------------

    def launch(self) -> None:
        """Start the JVM and session, then import the query registry."""
        t0 = time.perf_counter()
        from procurement_data_pipeline_spark.session import get_session

        self.spark = get_session(f"perfbench-{self.workload}")
        t1 = time.perf_counter()
        from procurement_data_pipeline_spark.registry import load_all

        self.specs = load_all()
        t2 = time.perf_counter()
        self.setup["session.start_s"] = t1 - t0
        self.setup["registry.load_s"] = t2 - t1
        self.tracer = Tracer(self.spark, self.traced)

    def prepare(self, fn) -> None:
        """Prepare the workload's inputs several times; keep the median."""
        times = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            fn()
            times.append(time.perf_counter() - t0)
        self.setup["prepare_s"] = median(times)

    def calibrate(self) -> float:
        """Fixed CPU-bound Spark job (no I/O, constant size), run after the
        warm-up: the ambient-load reference to read timings against."""
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            self.spark.range(0, 20_000_000, 1, 8).selectExpr(
                "sum(id % 97) as s"
            ).write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t0)
        return median(times)

    def shutdown(self) -> None:
        """Stop the session and wait for the JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:  # noqa: BLE001 — never leave the JVM behind
                    proc.kill()
                    proc.wait()
        self.spark = None

    # --- ops ---------------------------------------------------------------

    def passes(self, pass_s: float) -> int:
        """How many whole passes a run measures: ``--seconds`` over the
        workload's typical pass time ``pass_s`` (4 cores), at least one.
        The count depends on nothing measured, so every run of the same
        ``--seconds`` does the same work whatever the machine's speed."""
        return max(1, int(self.seconds / pass_s + 0.5))

    def measure(self, one_pass, passes: int) -> list[float]:
        """Run ``passes`` whole passes and return their wall-clock times."""
        times, ticks0 = [], cpu_ticks()
        for p in range(passes):
            t0 = time.perf_counter()
            one_pass(p)
            times.append(time.perf_counter() - t0)
        ticks1 = cpu_ticks()
        self.steal_share = (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
        self.pass_s = times
        return times

    def run_op(self, kind: str, name: str, measured: bool, body, check) -> object:
        """Time ``body()`` as one op, then ``check(result)`` outside the
        timed span. Errors and failed checks both count as failed ops."""
        op_id = f"{kind}:{name}:{len(self.ops)}"
        rec = {"kind": kind, "name": name, "measured": measured, "ok": False}
        rdds0 = self._persistent_rdds()
        result = None
        with self.tracer.op(op_id, kind, measured):
            t0 = time.perf_counter()
            try:
                result = body()
            except Exception as e:  # noqa: BLE001 — report, keep measuring
                rec["error"] = f"{type(e).__name__}: {e}".split("\n")[0][:300]
            rec["latency_s"] = time.perf_counter() - t0
            rec["released"] = self._release()
        if "error" not in rec:
            try:
                rec["ok"] = bool(check(result))
            except Exception as e:  # noqa: BLE001
                rec["error"] = f"check: {type(e).__name__}: {e}".split("\n")[0][:300]
        if self.traced:
            rec["leaked_rdds"] = self._persistent_rdds() - rdds0
        rec["op_id"] = op_id
        self.ops.append(rec)
        return result

    def _release(self) -> int:
        from procurement_data_pipeline_spark.caching import release_cached

        with self.tracer.span("caching.release"):
            return release_cached()

    def _persistent_rdds(self) -> int:
        if not self.traced:
            return 0
        return int(self.spark.sparkContext._jsc.getPersistentRDDs().size())

    def measured(self, kind: str | None = None) -> list[dict]:
        return [o for o in self.ops if o["measured"] and kind in (None, o["kind"])]

    # --- results -------------------------------------------------------------

    def end_to_end(self, pass_total_s: float) -> dict[str, float]:
        ops = self.measured()
        completed = sum(o["ok"] for o in ops)
        return {
            "setup_s": sum(self.setup.values()),
            "op_p50_s": median(o["latency_s"] for o in ops),
            "ops_per_min": 60.0 * completed / sum(self.pass_s),
            "pass_total_s": pass_total_s,
            "peak_rss_mb": self.rss.peak_bytes / 2**20,
        }

    def context(self, calibration_s: float) -> dict:
        import pyspark

        sc = self.spark.sparkContext
        return {
            "master": sc.master,
            "defaultParallelism": sc.defaultParallelism,
            "cores": len(os.sched_getaffinity(0)),
            "spark": pyspark.__version__,
            "python": platform.python_version(),
            "calibration_s": calibration_s,
            "cpu_steal_share": self.steal_share,
        }

    def layer_metrics(self, per_kind: dict[str, str]) -> dict[str, float]:
        """Per-op means of every traced layer. ``per_kind`` maps a span-name
        prefix to the op kind whose count is its denominator."""
        tr = self.tracer
        ops = {o["op_id"]: o for o in self.measured()}
        n = {k: len(self.measured(k)) for k in {o["kind"] for o in ops.values()}}
        lt = tr.layer_times(set(ops))
        out: dict[str, float] = {}

        def per(name: str, value: float) -> float:
            # ``bench.<kind>`` is the op span of that kind; bare ``bench``
            # (harness self time) is spread over every op.
            layer, _, rest = name.partition(".")
            kind = rest if layer == "bench" else per_kind.get(layer)
            denom = n.get(kind, 0) if kind else len(ops)
            return value / denom if denom else 0.0

        # Only spans that occurred give a value: a layer whose wrapper never
        # fired is reported missing, not 0.
        for name, secs in lt["total"].items():
            out[f"{name}_s"] = per(name, secs)
        for prefix in {k.split(".")[0] for k in lt["self"]}:
            own = sum(v for k, v in lt["self"].items() if k.split(".")[0] == prefix)
            out[f"{prefix}.self_s"] = per(prefix, own)
        if "sources.load" in lt["calls"]:
            out["sources.load_calls"] = per("sources", lt["calls"]["sources.load"])
            out["sources.load_jobs"] = per("sources", lt["jobs"]["sources.load"])
        if "queries.build" in lt["jobs"]:
            out["queries.build_jobs"] = per("queries", lt["jobs"]["queries.build"])
        measured_ops = [r for r in tr.ops if r["op"] in ops]
        for key in ("jobs", "stages", "tasks", "run_s", "cpu_s", "input_bytes",
                    "shuffle_write_bytes", "spill_bytes"):
            out[f"operators.{key}"] = mean(r[key] for r in measured_ops)
        out["caching.persists"] = lt["calls"].get("caching.persist", 0) / len(ops)
        out["caching.released"] = mean(o["released"] for o in ops.values())
        out["caching.leaked_rdds"] = float(sum(o["leaked_rdds"] for o in ops.values()))
        out["trace.bookkeeping_s"] = tr.bookkeeping_s / len(tr.ops)
        return out
