"""Outside-in instrumentation: spans, Spark status-store counts, peak RSS.

Nothing here edits the package. A traced run swaps the package's public
functions for wrappers (``Tracer.wrap``) that open a span around each call;
an untraced run installs no wrapper and pays nothing. Spans live in memory
and are written once, at exit.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

PACKAGE = "procurement_data_pipeline_spark"

# Spark's per-stage counters, as read from the driver's status store.
STAGE_FIELDS = {
    "stages": None,
    "tasks": "numTasks",
    "run_s": "executorRunTime",  # ms
    "cpu_s": "executorCpuTime",  # ns
    "input_bytes": "inputBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "spill_bytes": ("memoryBytesSpilled", "diskBytesSpilled"),
}


class Tracer:
    """Spans (name, start, end, parent, op id) plus per-op Spark counts.

    ``enabled=False`` keeps every method a cheap no-op, so the workload code
    is the same in both modes. Ops may run on several threads at once; a
    span's job count then includes the other threads' jobs, so only ops
    run alone are measured.
    """

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self.bookkeeping_s = 0.0
        self._thread = threading.local()  # per thread: open-span stack, op id
        self._lock = threading.Lock()
        jsc = spark.sparkContext._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()

    def jobs_launched(self) -> int:
        """Spark's next job id: assigned synchronously at submit, so the
        difference across a call is the number of jobs that call launched."""
        return int(self._dag.nextJobId())

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._thread.__dict__.setdefault("stack", [])
        rec = {
            "name": name,
            "op": getattr(self._thread, "op", None),
            "parent": stack[-1] if stack else None,
            "start": time.perf_counter(),
            "jobs0": self.jobs_launched(),
        }
        with self._lock:
            self.spans.append(rec)
            stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()
            rec["jobs"] = self.jobs_launched() - rec.pop("jobs0")

    @contextmanager
    def op(self, op_id: str, kind: str, measured: bool):
        """One op: a root span, and (traced) the op's Spark job group."""
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        self._thread.op = op_id
        sc.setJobGroup(op_id, kind)  # a thread-local property
        try:
            with self.span(f"bench.{kind}"):
                yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            self._thread.op = None
            t0 = time.perf_counter()
            stats = self._group_stats(op_id)
            self.bookkeeping_s += time.perf_counter() - t0
            self.ops.append({"op": op_id, "kind": kind, "measured": measured, **stats})

    def _group_stats(self, group: str) -> dict[str, float]:
        """Sum the stage counters of every job the op's group ran."""
        self._bus.waitUntilEmpty(10_000)
        sc = self.spark.sparkContext
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        out = {k: 0.0 for k in STAGE_FIELDS}
        out["jobs"] = float(len(jobs))
        seen: set[int] = set()
        for jid in jobs:
            ids = self._store.job(jid).stageIds().mkString(",")
            for sid in (int(s) for s in ids.split(",") if s):
                if sid in seen:
                    continue
                seen.add(sid)
                st = self._store.lastStageAttempt(sid)
                if st.status().toString() not in ("COMPLETE", "FAILED"):
                    continue  # skipped stages reuse an earlier stage's output
                out["stages"] += 1
                for key, attr in STAGE_FIELDS.items():
                    if attr is None:
                        continue
                    attrs = attr if isinstance(attr, tuple) else (attr,)
                    out[key] += sum(float(getattr(st, a)()) for a in attrs)
        out["run_s"] /= 1e3
        out["cpu_s"] /= 1e9
        return out

    def spanned(self, name: str, fn):
        """``fn`` with every call inside a span called ``name``."""

        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        wrapper.__wrapped__ = fn
        return wrapper

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a spanned wrapper. A plain function
        is replaced in every loaded package module that imported it by
        name, so calls made from inside the package are timed too."""
        if not self.enabled:
            return
        original = getattr(owner, attr)
        wrapper = self.spanned(name, original)
        if isinstance(owner, type):
            setattr(owner, attr, wrapper)
            return
        for mod_name, mod in list(sys.modules.items()):
            if mod_name.startswith(PACKAGE) and getattr(mod, attr, None) is original:
                setattr(mod, attr, wrapper)

    def layer_times(self, measured_ops: set[str]) -> dict[str, dict[str, float]]:
        """Per measured op, total and self seconds per span name."""
        total: dict[str, float] = defaultdict(float)
        own: dict[str, float] = defaultdict(float)
        jobs: dict[str, float] = defaultdict(float)
        calls: dict[str, float] = defaultdict(float)
        child: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        for i, s in enumerate(self.spans):
            if s["op"] not in measured_ops:
                continue
            dur = s["end"] - s["start"]
            total[s["name"]] += dur
            own[s["name"]] += dur - child[i]
            jobs[s["name"]] += s["jobs"]
            calls[s["name"]] += 1
        return {"total": total, "self": own, "jobs": jobs, "calls": calls}

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "ops": self.ops, **extra}, f)


class PeakRss:
    """Peak resident memory of this process and all its descendants (the
    JVM and Spark's Python workers), sampled from ``/proc``."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        children: dict[int, list[int]] = defaultdict(list)
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    stat = f.read()
            except OSError:  # the process exited while we listed
                continue
            ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
            children[ppid].append(int(entry))
        tree, frontier = set(), [os.getpid()]
        while frontier:
            pid = frontier.pop()
            tree.add(pid)
            frontier.extend(children[pid])
        rss = 0
        for pid in tree:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    rss += int(f.read().split()[1]) * self._page
            except OSError:
                pass
        return rss

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._stop.wait(self.interval)

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        self.peak_bytes = max(self.peak_bytes, self._tree_rss())
        return self.peak_bytes / 2**20
