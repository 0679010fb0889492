"""``daily_batch``: one warehouse and one versioned corpus, day after day.

Each simulated day is two ops, in this order:

* a DAG day — the day's 1000 orders over 5 products and its inventory
  snapshot are generated (``generate.generate_orders`` with the run seed)
  and written to the raw zones (``catalog.write_raw``), then the six-task
  reference DAG (``plans.procurement.build_daily_pipeline(...).run()``)
  aggregates, computes net demand, exports supplier JSON, checks quality
  and archives;
* an ingest batch — ~500 documents, a seeded share of them re-sent from an
  earlier batch, go through ``plans.ingestion.ingest_corpus_batch`` into
  one versioned corpus table.

A run measures a fixed number of days, as many as ``--seconds`` holds at
``PASS_S`` each, after one untimed warm-up day, so every run builds the
same warehouse and corpus. After the measured days the corpus is read
back at its latest version and at version 1 (time travel):
``corpus_read_s``, the median of three reads.

Checks: net demand is recomputed in pandas from the day's raw partitions
as ``MAX(0, orders + safety_stock - (available - reserved))`` and compared
with the ``net_demand`` partition and with every supplier JSON file; each
batch's accepted count must match a Python model of the dedup, and at the
end the corpus must equal a one-shot dedup of all batches, with every
version holding exactly the cumulative accepted rows.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import re
import shutil
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import datagen
from harness import Run, mean, median

ORDERS_PER_DAY = 1000
NEW_PER_BATCH = 400
RESENT_PER_BATCH = 100
RESPACED_PER_BATCH = 20
PASS_S = 11.0  # one warm DAG day plus one batch on 4 cores
READ_REPEATS = 3
_WHITESPACE = re.compile(r"[ \t\n\x0b\f\r]+")  # Java's \s, which Spark's regexp uses


def _fingerprint(text: str) -> str:
    """Python twin of ``llm_ops.text.fingerprint``: md5 of the text with
    whitespace runs collapsed to one space, trimmed and lowercased."""
    return hashlib.md5(_WHITESPACE.sub(" ", text).strip(" ").lower().encode()).hexdigest()


def _respace(batch: pa.Table, rows, rng: np.random.Generator) -> pa.Table:
    """The same documents with their whitespace and case changed: runs of
    spaces and tabs between words, padding at both ends, a capital first
    word. Their fingerprints must not change."""
    texts = batch["text"].to_pylist()
    for i in rows:
        words = texts[i].split(" ")
        words[0] = words[0].upper()
        gaps = rng.choice(np.array([" ", "  ", "\t", " \t "], dtype=object), len(words))
        texts[i] = "\t " + "".join(w + g for w, g in zip(words, gaps))
    batch = batch.set_column(batch.schema.get_field_index("text"), "text", pa.array(texts))
    return batch.set_column(batch.schema.get_field_index("n_chars"), "n_chars",
                            pa.array([len(t) for t in texts], pa.int64()))


def make_batches(out_dir: str, seed: int, n: int) -> list[pa.Table]:
    """``n`` seeded batches: 400 new documents each, plus (after the first)
    100 documents re-sent from a random earlier batch. In every batch 20
    documents have their whitespace and case changed: re-sent ones, which
    the corpus must still know, or in the first batch new ones."""
    os.makedirs(out_dir, exist_ok=True)
    pool = datagen.documents(seed, NEW_PER_BATCH * n + RESENT_PER_BATCH)
    rng = np.random.default_rng([seed, 11])
    first = pool.slice(0, NEW_PER_BATCH + RESENT_PER_BATCH)
    batches = [_respace(first, rng.choice(first.num_rows, RESPACED_PER_BATCH, replace=False), rng)]
    for b in range(1, n):
        new = pool.slice(RESENT_PER_BATCH + NEW_PER_BATCH * b, NEW_PER_BATCH)
        earlier = batches[int(rng.integers(0, b))]
        resent = earlier.take(rng.choice(earlier.num_rows, RESENT_PER_BATCH, replace=False))
        resent = _respace(resent, range(RESPACED_PER_BATCH), rng)
        batches.append(pa.concat_tables([new, resent]))
    for b, t in enumerate(batches):
        pq.write_table(t, os.path.join(out_dir, f"batch_{b:03d}.parquet"))
    return batches


class CorpusModel:
    """What the corpus must hold: per fingerprint, the smallest doc id of
    the first batch that carried it."""

    def __init__(self):
        self.known: set[str] = set()
        self.doc_ids: set[int] = set()
        self.cumulative: list[int] = []

    def admit(self, batch: pa.Table) -> int:
        first: dict[str, int] = {}
        for doc_id, text in zip(batch["doc_id"].to_pylist(), batch["text"].to_pylist()):
            fp = _fingerprint(text)
            if fp not in self.known:
                first[fp] = min(doc_id, first.get(fp, doc_id))
        self.known.update(first)
        self.doc_ids.update(first.values())
        self.cumulative.append(len(self.doc_ids))
        return len(first)


def expected_net_demand(wh_root: str, date: str) -> dict[int, tuple[int, int, float]]:
    """product → (supplier, net demand, cost) from the day's raw partitions."""
    from procurement_data_pipeline_spark.generate import (
        PRODUCT_SUPPLIERS_SEED,
        PRODUCTS_SEED,
        SUPPLIERS_SEED,
    )

    orders = pq.read_table(os.path.join(wh_root, "raw/orders", f"order_date={date}")).to_pandas()
    stock = pq.read_table(os.path.join(wh_root, "raw/stock", f"snapshot_date={date}")).to_pandas()
    demand = orders.groupby("product_id")["quantity"].sum()
    inv = stock.groupby("product_id").agg(
        available=("available_qty", "sum"), reserved=("reserved_qty", "sum"),
        safety=("safety_stock", "max"),
    )
    active_suppliers = {s[0] for s in SUPPLIERS_SEED if s[5]}
    out = {}
    for pid, _, _, _, _, safety_level, _, active in PRODUCTS_SEED:
        offers = sorted((p[3], p[2], p[1]) for p in PRODUCT_SUPPLIERS_SEED if p[0] == pid)
        priority, cost, supplier = offers[0]
        if not active or supplier not in active_suppliers:
            continue
        row = inv.loc[pid] if pid in inv.index else None
        safety = int(row["safety"]) if row is not None else safety_level
        available = int(row["available"]) if row is not None else 0
        reserved = int(row["reserved"]) if row is not None else 0
        net = max(0, int(demand.get(pid, 0)) + safety - (available - reserved))
        if net > 0:
            out[pid] = (supplier, net, round(net * float(cost), 2))
    return out


def check_day(wh_root: str, date: str, order_date: str, results, corrupt: bool) -> bool:
    if any(t.status != "success" for t in results.values()):
        return False
    want = expected_net_demand(wh_root, date)
    nd = pq.read_table(
        os.path.join(wh_root, "processed/net_demand", f"calculation_date={date}")
    ).to_pandas()
    got = {int(r.product_id): (int(r.supplier_id), int(r.net_demand), float(r.estimated_cost))
           for r in nd.itertuples()}
    if got != want or len(nd) != len(want):
        return False
    files = sorted(glob.glob(os.path.join(wh_root, "output/supplier_orders", order_date, "*.json")))
    exported = {}
    for path in files:
        with open(path) as f:
            doc = json.load(f)
        for item in doc["items"]:
            exported[item["product_id"]] = (doc["supplier_id"], item["quantity"], item["total_cost"])
    if corrupt:  # self-check: an export that drifted from net demand must fail
        first = next(iter(exported))
        s, q, c = exported[first]
        exported[first] = (s, q + 1, c)
    return exported == want and len(files) == len({v[0] for v in want.values()})


def _dir_stats(root: str, pattern: str = "**/*") -> tuple[int, int]:
    paths = [p for p in glob.glob(os.path.join(root, pattern), recursive=True) if os.path.isfile(p)]
    return len(paths), sum(os.path.getsize(p) for p in paths)


def run(r: Run) -> None:
    from procurement_data_pipeline_spark import caching
    from procurement_data_pipeline_spark.catalog import Warehouse
    from procurement_data_pipeline_spark.functions.dates import shift_date
    from procurement_data_pipeline_spark.generate import (
        generate_inventory,
        generate_orders,
        master_data,
    )
    from procurement_data_pipeline_spark.plans import ingestion, procurement
    from procurement_data_pipeline_spark.plans.ingestion import read_corpus

    spark, tr, seed = r.spark, r.tracer, r.seed
    wh_root, corpus, batch_dir = r.path("warehouse"), r.path("corpus"), r.path("batches")
    measured_days = r.passes(PASS_S)
    n_days = 1 + measured_days  # the first is the untimed warm-up
    state: dict = {}

    def prepare() -> None:
        for d in (wh_root, corpus, batch_dir):
            shutil.rmtree(d, ignore_errors=True)
        state["wh"] = Warehouse(wh_root)
        state["wh"].init_layout()
        state["master"] = master_data(spark)
        state["batches"] = make_batches(batch_dir, seed, n_days)

    r.prepare(prepare)
    wh, (products, suppliers, product_suppliers) = state["wh"], state["master"]
    dates = datagen.day_dates(seed, n_days)

    tr.wrap(caching, "scoped_persist", "caching.persist")
    tr.wrap(Warehouse, "write_derived", "catalog.write_derived")
    tr.wrap(procurement, "write_supplier_json", "export.write")
    tr.wrap(procurement, "write_exceptions_json", "export.write")
    tr.wrap(ingestion, "versioned_write", "versioning.write")
    tr.wrap(ingestion, "read_table", "versioning.read")
    tr.wrap(ingestion, "latest_version", "versioning.read")

    model = CorpusModel()
    day_results: list[dict] = []
    files_written: list[int] = []
    json_files: list[int] = []
    audits: list[dict] = []
    corrupt = [r.corrupt]

    def day(i: int, measured: bool) -> None:
        date = dates[i]

        def body():
            with tr.span("catalog.write_raw"):
                wh.write_orders(generate_orders(spark, date, n=ORDERS_PER_DAY, seed=seed))
                wh.write_inventory(generate_inventory(spark, date, seed=seed))
            pipe = procurement.build_daily_pipeline(
                spark, wh, date, products, suppliers, product_suppliers
            )
            if r.traced:
                for task in pipe.tasks.values():
                    task.fn = tr.spanned(f"plans.{task.name}", task.fn)
            with tr.span("plans.run"):
                return pipe.run()

        def check(results) -> bool:
            damage = corrupt[0] and measured
            if measured:
                day_results.append(results)
                corrupt[0] = False
            return check_day(wh_root, date, shift_date(date, 1), results, damage)

        before = _dir_stats(wh_root)[0] if r.traced else 0
        r.run_op("day", date, measured, body, check)
        if r.traced and measured:
            files_written.append(_dir_stats(wh_root)[0] - before)
            export_dir = os.path.join(wh_root, "output/supplier_orders", shift_date(date, 1))
            json_files.append(len(glob.glob(os.path.join(export_dir, "*.json"))))

    def batch(b: int, measured: bool) -> None:
        want = model.admit(state["batches"][b])

        def body():
            df = spark.read.parquet(os.path.join(batch_dir, f"batch_{b:03d}.parquet"))
            with tr.span("ingestion.ingest"):
                return ingestion.ingest_corpus_batch(spark, df, corpus)[2]

        def check(audit) -> bool:
            return (audit["accepted"] == want and audit["corpus_version"] == b + 1
                    and audit["rows_in_batch"] == state["batches"][b].num_rows)

        audit = r.run_op("batch", str(b), measured, body, check)
        if measured and audit is not None:
            audits.append(audit)

    # The warehouse and the corpus share nothing, so the cold first day and
    # batch run side by side: the warm-up is bound by code generation and
    # JIT compilation, which overlap well. Measured ops run alone.
    t0 = time.perf_counter()
    with ThreadPoolExecutor(2) as pool:
        for warm in [pool.submit(day, 0, False), pool.submit(batch, 0, False)]:
            warm.result()
    r.setup["warmup_s"] = time.perf_counter() - t0
    calibration = r.calibrate()

    def one_pass(p: int) -> None:
        day(p + 1, measured=True)
        batch(p + 1, measured=True)

    r.measure(one_pass, measured_days)

    # End of run: the corpus must equal a one-shot dedup of every batch,
    # and each version must hold exactly the rows accepted up to it.
    reads: list[float] = []
    try:
        for _ in range(READ_REPEATS):
            t1 = time.perf_counter()
            latest = read_corpus(spark, corpus).select("doc_id").toPandas()
            first = read_corpus(spark, corpus, version=1).select("doc_id").toPandas()
            reads.append(time.perf_counter() - t1)
        corpus_ok = (
            set(latest["doc_id"]) == model.doc_ids and len(latest) == len(model.doc_ids)
            and len(first) == model.cumulative[0]
            and all(read_corpus(spark, corpus, version=v + 1).count() == n
                    for v, n in enumerate(model.cumulative))
        )
    except Exception as e:  # noqa: BLE001 — an unreadable corpus fails the batches
        r.report["corpus_error"] = f"{type(e).__name__}: {e}".split("\n")[0][:300]
        corpus_ok = False
    if not corpus_ok:
        for o in r.measured("batch"):
            o["ok"] = False

    days = r.measured("day")
    batches = r.measured("batch")
    corpus_read = median(reads)
    pass_total = (median(o["latency_s"] for o in days)
                  + median(o["latency_s"] for o in batches) + corpus_read)
    r.metrics = r.end_to_end(pass_total_s=pass_total)
    r.bypassed = ("sources", "queries")
    r.report.update(corpus_read_s=corpus_read, days=len(days), corpus_ok=corpus_ok,
                    context=r.context(calibration))
    if r.traced:
        layers = r.layer_metrics({
            "plans": "day", "catalog": "day", "export": "day",
            "ingestion": "batch", "versioning": "batch",
        })
        for name in day_results[0] if day_results else ():
            layers[f"plans.{name}_s"] = mean(res[name].elapsed_sec for res in day_results)
        layers["plans.failed_tasks"] = float(sum(
            t.status != "success" for res in day_results for t in res.values()
        ))
        layers["catalog.files_written"] = mean(files_written)
        layers["catalog.stored_bytes"] = float(_dir_stats(wh_root)[1])
        layers["export.json_files"] = mean(json_files)
        layers["versioning.data_files"] = float(_dir_stats(corpus, "**/*.parquet")[0])
        layers["versioning.manifest_bytes"] = float(_dir_stats(os.path.join(corpus, "_log"))[1])
        layers["versioning.corpus_read_s"] = corpus_read
        batch_ops = {o["op_id"] for o in batches}
        layers["ingestion.jobs_per_batch"] = mean(
            rec["jobs"] for rec in tr.ops if rec["op"] in batch_ops
        )
        sent = sum(a["rows_in_batch"] for a in audits)
        layers["ingestion.accept_ratio"] = sum(a["accepted"] for a in audits) / sent if sent else 0.0
        r.layers = layers
