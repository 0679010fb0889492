"""``headline_queries``: the frozen ``bench=True`` queries, read-only.

One op is one query: its builder call (``queries.build``) and the
execution of the returned plan into pandas (``queries.exec``). Every pass
runs all of them in a seed-shuffled order; the run measures whole passes,
as many as ``--seconds`` holds at ``PASS_S`` each.
Each result is checked: oracle-paired queries by row count and an
order-insensitive value hash against the registry's DuckDB SQL over the
same parquet files, the two approximate top-k queries by recall against the
exact top-k.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
import random
import time
from concurrent.futures import ThreadPoolExecutor

import datagen
from harness import Run, median

SF = 0.1  # the ROADMAP headline's scale: 600k lineitems
TINY_SF = 0.001
PASS_S = 25.0  # one warm pass at SF on 4 cores
ANN = ("emb_ivf_ann", "emb_lsh_ann")
KNN = "emb_knn_bruteforce"
RECALL_FLOOR = 0.4  # the floor the repository's own ANN recall tests assert


def _cell(v) -> str:
    """Type-tolerant canonical token: numbers compare by value to ten
    significant digits, date-likes by ISO form."""
    import numpy as np
    import pandas as pd

    if v is None or v is pd.NaT or (isinstance(v, float) and math.isnan(v)):
        return "null"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_cell(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (int, np.integer, float, np.floating, decimal.Decimal)):
        f = float(v)
        return "nan" if math.isnan(f) else format(f, ".10g")
    if isinstance(v, (pd.Timestamp, dt.datetime, dt.date)):
        return pd.Timestamp(v).isoformat()
    return str(v)


def digest(pdf) -> tuple[int, str]:
    """(row count, order-insensitive hash of column names and values)."""
    cols = sorted(pdf.columns)
    rows = sorted(
        "\x1f".join(_cell(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha256("\x1e".join(cols).encode())
    for r in rows:
        h.update(r.encode() + b"\x1e")
    return len(rows), h.hexdigest()


def oracle_answers(data_dir: str, specs) -> tuple[dict, set]:
    """DuckDB digests of every oracle-paired query, and the exact top-k
    pairs the approximate queries are scored against."""
    import duckdb

    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    answers = {n: digest(con.execute(s.oracle).df()) for n, s in specs.items() if s.oracle}
    knn = con.execute(specs[KNN].oracle).df()
    con.close()
    return answers, set(zip(knn["query_id"], knn["vec_id"]))


def warm_up(r: Run, specs, data_dir: str) -> None:
    """Run every query once, one per core at a time, untimed and untraced:
    the JVM's JIT, Spark's code generation caches and the Python workers
    warm up in about half the time of a sequential cold pass. Measured ops
    stay one at a time. The warm-up reads the smallest tables: a cold pass
    is mostly compilation, which they trigger as fully, and at SF it would
    cost each run about 11 s more for a measured pass only 2-4 s faster."""
    from procurement_data_pipeline_spark.caching import release_cached

    errors: list[str] = []

    def one(name: str) -> None:
        try:
            specs[name].builder(r.spark, data_dir).toPandas()
        except Exception as e:  # noqa: BLE001 — its measured op reports it
            errors.append(f"{name}: {type(e).__name__}")

    with ThreadPoolExecutor(r.spark.sparkContext.defaultParallelism) as pool:
        list(pool.map(one, specs))
    release_cached()
    r.report["warmup_errors"] = errors


def run(r: Run) -> None:
    data_dir, warm_dir = r.path("data"), r.path("warm")

    def prepare() -> None:
        datagen.star_schema(data_dir, r.seed, TINY_SF if r.tiny else SF)
        datagen.star_schema(warm_dir, r.seed, TINY_SF)

    r.prepare(prepare)
    specs = {n: s for n, s in sorted(r.specs.items()) if s.bench}
    answers, exact = oracle_answers(data_dir, specs)

    tr = r.tracer
    corrupt = [r.corrupt]

    def check(name: str, pdf) -> bool:
        if corrupt[0] and name in answers and len(pdf):
            corrupt[0] = False  # self-check: a result that lost a row must fail
            pdf = pdf.iloc[1:]
        if name in answers:
            return digest(pdf) == answers[name]
        if name in ANN:
            got = set(zip(pdf["query_id"], pdf["vec_id"]))
            return len(got & exact) / len(exact) >= RECALL_FLOOR
        return len(pdf) > 0

    def one_pass(index: int) -> None:
        order = list(specs)
        random.Random(f"{r.seed}:{index}").shuffle(order)
        for name in order:
            def body(name=name):
                with tr.span("queries.build"):
                    df = specs[name].builder(r.spark, data_dir)
                with tr.span("queries.exec"):
                    return df.toPandas()

            r.run_op("query", name, True, body, lambda pdf, name=name: check(name, pdf))

    t0 = time.perf_counter()
    warm_up(r, specs, warm_dir)
    r.setup["warmup_s"] = time.perf_counter() - t0
    calibration = r.calibrate()

    from procurement_data_pipeline_spark import caching
    from procurement_data_pipeline_spark.sources import tables

    tr.wrap(tables, "load_table", "sources.load")
    tr.wrap(caching, "scoped_persist", "caching.persist")

    pass_s = r.measure(one_pass, r.passes(PASS_S))

    by_query: dict[str, list[float]] = {}
    for o in r.measured():
        by_query.setdefault(o["name"], []).append(o["latency_s"])
    headline_total = sum(median(v) for v in by_query.values())
    r.metrics = r.end_to_end(pass_total_s=headline_total)
    r.report.update(headline_total_s=headline_total, pass_s=pass_s,
                    context=r.context(calibration))
    r.bypassed = ("plans", "catalog", "export", "ingestion", "versioning")
    if r.traced:
        r.layers = r.layer_metrics({"queries": "query", "sources": "query"})
