"""Continuous corpus ingestion plan: gate → dedup → atomic accept → CDF."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from procurement_data_pipeline_spark.llm_ops.dedup import (
    drop_exact_duplicates,
)
from procurement_data_pipeline_spark.llm_ops.text import fingerprint
from procurement_data_pipeline_spark.operators.cdf import table_changes
from procurement_data_pipeline_spark.operators.versioning import (
    ConcurrentWriteError,
    history,
    latest_version,
)
from procurement_data_pipeline_spark.plans import ingestion
from procurement_data_pipeline_spark.plans.ingestion import (
    ingest_corpus_batch,
    read_corpus,
)

# Spark jobs of one warm ingest batch read from parquet (its schema read
# excluded), as measured on Spark 4.1.2; one count() action per audit
# number instead of the fused audit action adds six.
WARM_BATCH_JOBS = 9


def _batch(spark, rows):
    return spark.createDataFrame(
        [(i, t, len(t) if t is not None else None) for i, t in rows],
        "doc_id long, text string, n_chars long",
    )


def _ids(df):
    return sorted(r["doc_id"] for r in df.collect())


def test_ingestion_accumulates_like_one_shot(spark, tmp_path):
    c = str(tmp_path / "corpus")
    b1 = _batch(spark, [(1, "alpha beta"), (2, "gamma"), (3, "alpha beta")])
    b2 = _batch(spark, [(10, "gamma"), (11, "delta")])
    a1, q1, audit1 = ingest_corpus_batch(spark, b1, c)
    a2, q2, audit2 = ingest_corpus_batch(spark, b2, c)
    assert audit1 == {
        "rows_in_batch": 3,
        "quarantined": 0,
        "intra_batch_unique": 2,
        "accepted": 2,
        "rejected_known": 0,
        "corpus_version": 1,
    }
    assert audit2["rejected_known"] == 1 and audit2["accepted"] == 1
    # the corpus equals the one-shot dedup of all gated rows
    oneshot = drop_exact_duplicates(b1.unionAll(b2))
    assert _ids(read_corpus(spark, c)) == _ids(oneshot)
    assert set(read_corpus(spark, c).columns) == {"doc_id", "text", "n_chars"}


def test_gate_quarantines_and_audit_rides_manifest(spark, tmp_path):
    c = str(tmp_path / "corpus")
    bad = _batch(spark, [(1, "ok"), (2, None), (None, "no id")])
    accepted, quarantined, audit = ingest_corpus_batch(spark, bad, c)
    assert _ids(accepted) == [1]
    assert quarantined.count() == 2
    assert audit["quarantined"] == 2 and audit["accepted"] == 1
    # the manifest IS the ingestion log
    assert history(spark, c)[-1]["op"] == "append"


def test_each_ingest_is_a_cdf_replayable_version(spark, tmp_path):
    c = str(tmp_path / "corpus")
    ingest_corpus_batch(spark, _batch(spark, [(1, "x"), (2, "y")]), c)
    accepted, _, audit = ingest_corpus_batch(
        spark, _batch(spark, [(3, "z"), (4, "y")]), c
    )
    v = audit["corpus_version"]
    feed = table_changes(spark, c, from_version=v - 1, to_version=v)
    assert sorted(r["new_doc_id"] for r in feed.collect()) == _ids(accepted) == [3]
    assert {r["change_type"] for r in feed.collect()} == {"insert"}
    # time travel reproduces what any earlier training run saw
    assert _ids(read_corpus(spark, c, version=1)) == [1, 2]


def test_replay_after_success_is_a_noop(spark, tmp_path):
    c = str(tmp_path / "corpus")
    b = _batch(spark, [(1, "a"), (2, "b")])
    ingest_corpus_batch(spark, b, c)
    accepted, _, audit = ingest_corpus_batch(spark, b, c)
    assert audit["accepted"] == 0 and audit["rejected_known"] == 2
    assert _ids(read_corpus(spark, c)) == [1, 2]
    # the empty replay is still a version: an auditable no-op
    assert [h["op"] for h in history(spark, c)] == ["append", "append"]


def test_cross_batch_precedence_keeps_first_arrival(spark, tmp_path):
    c = str(tmp_path / "corpus")
    ingest_corpus_batch(spark, _batch(spark, [(5, "same content")]), c)
    accepted, _, audit = ingest_corpus_batch(
        spark, _batch(spark, [(1, "same content")]), c
    )
    # the corpus keeps doc 5 (first arrival) even though 1 < 5: the
    # one-shot equivalence holds only for ids arriving in batch order
    assert _ids(accepted) == [] and audit["rejected_known"] == 1
    assert _ids(read_corpus(spark, c)) == [5]


def _texts(spark, c):
    return sorted(r["text"] for r in read_corpus(spark, c).collect())


def test_raced_ingest_loses_instead_of_double_accepting(
    spark, tmp_path, monkeypatch
):
    """The publish is pinned to the snapshot the anti-join read: an ingest
    whose read went stale must raise, never commit a second copy of a
    document against the newer corpus."""
    c = str(tmp_path / "corpus")
    ingest_corpus_batch(spark, _batch(spark, [(1, "alpha")]), c)  # v1
    racer = _batch(spark, [(2, "alpha"), (3, "fresh")])
    # this ingest's snapshot predates v1: it saw an empty corpus
    monkeypatch.setattr(ingestion, "latest_version", lambda spark, path: None)
    with pytest.raises(ConcurrentWriteError):
        ingest_corpus_batch(spark, racer, c)
    monkeypatch.undo()
    assert latest_version(spark, c) == 1
    assert _texts(spark, c) == ["alpha"]
    # the re-run reads v1 and rejects the duplicate
    accepted, _, audit = ingest_corpus_batch(spark, racer, c)
    assert _ids(accepted) == [3] and audit["rejected_known"] == 1
    assert audit["corpus_version"] == 2
    assert _texts(spark, c) == ["alpha", "fresh"]


def test_commit_between_read_and_publish_raises(spark, tmp_path, monkeypatch):
    """Another ingest commits after this one's audit action has run its
    anti-join against v1 and before this one publishes."""
    c = str(tmp_path / "corpus")
    docs = [(i, f"doc {i}") for i in range(10)]
    ingest_corpus_batch(spark, _batch(spark, docs), c)  # v1
    publish = ingestion.versioned_write

    def raced_publish(*args, **kwargs):
        monkeypatch.setattr(ingestion, "versioned_write", publish)
        other = _batch(spark, [(110, "doc 110"), (111, "doc 111")])
        ingest_corpus_batch(spark, other, c)  # v2
        return publish(*args, **kwargs)

    monkeypatch.setattr(ingestion, "versioned_write", raced_publish)
    mine = _batch(spark, [(100, "doc 100"), (110, "doc 110")])
    with pytest.raises(ConcurrentWriteError):
        ingest_corpus_batch(spark, mine, c)
    assert latest_version(spark, c) == 2
    texts = _texts(spark, c)
    assert len(texts) == len(set(texts)) == 12
    accepted, _, _ = ingest_corpus_batch(spark, mine, c)
    assert _ids(accepted) == [100]


def test_fused_audit_equals_separate_counts(spark, tmp_path):
    c = str(tmp_path / "corpus")
    ingest_corpus_batch(spark, _batch(spark, [(1, "known doc")]), c)
    b = _batch(
        spark,
        [
            (10, "Known  doc"),  # already in the corpus
            (11, None),  # quarantined: null text
            (None, "no id"),  # quarantined: null id
            (12, "fresh"),
            (13, " FRESH "),  # intra-batch duplicate of 12
            (14, "twin"),
            (14, "twin"),  # same (fingerprint, min id) as the row above
        ],
    )
    accepted, quarantined, audit = ingest_corpus_batch(spark, b, c)
    clean = b.filter(F.col("text").isNotNull() & F.col("doc_id").isNotNull())
    fp = clean.select(fingerprint("text").alias("fp"), "doc_id")
    first = fp.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    separate = {
        "rows_in_batch": b.count(),
        "quarantined": quarantined.count(),
        "intra_batch_unique": fp.join(first, ["fp", "doc_id"], "left_semi").count(),
        "accepted": accepted.count(),
    }
    assert separate == {
        "rows_in_batch": 7,
        "quarantined": 2,
        "intra_batch_unique": 4,
        "accepted": 3,
    }
    assert audit == dict(
        separate,
        rejected_known=separate["intra_batch_unique"] - separate["accepted"],
        corpus_version=2,
    )


def test_warm_batch_job_budget(spark, tmp_path, spark_jobs):
    c = str(tmp_path / "corpus")
    rows = [(i, f"document {i % 40}") for i in range(100)]
    for name, part in (("b1", rows[:60]), ("b2", rows[30:])):
        _batch(spark, part).write.parquet(str(tmp_path / name))
    ingest_corpus_batch(spark, spark.read.parquet(str(tmp_path / "b1")), c)
    b2 = spark.read.parquet(str(tmp_path / "b2"))
    with spark_jobs() as jobs:
        _, _, audit = ingest_corpus_batch(spark, b2, c)
    assert audit["accepted"] == 0 and audit["rejected_known"] == 40
    assert jobs.n <= WARM_BATCH_JOBS, jobs.n
