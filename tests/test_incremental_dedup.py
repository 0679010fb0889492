"""Incremental exact dedup of the corpus ingest (plans/ingestion.py)."""

from __future__ import annotations

import pytest

from procurement_data_pipeline_spark.llm_ops.dedup import (
    drop_exact_duplicates,
)
from procurement_data_pipeline_spark.operators import versioning
from procurement_data_pipeline_spark.operators.versioning import (
    history,
    latest_version,
)
from procurement_data_pipeline_spark.plans.ingestion import (
    ingest_corpus_batch,
    read_corpus,
)


def _batch(spark, rows):
    return spark.createDataFrame(
        [(i, t, len(t)) for i, t in rows],
        "doc_id long, text string, n_chars long",
    )


def _ids(df):
    return sorted(r["doc_id"] for r in df.collect())


def test_cumulative_equals_one_shot(spark, tmp_path):
    """accepted(b1..b3) must equal drop_exact_duplicates(b1 ∪ b2 ∪ b3)
    with min-id precedence: the incremental path changes WHEN dedup
    happens, never WHAT survives."""
    c = str(tmp_path / "corpus")
    b1 = _batch(spark, [(1, "alpha beta"), (2, "gamma"), (3, "alpha beta")])
    b2 = _batch(spark, [(10, "gamma"), (11, "delta"), (12, "delta")])
    b3 = _batch(spark, [(20, "alpha  BETA"), (21, "epsilon")])
    a1, _, audit1 = ingest_corpus_batch(spark, b1, c)
    a2, _, audit2 = ingest_corpus_batch(spark, b2, c)
    a3, _, audit3 = ingest_corpus_batch(spark, b3, c)
    got = _ids(a1) + _ids(a2) + _ids(a3)
    oneshot = drop_exact_duplicates(b1.unionAll(b2).unionAll(b3))
    assert sorted(got) == _ids(oneshot)
    assert audit1 == {
        "rows_in_batch": 3,
        "quarantined": 0,
        "intra_batch_unique": 2,
        "accepted": 2,
        "rejected_known": 0,
        "corpus_version": 1,
    }
    # "delta" twice in b2 is an intra-batch duplicate; "gamma" is known
    assert audit2["intra_batch_unique"] == 2
    assert audit2["rejected_known"] == 1 and audit2["accepted"] == 1
    assert audit3["corpus_version"] == 3
    # the corpus is exactly the union of every batch's accepted rows
    assert _ids(read_corpus(spark, c)) == sorted(got)


def test_crash_replay_is_idempotent(spark, tmp_path, monkeypatch):
    """A batch re-run after a crash BETWEEN the data-file write and the
    manifest publish accepts its rows once; a re-run AFTER the publish
    accepts nothing."""
    c = str(tmp_path / "corpus")
    b = _batch(spark, [(1, "x"), (2, "y")])

    def crash(*args, **kwargs):
        raise RuntimeError("crashed before publish")

    monkeypatch.setattr(versioning, "_publish", crash)
    with pytest.raises(RuntimeError, match="crashed before publish"):
        ingest_corpus_batch(spark, b, c)
    monkeypatch.undo()
    # the data files the crashed ingest wrote are invisible: no version
    assert latest_version(spark, c) is None
    a1, _, audit1 = ingest_corpus_batch(spark, b, c)
    assert audit1["accepted"] == 2 and audit1["corpus_version"] == 1
    assert _ids(read_corpus(spark, c)) == [1, 2]
    # replay of the SAME batch: everything is already in the corpus
    a2, _, audit2 = ingest_corpus_batch(spark, b, c)
    assert audit2["accepted"] == 0 and audit2["rejected_known"] == 2
    assert _ids(a2) == []
    assert _ids(read_corpus(spark, c)) == [1, 2]
    # history shows both ingests (the empty one too: an auditable no-op)
    assert [h["op"] for h in history(spark, c)] == ["append", "append"]
