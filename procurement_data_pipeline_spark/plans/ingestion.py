"""Continuous corpus ingestion: gate → dedup → atomic versioned accept.

The batch curation DAG (plans/training_data.py) assumes the corpus fits
one run. Production ingestion is the other regime: batches arrive
forever, and each must be (a) quality-gated, (b) deduplicated against
EVERYTHING accepted so far, and (c) admitted atomically, without ever
rescanning the accumulated corpus.

The key design decision here is ONE table, not two. A separate
fingerprint index plus a data sink has an unclosable window: whichever
of the two commits first can land while the other's crash loses it —
duplicates or ghost fingerprints follow. This plan stores the
fingerprint AS A COLUMN of the versioned corpus table, so

* the dedup anti-join reads only the fingerprint column of prior
  versions (parquet column pruning — the "index" is free),
* data + fingerprints become visible in ONE manifest publish, and that
  publish is pinned to the snapshot the anti-join read
  (``expected_base``): a crashed ingest is invisible, and an ingest
  whose read went stale because another ingest committed in between
  raises ``ConcurrentWriteError`` (operators/versioning.py) instead of
  admitting a second copy. Either way the re-run's anti-join
  reads the newer corpus and re-derives the right accepts —
  exactly-once with no coordination beyond the publish itself,
* each ingest is a version: ``table_changes(corpus, v-1, v)`` replays
  any batch's accepted rows from the manifest file diff alone (the
  pure-append CDF fast path), and time travel reproduces the corpus any
  training run saw.

Per-batch cost at 100 TB corpus: one audit action, which gates,
fingerprints and min-id dedups the batch, anti-joins the batch
fingerprints against a single-column scan of the corpus, caches the
accepted rows and counts all four audit numbers as one tagged union;
then one append from that cache. AQE broadcasts the corpus fingerprint
column while it is under the broadcast threshold; past that the
anti-join shuffles that one column. Only that column's pages are ever
read; the corpus data pages never are.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from procurement_data_pipeline_spark.caching import scoped_persist
from procurement_data_pipeline_spark.llm_ops.text import fingerprint
from procurement_data_pipeline_spark.operators.expectations import (
    check,
    in_range,
    not_null,
)
from procurement_data_pipeline_spark.operators.versioning import (
    latest_version,
    read_table,
    versioned_write,
)

FINGERPRINT_COL = "_fingerprint"


def ingest_corpus_batch(
    spark: SparkSession,
    batch: DataFrame,
    corpus_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_chars: int = 1_000_000,
) -> tuple[DataFrame, DataFrame, dict]:
    """Gate, dedup, and atomically admit one batch into the corpus table.

    Returns ``(accepted, quarantined, audit)``. ``accepted`` rows carry
    the batch's original columns; ``quarantined`` adds ``_violations``.
    The audit records every count a pipeline monitor wants, and the same
    numbers ride the published manifest (``history(corpus_path)`` is the
    ingestion log). Safe to re-run on crash: admission is a single
    manifest publish, so a half-finished ingest is invisible and the
    replayed anti-join rejects exactly what an earlier success admitted.
    Raises ``ConcurrentWriteError`` when another ingest committed after
    this one read the corpus; re-run the batch.
    """
    # the documents contract (TESTDATA.md): doc_id, text, n_chars, …
    clean, quarantined, _summary = check(
        batch,
        [
            not_null(text_col),
            not_null(id_col),
            in_range("n_chars", 1, max_chars),
        ],
    )
    fp = clean.select(fingerprint(text_col).alias(FINGERPRINT_COL), "*")
    keep = fp.groupBy(FINGERPRINT_COL).agg(F.min(id_col).alias(id_col))
    batch_unique = fp.join(keep, [FINGERPRINT_COL, id_col], "left_semi")
    # the snapshot the anti-join reads is the one the publish targets
    base = latest_version(spark, corpus_path)
    if base is None:
        known = None
    else:
        # column-pruned scan: only the fingerprint column's pages are read
        known = read_table(spark, corpus_path, version=base).select(FINGERPRINT_COL)
    novel = batch_unique if known is None else batch_unique.join(
        known, FINGERPRINT_COL, "left_anti"
    )
    accepted_full = scoped_persist(novel)
    counts = _row_counts(
        rows_in_batch=batch,
        quarantined=quarantined,
        intra_batch_unique=batch_unique,
        accepted=accepted_full,  # this action also fills the cache
    )
    counts["rejected_known"] = counts["intra_batch_unique"] - counts["accepted"]
    man = versioned_write(
        spark,
        accepted_full,
        corpus_path,
        mode="append",
        expected_base=base,
        extra={"ingest": counts},
    )
    audit = dict(man["ingest"], corpus_version=man["version"])
    return accepted_full.drop(FINGERPRINT_COL), quarantined, audit


def _row_counts(**frames: DataFrame) -> dict[str, int]:
    """The row count of every frame, in one action: a tagged union of the
    frames grouped by tag, instead of one ``count()`` job (and its planning
    and scheduling) per frame. Keys keep the argument order."""
    tagged = [df.select(F.lit(tag).alias("tag")) for tag, df in frames.items()]
    got = dict(reduce(DataFrame.unionByName, tagged).groupBy("tag").count().collect())
    return {tag: got.get(tag, 0) for tag in frames}


def read_corpus(
    spark: SparkSession, corpus_path: str, version: int | None = None
) -> DataFrame:
    """The corpus without its internal fingerprint column."""
    return read_table(spark, corpus_path, version=version).drop(FINGERPRINT_COL)


__all__ = ["ingest_corpus_batch", "read_corpus", "FINGERPRINT_COL"]
