"""Input sizing from the frame's own file listing (optimization guide §2.5, §3.1).

A parquet source that yields fewer splits than the session has cores leaves
every pre-shuffle operator single-task: the scan, any per-row expression
work (hashes, explodes, higher-order lambdas), and the map side of the
first aggregation all run on ONE core while the rest of the machine idles.
That is precisely the guide's "input skew: one huge unsplittable file"
case, and its prescribed fix is a repartition immediately after the read.
A forced broadcast, likewise, is only safe when the broadcast side is
provably small.

Both decisions must hold at 100 TB, where a table is a directory of
thousands of files (or a remote URI), not the single local file the
fixtures ship. So every size here comes from the files the DataFrame
itself reads — ``df.inputFiles()``, Spark's own listing, which covers
single files, directories and partitioned layouts alike — sized on the
local filesystem. Any non-``file:`` URI, any unreadable file, or a frame
that scans no files yields "unknown", and unknown always means "do
nothing": the widen may only ADD parallelism it can prove is missing, and
the broadcast guard may only allow a broadcast it can prove is small.

Two tempting shortcuts give wrong answers and are deliberately not used:

* Spark's PLANNED partition count: a single one-row-group parquet file
  larger than the per-core split size plans several partitions, but
  parquet splits at row-group boundaries, so only one of them gets data.
* ``optimizedPlan().stats().sizeInBytes``: on a projected frame Catalyst
  scales the file size down by the pruned columns, so it under-reports
  the bytes the scan actually reads.

Round-robin repartition is retry-safe here because Spark sorts before
repartitioning by default (``spark.sql.execution.sortBeforeRepartition``,
guide §2.5), and every consumer in this repo is order-insensitive
(aggregations, joins, windows that re-shuffle by their own keys).
"""

from __future__ import annotations

import math
import os
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame

# 256 MB of parquet-compressed dimension rows (~100 B/row) ≈ a few million
# rows — a (long, int)-shaped hash relation well inside executor broadcast
# budgets.
_BROADCAST_MAX_BYTES = 256 * 1024 * 1024


def _input_file_sizes(df: DataFrame) -> list[int] | None:
    """On-disk bytes of every file ``df`` scans, or None when they cannot
    be proven: a non-``file:`` URI, an unreadable file, or no files."""
    sizes = []
    for uri in df.inputFiles():
        parsed = urlparse(uri)
        if parsed.scheme != "file":
            return None
        try:
            sizes.append(os.path.getsize(unquote(parsed.path)))
        except OSError:
            return None
    return sizes or None


def fits_broadcast(df: DataFrame, max_bytes: int = _BROADCAST_MAX_BYTES) -> bool:
    """True iff the files ``df`` scans provably sum to at most ``max_bytes``.

    Gate a forced broadcast of a relation that grows with scale factor on
    the source that bounds its cardinality (e.g. a part-grain relation on
    the part table); past the budget, or when the size is unknown, fall
    back to the plain join, which is correct at any scale.
    """
    sizes = _input_file_sizes(df)
    return sizes is not None and sum(sizes) <= max_bytes


def widen_scan(df: DataFrame, *key_cols: str) -> DataFrame:
    """Repartition ``df`` to the session's core count IFF its source files
    are too small to split (single-task scan) — the guide-§2.5 fix for
    compute-heavy stages over unsplittable inputs, guarded so it is a
    NO-OP at any scale where the scan is already parallel.

    Splits are estimated as the sum over files of
    ``ceil(size / spark.sql.files.maxPartitionBytes)``.

    ``key_cols``: optional deterministic hash keys (skips the round-robin
    path's local sort); must be well-spread (many more distinct values
    than partitions — guide §2.5 on synthetic keys).
    """
    sizes = _input_file_sizes(df)
    if sizes is None:
        return df
    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    mpb = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    if sum(max(1, math.ceil(s / mpb)) for s in sizes) >= cores:
        return df
    if key_cols:
        return df.repartition(cores, *key_cols)
    return df.repartition(cores)
