"""Scoped persist pool — bounded cache lifetime in shared sessions.

Several operators persist an intermediate that feeds multiple consumers in
the SAME declared query (shingle relations feeding three joins, the KPI
by-date aggregate feeding the max-date scalar and the final filter).
``DataFrame.persist`` registers the plan in Spark's CacheManager, which
holds it until an explicit ``unpersist`` — the driver-side reference going
out of scope is NOT enough — so in a long-lived shared session each query
would otherwise pin its MEMORY_AND_DISK blocks forever.

Every internal persist therefore goes through :func:`scoped_persist`, which
tracks the DataFrame in a module-level pool, and harness boundaries call
:func:`release_cached` after materializing a query's result (``bench.py``
after each timed execution, ``tools/check_oracle.py`` after each query,
tests via fixture).

Caller contract: release AFTER the consuming action. Unpersisting early is
a performance bug, never a correctness bug — persist keeps lineage, so a
released intermediate silently recomputes.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_LIVE: list[DataFrame] = []


def scoped_persist(df: DataFrame, level: StorageLevel | None = None) -> DataFrame:
    """Persist ``df`` (MEMORY_AND_DISK default) and track it for release."""
    df = df.persist(level or StorageLevel.MEMORY_AND_DISK)
    _LIVE.append(df)
    return df


def release_cached(*, blocking: bool = False) -> int:
    """Unpersist every tracked DataFrame; returns how many were released."""
    n = len(_LIVE)
    while _LIVE:
        try:
            _LIVE.pop().unpersist(blocking)
        except Exception:  # noqa: BLE001 — a dead session can't hold blocks
            pass
    return n
