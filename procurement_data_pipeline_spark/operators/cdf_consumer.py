"""Cursor-committed CDF consumption: incremental downstream refreshes.

``table_changes`` (operators/cdf.py) answers "what changed between two
versions"; a real consumer also has to REMEMBER where it left off, survive
crashes, and never skip or double-apply a range. This module is that
consumer harness:

* the cursor (last fully-processed version) lives in an append-only
  directory of versioned cursor files (read = newest), advanced only
  AFTER the handler returns — a crash anywhere re-presents the same range
  on the next call (at-least-once), and no crash point can leave the
  cursor absent or regressed (see :func:`read_cursor`);
* handlers that are idempotent per range (overwrite-by-range, merge by
  key, versioned-table appends keyed by source version) therefore get
  exactly-once end-to-end — the same contract foreachBatch gives
  streaming sinks, here for table-to-table maintenance;
* each call processes the range (cursor, latest] in ONE handler
  invocation, so the downstream sees consistent version boundaries, never
  a torn prefix of somebody's commit.

This is the missing half of incremental view maintenance:
incremental.py's rollups react to new date partitions of raw parquet
facts; this consumer reacts to VERSIONED tables, including merges and
deletes (the handler receives the full changelog with change_type), at
whatever cadence the caller polls.
"""

from __future__ import annotations

import json
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from procurement_data_pipeline_spark.operators.cdf import table_changes
from procurement_data_pipeline_spark.operators.erasure import (
    _fs_path,
    _read_text,
    _write_text,
)
from procurement_data_pipeline_spark.operators.versioning import (
    latest_version,
)


def _cursor_versions(spark: SparkSession, cursor_path: str) -> list[int]:
    fs, p, _ = _fs_path(spark, cursor_path)
    if not fs.exists(p):
        return []
    out = []
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if name.startswith("cursor-v") and name.endswith(".json"):
            out.append(int(name[len("cursor-v") : -5]))
    return sorted(out)


# cursor paths this process has already seen in directory form — once a
# cursor is a directory it can never regress to the legacy single-file
# shape, so the migration probe (2-3 filesystem RPCs) runs at most once
# per path per process instead of on every poll forever (ADVICE r7)
_MIGRATED: set[str] = set()


def _migrate_legacy_cursor(spark: SparkSession, cursor_path: str) -> None:
    """Releases before the directory scheme stored the cursor as ONE json
    FILE at ``cursor_path``. Left in place it is invisible to the
    directory listing (read would report 0 and replay every range ever
    handled) and ``_advance_cursor`` would fail mkdirs over it. Migration
    is crash-safe in two steps: park the file under a sibling name (so
    the path can become a directory), then commit it as the first
    ``cursor-v{N}.json``. A crash between the steps leaves the sibling,
    which the next call resumes from; the sibling is deleted only after
    the directory entry is fully committed.

    Two consumers may race this: the park-rename is the only contended
    step, and losing it is BENIGN whenever the legacy file is gone or the
    path is already a directory (the other migrator won and will/did
    commit) — only a rename that fails with the legacy file still sitting
    there is a real filesystem error (ADVICE r7)."""
    key = cursor_path.rstrip("/")
    if key in _MIGRATED:
        return
    fs, p, jvm = _fs_path(spark, cursor_path)
    hpath = jvm.org.apache.hadoop.fs.Path
    legacy_str = key + ".legacy-migrating"
    legacy = hpath(legacy_str)
    if (
        fs.exists(legacy)
        and fs.exists(p)
        and fs.getFileStatus(p).isFile()
    ):
        # wedge state (code-review r8): a migration crashed after parking
        # the sibling, then an old-version process RECREATED the
        # single-file cursor — rename(p, legacy) would now fail on every
        # poll forever (destination exists). The cursor is monotone and a
        # file's content is name-determined, so drop whichever artifact
        # holds the SMALLER version; a crash between these steps still
        # leaves the larger version on disk, so no committed range is
        # ever lost (worst case: one at-least-once replay).
        v_file = int(json.loads(_read_text(spark, key))["version"])
        v_sib = int(json.loads(_read_text(spark, legacy_str))["version"])
        if v_file >= v_sib:
            fs.delete(legacy, False)
        else:
            fs.delete(p, False)
    if fs.exists(p) and fs.getFileStatus(p).isDirectory():
        # already migrated; clean a leftover sibling from a crash between
        # the directory commit and the sibling delete, then memoize
        fs.delete(legacy, False)
        _MIGRATED.add(key)
        return
    if fs.exists(p) and fs.getFileStatus(p).isFile():
        if not fs.rename(p, legacy):
            still_file = fs.exists(p) and fs.getFileStatus(p).isFile()
            if still_file:
                raise IOError(
                    f"could not migrate legacy cursor file {cursor_path}"
                )
            # another migrator parked it first — fall through; the
            # sibling (if it still exists) is finished below
    if fs.exists(legacy):
        version = int(json.loads(_read_text(spark, legacy_str))["version"])
        if version > 0:
            _advance_cursor(spark, cursor_path, version)
        else:
            fs.mkdirs(p)
        fs.delete(legacy, False)
        _MIGRATED.add(key)  # migration committed — the path is a directory
    # Fall-through (path absent, no parked sibling): nothing to migrate YET
    # — deliberately NOT memoized. A not-yet-created cursor can still gain
    # a legacy single-file cursor from an old-version writer in a rolling
    # deploy; memoizing here would hide that file from every later poll of
    # this process (read_cursor would report 0 and replay handled ranges,
    # and _advance_cursor's mkdirs would fail over the file). The probe
    # stays cheap: the first _advance_cursor creates the directory and the
    # next poll memoizes through the directory branch above.


def read_cursor(spark: SparkSession, cursor_path: str) -> int:
    """Last fully-processed version; 0 before the first successful run.

    The cursor is a DIRECTORY of append-only ``cursor-v{N}.json`` files
    (read = max N), not one live file: a delete-then-rename single-file
    scheme has a crash point where NO cursor exists, which read_cursor
    would report as 0 and the next poll would re-present every range ever
    handled — double-apply under the very exactly-once contract this
    module promises. Here no crash point can make the cursor absent or
    regress: either the new file is fully visible (rename is the commit)
    or the old max still stands (at-least-once replay of one range).
    """
    _migrate_legacy_cursor(spark, cursor_path)
    for _ in range(3):
        vs = _cursor_versions(spark, cursor_path)
        if not vs:
            return 0
        latest = f"{cursor_path.rstrip('/')}/cursor-v{vs[-1]:08d}.json"
        try:
            return int(json.loads(_read_text(spark, latest))["version"])
        except Exception:
            # list-then-read race (code-review r8): a faster consumer
            # committed a newer cursor and pruned the file we just
            # listed. Every cursor file is rename-committed (never torn),
            # so a read failure can only mean deleted-under-us — re-list
            # and read the newer one.
            continue
    raise IOError(f"cursor at {cursor_path} kept vanishing during read")


def _advance_cursor(spark: SparkSession, cursor_path: str, version: int) -> None:
    # write a NEW cursor file via tmp + rename-to-fresh-name (atomic on
    # file:// and hdfs:// — the destination never pre-exists), then prune
    # superseded files; a crash mid-prune just leaves harmless extras
    tmp = f"{cursor_path.rstrip('/')}/.tmp-{version}"
    final = f"{cursor_path.rstrip('/')}/cursor-v{version:08d}.json"
    fs, dir_p, jvm = _fs_path(spark, cursor_path)
    fs.mkdirs(dir_p)
    _write_text(spark, tmp, json.dumps({"version": version}))
    hpath = jvm.org.apache.hadoop.fs.Path
    if not fs.rename(hpath(tmp), hpath(final)):
        fs.delete(hpath(tmp), False)
        # a cursor file's content is fully determined by its name
        # ({"version": N}), so losing the rename to a concurrent consumer
        # that committed the SAME version is success, not failure
        if not fs.exists(hpath(final)):
            # ... and losing to a FASTER consumer is success too
            # (code-review r8): its sweep may have deleted our in-flight
            # tmp (tv <= its version), but the cursor then stands AT OR
            # PAST our target — raising here would report a hard failure
            # for a fully-handled, fully-recorded range. The winner owns
            # prune + sweep; we are done.
            vs = _cursor_versions(spark, cursor_path)
            if vs and vs[-1] >= version:
                return
            raise IOError(f"could not advance cursor at {cursor_path}")
    for v in _cursor_versions(spark, cursor_path)[:-1]:
        fs.delete(hpath(f"{cursor_path.rstrip('/')}/cursor-v{v:08d}.json"), False)
    # sweep torn .tmp-{v} files a crash left behind — safe once the rename
    # for a version ≤ ours has committed (ours just did); a .tmp for a
    # NEWER version (concurrent writer mid-flight) is left alone
    for st in fs.listStatus(dir_p):
        name = st.getPath().getName()
        if name.startswith(".tmp-"):
            try:
                tv = int(name[len(".tmp-"):])
            except ValueError:
                continue
            if tv <= version:
                fs.delete(st.getPath(), False)


def consume_changes(
    spark: SparkSession,
    table_path: str,
    cursor_path: str,
    handler: Callable[[DataFrame, int, int], None],
    key_cols: list[str] | None = None,
) -> dict:
    """Present the changelog (cursor, latest] to ``handler`` once, then
    advance the cursor. Returns an audit dict; a no-op poll (nothing new)
    never invokes the handler. ``handler(feed, from_v, to_v)`` gets the
    snapshot_diff-shaped feed plus the version boundaries so idempotent
    sinks can key on them."""
    cursor = read_cursor(spark, cursor_path)
    latest = latest_version(spark, table_path)
    if latest is None or latest <= cursor:
        return {"from_version": cursor, "to_version": cursor, "invoked": False}
    feed = table_changes(
        spark, table_path, from_version=cursor, to_version=latest, key_cols=key_cols
    )
    handler(feed, cursor, latest)
    # the commit point: only a fully-handled range advances the cursor
    _advance_cursor(spark, cursor_path, latest)
    return {"from_version": cursor, "to_version": latest, "invoked": True}


__all__ = ["consume_changes", "read_cursor"]
