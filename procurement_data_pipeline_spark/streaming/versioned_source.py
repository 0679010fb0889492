"""Structured Streaming SOURCE over the versioned table format (VERDICT
r10 item 3) — the read-side twin of ``streaming/versioned_sink.py``,
closing the loop sink → versioned table → ``spark.readStream``.

Built on PySpark 4's public Python Data Source API
(``pyspark.sql.datasource``): a real ``spark.readStream.format(...)``
source whose OFFSETS are table versions and whose progress lives in the
query's own checkpoint (Spark's offset log is the cursor — the
at-least-once/exactly-once story is Structured Streaming's own, the same
contract every built-in source provides). Usage::

    from procurement_data_pipeline_spark.streaming.versioned_source import (
        register_versioned_cdf_source,
    )
    register_versioned_cdf_source(spark)
    feed = (spark.readStream.format("versioned_cdf")
            .option("tablePath", "/data/events_v")
            .option("startingVersion", "earliest")   # default
            .option("maxVersionsPerBatch", "50")      # rate limit
            .load())

Output schema = the table's columns plus Delta CDF's metadata triple
``_change_type`` / ``_commit_version`` / ``_commit_timestamp``.

Version classification (each micro-batch = a bounded range of commits):

* ``startingVersion='earliest'`` (default) first emits the RESOLVED
  SNAPSHOT at the earliest retained version as inserts (Delta
  ``readStream``'s initial-snapshot semantics) — merge-on-read delete
  entries are applied per file via their birth-version scoping, so the
  bootstrap sees exactly what ``read_table`` sees. This is also what
  makes the source survive vacuumed history: the snapshot needs only the
  earliest RETAINED manifest, never the expired ones.
* pure APPEND commits stream the added files' rows as ``insert`` —
  O(new files), join-free, read straight from the delta manifest's
  ``adds`` (or a full-manifest file diff).
* MERGE-ON-READ commits stream NATIVE change rows derived from the
  commit's own metadata (VERDICT r10 stretch 8, O(batch) — no snapshot
  diff): the delete entry's key files become ``delete`` rows (key
  columns populated, the rest NULL — an equality delete records keys,
  not pre-images; Iceberg's changelog scan makes the same trade), and
  upsert-appended files become ``insert`` rows. Net application by key
  reproduces the table exactly; an upsert key that never matched appears
  as (delete, insert) rather than bare insert — CDC by effect, the
  documented equality-delete contract.
* OPTIMIZE commits are skipped — content-identical rewrites are
  ``dataChange=false`` in Delta terms; a stream must not re-emit rows a
  compaction merely relocated.
* OVERWRITE / copy-on-write MERGE / ROLLBACK rewrite history and raise
  by default (Delta's behavior); ``ignoreChanges=true`` opts into
  emitting their newly-added files as inserts (Delta's documented
  caveat: updated rows re-emit, deletions are not propagated).

Scale shape: every planning step is manifest-JSON metadata only; data IO
is one ``InputPartition`` PER CHANGED FILE read with pyarrow on the
executors — a 100 TB table with a 10-file commit costs 10 file reads,
never a table scan and never a driver-side collect. The planner (offsets
/ partitions) runs in the data-source worker process without a
SparkSession, so manifest IO here is pure-Python against the same JSON
format ``operators/versioning.py`` publishes (the on-disk format is the
contract; field semantics documented there). The delta-chain fold, the
file birth rule and the version width are imported from there, so both
resolvers materialize a version identically.
"""

from __future__ import annotations

import datetime
import json
import os
from dataclasses import dataclass, field

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructField, StructType

from procurement_data_pipeline_spark.operators.versioning import (
    _VERSION_WIDTH,
    _file_birth,
    _fold_delta,
)


# ---------------------------------------------------------------------------
# Pure-Python manifest IO (no SparkSession: the reader object lives in the
# data-source worker process and its partitions are pickled to executors).
# Local paths and Hadoop-style file:/ URIs are handled natively; other
# schemes go through pyarrow.fs (HDFS/S3 at deployment scale).
# ---------------------------------------------------------------------------


def _norm_path(uri: str) -> str:
    """file:///p, file://p, file:/p, /p → /p; other schemes unchanged."""
    if uri.startswith("file://"):
        rest = uri[len("file://"):]
        return rest if rest.startswith("/") else "/" + rest
    if uri.startswith("file:"):
        return uri[len("file:"):]
    return uri


def _is_local(uri: str) -> bool:
    u = _norm_path(uri)
    return "://" not in u


def _read_text(uri: str) -> str:
    p = _norm_path(uri)
    if _is_local(uri):
        with open(p, "r", encoding="utf-8") as f:
            return f.read()
    import pyarrow.fs as pafs

    fs, path = pafs.FileSystem.from_uri(p)
    with fs.open_input_stream(path) as f:
        return f.read().decode("utf-8")


def _exists(uri: str) -> bool:
    p = _norm_path(uri)
    if _is_local(uri):
        return os.path.exists(p)
    import pyarrow.fs as pafs

    fs, path = pafs.FileSystem.from_uri(p)
    return fs.get_file_info(path).type.name != "NotFound"


def _log_dir(table_path: str) -> str:
    return _norm_path(table_path).rstrip("/") + "/_log"


def list_versions(table_path: str) -> list[int]:
    d = _log_dir(table_path)
    if _is_local(d):
        if not os.path.isdir(d):
            return []
        names = os.listdir(d)
    else:
        import pyarrow.fs as pafs

        fs, path = pafs.FileSystem.from_uri(d)
        sel = pafs.FileSelector(path, allow_not_found=True)
        names = [os.path.basename(fi.path) for fi in fs.get_file_info(sel)]
    out = []
    for n in names:
        if n.startswith("v") and n.endswith(".json"):
            try:
                out.append(int(n[1:-5]))
            except ValueError:
                continue
    return sorted(out)


def read_manifest(table_path: str, version: int) -> dict:
    uri = f"{_log_dir(table_path)}/v{version:0{_VERSION_WIDTH}d}.json"
    if not _exists(uri):
        raise ValueError(
            f"version {version} does not exist at {table_path} "
            "(it may have been vacuumed)"
        )
    return json.loads(_read_text(uri))


def resolve_manifest(table_path: str, version: int) -> dict:
    """versioning._resolve_manifest over the pure-Python IO above: a delta
    chain folded onto its base (preferring a vacuum-written c{N}.json
    checkpoint) by the same ``_fold_delta``."""
    man = read_manifest(table_path, version)
    if "delta_of" not in man:
        return man
    ckpt = f"{_log_dir(table_path)}/c{version:0{_VERSION_WIDTH}d}.json"
    if _exists(ckpt):
        return json.loads(_read_text(ckpt))
    return _fold_delta(resolve_manifest(table_path, man["delta_of"]), man)


# ---------------------------------------------------------------------------
# Partitions
# ---------------------------------------------------------------------------


@dataclass
class _CDFPart(InputPartition):
    """One changed file (or delete-entry key file) of one commit.

    ``mask_entries`` (snapshot bootstrap only): the merge-on-read delete
    entries applicable to THIS file by birth scoping, as
    (key_cols, key_files) pairs — applied in read() as an in-memory
    anti-join (entry key sets are O(batch)-small by the MOR contract).
    """

    file: str = ""
    change_type: str = "insert"
    version: int = 0
    ts_ms: int = 0
    key_cols: tuple = ()  # non-empty → delete-entry key file
    mask_entries: tuple = field(default_factory=tuple)


class VersionedCDFStreamReader(DataSourceStreamReader):
    def __init__(self, schema: StructType, options: dict):
        path = options.get("tablepath") or options.get("path")
        if not path:
            raise ValueError(
                "versioned_cdf needs .option('tablePath', ...) or .load(path)"
            )
        self._path = path
        self._starting = str(options.get("startingversion", "earliest"))
        self._max_versions = int(options.get("maxversionsperbatch", 50))
        if self._max_versions < 1:
            raise ValueError("maxVersionsPerBatch must be >= 1")
        self._ignore_changes = str(
            options.get("ignorechanges", "false")
        ).lower() in ("true", "1")
        self._table_fields = [
            f for f in schema.fields
            if f.name not in ("_change_type", "_commit_version",
                              "_commit_timestamp")
        ]
        # column mapping: logical -> on-disk name from the LATEST
        # manifest's field metadata (re-read here rather than trusting
        # the engine-roundtripped schema to preserve metadata)
        self._phys = {f.name: f.name for f in self._table_fields}
        vs = list_versions(self._path)
        if vs:
            for fld in json.loads(
                read_manifest(self._path, vs[-1])["schema"]
            )["fields"]:
                if fld["name"] in self._phys:
                    self._phys[fld["name"]] = (
                        fld.get("metadata") or {}
                    ).get("physical", fld["name"])
        self._last_end: int | None = None

    # -- offsets ----------------------------------------------------------

    def initialOffset(self) -> dict:
        if self._starting == "earliest":
            v = 0
        elif self._starting == "latest":
            vs = list_versions(self._path)
            if not vs:
                raise ValueError(f"no versions published at {self._path}")
            v = vs[-1]
        else:
            # integer N = Delta's startingVersion (inclusive of N's changes)
            v = int(self._starting) - 1
        # seed the rate limiter: the FIRST batch of a fresh stream is
        # bounded too (a cold start against a deep backlog must not
        # swallow the whole history in one micro-batch)
        self._last_end = v
        return {"version": v}

    def latestOffset(self) -> dict:
        vs = list_versions(self._path)
        if not vs:
            raise ValueError(f"no versions published at {self._path}")
        latest = vs[-1]
        if self._last_end is None:
            # the engine may ask for the latest offset before the initial
            # one — seed the rate-limit floor from the configured start.
            # After a RESTART this floor can sit behind the checkpoint's
            # committed offset (the plain latestOffset API receives no
            # start); the only cost is empty catch-up polls, each
            # advancing the floor by maxVersionsPerBatch — progress is
            # monotone and correctness untouched.
            self._last_end = int(self.initialOffset()["version"])
        if self._last_end is not None:
            # rate limit: at most maxVersionsPerBatch commits per trigger.
            # The cap never lands short of the earliest RETAINED version:
            # the bootstrap snapshot is one indivisible batch, and a cap
            # inside vacuumed history would walk unresolvable versions.
            cap = self._last_end + self._max_versions
            if self._last_end == 0:
                cap = max(cap, vs[0])
            latest = min(latest, cap)
        self._last_end = latest
        return {"version": latest}

    def commit(self, end: dict) -> None:
        # progress is Spark's checkpoint; nothing to persist here
        pass

    # -- planning ---------------------------------------------------------

    def partitions(self, start: dict, end: dict):
        sv, ev = int(start["version"]), int(end["version"])
        self._last_end = max(self._last_end or 0, ev)
        if ev <= sv:
            return [_CDFPart()]  # empty batch sentinel (no file)
        parts: list[_CDFPart] = []
        retained = list_versions(self._path)
        if not retained:
            raise ValueError(f"no versions published at {self._path}")
        first_v = sv + 1
        if sv == 0:
            # initial snapshot at the earliest RETAINED version — the
            # vacuum-surviving bootstrap (expired manifests never needed)
            e = retained[0]
            if e <= ev:
                parts.extend(self._snapshot_parts(e))
                first_v = e + 1
            # else: the first retained version is past this batch's end —
            # nothing to emit yet; the snapshot lands in a later batch
        for v in range(first_v, ev + 1):
            parts.extend(self._version_parts(v))
        return parts or [_CDFPart()]

    def _snapshot_parts(self, version: int) -> list[_CDFPart]:
        man = resolve_manifest(self._path, version)
        ts = int(man.get("committed_at_ms", 0))
        births = man.get("births")
        entries = sorted(
            man.get("deletes", []), key=lambda d: d["version"]
        )
        out = []
        for f in man["files"]:
            birth = _file_birth(births, f)
            applicable = tuple(
                (tuple(d["key_cols"]), tuple(d["files"]))
                for d in entries
                if d["version"] > birth
            )
            out.append(
                _CDFPart(
                    file=f, change_type="insert", version=version,
                    ts_ms=ts, mask_entries=applicable,
                )
            )
        return out

    def _version_parts(self, v: int) -> list[_CDFPart]:
        raw = read_manifest(self._path, v)  # raises if vacuumed mid-range
        op = raw.get("op")
        ts = int(raw.get("committed_at_ms", 0))
        if op in (
            "optimize", "rename_column", "drop_column",
            "consolidate_deletes",
        ):
            # content-identical rewrite / metadata-only schema or
            # delete-entry change: dataChange=false — no rows to emit
            return []
        if op in ("append", "merge", "clone"):
            mor = op == "merge" and (
                raw.get("merge", {}).get("strategy") == "merge-on-read"
            )
            if op == "merge" and not mor and not self._ignore_changes:
                raise ValueError(
                    f"version {v} at {self._path} is a copy-on-write merge "
                    "— a rewrite the stream cannot decompose into row "
                    "changes; set ignoreChanges=true to emit its added "
                    "files as inserts (updated rows re-emit, deletes are "
                    "not propagated), or consume via the batch "
                    "cdf_consumer with key_cols"
                )
            if op == "clone":
                # a clone commit inside the range = branch point snapshot
                return self._snapshot_parts(v)
            if "delta_of" in raw:
                adds = list(raw.get("adds", []))
                entries = list(raw.get("deletes_adds", []))
            else:
                prev = resolve_manifest(self._path, v - 1)
                prev_files = set(prev["files"])
                adds = [f for f in raw["files"] if f not in prev_files]
                prev_entries = {
                    json.dumps(d, sort_keys=True)
                    for d in prev.get("deletes", [])
                }
                entries = [
                    d
                    for d in raw.get("deletes", [])
                    if json.dumps(d, sort_keys=True) not in prev_entries
                ]
            parts = [
                _CDFPart(
                    file=kf, change_type="delete", version=v, ts_ms=ts,
                    key_cols=tuple(d["key_cols"]),
                )
                for d in entries
                for kf in d["files"]
            ]
            parts.extend(
                _CDFPart(file=f, change_type="insert", version=v, ts_ms=ts)
                for f in adds
            )
            return parts
        if self._ignore_changes:
            # overwrite / rollback: emit this version's own files that
            # were not in the predecessor (Delta's ignoreChanges caveat)
            man = resolve_manifest(self._path, v)
            try:
                prev_files = set(resolve_manifest(self._path, v - 1)["files"])
            except ValueError:
                prev_files = set()
            return [
                _CDFPart(file=f, change_type="insert", version=v, ts_ms=ts)
                for f in man["files"]
                if f not in prev_files
            ]
        raise ValueError(
            f"version {v} at {self._path} is op={op!r} — a history rewrite "
            "the stream cannot decompose into row changes; set "
            "ignoreChanges=true to emit its new files as inserts, or "
            "restart the stream from startingVersion="
            f"{v} after reconciling downstream state"
        )

    # -- executor-side read ----------------------------------------------

    def read(self, partition: _CDFPart):
        if not partition.file:
            return iter(())  # empty-batch sentinel
        import pyarrow.parquet as pq

        tbl = pq.read_table(_norm_path(partition.file))
        names = set(tbl.column_names)
        ts = (
            datetime.datetime.fromtimestamp(
                partition.ts_ms / 1000.0, tz=datetime.timezone.utc
            )
            if partition.ts_ms
            else None
        )
        n = tbl.num_rows
        if partition.key_cols:
            # delete-entry key file: key columns populated, the rest
            # NULL. Entry key_cols are ON-DISK (physical) names — place
            # each into the logical field whose mapping matches.
            key_vals = {
                c: tbl.column(c).to_pylist() for c in partition.key_cols
            }
            cols = [
                key_vals.get(self._phys[f.name], [None] * n)
                for f in self._table_fields
            ]
        else:
            cols = [
                tbl.column(self._phys[f.name]).to_pylist()
                if self._phys[f.name] in names
                else [None] * n  # schema-evolution backfill
                for f in self._table_fields
            ]
        rows = list(zip(*cols)) if cols else [()] * n
        if partition.mask_entries:
            field_idx = {
                self._phys[f.name]: i
                for i, f in enumerate(self._table_fields)
            }
            for key_cols, key_files in partition.mask_entries:
                idx = [field_idx[k] for k in key_cols]
                masked = set()
                for kf in key_files:
                    kt = pq.read_table(_norm_path(kf))
                    masked.update(
                        zip(*(kt.column(k).to_pylist() for k in key_cols))
                    )
                rows = [
                    r
                    for r in rows
                    if any(r[i] is None for i in idx)  # NULL keys survive
                    or tuple(r[i] for i in idx) not in masked
                ]
        meta = (partition.change_type, partition.version, ts)
        return iter([r + meta for r in rows])


class VersionedCDFDataSource(DataSource):
    """``spark.readStream.format("versioned_cdf")`` — see module doc."""

    @classmethod
    def name(cls) -> str:
        return "versioned_cdf"

    def schema(self) -> StructType:
        path = self.options.get("tablepath") or self.options.get("path")
        if not path:
            raise ValueError(
                "versioned_cdf needs .option('tablePath', ...) or .load(path)"
            )
        vs = list_versions(path)
        if not vs:
            raise ValueError(f"no versions published at {path}")
        man = read_manifest(path, vs[-1])
        base = StructType.fromJson(json.loads(man["schema"]))
        from pyspark.sql.types import LongType, StringType, TimestampType

        return StructType(
            base.fields
            + [
                StructField("_change_type", StringType(), False),
                StructField("_commit_version", LongType(), False),
                StructField("_commit_timestamp", TimestampType(), True),
            ]
        )

    def streamReader(self, schema: StructType) -> VersionedCDFStreamReader:
        return VersionedCDFStreamReader(schema, dict(self.options))


def register_versioned_cdf_source(spark) -> None:
    """Register the format with this session (idempotent)."""
    spark.dataSource.register(VersionedCDFDataSource)


__all__ = [
    "VersionedCDFDataSource",
    "VersionedCDFStreamReader",
    "register_versioned_cdf_source",
]
