"""deltalite — a minimal Delta-protocol-style versioned Parquet table.

The reference stores every table as Parquet files under the Delta Lake
protocol via delta-rs (reference src/context/delta.rs:275-380). delta-spark
is not available in this environment, so this module provides the same
storage contract natively on PySpark + a JSON commit log:

* one directory per table (UUID-named by the catalog, reference
  src/context/delta.rs:294-318 — renames never move data, A11),
* `_log/<version>.json` commits with Add/Remove actions,
* per-file column min/max/null-count stats harvested from parquet footers
  (reference delta.rs:248-255 stores the same stats on Add actions),
* snapshot reads + time travel by version or timestamp (A16),
* copy-on-write UPDATE / DELETE / MERGE that prune files by stats before
  rewriting (reference physical.rs:216-485 hand-rolls exactly this),
* VACUUM removing unreferenced files (A15).

Scale notes: the log is O(commits) JSON — at 100 TB the data plane is
untouched (Spark scans an explicit file list, so partition parallelism,
predicate pushdown and column pruning all work normally); stats pruning
bounds rewrite cost for selective DML by file count, not table size.
Writes re-chunk to `max_rows_per_file` (default 1 Mi rows, reference
src/config/schema.rs:283) with zstd parquet.
"""

from __future__ import annotations

import base64
import json
import os
import re
import shutil
import time
import uuid
from dataclasses import dataclass, field
from typing import Any

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .types import quote_ident, to_ddl, type_sql

MAX_ROWS_PER_FILE = 1_048_576  # reference src/config/schema.rs:283
LOG_DIR = "_log"
# engage per-file PK-membership pruning above this many coarse-hit rows
# (reference FINE_GRAINED_PRUNING_ROW_CRITERIA, sync/planner.rs:612)
FINE_GRAINED_PRUNING_ROWS = 3_000_000
# give up on fine-grained pruning if the change set has more distinct PKs
# than this (the membership probe is driver-side, bounded like the
# reference's in-memory sync buffer)
FINE_GRAINED_MAX_PK_VALUES = 250_000
# DELETE switches from copy-on-write rewrite to a merge-on-read deletion
# vector once the predicate-hit files exceed this many bytes: at 100 TB a
# DELETE should write KB-scale bitmaps, not rewrite GB-scale parquet.
# Tables can force a mode with WITH ('delete_mode' 'mor'|'cow'); default
# 'auto' applies this threshold (small local tables stay copy-on-write).
MOR_DELETE_MIN_BYTES = int(
    os.environ.get("SPARK_GRAFT_MOR_DELETE_MIN_BYTES", str(256 << 20))
)


def _fp_norm(col):
    """_metadata.file_path ('file:///x') -> plain absolute path ('/x')."""
    return F.regexp_replace(col, "^file:/+", "/")


class DeltaLiteError(Exception):
    pass


# ---------------------------------------------------------------- blooms
# Footer min/max stats are powerless on high-cardinality point predicates
# (and the bucketed layout covers only the declared PK columns): a table
# created WITH ('bloom_by' 'col[,col]') gets a compact per-file bloom
# bitmap per listed column, stored in the Add entry, consulted by _prune
# on equality conjuncts BEFORE scheduling file scans. Hashing is
# md5-based (same cross-engine primitive as functions.md5_int), computed
# identically JVM-side at write and Python-side at check.

BLOOM_BITS_DEFAULT = 8192  # 1 KiB bitmap per (file, column)
BLOOM_HASHES = 4
_BLOOM_TYPES = "tinyint smallint int bigint string varchar".split()


def _bloom_positions(value_str: str, m: int) -> list[int]:
    """Bit positions for one value: four 8-hex-digit slices of md5."""
    import hashlib

    h = hashlib.md5(value_str.encode("utf-8")).hexdigest()
    return [int(h[i * 8:(i + 1) * 8], 16) % m for i in range(BLOOM_HASHES)]


def _bloom_literal(value) -> str | None:
    """Predicate literal -> the CAST(col AS STRING) form hashed at write
    time; None = not safely normalizable (prune conservatively)."""
    if isinstance(value, bool):
        return None
    if isinstance(value, int):
        return str(value)
    if isinstance(value, str):
        return value
    return None  # float/temporal literals: formatting is not bit-stable


def _bloom_may_contain(bitmap_b64: str, value_str: str, m: int) -> bool:
    bits = base64.b64decode(bitmap_b64)
    for p in _bloom_positions(value_str, m):
        if not (bits[p // 8] >> (p % 8)) & 1:
            return False  # definitely absent
    return True


class ConcurrentCommitError(DeltaLiteError):
    pass


# --------------------------------------------------------------------------
# log + snapshot
# --------------------------------------------------------------------------

@dataclass
class AddFile:
    path: str  # relative to table root
    rows: int
    size_bytes: int
    stats: dict[str, dict[str, Any]]  # col -> {min, max, nulls}
    bucket: int | None = None  # hash bucket id for bucketed tables
    # merge-on-read deletion vector: {"path": rel .bin, "cardinality": n}.
    # rows/stats stay PHYSICAL (conservative for pruning); live rows are
    # rows - cardinality, applied as an anti-join at read time.
    dv: dict | None = None
    # per-file bloom bitmaps for point-lookup pruning on high-cardinality
    # columns: col -> base64(m-bit bitmap); membership = BLOOM_HASHES
    # md5-derived bit positions all set (see _bloom_positions)
    blooms: dict[str, str] | None = None

    def to_json(self) -> dict:
        d = {"path": self.path, "rows": self.rows, "size_bytes": self.size_bytes, "stats": self.stats}
        if self.bucket is not None:
            d["bucket"] = self.bucket
        if self.dv is not None:
            d["dv"] = self.dv
        if self.blooms is not None:
            d["blooms"] = self.blooms
        return d

    @staticmethod
    def from_json(d: dict) -> "AddFile":
        return AddFile(
            d["path"], d["rows"], d["size_bytes"], d.get("stats", {}),
            d.get("bucket"), d.get("dv"), d.get("blooms"),
        )


@dataclass
class Commit:
    version: int
    timestamp_ms: int
    operation: str
    adds: list[AddFile] = field(default_factory=list)
    removes: list[str] = field(default_factory=list)
    metadata: dict | None = None  # schema_ddl etc. (first commit at minimum)
    app_txn: dict | None = None  # {"app_id": ..., "version": ...} for idempotent sync


@dataclass
class Snapshot:
    version: int
    timestamp_ms: int
    schema_ddl: str
    files: list[AddFile]
    properties: dict = field(default_factory=dict)  # e.g. bucket_by/buckets

    @property
    def num_rows(self) -> int:
        # live rows: physical minus merge-on-read deleted
        return sum(
            f.rows - int((f.dv or {}).get("cardinality", 0)) for f in self.files
        )

    @property
    def bucket_spec(self) -> tuple[list[str], int] | None:
        """(bucket columns, bucket count) for bucketed tables, else None."""
        by = self.properties.get("bucket_by")
        n = self.properties.get("buckets")
        if not by or not n:
            return None
        cols = [c.strip() for c in by.split(",")] if isinstance(by, str) else list(by)
        return cols, int(n)


def _footer_stats(md) -> dict[str, dict[str, Any]]:
    """Per-file column min/max/nulls from a parquet footer's row-group
    statistics — the stats every AddFile carries for scan/DML pruning.
    Footer-only (no data read); shared by fresh writes (_harvest_adds)
    and in-place CONVERT, so converted tables prune like written ones."""
    import math
    from decimal import Decimal

    bounds: dict[str, tuple[Any, Any]] = {}
    nulls: dict[str, int] = {}
    # A row group whose column chunk lacks stats (or whose byte min/max
    # fails UTF-8 decode / pyarrow cast) makes that column's FILE-wide
    # bounds unknowable: emitting bounds that cover only some row groups
    # would let prune_files wrongly skip a file whose stats-less row
    # group holds matches. Track such columns in suppression sets and
    # drop their min/max (resp. null counts) at the end — mirrors
    # _file_stats_json in sources/delta_log.py.
    no_bounds: set[str] = set()
    no_nulls: set[str] = set()
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            cname = col.path_in_schema
            if "." in cname:  # nested: keep top-level only
                continue
            st = col.statistics
            if st is None:
                no_bounds.add(cname)
                no_nulls.add(cname)
                continue
            if st.null_count is None:
                no_nulls.add(cname)
            else:
                nulls[cname] = nulls.get(cname, 0) + st.null_count
            if not st.has_min_max:
                no_bounds.add(cname)
                continue
            try:
                mn, mx = st.min, st.max
            except Exception:
                # pyarrow can't cast stats for every physical type
                # (e.g. some FLBA columns raise NotImplemented)
                no_bounds.add(cname)
                continue
            if isinstance(mn, bytes):
                try:
                    mn, mx = mn.decode(), mx.decode()
                except UnicodeDecodeError:
                    no_bounds.add(cname)
                    continue
            if hasattr(mn, "isoformat"):
                mn, mx = mn.isoformat(), mx.isoformat()
            elif isinstance(mn, Decimal):
                # JSON-able and prune-safe: widen by one ulp each way
                mn = math.nextafter(float(mn), -math.inf)
                mx = math.nextafter(float(mx), math.inf)
            if isinstance(mn, float) and (mn != mn or mx != mx):
                # NaN bounds are unorderable: every pruning comparison
                # against them is False, so a file holding NaN plus real
                # values would be wrongly skipped by scans AND DML
                # (merge target pruning) — suppress, like stats-less
                # row groups
                no_bounds.add(cname)
                continue
            cur = bounds.get(cname)
            if cur is None:
                bounds[cname] = (mn, mx)
            else:
                bounds[cname] = (min(cur[0], mn), max(cur[1], mx))
    stats: dict[str, dict[str, Any]] = {}
    for cname, (mn, mx) in bounds.items():
        if cname in no_bounds:
            continue
        stats[cname] = {"min": mn, "max": mx}
        if cname not in no_nulls:
            stats[cname]["nulls"] = nulls.get(cname, 0)
    # null-count-only entries (bounds suppressed but nulls known) still
    # let prune_files answer IS NULL / IS NOT NULL predicates
    for cname, n in nulls.items():
        if cname not in stats and cname not in no_nulls:
            stats[cname] = {"nulls": n}
    return stats


class DeltaLiteTable:
    """Handle to one versioned table directory."""

    def __init__(self, spark: SparkSession, root: str):
        from ..sources.store import resolve_store

        self.spark = spark
        # the metadata plane (log/checkpoints/DVs/vacuum) goes through the
        # object store resolved from the root URL (sources/store.py — the
        # reference's per-scheme store factory, object_store_factory/src/);
        # the data plane stays Spark/Hadoop URIs via store.spark_url
        self.root_url = root.rstrip("/")
        self.store, self.root = resolve_store(self.root_url)
        self.log_dir = os.path.join(self.root, LOG_DIR)

    def _data_url(self, rel: str) -> str:
        """Spark-addressable URI for a file under the table root."""
        return self.store.spark_url(os.path.join(self.root, rel))

    # ----------------------------------------------------------- log I/O

    def _version_path(self, version: int) -> str:
        return os.path.join(self.log_dir, f"{version:010d}.json")

    def versions(self) -> list[int]:
        out = []
        for name in self.store.list(self.log_dir):
            if name.endswith(".json") and name[:-5].isdigit():
                out.append(int(name[:-5]))
        return sorted(out)

    def exists(self) -> bool:
        return bool(self.versions())

    def latest_version(self) -> int:
        vs = self.versions()
        if not vs:
            raise DeltaLiteError(f"not a deltalite table: {self.root}")
        return vs[-1]

    def read_commit(self, version: int) -> Commit:
        d = json.loads(self.store.get(self._version_path(version)))
        return Commit(
            version=d["version"],
            timestamp_ms=d["timestamp_ms"],
            operation=d["operation"],
            adds=[AddFile.from_json(a) for a in d.get("adds", [])],
            removes=d.get("removes", []),
            metadata=d.get("metadata"),
            app_txn=d.get("app_txn"),
        )

    def _write_commit(self, commit: Commit) -> None:
        from ..sources.store import AlreadyExists

        path = self._version_path(commit.version)
        body = {
            "version": commit.version,
            "timestamp_ms": commit.timestamp_ms,
            "operation": commit.operation,
            "adds": [a.to_json() for a in commit.adds],
            "removes": commit.removes,
            "metadata": commit.metadata,
            "app_txn": commit.app_txn,
        }
        # optimistic concurrency: the store's atomic put-if-absent on the
        # version file (reference delta.rs:429-440 relies on the object
        # store's put-if-absent the same way); two racing writers can
        # never both claim a version.
        try:
            self.store.put_if_absent(path, json.dumps(body).encode())
        except AlreadyExists:
            raise ConcurrentCommitError(
                f"version {commit.version} already committed"
            ) from None

    # ----------------------------------------------------------- snapshots

    def snapshot(self, version: int | None = None, timestamp: str | None = None) -> Snapshot:
        vs = self.versions()
        if not vs:
            raise DeltaLiteError(f"not a deltalite table: {self.root}")
        if timestamp is not None:
            # time travel: last version committed at or before `timestamp`
            # (reference src/version.rs:13-106 resolves datetimes the same way)
            import datetime as _dt

            ts = timestamp.replace("Z", "+00:00")
            dt = _dt.datetime.fromisoformat(ts)
            if dt.tzinfo is None:
                # commit timestamps are epoch-UTC; a naive literal parsed as
                # host-local time would resolve the wrong version off-UTC
                dt = dt.replace(tzinfo=_dt.timezone.utc)
            target_ms = int(dt.timestamp() * 1000)
            # commit timestamps are monotone in version, so the last
            # version at-or-before the bound binary-searches in O(log n)
            # commit reads instead of replaying the whole log
            lo, hi, chosen = 0, len(vs) - 1, None
            while lo <= hi:
                mid = (lo + hi) // 2
                if self.read_commit(vs[mid]).timestamp_ms <= target_ms:
                    chosen = vs[mid]
                    lo = mid + 1
                else:
                    hi = mid - 1
            if chosen is None:
                raise DeltaLiteError(
                    f"no version of {self.root} at or before {timestamp}"
                )
            version = chosen
        if version is None:
            version = vs[-1]
        if version not in vs:
            raise DeltaLiteError(f"unknown version {version} for {self.root}")

        files: dict[str, AddFile] = {}
        schema_ddl = ""
        properties: dict = {}
        ts_ms = 0
        start = 0
        ckpt = self._load_checkpoint(version)
        if ckpt is not None:
            files = {a.path: a for a in ckpt["files"]}
            schema_ddl = ckpt["schema_ddl"]
            properties = ckpt["properties"]
            ts_ms = ckpt["timestamp_ms"]
            start = ckpt["version"] + 1
        for v in vs:
            if v < start:
                continue
            if v > version:
                break
            c = self.read_commit(v)
            ts_ms = c.timestamp_ms
            if c.metadata and c.metadata.get("schema_ddl"):
                schema_ddl = c.metadata["schema_ddl"]
            # key-presence, not truthiness: RESTORE writes properties={}
            # to reset a table to its pre-properties state
            if c.metadata and c.metadata.get("properties") is not None:
                properties = c.metadata["properties"]
            for r in c.removes:
                files.pop(r, None)
            for a in c.adds:
                files[a.path] = a
        return Snapshot(version, ts_ms, schema_ddl, list(files.values()), properties)

    # ------------------------------------------------------- log checkpoints

    # every N commits, materialize the full live state so snapshot() replays
    # O(N) tail commits instead of the whole log — at 100 TB a long-lived
    # table accumulates thousands of commits and per-read O(commits) JSON
    # parsing becomes the bottleneck (the Delta protocol checkpoints for the
    # same reason; the reference gets this from delta-rs)
    CHECKPOINT_INTERVAL = 20

    def _checkpoint_path(self) -> str:
        return os.path.join(self.log_dir, "_last_checkpoint")

    def _load_checkpoint(self, upto_version: int) -> dict | None:
        try:
            v = int(json.loads(self.store.get(self._checkpoint_path()))["version"])
        except (OSError, ValueError, KeyError):
            return None
        if v > upto_version:
            # travel target predates the checkpoint: older checkpoints are
            # kept too — use the newest one at or below the target
            cands = [
                int(n[: -len(".checkpoint.json")])
                for n in self.store.list(self.log_dir)
                if n.endswith(".checkpoint.json")
            ]
            older = [c for c in cands if c <= upto_version]
            if not older:
                return None
            v = max(older)
        path = os.path.join(self.log_dir, f"{v:010d}.checkpoint.json")
        try:
            d = json.loads(self.store.get(path))
        except OSError:
            return None
        d["files"] = [AddFile.from_json(a) for a in d["files"]]
        return d

    def _maybe_checkpoint(self, version: int) -> None:
        if version == 0 or version % self.CHECKPOINT_INTERVAL != 0:
            return
        snap = self.snapshot(version=version)
        # accumulate per-app txn high-water marks: previous checkpoint's
        # map + the tail commits this checkpoint covers
        prev = self._load_checkpoint(version - 1)
        app_txns: dict[str, int] = dict((prev or {}).get("app_txns") or {})
        start = (prev["version"] + 1) if prev else 0
        for v in self.versions():
            if v < start or v > version:
                continue
            c = self.read_commit(v)
            if c.app_txn and c.app_txn.get("app_id") is not None:
                app_txns[c.app_txn["app_id"]] = c.app_txn.get("version")
        body = {
            "version": version,
            "timestamp_ms": snap.timestamp_ms,
            "schema_ddl": snap.schema_ddl,
            "properties": snap.properties,
            "app_txns": app_txns,
            "files": [a.to_json() for a in snap.files],
        }
        path = os.path.join(self.log_dir, f"{version:010d}.checkpoint.json")
        self.store.put(path, json.dumps(body).encode())
        self.store.put(
            self._checkpoint_path(), json.dumps({"version": version}).encode()
        )

    def history(self) -> list[Commit]:
        return [self.read_commit(v) for v in self.versions()]

    def schema(self) -> T.StructType:
        ddl = self.snapshot().schema_ddl
        return T.StructType.fromDDL(ddl)

    def last_app_txn_version(self, app_id: str) -> int | None:
        """Highest committed txn version for an app id (exactly-once CDC
        resume; reference src/sync/writer.rs:583-683 durable sequences).
        Seeds from the newest checkpoint's app_txns map, replaying only
        the tail — same O(tail) bound as snapshot()."""
        vs = self.versions()
        if not vs:
            return None
        latest = None
        start = 0
        ckpt = self._load_checkpoint(vs[-1])
        if ckpt is not None:
            latest = (ckpt.get("app_txns") or {}).get(app_id)
            start = ckpt["version"] + 1
        for v in vs:
            if v < start:
                continue
            c = self.read_commit(v)
            if c.app_txn and c.app_txn.get("app_id") == app_id:
                latest = c.app_txn.get("version")
        return latest

    # ----------------------------------------------------------- reads

    def _empty_df(self, schema: T.StructType) -> DataFrame:
        """Zero-row frame as a LocalRelation (r14, guide §5).
        ``createDataFrame([], schema)`` parallelizes a PICKLED RDD whose
        every scan runs defaultParallelism tasks each paying a
        Python-worker round trip — profiled as the one 32-task stage of
        the first CDC micro-batch (empty merge target), ~7 s of task
        time for zero rows. A constant-folded empty relation plans to
        zero tasks and lets joins against it see an exact 0-row count.
        Types render in Spark's SQL form, which quotes nested field
        names (``STRUCT<`x y`: INT>``)."""
        cols = ", ".join(
            f"CAST(NULL AS {type_sql(f.dataType)}) AS {quote_ident(f.name)}"
            for f in schema.fields
        )
        return self.spark.sql(f"SELECT {cols}").where("1=0")

    def pruned_files(self, snap: Snapshot, predicate_sql: str | None) -> list[AddFile]:
        """The live files of ``snap`` a read filtered by ``predicate_sql``
        must scan: stats + bloom + bucket file skipping for reads — the
        same conservative path UPDATE/DELETE rewrites use. Bucket
        membership matters most here: min/max is powerless on a hashed
        layout, so without it a point lookup on the bucket key scanned
        every bucket (review find, r11)."""
        if not predicate_sql:
            return snap.files
        files = self._prune(snap, predicate_sql)
        hot = self._bucket_hits(snap, predicate_sql)
        if hot is not None:
            files = [f for f in files if f.bucket is None or f.bucket in hot]
        return files

    def to_df(
        self,
        version: int | None = None,
        timestamp: str | None = None,
        predicate_sql: str | None = None,
        _snap: Snapshot | None = None,
    ) -> DataFrame:
        # _snap: caller already resolved the snapshot (reload_views reads
        # every table's log per statement, and calls this only for tables
        # whose version moved — one log replay, not two)
        snap = _snap if _snap is not None else self.snapshot(version, timestamp)
        schema = T.StructType.fromDDL(snap.schema_ddl)
        files = self.pruned_files(snap, predicate_sql)
        if not files:
            return self._empty_df(schema)
        return self._scan_files(files, schema)

    # ------------------------------------------------- merge-on-read scans

    def _scan_files(self, files: list[AddFile], schema: T.StructType) -> DataFrame:
        """Read a file subset with deletion vectors applied (the read-side
        half of MoR DELETE)."""
        paths = [self._data_url(f.path) for f in files]
        # explicit schema: empty-file-set and add-order independence
        df = self.spark.read.schema(schema).parquet(*paths)
        return self._apply_dvs(df, files)

    @staticmethod
    def _retire(files: list[AddFile]) -> list[str]:
        """Remove-list for rewritten files: the data paths plus any DV
        sidecars they carried (snapshot replay ignores non-live remove
        paths; vacuum uses them to GC the superseded .bin files)."""
        out: list[str] = []
        for f in files:
            out.append(f.path)
            if f.dv:
                out.append(f.dv["path"])
        return out

    def _apply_dvs(self, df: DataFrame, files: list[AddFile]) -> DataFrame:
        dv_files = [f for f in files if f.dv]
        if not dv_files:
            return df
        out_cols = df.columns
        pairs = self._dv_pairs_df(dv_files)
        return (
            df.withColumn("__sfs_fp", _fp_norm(F.col("_metadata.file_path")))
            .withColumn("__sfs_pos", F.col("_metadata.row_index"))
            .join(F.broadcast(pairs), ["__sfs_fp", "__sfs_pos"], "left_anti")
            .select(*out_cols)
        )

    def _dv_pairs_df(self, dv_files: list[AddFile]) -> DataFrame:
        """(file, row_index) pairs of MoR-deleted rows, decoded on
        EXECUTORS (mapInPandas over the per-file descriptor list) — the
        driver never materializes bitmaps, so DV cardinality scales with
        the cluster, not driver memory."""
        desc = self.spark.createDataFrame(
            [
                (self._fp_key(f.path), os.path.join(self.root, f.dv["path"]))
                for f in dv_files
            ],
            "__sfs_fp string, dv_path string",
        )
        store_url = self.root_url

        def decode(batches):
            import pandas as pd

            from ..sources.delta_dv import decode_framed_blob
            from ..sources.store import resolve_store

            store, _root = resolve_store(store_url)
            for pdf in batches:
                for fp, dvp in zip(pdf["__sfs_fp"], pdf["dv_path"]):
                    idx = decode_framed_blob(store.get(dvp), dvp)
                    yield pd.DataFrame({"__sfs_fp": [fp] * len(idx), "__sfs_pos": idx})

        return desc.mapInPandas(decode, "__sfs_fp string, __sfs_pos long")

    def _fp_key(self, rel: str) -> str:
        """The value ``_fp_norm(_metadata.file_path)`` yields for a data
        file at ``rel`` — local roots normalize to a plain absolute path,
        object-store roots keep their scheme-ful URI."""
        url = self._data_url(rel)
        if "://" in url:
            return url
        return os.path.abspath(url)

    # ----------------------------------------------------------- writes

    def _harvest_adds(self, data_dir_rel: str) -> list[AddFile]:
        """Collect Add actions (+footer stats) for parquet files Spark just
        wrote under root/data_dir_rel. Footer-only: no data re-scan."""
        adds = []
        absdir = os.path.join(self.root, data_dir_rel)
        for name in self.store.list(absdir):
            if not name.endswith(".parquet"):
                continue
            rel = os.path.join(data_dir_rel, name)
            full = os.path.join(absdir, name)
            with self.store.open_input(full) as src:
                md = pq.ParquetFile(src).metadata
            if md.num_rows == 0:
                # fully-filtered rewrites: drop the file instead of adding
                # an empty one (reference DELETE commits pure removes)
                self.store.delete(full)
                continue
            adds.append(
                AddFile(
                    rel, md.num_rows, self.store.size(full), _footer_stats(md)
                )
            )
        return adds

    def _attach_blooms(self, adds: list[AddFile], props: dict) -> None:
        """Compute per-file bloom bitmaps for the table's ``bloom_by``
        columns over freshly written adds. ONE distributed pass: each
        value maps to BLOOM_HASHES md5 bit positions, distinct (file,
        position) pairs aggregate map-side, and the driver receives at
        most files x bloom_bits booleans (KB-scale) — never values."""
        cols_prop = props.get("bloom_by")
        if not cols_prop or not adds:
            return
        m = int(props.get("bloom_bits", BLOOM_BITS_DEFAULT))
        cols = (
            [c.strip() for c in cols_prop.split(",")]
            if isinstance(cols_prop, str)
            else list(cols_prop)
        )
        schema = self.schema()
        cols = [
            c
            for c in cols
            if c in schema.names
            and schema[c].dataType.simpleString() in _BLOOM_TYPES
        ]
        if not cols:
            return
        urls = [self._data_url(a.path) for a in adds]
        df = self.spark.read.parquet(*urls)
        # ALL bloom columns in one job: per row, each column contributes
        # its (col, position) structs; flatten + explode + distinct is
        # one scan however many columns are bloomed
        empty = F.array().cast("array<struct<c:string,p:bigint>>")

        def _tagged(col_name: str):
            # NOTE: a two-parameter transform lambda means (element,
            # index) to pyspark — close over the name instead
            h = F.md5(F.col(col_name).cast("string"))
            poss = F.array(
                *[
                    F.conv(F.substring(h, i * 8 + 1, 8), 16, 10).cast("long")
                    % m
                    for i in range(BLOOM_HASHES)
                ]
            )
            return F.transform(
                poss,
                lambda p: F.struct(F.lit(col_name).alias("c"), p.alias("p")),
            )

        per_col = [
            F.when(F.col(c).isNotNull(), _tagged(c)).otherwise(empty)
            for c in cols
        ]
        rows = (
            df.select(
                F.element_at(
                    F.split(F.col("_metadata.file_path"), "/"), -1
                ).alias("f"),
                F.explode(F.flatten(F.array(*per_col))).alias("cp"),
            )
            .select("f", F.col("cp.c").alias("c"), F.col("cp.p").alias("p"))
            .distinct()
            .collect()
        )
        by_file: dict[str, dict[str, set[int]]] = {}
        for r in rows:
            by_file.setdefault(r["f"], {}).setdefault(r["c"], set()).add(
                int(r["p"])
            )
        for a in adds:
            per_col = by_file.get(os.path.basename(a.path))
            if not per_col:
                continue
            blooms = {}
            for c, positions in per_col.items():
                bits = bytearray((m + 7) // 8)
                for p in positions:
                    bits[p // 8] |= 1 << (p % 8)
                blooms[c] = base64.b64encode(bytes(bits)).decode("ascii")
            a.blooms = blooms

    def _write_data(
        self, df: DataFrame, _snap: Snapshot | None = None
    ) -> list[AddFile]:
        txn = f"data/txn-{uuid.uuid4().hex}"
        out = os.path.join(self.root, txn)
        snap = (
            _snap
            if _snap is not None
            else (self.snapshot() if self.exists() else None)
        )
        props = snap.properties if snap else {}
        spec = snap.bucket_spec if snap else None
        if spec is not None:
            adds = self._write_bucketed(df, txn, out, spec)
            self._attach_blooms(adds, props)
            return adds
        try:
            plan = df._jdf.queryExecution().optimizedPlan().toString()
            # VALUES/local relations: one file, not one per parallelism slot
            if "LocalRelation" in plan and "FileScan" not in plan and " parquet" not in plan:
                df = df.coalesce(1)
        except Exception:  # noqa: BLE001 - sizing heuristic only
            pass
        (
            df.write.option("maxRecordsPerFile", MAX_ROWS_PER_FILE)
            .option("compression", "zstd")
            .parquet(self.store.spark_url(out), mode="overwrite")
        )
        # drop Spark's _SUCCESS marker; log is the source of truth
        self.store.delete(os.path.join(out, "_SUCCESS"))
        adds = self._harvest_adds(txn)
        self._attach_blooms(adds, props)
        return adds

    def _write_bucketed(
        self, df: DataFrame, txn: str, out: str, spec: tuple[list[str], int]
    ) -> list[AddFile]:
        """Hash-bucketed layout: every file holds rows of exactly one
        ``pmod(xxhash64(bucket_by), buckets)`` bucket, so DML/merge prune by
        EXACT bucket membership instead of min/max ranges, and a change set
        touching k buckets rewrites at most k/N of the table. Spark's
        ``partitionBy`` splits the files; the bucket id moves from the
        directory name into the Add entry so the read path stays a flat
        list of plain parquet files."""
        cols, n = spec
        # pin the hash input types to the table schema: xxhash64(int) !=
        # xxhash64(bigint) for the same value, and writers arrive with
        # whatever types the plan inferred
        schema = self.schema()
        bucket_col = F.pmod(
            F.xxhash64(*[F.col(c).cast(schema[c].dataType) for c in cols]), F.lit(n)
        ).cast("int")
        (
            df.withColumn("__sfs_bucket", bucket_col)
            .repartition(n, "__sfs_bucket")
            .write.option("maxRecordsPerFile", MAX_ROWS_PER_FILE)
            .option("compression", "zstd")
            .partitionBy("__sfs_bucket")
            .parquet(self.store.spark_url(out), mode="overwrite")
        )
        self.store.delete(os.path.join(out, "_SUCCESS"))
        # flatten __sfs_bucket=k/ dirs: bucket id belongs in the log, not
        # the path (partition discovery must not resurrect the column)
        buckets: dict[str, int] = {}
        for entry in self.store.list(out):
            if not entry.startswith("__sfs_bucket="):
                continue
            sub = os.path.join(out, entry)
            b = int(entry.split("=", 1)[1])
            for name in self.store.list(sub):
                if name.endswith(".parquet"):
                    flat = f"b{b:05d}-{name}"
                    self.store.rename(os.path.join(sub, name), os.path.join(out, flat))
                    buckets[flat] = b
                else:  # hadoop .crc checksums etc.
                    self.store.delete(os.path.join(sub, name))
            self.store.delete_dir(sub)
        adds = self._harvest_adds(txn)
        for a in adds:
            a.bucket = buckets.get(os.path.basename(a.path))
        return adds

    def _next_commit(
        self,
        operation: str,
        adds: list[AddFile],
        removes: list[str],
        metadata: dict | None = None,
        app_txn: dict | None = None,
        base_version: int | None = None,
    ) -> Commit:
        """``base_version`` is the OCC token: snapshot-based ops (UPDATE /
        DELETE / MERGE / OPTIMIZE / overwrite) pass the version their plan
        was computed against, so the commit targets base+1 and the atomic
        put-if-absent in _write_commit rejects it if ANY writer committed
        after the snapshot (their removes would be stale — a lost update).
        Appends pass None: latest+1, retryable."""
        if base_version is not None:
            next_version = base_version + 1
        else:
            vs = self.versions()
            next_version = (vs[-1] + 1) if vs else 0
        commit = Commit(
            version=next_version,
            timestamp_ms=int(time.time() * 1000),
            operation=operation,
            adds=adds,
            removes=removes,
            metadata=metadata,
            app_txn=app_txn,
        )
        self._write_commit(commit)
        self._maybe_checkpoint(commit.version)
        return commit

    @staticmethod
    def create(
        spark: SparkSession,
        root: str,
        schema: T.StructType,
        operation: str = "CREATE TABLE",
        properties: dict | None = None,
    ) -> "DeltaLiteTable":
        t = DeltaLiteTable(spark, root)
        t.store.makedirs(t.root)
        if t.exists():
            raise DeltaLiteError(f"table already exists at {root}")
        ddl = to_ddl(schema.fields)
        meta: dict = {"schema_ddl": ddl}
        if properties:
            by = properties.get("bucket_by")
            if by:
                cols = [c.strip() for c in str(by).split(",")]
                missing = [c for c in cols if c not in schema.names]
                if missing:
                    raise DeltaLiteError(f"bucket_by columns not in schema: {missing}")
                n = int(properties.get("buckets", 16))
                if n < 1:
                    raise DeltaLiteError(f"buckets must be >= 1, got {n}")
                properties = dict(properties, bucket_by=cols, buckets=n)
            bl = properties.get("bloom_by")
            if bl:
                bcols = [c.strip() for c in str(bl).split(",")]
                missing = [c for c in bcols if c not in schema.names]
                if missing:
                    raise DeltaLiteError(f"bloom_by columns not in schema: {missing}")
                bad = [
                    c
                    for c in bcols
                    if schema[c].dataType.simpleString() not in _BLOOM_TYPES
                ]
                if bad:
                    raise DeltaLiteError(
                        f"bloom_by supports integer/string columns only, got: {bad}"
                    )
                m = int(properties.get("bloom_bits", BLOOM_BITS_DEFAULT))
                if m < 64:
                    raise DeltaLiteError(f"bloom_bits must be >= 64, got {m}")
                properties = dict(properties, bloom_by=bcols, bloom_bits=m)
            meta["properties"] = properties
        t._next_commit(operation, [], [], metadata=meta)
        return t

    def append(self, df: DataFrame, operation: str = "INSERT", app_txn: dict | None = None) -> Commit:
        # one snapshot resolution for the whole statement: align,
        # constraints, and the write all read the same metadata (each
        # used to replay the log independently — review find, r11)
        snap = self.snapshot() if self.exists() else None
        df = self._enforce_constraints(self._align(df, _snap=snap), _snap=snap)
        adds = self._write_data(df, _snap=snap)
        # appends remove nothing, so losing the version race never
        # invalidates the work: re-read the latest version and re-commit the
        # same adds (snapshot-based ops — UPDATE/DELETE/MERGE — must NOT
        # retry; their removes were computed against a stale base)
        for _ in range(16):
            try:
                return self._next_commit(operation, adds, [], app_txn=app_txn)
            except ConcurrentCommitError:
                continue
        raise ConcurrentCommitError("append lost the commit race 16 times")

    def overwrite(self, df: DataFrame, operation: str = "OVERWRITE") -> Commit:
        snap = self.snapshot()
        df = self._enforce_constraints(self._align(df, _snap=snap), _snap=snap)
        adds = self._write_data(df, _snap=snap)
        # _retire, not bare paths: a replaced file's DV sidecar must enter
        # the remove list too, or vacuum can never GC the orphaned .bin
        return self._next_commit(
            operation, adds, self._retire(snap.files), base_version=snap.version
        )

    def _align(self, df: DataFrame, _snap: Snapshot | None = None) -> DataFrame:
        """byName projection: pad missing columns with NULL, reorder, cast —
        the reference does the same for INSERT (logical.rs:118-122,
        tests/statements/dml.rs:3-46). ``_snap`` reuses an
        already-resolved snapshot (one INSERT used to replay the log four
        times across align/constraints/write — review find, r11)."""
        target = (
            T.StructType.fromDDL(_snap.schema_ddl)
            if _snap is not None
            else self.schema()
        )
        cols = []
        for f in target.fields:
            if f.name in df.columns:
                cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
            else:
                cols.append(F.lit(None).cast(f.dataType).alias(f.name))
        return df.select(*cols)

    # ----------------------------------------------------------- DML

    def _prune(self, snap: Snapshot, predicate_sql: str | None) -> list[AddFile]:
        """File-level pruning by footer stats, then per-file bloom bitmaps
        (point-lookup pruning on high-cardinality columns, where min/max
        is powerless). Conservative: a file is kept unless the predicate
        provably excludes it (mirrors PruningPredicate use in reference
        physical.rs:274-299; the bloom layer exceeds the reference)."""
        from .pruning import equality_conjuncts, prune_files

        hit = prune_files(snap.files, predicate_sql)
        # bloom bitmaps hash CAST(col AS STRING); a literal of a DIFFERENT
        # type family can be numerically equal but textually different
        # (code = 5 on a string column holding '05' — Spark matches after
        # cast, the bitmap has bits only for '05'). Only same-family
        # pairs are textually faithful; everything else skips the bloom
        # (conservative, stats pruning already ran)
        _INT_TYPES = {"tinyint", "smallint", "int", "bigint"}
        col_fam = {}
        for fld in T.StructType.fromDDL(snap.schema_ddl).fields:
            s_ = fld.dataType.simpleString()
            col_fam[fld.name] = (
                "int" if s_ in _INT_TYPES else "string" if s_ == "string" else None
            )

        def _lit_fam(v) -> str | None:
            if isinstance(v, bool):
                return None
            if isinstance(v, int):
                return "int"
            if isinstance(v, str):
                return "string"
            return None

        eqs = [
            (c, s)
            for c, v in equality_conjuncts(predicate_sql)
            if _lit_fam(v) is not None
            and col_fam.get(c) == _lit_fam(v)
            and (s := _bloom_literal(v)) is not None
        ]
        if not eqs or not any(f.blooms for f in hit):
            return hit
        m = int(snap.properties.get("bloom_bits", BLOOM_BITS_DEFAULT))
        return [
            f
            for f in hit
            if all(
                _bloom_may_contain(f.blooms[c], s, m)
                for c, s in eqs
                if f.blooms and c in f.blooms
            )
        ]

    def _bucket_hits(self, snap: Snapshot, predicate_sql: str | None) -> set[int] | None:
        """For bucketed tables, resolve a conjunctive predicate that pins
        every bucket column with an equality literal to the single bucket
        it can touch; None = not resolvable, prune conservatively. This is
        the point-lookup payoff of hash bucketing: min/max stats are
        useless on hashed layouts, exact membership is cheap."""
        spec = snap.bucket_spec
        if spec is None or not predicate_sql:
            return None
        # mask string literals FIRST: the structural scans below must
        # never match text INSIDE a literal (WHERE note = 'id = 5' used
        # to pin the id bucket from the quoted text and silently skip
        # matching rows in every other bucket — review find, r11). The
        # literal pattern covers both '' and backslash escaping.
        # Double-quoted "..." is masked too: under the engine's pg
        # dialect (doubleQuotedIdentifiers=true, context._ansi_dialect)
        # it is an IDENTIFIER — its text must not feed the structural
        # scans (a column literally named "id = 5" would pin the id
        # bucket), and when one is the equality RHS it is a column
        # reference, never a pinnable constant (advisor find, r11).
        # Inside double quotes the ONLY escape is a doubled quote ("")
        # — backslash is a literal character in pg identifiers. Using
        # \\. here mis-tokenized identifiers ending in a backslash
        # ("a\" = one char a-backslash, then the quote CLOSES) so a
        # following top-level OR could be swallowed into a masked span
        # and the OR/NOT rejection bypassed (advisor find, r12).
        literals: list[str] = []

        def _mask(m: "re.Match[str]") -> str:
            literals.append(m.group(0))
            return f"\x00{len(literals) - 1}\x00"

        masked = re.sub(
            r"'(?:\\.|''|[^'\\])*'|\"(?:\"\"|[^\"])*\"",
            _mask,
            predicate_sql,
        )
        if "'" in masked or '"' in masked:
            return None  # unterminated/unrecognized quoting: be safe
        if re.search(r"(?i)\b(or|not)\b", masked):
            return None  # only plain conjunctions are safely narrowing
        cols, n = spec
        schema = T.StructType.fromDDL(snap.schema_ddl)
        lits = []
        for c in cols:
            m = re.search(
                rf"(?i)(?<![\w.]){re.escape(c)}\s*=\s*"
                rf"(\x00\d+\x00|-?\d+(?:\.\d+)?)",
                masked,
            )
            if m is None:
                return None
            raw = m.group(1)
            if raw.startswith("\x00"):
                raw = literals[int(raw.strip("\x00"))]
                if raw.startswith('"'):
                    # quoted identifier (column ref), not a constant:
                    # col = "other_col" cannot pin a bucket
                    return None
            lits.append(f"CAST({raw} AS {schema[c].dataType.simpleString()})")
        row = (
            self.spark.range(1)
            .select(
                F.pmod(F.xxhash64(*[F.expr(e) for e in lits]), F.lit(n))
                .cast("int")
                .alias("b")
            )
            .collect()
        )
        return {row[0]["b"]}

    def update(self, set_exprs: dict[str, str], predicate_sql: str | None) -> Commit:
        """Copy-on-write UPDATE (A4): rewrite only files the predicate can
        touch; within them, CASE WHEN predicate THEN expr ELSE old.

        `set_exprs` maps column -> SQL expression text; `predicate_sql` is
        the WHERE text (also used for stats pruning).
        """
        snap = self.snapshot()
        # validate assignment targets BEFORE pruning: a no-op predicate must
        # not mask a bad column (reference dml.rs test_update_statement_errors
        # expects the schema error regardless of matched rows)
        fields = T.StructType.fromDDL(snap.schema_ddl).fieldNames()
        unknown = [c for c in set_exprs if c not in fields]
        if unknown:
            raise DeltaLiteError(
                f"No field named {unknown[0]}. "
                f"Valid fields are {', '.join(fields)}."
            )
        hit = self._prune(snap, predicate_sql)
        hot = self._bucket_hits(snap, predicate_sql)
        if hot is not None:
            hit = [f for f in hit if f.bucket is None or f.bucket in hot]
        if not hit:
            return self._next_commit("UPDATE", [], [], base_version=snap.version)
        schema = T.StructType.fromDDL(snap.schema_ddl)
        mode = str(
            snap.properties.get(
                "update_mode", snap.properties.get("delete_mode", "auto")
            )
        ).lower()
        if mode == "mor" or (
            mode == "auto"
            and sum(f.size_bytes for f in hit) >= MOR_DELETE_MIN_BYTES
        ):
            return self._mor_update(snap, hit, set_exprs, predicate_sql, schema)
        # DV-aware: rewriting a MoR-deleted file must not resurrect rows
        df = self._scan_files(hit, schema)
        cond = F.expr(predicate_sql) if predicate_sql else F.lit(True)
        projected = df.select(
            *[
                (
                    F.when(cond, F.expr(set_exprs[c]).cast(schema[c].dataType))
                    .otherwise(F.col(c))
                    .alias(c)
                    if c in set_exprs
                    else F.col(c)
                )
                for c in df.columns
            ]
        )
        adds = self._write_data(
            self._enforce_constraints(projected, _snap=snap), _snap=snap
        )
        return self._next_commit(
            "UPDATE", adds, self._retire(hit), base_version=snap.version
        )

    def delete(self, predicate_sql: str | None) -> Commit:
        """DELETE (A5); no predicate = remove all files without scanning
        (reference physical.rs:370-485). With a predicate, either
        copy-on-write (rewrite hit files minus matching rows — the
        reference's only mode) or merge-on-read (write per-file deletion
        vectors, leave data files untouched) — chosen by the table's
        ``delete_mode`` property ('cow' | 'mor' | default 'auto', which
        goes MoR once the hit set exceeds MOR_DELETE_MIN_BYTES: at 100 TB
        a DELETE writes KB bitmaps, not rewritten GB files)."""
        snap = self.snapshot()
        if predicate_sql is None:
            return self._next_commit(
                "DELETE", [], self._retire(snap.files), base_version=snap.version
            )
        hit = self._prune(snap, predicate_sql)
        hot = self._bucket_hits(snap, predicate_sql)
        if hot is not None:
            hit = [f for f in hit if f.bucket is None or f.bucket in hot]
        if not hit:
            return self._next_commit("DELETE", [], [], base_version=snap.version)
        mode = str(snap.properties.get("delete_mode", "auto")).lower()
        use_mor = mode == "mor" or (
            mode == "auto"
            and sum(f.size_bytes for f in hit) >= MOR_DELETE_MIN_BYTES
        )
        if use_mor:
            return self._mor_delete(snap, hit, predicate_sql)
        schema = T.StructType.fromDDL(snap.schema_ddl)
        # DV-aware: a file may already carry a deletion vector
        df = self._scan_files(hit, schema)
        predicate = F.expr(predicate_sql)
        kept = df.where(~predicate | predicate.isNull())
        adds = self._write_data(kept, _snap=snap)
        return self._next_commit(
            "DELETE", adds, self._retire(hit), base_version=snap.version
        )

    def _encode_dvs(
        self, hit: list[AddFile], matches: DataFrame
    ) -> tuple[list[AddFile], list[str]]:
        """Shared MoR machinery: given (``__sfs_fp``, ``__sfs_pos``) rows of
        dead positions within ``hit`` files, write per-file roaring DV
        sidecars (merged with any existing DV) and return (re-adds with DV
        attached — files fully dead are dropped, their fresh DV removed —
        and the remove list of superseded paths).

        Bitmaps are encoded and written per file ON EXECUTORS
        (applyInPandas over the file-path group); the driver only collects
        one (path, cardinality) row per affected file."""
        already = [f for f in hit if f.dv]
        if already:
            # new DV = old ∪ new: decoded distributed, unioned pre-encode
            matches = matches.unionByName(self._dv_pairs_df(already))
        dv_dir = os.path.join(self.root, "data")
        self.store.makedirs(dv_dir)
        store_url = self.root_url

        def encode_group(pdf):
            import pandas as pd
            import uuid as _u

            from ..sources.delta_dv import encode_framed_dv
            from ..sources.store import resolve_store

            store, root = resolve_store(store_url)
            fp = pdf["__sfs_fp"].iloc[0]
            name = f"dv-{_u.uuid4().hex}.bin"
            blob, card = encode_framed_dv(sorted(set(int(p) for p in pdf["__sfs_pos"])))
            store.put(os.path.join(root, "data", name), blob)
            return pd.DataFrame(
                {"__sfs_fp": [fp], "dv_name": [name], "card": [card]}
            )

        res = (
            matches.groupBy("__sfs_fp")
            .applyInPandas(encode_group, "__sfs_fp string, dv_name string, card long")
            .collect()
        )
        by_abs = {self._fp_key(f.path): f for f in hit}
        adds: list[AddFile] = []
        removes: list[str] = []
        for r in res:
            f = by_abs[r["__sfs_fp"]]
            removes.append(f.path)
            if f.dv:
                removes.append(f.dv["path"])
            dv_rel = os.path.join("data", r["dv_name"])
            if int(r["card"]) >= f.rows:
                # every row dead: drop the file (and the just-written DV)
                self.store.delete(os.path.join(self.root, dv_rel))
                continue
            adds.append(
                AddFile(
                    f.path, f.rows, f.size_bytes, f.stats, f.bucket,
                    dv={"path": dv_rel, "cardinality": int(r["card"])},
                    # physical per-file stats carry over like rows/stats:
                    # a bloom hit on a DV-dead row is a conservative keep,
                    # while DROPPING the bitmaps silently degraded every
                    # later point-lookup prune to min/max only (review
                    # find, r11)
                    blooms=f.blooms,
                )
            )
        return adds, removes

    def _mor_delete(
        self, snap: Snapshot, hit: list[AddFile], predicate_sql: str
    ) -> Commit:
        """Merge-on-read DELETE: per hit file, write a roaring deletion
        vector of the matching row indexes and re-add the file with the DV
        attached — no data bytes rewritten (see ``_encode_dvs``)."""
        schema = T.StructType.fromDDL(snap.schema_ddl)
        paths = [self._data_url(f.path) for f in hit]
        df = self.spark.read.schema(schema).parquet(*paths)
        matches = df.where(F.expr(predicate_sql)).select(
            _fp_norm(F.col("_metadata.file_path")).alias("__sfs_fp"),
            F.col("_metadata.row_index").alias("__sfs_pos"),
        )
        adds, removes = self._encode_dvs(hit, matches)
        if not adds and not removes:
            return self._next_commit("DELETE", [], [], base_version=snap.version)
        return self._next_commit("DELETE", adds, removes, base_version=snap.version)

    def _mor_update(
        self,
        snap: Snapshot,
        hit: list[AddFile],
        set_exprs: dict[str, str],
        predicate_sql: str | None,
        schema: T.StructType,
    ) -> Commit:
        """Merge-on-read UPDATE: DV-delete the matching rows in place and
        append NEW files holding their updated versions — row-level
        rewrite instead of file-level. At 100 TB an UPDATE touching 0.1%
        of rows writes 0.1% of the bytes, not the whole hit file set.

        One commit carries both halves (re-adds with DVs + appended
        files), so readers see the update atomically."""
        paths = [self._data_url(f.path) for f in hit]
        raw = self.spark.read.schema(schema).parquet(*paths)
        cond = F.expr(predicate_sql) if predicate_sql else F.lit(True)
        # live matching rows only: DV-dead rows must neither re-update nor
        # resurrect through the appended copies
        matched = raw.where(cond).select(
            "*",
            _fp_norm(F.col("_metadata.file_path")).alias("__sfs_fp"),
            F.col("_metadata.row_index").alias("__sfs_pos"),
        )
        dv_files = [f for f in hit if f.dv]
        if dv_files:
            pairs = self._dv_pairs_df(dv_files)
            matched = matched.join(
                F.broadcast(pairs), ["__sfs_fp", "__sfs_pos"], "left_anti"
            )
        matched = matched.persist()
        updated = matched.select(
            *[
                (
                    F.expr(set_exprs[c]).cast(schema[c].dataType).alias(c)
                    if c in set_exprs
                    else F.col(c)
                )
                for c in schema.fieldNames()
            ]
        )
        new_adds = self._write_data(
            self._enforce_constraints(updated, _snap=snap), _snap=snap
        )
        dv_adds, removes = self._encode_dvs(
            hit, matched.select("__sfs_fp", "__sfs_pos")
        )
        matched.unpersist()
        if not new_adds and not dv_adds and not removes:
            return self._next_commit("UPDATE", [], [], base_version=snap.version)
        return self._next_commit(
            "UPDATE", dv_adds + new_adds, removes, base_version=snap.version
        )

    # ------------------------------------------------- schema evolution

    def add_column(self, name: str, dtype: str) -> Commit:
        """ALTER TABLE ADD COLUMN — a METADATA-ONLY commit (beyond the
        reference, which only supports RENAME: src/context/logical.rs:193
        rejects every other AlterTableOperation). Existing data files are
        untouched; reads use the snapshot schema explicitly
        (:meth:`_scan_files`), so Spark null-fills the new column for old
        files — the standard Delta add-column semantics. Time travel to a
        pre-ALTER version sees the old schema (snapshot replays metadata
        per version).

        Re-adding a previously DROPPED name is rejected: without
        column-mapping ids, old files still physically hold the dropped
        values and they would silently resurface under the new column."""
        snap = self.snapshot()
        schema = T.StructType.fromDDL(snap.schema_ddl)
        if name in schema.fieldNames():
            raise DeltaLiteError(f"column {name!r} already exists")
        dropped = snap.properties.get("dropped_columns") or []
        if name in dropped:
            raise DeltaLiteError(
                f"column {name!r} was previously dropped; old data files "
                "still contain it and its values would resurface — use a "
                "fresh column name"
            )
        # validate the type by round-tripping it through the DDL parser
        try:
            T.StructType.fromDDL(f"__probe {dtype}")
        except Exception as e:  # noqa: BLE001 — surface as engine error
            raise DeltaLiteError(f"invalid column type {dtype!r}: {e}") from None
        new_ddl = snap.schema_ddl + f", {name} {dtype}"
        return self._next_commit(
            "ADD COLUMN",
            [],
            [],
            metadata={"schema_ddl": new_ddl, "properties": snap.properties},
            base_version=snap.version,
        )

    def drop_column(self, name: str) -> Commit:
        """ALTER TABLE DROP COLUMN — metadata-only: the column leaves the
        read schema; bytes stay in the data files until those files are
        rewritten by later DML/OPTIMIZE (Delta's semantics without a
        purge). Rejected for bucket columns (the layout hashes on them)
        and for the last remaining column. The name is remembered in
        ``dropped_columns`` so :meth:`add_column` cannot resurrect it."""
        snap = self.snapshot()
        schema = T.StructType.fromDDL(snap.schema_ddl)
        if name not in schema.fieldNames():
            raise DeltaLiteError(f"no such column {name!r}")
        if len(schema.fields) == 1:
            raise DeltaLiteError("cannot drop the last column")
        spec = snap.bucket_spec
        if spec and name in spec[0]:
            raise DeltaLiteError(
                f"column {name!r} is a bucket column; the file layout "
                "hashes on it — rewrite the table instead"
            )
        # a CHECK constraint referencing the column would make the table
        # UNWRITABLE after the drop (every later DML's _enforce_constraints
        # hits an unresolved column) — reject with the constraint named,
        # same dependent-object discipline as bucket columns (review
        # find, r11). Word-boundary text match: conservative (a quoted
        # string containing the name also blocks), never permissive.
        for cname, cexpr in (snap.properties.get("constraints") or {}).items():
            if re.search(rf"(?<![\w.`]){re.escape(name)}(?![\w`])", cexpr):
                raise DeltaLiteError(
                    f"column {name!r} is referenced by CHECK constraint "
                    f"{cname!r} ({cexpr}); DROP CONSTRAINT first"
                )
        zcols = snap.properties.get("zorder_by")
        zlist = (
            zcols.split(",") if isinstance(zcols, str) else list(zcols or [])
        )
        props = dict(snap.properties)
        if name in zlist:
            props["zorder_by"] = [c for c in zlist if c != name]
        new_ddl = to_ddl(f for f in schema.fields if f.name != name)
        props["dropped_columns"] = list(
            (snap.properties.get("dropped_columns") or [])
        ) + [name]
        return self._next_commit(
            "DROP COLUMN",
            [],
            [],
            metadata={"schema_ddl": new_ddl, "properties": props},
            base_version=snap.version,
        )

    # ------------------------------------------------- version diff (CDC)

    def diff(
        self,
        v_from: int,
        v_to: int | None = None,
        pk_cols: list[str] | None = None,
    ) -> DataFrame:
        """Row-level changes between two versions — the delta-table
        analogue of CDC table_changes (beyond the reference; its sync
        machinery CONSUMES change sets, this PRODUCES one from any two
        snapshots). Returns one row per changed primary key with
        ``_change`` in ('insert', 'delete', 'update_preimage' /
        'update_postimage' pairs) and the full row values of the relevant
        side.

        ``pk_cols`` defaults to the table's sync primary key if recorded
        in properties ('merge_pk'), else raises. Both snapshots resolve
        through time travel, so the diff works across schema evolution
        (columns added between versions read as NULL on the old side).

        Scale: one full-outer join of the two snapshots hashed on the PK
        — the same single-shuffle shape the CDC sync planner uses; files
        unchanged between versions still scan (a content diff cannot
        avoid reading both sides) but column pruning applies if callers
        select a column subset afterwards."""
        if v_to is None:
            v_to = self.latest_version()
        if pk_cols is None:
            pk = self.snapshot(version=v_to).properties.get("merge_pk")
            if not pk:
                raise DeltaLiteError(
                    "pk_cols not given and table has no recorded merge_pk"
                )
            pk_cols = pk.split(",") if isinstance(pk, str) else list(pk)
        old = self.to_df(version=v_from)
        new = self.to_df(version=v_to)
        # align across schema evolution: compare over the UNION of columns
        all_cols = list(
            dict.fromkeys(list(old.columns) + list(new.columns))
        )
        def _pad(df):
            return df.select(
                *[
                    F.col(c) if c in df.columns else F.lit(None).alias(c)
                    for c in all_cols
                ]
            )
        o = _pad(old).alias("o")
        n = _pad(new).alias("n")
        cond = None
        for c in pk_cols:
            eq = F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}"))
            cond = eq if cond is None else (cond & eq)
        j = o.join(n, cond, "full_outer")
        val_cols = [c for c in all_cols if c not in pk_cols]
        same = F.lit(True)
        for c in val_cols:
            same = same & F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}"))
        o_absent = F.col(f"o.{pk_cols[0]}").isNull() & F.lit(True)
        n_absent = F.col(f"n.{pk_cols[0]}").isNull() & F.lit(True)
        # a NULL pk on one side means "no row there" only if EVERY o/n
        # column is null; with non-null PKs (the sync contract) the first
        # pk column suffices
        inserts = j.where(o_absent & ~n_absent).select(
            F.lit("insert").alias("_change"),
            *[F.col(f"n.{c}").alias(c) for c in all_cols],
        )
        deletes = j.where(~o_absent & n_absent).select(
            F.lit("delete").alias("_change"),
            *[F.col(f"o.{c}").alias(c) for c in all_cols],
        )
        changed = j.where(~o_absent & ~n_absent & ~same)
        pre = changed.select(
            F.lit("update_preimage").alias("_change"),
            *[F.col(f"o.{c}").alias(c) for c in all_cols],
        )
        post = changed.select(
            F.lit("update_postimage").alias("_change"),
            *[F.col(f"n.{c}").alias(c) for c in all_cols],
        )
        return inserts.unionAll(deletes).unionAll(pre).unionAll(post)

    # ------------------------------------------------- CHECK constraints

    def add_constraint(self, name: str, expr_sql: str) -> Commit:
        """ALTER TABLE ADD CONSTRAINT name CHECK (expr) — Delta-parity
        table constraints (beyond the reference). The expression must be
        valid over the current schema, and EXISTING rows must already
        satisfy it (one scan, the same rule Delta applies); the
        constraint then persists in table properties (so it survives
        checkpoints and time travel) and every subsequent
        INSERT/OVERWRITE/UPDATE/MERGE validates the data it writes.
        NULL evaluations pass (standard SQL CHECK semantics)."""
        snap = self.snapshot()
        cons = dict(snap.properties.get("constraints") or {})
        if name in cons:
            raise DeltaLiteError(f"constraint {name!r} already exists")
        schema = T.StructType.fromDDL(snap.schema_ddl)
        probe = self.spark.createDataFrame([], schema)
        try:
            probe.where(F.expr(expr_sql)).schema  # analysis-time validation
        except Exception as e:  # noqa: BLE001
            raise DeltaLiteError(
                f"invalid CHECK expression {expr_sql!r}: {e}"
            ) from None
        if snap.files:
            bad = (
                self._scan_files(snap.files, schema)
                .where(~F.coalesce(F.expr(expr_sql), F.lit(True)))
                .count()
            )
            if bad:
                raise DeltaLiteError(
                    f"cannot add constraint {name!r}: {bad} existing row(s) "
                    f"violate CHECK ({expr_sql})"
                )
        cons[name] = expr_sql
        props = dict(snap.properties, constraints=cons)
        return self._next_commit(
            "ADD CONSTRAINT",
            [],
            [],
            metadata={"schema_ddl": snap.schema_ddl, "properties": props},
            base_version=snap.version,
        )

    def drop_constraint(self, name: str) -> Commit:
        snap = self.snapshot()
        cons = dict(snap.properties.get("constraints") or {})
        if name not in cons:
            raise DeltaLiteError(f"no such constraint {name!r}")
        del cons[name]
        props = dict(snap.properties, constraints=cons)
        return self._next_commit(
            "DROP CONSTRAINT",
            [],
            [],
            metadata={"schema_ddl": snap.schema_ddl, "properties": props},
            base_version=snap.version,
        )

    def _enforce_constraints(
        self, df: DataFrame, _snap: Snapshot | None = None
    ) -> DataFrame:
        """Validate ``df`` against every table constraint; raises on the
        first violation (with a count). One filter+count job per
        constraint over the data being WRITTEN — rewrites of already-
        validated data (DELETE keeps, OPTIMIZE) skip this, so compaction
        never re-pays it. ``_snap`` reuses a resolved snapshot."""
        if _snap is not None:
            cons = _snap.properties.get("constraints") or {}
        else:
            cons = (
                self.snapshot().properties.get("constraints")
                if self.exists()
                else None
            ) or {}
        for name, expr_sql in sorted(cons.items()):
            bad = df.where(~F.coalesce(F.expr(expr_sql), F.lit(True))).count()
            if bad:
                raise DeltaLiteError(
                    f"CHECK constraint {name!r} violated by {bad} row(s): "
                    f"({expr_sql})"
                )
        return df

    def truncate(self) -> Commit:
        """A14: new commit removing every file."""
        snap = self.snapshot()
        return self._next_commit(
            "TRUNCATE", [], self._retire(snap.files), base_version=snap.version
        )

    def restore(
        self, version: int | None = None, timestamp: str | None = None
    ) -> Commit:
        """RESTORE TABLE ... TO VERSION/TIMESTAMP AS OF (Delta-parity,
        beyond the reference): commit a NEW version whose live state —
        files, DVs, schema, properties — equals the target snapshot's, so
        history is preserved (time travel still reaches the undone
        versions) and the restore itself is one more undoable commit.

        Data files the target references must still exist: VACUUM after a
        later rewrite may have GC'd them, in which case restore fails
        loudly BEFORE committing anything (Delta errors the same way) —
        an ERROR-level check, not best-effort, because a restored
        snapshot with missing files would read partial data silently.

        Scale: O(|current| + |target|) commit metadata, zero data I/O —
        restoring a 100 TB table moves no bytes."""
        cur = self.snapshot()
        target = self.snapshot(version=version, timestamp=timestamp)
        missing = [
            p
            for f in target.files
            for p in ([f.path] + ([f.dv["path"]] if f.dv else []))
            if not self.store.exists(os.path.join(self.root, p))
        ]
        if missing:
            raise DeltaLiteError(
                f"cannot restore to version {target.version}: "
                f"{len(missing)} data file(s) vacuumed, e.g. {missing[0]}"
            )
        cur_by_path = {f.path: f for f in cur.files}
        # re-add every target file whose AddFile differs from (or is
        # absent in) the live state — snapshot replay overwrites by path,
        # so matching entries can be skipped to keep the commit small
        adds = [
            f
            for f in target.files
            if cur_by_path.get(f.path) is None
            or cur_by_path[f.path].to_json() != f.to_json()
        ]
        tgt_paths = {f.path: f for f in target.files}
        removes = self._retire(
            [f for f in cur.files if f.path not in tgt_paths]
        )
        # a surviving path whose CURRENT AddFile carries a DV the target
        # lacks (or a different one) supersedes that sidecar — retire it
        # explicitly or vacuum can never GC the orphaned .bin
        for f in cur.files:
            t = tgt_paths.get(f.path)
            if (
                t is not None
                and f.dv
                and (t.dv or {}).get("path") != f.dv["path"]
            ):
                removes.append(f.dv["path"])
        meta = {
            "schema_ddl": target.schema_ddl,
            # always present (even {}): replay applies properties on key
            # presence, so restoring across a property add resets it
            "properties": target.properties,
        }
        return self._next_commit(
            f"RESTORE VERSION {target.version}",
            adds,
            removes,
            metadata=meta,
            base_version=cur.version,
        )

    def _fine_prune(
        self,
        hit: list[AddFile],
        changes: DataFrame,
        pk_cols: list[str],
        snap: Snapshot | None = None,
    ) -> list[AddFile]:
        """Per-file PK-membership pruning (reference get_prune_map,
        sync/utils.rs:321+, engaged by planner.rs:612 above the row
        criteria): a file survives only if, for every PK column with
        stats, at least one ACTUAL change-set value falls inside that
        file's [min, max] — the coarse global range keeps files that sit
        between change clusters; this drops them.

        r9: per-file BLOOM membership joins the probe (the read-side
        _prune's bloom layer applied to the sync merge, the reference
        planner.rs:552-628 analog). On hashed-key layouts every file
        spans the full PK range so min/max is powerless — a file whose
        ``bloom_by`` bitmap provably lacks EVERY change value for some
        PK column drops. Bit positions are computed once per value, so
        the probe costs |values| md5s + 4-bit tests per (file, value)."""
        import bisect

        rows = (
            changes.select(*pk_cols)
            .distinct()
            .limit(FINE_GRAINED_MAX_PK_VALUES + 1)
            .collect()
        )
        if len(rows) > FINE_GRAINED_MAX_PK_VALUES:
            return hit  # too many PKs to probe cheaply; keep coarse result
        # change values must compare against FOOTER-STATS representations
        # (dates/timestamps are isoformat STRINGS there, decimals widened
        # floats, bytes decoded) — bisecting raw datetime objects against
        # string bounds raised TypeError and aborted the whole merge for
        # date/timestamp PKs (review find, r11). ISO strings order
        # lexicographically == chronologically, so the probe stays exact.
        from decimal import Decimal

        def _stat_norm(v):
            if hasattr(v, "isoformat"):
                return v.isoformat()
            if isinstance(v, Decimal):
                return float(v)
            if isinstance(v, (bytes, bytearray)):
                return bytes(v).decode()
            return v

        vals: dict[str, list] = {}
        for c in pk_cols:
            try:
                vals[c] = sorted(
                    {_stat_norm(r[c]) for r in rows if r[c] is not None}
                )
            except (TypeError, UnicodeDecodeError):
                vals[c] = []  # unorderable type: skip this column's probe
        # bloom probe prep: positions per change value, None when any
        # value is not bit-stably normalizable (conservative skip) or the
        # column's type family differs from what the bitmap hashed
        m_bits = BLOOM_BITS_DEFAULT
        col_fam: dict[str, str | None] = {}
        if snap is not None:
            m_bits = int(snap.properties.get("bloom_bits", BLOOM_BITS_DEFAULT))
            _INT_TYPES = {"tinyint", "smallint", "int", "bigint"}
            for fld in T.StructType.fromDDL(snap.schema_ddl).fields:
                s_ = fld.dataType.simpleString()
                col_fam[fld.name] = (
                    "int" if s_ in _INT_TYPES
                    else "string" if s_ == "string" else None
                )
        any_blooms = any(f.blooms for f in hit)
        positions: dict[str, list[list[int]] | None] = {}
        for c in pk_cols:
            positions[c] = None
            if not any_blooms or col_fam.get(c) is None:
                continue
            pos_lists = []
            ok = True
            for r in rows:
                v = r[c]
                if v is None:
                    continue  # NULL never equality-matches a stored row
                fam = (
                    "int" if isinstance(v, int) and not isinstance(v, bool)
                    else "string" if isinstance(v, str) else None
                )
                s = _bloom_literal(v)
                if s is None or fam != col_fam.get(c):
                    ok = False
                    break
                pos_lists.append(_bloom_positions(s, m_bits))
            if ok and pos_lists:
                positions[c] = pos_lists

        def _any_may_contain(bitmap_b64: str, pos_lists: list[list[int]]) -> bool:
            bits = base64.b64decode(bitmap_b64)
            for ps in pos_lists:
                if all((bits[p // 8] >> (p % 8)) & 1 for p in ps):
                    return True
            return False

        kept = []
        for f in hit:
            keep = True
            for c in pk_cols:
                st = f.stats.get(c) or {}
                vs = vals.get(c) or []
                if st.get("min") is not None and st.get("max") is not None and vs:
                    i = bisect.bisect_left(vs, st["min"])
                    if i >= len(vs) or vs[i] > st["max"]:
                        keep = False
                        break
                bm = (f.blooms or {}).get(c)
                ps = positions.get(c)
                if bm and ps and not _any_may_contain(bm, ps):
                    keep = False
                    break
            if keep:
                kept.append(f)
        return kept

    def merge(
        self,
        changes: DataFrame,
        pk_cols: list[str],
        delete_col: str | None = None,
        app_txn: dict | None = None,
        fine_grained_rows: int = FINE_GRAINED_PRUNING_ROWS,
    ) -> Commit:
        """Upsert/delete merge — the apply step of the reference's CDC sync
        (reference src/sync/planner.rs:449-548): prune target files by the
        change-set's PK range, FULL OUTER JOIN base<->changes on PK, take
        changed values where present, drop deletes, rewrite pruned files.

        `changes` must contain the PK columns plus any subset of value
        columns; rows with delete_col=true are deletes.

        Scale: only files whose PK stats intersect the change set rewrite;
        when the coarse min/max hit still covers > ``fine_grained_rows``
        rows, per-file PK membership is probed so files between change
        clusters drop too (planner.rs:552-628 two-stage pruning). The
        join shuffles on the PK, which both sides hash-partition.
        """
        snap = self.snapshot()
        schema = T.StructType.fromDDL(snap.schema_ddl)
        # ONE aggregate job over the change set computes everything the
        # driver needs before the join (r14, guide §1/§5 — each action
        # re-executes the caller's change-derivation subtree, e.g. the
        # CDC micro-batch's dedup window, so three separate jobs here
        # tripled that work): the coarse min/max PK bounds (reference
        # planner.rs:552-628), the NULL-PK violation flag (previously its
        # own limit(1).count() scan), and for bucketed tables the exact
        # hot-bucket set (previously a distinct().collect() job; bounded
        # by the table's bucket count).
        null_pk_any = None
        for c in pk_cols:
            p = F.col(c).isNull()
            null_pk_any = p if null_pk_any is None else (null_pk_any | p)
        aggs = [
            *[F.min(c).alias(f"min_{c}") for c in pk_cols],
            *[F.max(c).alias(f"max_{c}") for c in pk_cols],
            F.max(null_pk_any).alias("__null_pk"),
        ]
        spec = snap.bucket_spec
        probe_buckets = spec is not None and all(
            c in changes.columns for c in spec[0]
        )
        if probe_buckets:
            # exact bucket membership: hashing spreads PKs across each
            # file's full range, so min/max is powerless here — but every
            # file belongs to one bucket, and only buckets the change set
            # hashes into can contain matching rows
            bcols, n = spec
            aggs.append(
                F.collect_set(
                    F.pmod(
                        F.xxhash64(
                            *[F.col(c).cast(schema[c].dataType) for c in bcols]
                        ),
                        F.lit(n),
                    ).cast("int")
                ).alias("__hot_buckets")
            )
        bounds = changes.agg(*aggs).collect()[0]
        if bounds["__null_pk"]:
            raise DeltaLiteError(
                f"MERGE change set contains NULL in primary key column(s) "
                f"{pk_cols}; primary keys must be non-null"
            )
        parts = []
        for c in pk_cols:
            mn, mx = bounds[f"min_{c}"], bounds[f"max_{c}"]
            if mn is None or not isinstance(mn, (int, float)):
                continue
            parts.append(f"{c} >= {mn} AND {c} <= {mx}")
        hit = self._prune(snap, " AND ".join(parts) if parts else None)
        if hit and probe_buckets:
            hot = set(bounds["__hot_buckets"] or [])
            hit = [f for f in hit if f.bucket is None or f.bucket in hot]
        if hit and sum(f.rows for f in hit) > fine_grained_rows:
            hit = self._fine_prune(hit, changes, pk_cols, snap=snap)
        hit_paths = self._retire(hit)
        if hit:
            base = self._scan_files(hit, schema)
        else:
            base = self._empty_df(schema)

        # NULL-in-PK rejection (review find, r11): a NULL in ANY key
        # column can never join (NULL-safe equality is deliberately NOT
        # used — the reference keys on non-null PKs), so such a change
        # row would survive the full-outer join unmatched and smuggle a
        # NULL-keyed/all-NULL row into the table. The check rides the
        # combined aggregate above (__null_pk) — same raise, one fewer
        # job.
        ch = changes
        if delete_col is None:
            delete_col = "__delete__"
            ch = ch.withColumn(delete_col, F.lit(False))
        ch = ch.alias("c")
        base = base.alias("b")
        cond = None
        for c in pk_cols:
            p = F.col(f"b.{c}") == F.col(f"c.{c}")
            cond = p if cond is None else (cond & p)
        joined = base.join(ch, cond, "full_outer")
        has_change = F.col(f"c.{pk_cols[0]}").isNotNull()
        out_cols = []
        for fobj in schema.fields:
            c = fobj.name
            if c in pk_cols:
                # PK: change-side wins when present (it IS the join key)
                out_cols.append(
                    F.coalesce(F.col(f"c.{c}"), F.col(f"b.{c}")).alias(c)
                )
            elif c in ch.columns and c != delete_col:
                take = has_change
                flag = f"__set_{c}"
                if flag in ch.columns:
                    # per-column CHANGED mask (reference CASE projection per
                    # column honoring CHANGED flags, planner.rs:449-548)
                    take = take & F.coalesce(F.col(f"c.{flag}"), F.lit(False))
                out_cols.append(
                    F.when(take, F.col(f"c.{c}")).otherwise(F.col(f"b.{c}")).alias(c)
                )
            else:
                out_cols.append(F.col(f"b.{c}").alias(c))
        is_delete = has_change & F.coalesce(F.col(f"c.{delete_col}"), F.lit(False))
        result = joined.where(~is_delete).select(*out_cols)
        adds = self._write_data(
            self._enforce_constraints(result, _snap=snap), _snap=snap
        )
        # record the merge PK as a table property on first merge (enables
        # diff()'s default key and documents the table's identity column
        # set); never overwrite an explicit WITH ('merge_pk' ...) choice
        meta = None
        if not snap.properties.get("merge_pk"):
            meta = {
                "schema_ddl": snap.schema_ddl,
                "properties": dict(snap.properties, merge_pk=",".join(pk_cols)),
            }
        return self._next_commit(
            "MERGE",
            adds,
            hit_paths,
            metadata=meta,
            app_txn=app_txn,
            base_version=snap.version,
        )

    # ----------------------------------------------------------- maintenance

    ZORDER_BITS = 8

    def _zorder_column(self, df: DataFrame, cols: list[str]):
        """Interleaved-bit z-value over ``cols`` as a pure JVM expression.

        Each column is scaled to an 8-bit bucket by linear min/max (strings
        through their first 4 bytes big-endian, which preserves lexicographic
        order), then the buckets' bits are interleaved. Everything is
        column expressions inside whole-stage codegen; the only driver-side
        data is one row of 2k min/max scalars.
        """
        k = len(cols)
        raws = []
        for c in cols:
            dt = df.schema[c].dataType.simpleString()
            col = F.col(c)
            if dt == "string":
                raw = F.expr(
                    f"CAST(conv(hex(substr(CAST(`{c}` AS BINARY), 1, 4)), 16, 10)"
                    " AS DOUBLE)"
                )
            elif dt.startswith("timestamp"):
                raw = col.cast("double")
            elif dt == "date":
                raw = col.cast("timestamp").cast("double")
            elif dt == "boolean":
                raw = col.cast("int").cast("double")
            else:
                raw = col.cast("double")
            raws.append(raw)
        bounds = df.agg(
            *[
                f
                for i, r in enumerate(raws)
                for f in (F.min(r).alias(f"mn{i}"), F.max(r).alias(f"mx{i}"))
            ]
        ).collect()[0]
        maxb = (1 << self.ZORDER_BITS) - 1
        buckets = []
        for i, raw in enumerate(raws):
            mn, mx = bounds[f"mn{i}"], bounds[f"mx{i}"]
            if mn is None or mx is None or mx <= mn:
                buckets.append(F.lit(0).cast("long"))
                continue
            scaled = F.floor((raw - F.lit(float(mn))) / F.lit(mx - mn) * maxb)
            clamped = F.least(F.greatest(scaled, F.lit(0)), F.lit(maxb))
            # NULLs sort to bucket 0 (lowest z-range), mirroring NULLS FIRST
            buckets.append(F.coalesce(clamped, F.lit(0)).cast("long"))
        z = F.lit(0).cast("long")
        for bit in range(self.ZORDER_BITS):
            for j, b in enumerate(buckets):
                z = z + F.shiftleft(
                    F.shiftright(b, bit).bitwiseAND(F.lit(1)), bit * k + j
                )
        return z

    def optimize(
        self,
        target_rows: int = MAX_ROWS_PER_FILE,
        zorder_by: list[str] | None = None,
        predicate_sql: str | None = None,
    ) -> Commit:
        """Compact small files into ~target_rows files (the OPTIMIZE
        equivalent of Delta; the reference instead re-chunks on write,
        delta.rs:106-148 — under frequent small appends both need this).

        Scale: only files below half the target participate, so a steady
        state of large files makes this a no-op; the rewrite is one Spark
        job over just the small files.

        With ``zorder_by``, the whole table is instead rewritten clustered
        on the interleaved z-value of those columns (``repartitionByRange``
        + ``sortWithinPartitions`` — a range shuffle, no global sort), so
        the per-file min/max footer stats become tight on EVERY listed
        column and stats pruning works for predicates on any of them. This
        is the multi-dimensional complement to hash bucketing: bucketing
        gives exact point-lookup pruning on the bucket key, z-order gives
        range pruning on several keys at once.
        """
        if zorder_by:
            if predicate_sql:
                raise DeltaLiteError(
                    "OPTIMIZE WHERE cannot combine with ZORDER BY "
                    "(z-order is a whole-table layout)"
                )
            return self._optimize_zorder(target_rows, zorder_by)
        snap = self.snapshot()
        candidates = snap.files
        if predicate_sql:
            # scoped compaction (Delta's OPTIMIZE ... WHERE, generalized
            # from partition columns to footer-stats pruning): only files
            # the predicate can touch participate; rewriting a file never
            # changes its content, so scoping is always safe
            from .pruning import prune_files

            candidates = prune_files(candidates, predicate_sql)
        # MoR-deleted files always qualify: compaction is what folds their
        # deletion vectors back into clean data files
        small = [
            f for f in candidates if f.rows < target_rows // 2 or f.dv
        ]
        if len(small) <= 1 and not any(f.dv for f in small):
            return self._next_commit("OPTIMIZE", [], [], base_version=snap.version)
        schema = T.StructType.fromDDL(snap.schema_ddl)
        df = self._scan_files(small, schema)
        total = sum(f.rows for f in small)
        n_out = max(1, (total + target_rows - 1) // target_rows)
        zcols = snap.properties.get("zorder_by")
        if zcols:
            # the table was z-ordered: keep the compacted files clustered
            # too (only the small files are rewritten, so this stays a
            # job over the compaction subset, not the whole table)
            cols = zcols.split(",") if isinstance(zcols, str) else list(zcols)
            z = self._zorder_column(df, cols)
            df = (
                df.withColumn("__sfs_z", z)
                .repartitionByRange(n_out, "__sfs_z")
                .sortWithinPartitions("__sfs_z")
                .drop("__sfs_z")
            )
        else:
            df = df.coalesce(n_out)
        adds = self._write_data(df)
        return self._next_commit(
            "OPTIMIZE", adds, self._retire(small), base_version=snap.version
        )

    def _optimize_zorder(self, target_rows: int, zorder_by: list[str]) -> Commit:
        snap = self.snapshot()
        if snap.bucket_spec is not None:
            raise DeltaLiteError(
                "z-order and hash bucketing are mutually exclusive layouts"
            )
        schema = T.StructType.fromDDL(snap.schema_ddl)
        names = {f.name for f in schema.fields}
        missing = [c for c in zorder_by if c not in names]
        if missing:
            raise DeltaLiteError(f"ZORDER BY column(s) not in table: {missing}")
        if not snap.files:
            return self._next_commit("OPTIMIZE", [], [], base_version=snap.version)
        df = self._scan_files(snap.files, schema)
        z = self._zorder_column(df, zorder_by)
        total = sum(f.rows for f in snap.files)
        n_out = max(1, (total + target_rows - 1) // target_rows)
        clustered = (
            df.withColumn("__sfs_z", z)
            .repartitionByRange(n_out, "__sfs_z")
            .sortWithinPartitions("__sfs_z")
            .drop("__sfs_z")
        )
        adds = self._write_data(clustered)
        return self._next_commit(
            "OPTIMIZE",
            adds,
            self._retire(snap.files),
            metadata={
                "properties": dict(snap.properties, zorder_by=",".join(zorder_by))
            },
            base_version=snap.version,
        )

    def vacuum(
        self, retention_ms: int = 0, orphan_grace_ms: int | None = None
    ) -> list[str]:
        """A15: delete data files no longer referenced by the latest
        snapshot (retention on commit age), mirror of delta-rs
        VacuumBuilder with retention 0 (reference physical.rs:703-766).
        Also collects orphans — files a failed write left behind that no
        commit ever referenced.

        CAUTION (review find, r11): at retention 0 the orphan scan
        cannot distinguish a failed write's leftovers from a CONCURRENT
        writer's in-flight, not-yet-committed files — vacuuming while
        another writer is mid-append can delete files its imminent
        commit references (the reference has the same exposure; delta-rs
        guards it with a minimum retention its callers here disable).
        Deployments with concurrent writers should set the table
        property ``vacuum_orphan_grace_ms`` (or pass ``orphan_grace_ms``)
        to at least their longest expected write duration: orphans
        younger than ``max(retention_ms, orphan_grace_ms)`` survive,
        while snapshot-removed files keep honoring ``retention_ms``
        alone (their commits prove no writer still needs them)."""
        history = self.history()
        snap_files = self.snapshot().files
        live = {f.path for f in snap_files} | {
            f.dv["path"] for f in snap_files if f.dv
        }
        now = int(time.time() * 1000)
        dead: list[str] = []
        for c in history:
            for r in c.removes:
                if os.path.isabs(r):
                    # borrowed file from a SHALLOW CLONE source: the
                    # source's own log governs its lifetime — a clone
                    # vacuum must never delete outside its root
                    continue
                if r not in live and now - c.timestamp_ms >= retention_ms:
                    full = os.path.join(self.root, r)
                    if self.store.exists(full):
                        self.store.delete(full)
                        dead.append(r)
        # orphan scan: anything under data/ that no commit ever added
        # (deletion-vector sidecars count as referenced via their add)
        ever_referenced = {a.path for c in history for a in c.adds} | {
            a.dv["path"] for c in history for a in c.adds if a.dv
        }
        data_dir = os.path.join(self.root, "data")
        for sub in self.store.list_recursive(data_dir):
            full = os.path.join(data_dir, sub)
            rel = os.path.join("data", sub)
            if rel in ever_referenced or rel in live:
                continue
            # float math: int-ms truncation of `now` would make a
            # just-written orphan look newer than now and survive
            orphan_floor = max(retention_ms, orphan_grace_ms or 0)
            if (time.time() - self.store.mtime(full)) * 1000 >= orphan_floor:
                self.store.delete(full)
                dead.append(rel)
        # drop now-empty txn dirs (real directories only — local FS)
        if os.path.isdir(data_dir):
            for dirpath, dirs, names in list(os.walk(data_dir, topdown=False)):
                if not dirs and not names and dirpath != data_dir:
                    os.rmdir(dirpath)
        return dead

    def drop_data(self) -> None:
        """Remove the whole table directory (A12 eager object deletion)."""
        self.store.delete_dir(self.root)

    @staticmethod
    def convert_from_parquet(spark: SparkSession, root: str, operation: str = "CONVERT") -> "DeltaLiteTable":
        """A8 `CONVERT 'path' TO DELTA`: build a log over parquet files
        already sitting in a directory, in place (reference delta.rs:319-358)."""
        t = DeltaLiteTable(spark, root)
        if t.exists():
            raise DeltaLiteError(f"already a deltalite table: {root}")
        if os.path.isdir(os.path.join(root, "_delta_log")):
            # a REAL Delta table: its directory also holds files that were
            # logically removed — converting every parquet in the tree
            # would resurrect deleted rows. Use the log's live list.
            from ..sources.delta_log import DeltaLogError, delta_snapshot_adds

            live_adds, _meta = delta_snapshot_adds(root)
            if any(a.get("deletionVector") for a in live_adds.values()):
                # in-place CONVERT reuses the data files as-is; a file with
                # a DV holds rows that are logically dead — converting would
                # resurrect them. (Reads are fine: read_delta applies DVs.)
                raise DeltaLogError(
                    "cannot CONVERT a delta table with active deletion "
                    "vectors in place; read + rewrite it instead"
                )
            names = [os.path.relpath(p, root) for p in live_adds]
        else:
            # recursive: COPY/Spark writers produce DIRECTORIES of part
            # files (possibly named *.parquet themselves) — every leaf
            # parquet object in the tree is table data
            names = [
                n
                for n in t.store.list_recursive(t.root)
                if n.endswith(".parquet")
            ]
        if not names:
            raise DeltaLiteError(f"no parquet files to convert in {root}")
        df = spark.read.parquet(t._data_url(names[0]))
        ddl = to_ddl(df.schema.fields)
        adds = []
        for n in names:
            full = os.path.join(t.root, n)
            with t.store.open_input(full) as src:
                md = pq.ParquetFile(src).metadata
            # real footer stats, not {}: a converted table must prune
            # scans and DML exactly like a written one (the reference
            # pins the same behavior via delta-rs PR 2491)
            adds.append(
                AddFile(n, md.num_rows, t.store.size(full), _footer_stats(md))
            )
        t._next_commit(operation, adds, [], metadata={"schema_ddl": ddl})
        return t
