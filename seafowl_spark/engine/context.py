"""SeafowlContext — the statement executor binding Spark, the metastore
catalog and deltalite storage.

Query lifecycle mirrors the reference (SURVEY.md §3.1): per statement we
(a) refresh what the statement reads into temp views (reference
reload_schema, src/context/mod.rs:89-112 — only the logs of the tables
and views the statement reads are read, and only names whose version
moved are rebound; see engine/bindings.py), (b) rewrite
time-travel sugar, (c) hand reads to `spark.sql`
(Catalyst = DataFusion's role), and (d) interpret DDL/DML ourselves,
eagerly, returning row-count style results (reference executes DML during
physical planning, physical.rs:68-73).

Name resolution: Spark temp views are single-part, so qualified references
`schema.table` (and `db.schema.table`) are rewritten to mangled view names
before parsing — same effect as the reference's schema providers.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import re
import threading
import uuid
from collections import Counter
from contextlib import contextmanager
from dataclasses import dataclass, field
from hashlib import sha256

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import types as T

from . import bindings, parser, results
from .catalog import (
    DEFAULT_DB,
    DEFAULT_SCHEMA,
    STAGING_SCHEMA,
    SYSTEM_SCHEMA,
    Catalog,
    CatalogError,
    TableEntry,
)
from .deltalite import DeltaLiteTable, DeltaLiteError, Snapshot, held_bytes
from .types import columns_to_schema, quote_ident, to_ddl


class ExecutionError(Exception):
    pass


# table property carrying a logical view's defining query (the matview
# analogue is MATVIEW_PROP in engine/matview.py); an entry with this
# property stores ZERO rows — reload_views re-expands the query instead
VIEW_PROP = "view_sql"

# static name sets of the lazily-registered introspection views (r14):
# must match the dict keys _system_tables() / _information_schema() build
_SYSTEM_TABLE_NAMES = (
    "table_versions",
    "dropped_tables",
    "table_files",
    "matviews",
    "search_indexes",
)
_INFO_SCHEMA_NAMES = (
    "tables",
    "columns",
    "table_constraints",
    "check_constraints",
)


def _mangle(schema: str, name: str) -> str:
    raw = f"__sfs__{schema}__{name}"
    if re.fullmatch(r"[A-Za-z0-9_]+", raw) and raw == raw.lower():
        return raw
    # Two reasons a raw name can't be the temp-view name verbatim:
    # special chars (ANSI-quoted, e.g. the reference's "new_./-~:schema")
    # aren't legal view names, and UPPERCASE letters would collapse with
    # a case-sibling under Spark's case-INSENSITIVE view namespace
    # ("Foo" vs "foo" are distinct quoted identifiers in the dialect).
    # Sanitize + hash so distinct raw names stay distinct either way.
    import hashlib

    safe = re.sub(r"[^A-Za-z0-9_]", "_", raw)
    return f"{safe}_{hashlib.md5(raw.encode()).hexdigest()[:8]}"


# temp-view name -> (schema, name) of every lazily built introspection frame
_LAZY_NAMES = {
    _mangle(schema, name): (schema, name)
    for schema, names in (
        (SYSTEM_SCHEMA, _SYSTEM_TABLE_NAMES),
        ("information_schema", _INFO_SCHEMA_NAMES),
    )
    for name in names
}

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")

# the statements _meta_query answers, each with what it reads (the query
# of EXPLAIN ANALYZE, else a table; Spark would parse DESCRIBE HISTORY t as
# column t of a table HISTORY)
_META = {
    "tables": r"show tables()",
    "history": r"describe history ([\w.]+)",
    "columns": r"(?:show columns (?:from|in)|describe(?: table)?) ([\w.]+)",
    "analyze": r"explain analyze (.+)",
    "detail": r"describe detail ([\w.]+)",
    "create": r"show create table ([\w.]+)",
}


def _meta_form(sql: str) -> tuple[str | None, str | None]:
    """(``_META`` kind, what it reads) of ``sql``, or (None, None)."""
    s = re.sub(r"\s+", " ", sql.strip()).rstrip(";")
    for kind, pattern in _META.items():
        if m := re.fullmatch(f"(?is){pattern}", s):
            return kind, m.group(1)
    return None, None


def _plain_lower(part: str) -> bool:
    """Whether a name part reads the same quoted or not."""
    return bool(_IDENT.fullmatch(part)) and part == part.lower()


def _key(parts, quoted) -> tuple:
    """A relation name as the dialect compares it: a quoted part exactly
    (unless plain lower case), an unquoted one folded to lower case."""
    return tuple(
        (p, True) if q and not _plain_lower(p) else (p.lower(), False)
        for p, q in zip(parts, quoted)
    )


class NameMap(dict):
    """``_key`` -> temp-view name of each spelling of a visible relation
    (``SeafowlContext._name_mapping``); ``cased``: the plain-charset
    search-schema table names by lower case (the quoted-case guard)."""

    def __init__(self) -> None:
        super().__init__()
        self.cased: dict[str, set[str]] = {}

    def add(self, parts, view: str) -> None:
        """Map each spelling of ``parts``: every part folded, and exact too
        where it needs quoting. Of two names that fold alike, the one
        already lower case keeps the folded spelling (PG-style)."""
        opts = [[(p.lower(), False)] + ([] if _plain_lower(p) else [(p, True)]) for p in parts]
        for key in itertools.product(*opts):
            if key not in self or all(p == k for p, (k, exact) in zip(parts, key) if not exact):
                self[key] = view


# One WHERE conjunct that Spark reliably offers to pushFilters AND
# sources/remote.filter_to_sql reliably ships: a plain column compared to a
# plain literal (no casts, no functions, no disjunction). Identifier may be
# alias-qualified and/or backticked; literal is numeric or single-quoted.
_LP_IDENT = r"(?:`?[A-Za-z_]\w*`?\.)?`?(?P<col>[A-Za-z_]\w*)`?"
_LP_LIT = r"(?:-?\d+(?:\.\d+)?|'(?:[^']|'')*')"
_LP_CONJUNCTS = [
    re.compile(
        rf"(?is)^\s*{_LP_IDENT}\s*(?:=|<>|!=|<=|>=|<|>)\s*(?P<lit>{_LP_LIT})\s*$"
    ),
    re.compile(rf"(?is)^\s*{_LP_IDENT}\s+IS\s+(?:NOT\s+)?NULL\s*$"),
    re.compile(
        rf"(?is)^\s*{_LP_IDENT}\s+IN\s*\(\s*(?P<lit>{_LP_LIT})"
        rf"(?:\s*,\s*{_LP_LIT})*\s*\)\s*$"
    ),
]


def _where_fully_shippable(pred: str, schema: T.StructType) -> bool:
    """True only when every top-level AND conjunct of ``pred`` is a shape
    the remote provably applies before LIMIT (r4 advice: pushing LIMIT
    under a partially-shippable WHERE returns too few rows because the
    remote caps before the residual Spark-side filter runs).

    Conservative by construction: any OR/NOT/BETWEEN/LIKE/function call,
    any parenthesized subexpression, or any literal whose type would make
    Spark wrap the COLUMN in a cast (a cast-wrapped column is never
    offered to pushFilters, so the conjunct silently stays Spark-side)
    fails the check and keeps the LIMIT Spark-side."""
    fields = {f.name.lower(): f.dataType for f in schema.fields}
    # BETWEEN embeds AND; reject before splitting on it
    if re.search(r"(?i)\bBETWEEN\b", pred):
        return False
    for conjunct in re.split(r"(?i)\s+AND\s+", pred):
        for pat in _LP_CONJUNCTS:
            m = pat.match(conjunct)
            if m:
                break
        else:
            return False
        dt = fields.get(m.group("col").lower())
        if dt is None:
            return False
        if m.groupdict().get("lit") is None:
            continue  # IS [NOT] NULL — shippable for any column type
        for lit in re.findall(_LP_LIT, conjunct):
            if lit.startswith("'"):
                if not isinstance(dt, T.StringType):
                    return False
            elif not isinstance(dt, T.NumericType):
                return False
    return True


@dataclass
class StatementResult:
    """Non-query statements return a one-row summary (count-style)."""

    operation: str
    rows_affected: int | None = None


@dataclass
class Reads:
    """What one statement reads (SeafowlContext._reads)."""

    # uuid -> (entry, head snapshot) of every catalog entry read, views
    # and the entries they read included
    tables: dict[str, tuple[TableEntry, Snapshot]] = field(default_factory=dict)
    # (table uuid, index, built_version, file_fp) of each search_index() read
    indexes: set[tuple[str, str, int, str]] = field(default_factory=set)
    # lower-cased name -> spec of each persisted function named
    functions: dict[str, dict] = field(default_factory=dict)
    # name -> spec of every persisted function of the database, as read
    # once for the statement
    catalog_functions: dict[str, dict] = field(default_factory=dict)
    system: bool = False  # reads a system.* or information_schema.* frame
    staging: bool = False  # reads a staging table (those carry no version)
    # the name resolution it was answered by (SeafowlContext._name_mapping)
    mapping: NameMap = field(default_factory=NameMap)
    named: list[tuple[TableEntry, str, str | None]] = field(default_factory=list)


class SeafowlContext:
    def __init__(
        self,
        spark: SparkSession,
        data_dir: str,
        catalog_path: str | None = None,
        allow_python_udfs: bool = True,
    ):
        self.spark = spark
        self.data_dir = data_dir.rstrip("/")
        os.makedirs(self.data_dir, exist_ok=True)
        self.catalog = Catalog(catalog_path or os.path.join(self.data_dir, "catalog.sqlite"))
        self.database = DEFAULT_DB
        self.search_schema = DEFAULT_SCHEMA
        # (entry, snapshot) by uuid of what the last reload bound: the
        # statement's reads, which scan pruning serves from
        self._bound_reads: dict[str, tuple[TableEntry, Snapshot]] = {}
        # whether the last reload bound every table the statement reads
        # on the driver, and it reads nothing else
        self._driver_only = False
        # python UDFs run arbitrary source via exec(); embedders get them by
        # default, network frontends must opt in explicitly (tools/serve.py)
        self.allow_python_udfs = allow_python_udfs
        # staging schema: session-scoped external tables (reference
        # src/provider.rs:25-54 keeps these in-memory, never persisted)
        self.staging: dict[str, DataFrame] = {}
        # source specs for staging tables that support time travel
        # (iceberg: re-resolvable at any snapshot)
        self.staging_specs: dict[str, tuple[str, str, dict]] = {}
        # system/information_schema names not yet built this reload
        self._lazy_views: dict = {}
        # whether this context's statement holds the ANSI dialect scope
        self._dialect_depth = 0
        # the last 256 parses by text, Python values only: a view's SQL,
        # or a GET's ETag and then its execution, parse once
        self._parse = functools.lru_cache(256)(self._parse_text)
        # Statement execution is serialized: the threaded frontends share one
        # context, and view refresh / search-path / catalog writes are shared
        # state. Heavy work stays parallel — execute() only ANALYZES (plans
        # are lazy); the result fetch (engine/results.py) runs outside the lock.
        self._exec_lock = threading.RLock()

    # ------------------------------------------------------------ resolution

    def set_database(self, name: str) -> None:
        if name not in self.catalog.databases():
            raise ExecutionError(f"database {name} does not exist")
        self.database = name

    def table_root(self, entry: TableEntry) -> str:
        return os.path.join(self.data_dir, entry.uuid)

    def _resolve(self, name: str | tuple[str, ...]) -> TableEntry:
        db, schema, table = (
            parser.parse_qualified(name) if isinstance(name, str) else parser.qualified(name)
        )
        db = db or self.database
        if schema == STAGING_SCHEMA:
            raise ExecutionError("staging tables are read-only external tables")
        schema = schema or self.search_schema
        entry = self.catalog.get_table(db, schema, table)
        if entry is None:
            raise ExecutionError(f"table {db}.{schema}.{table} does not exist")
        return entry

    def delta_table(self, name: str) -> DeltaLiteTable:
        return DeltaLiteTable(self.spark, self.table_root(self._resolve(name)))

    # ------------------------------------------------------------ view refresh

    def _system_tables(self) -> dict[str, DataFrame]:
        """system.table_versions / system.dropped_tables (A21; reference
        src/system_tables.rs:21-292)."""
        ent = {
            e.uuid: e for e in self.catalog.tables(self.database)
        }
        tv_rows = [
            Row(
                table_schema=ent[u].schema if u in ent else None,
                table_name=ent[u].name if u in ent else None,
                table_uuid=u,
                version=v,
                creation_time=ts // 1000,
                operation=op,
            )
            for (u, v, ts, op) in self.catalog.table_versions()
            if u in ent
        ]
        tv_schema = T.StructType.fromDDL(
            "table_schema string, table_name string, table_uuid string, "
            "version bigint, creation_time bigint, operation string"
        )
        dt_rows = [
            Row(uuid=u, database=d, schema=s, name=n, drop_time=ms // 1000)
            for (u, d, s, n, ms) in self.catalog.dropped_tables()
        ]
        dt_schema = T.StructType.fromDDL(
            "uuid string, database string, schema string, name string, drop_time bigint"
        )
        snaps = self._catalog_snapshots()
        tf_rows = []
        for e, snap in snaps:
            for fobj in snap.files if snap else ():
                tf_rows.append(
                    Row(
                        table_schema=e.schema,
                        table_name=e.name,
                        path=fobj.path,
                        rows=fobj.rows,
                        size_bytes=fobj.size_bytes,
                        bucket=fobj.bucket,
                        dv_deleted_rows=int((fobj.dv or {}).get("cardinality", 0)),
                    )
                )
        tf_schema = T.StructType.fromDDL(
            "table_schema string, table_name string, path string, "
            "rows bigint, size_bytes bigint, bucket int, dv_deleted_rows bigint"
        )
        from .matview import MATVIEW_PROP, MvSpec

        mv_rows = []
        for e, snap in snaps:
            raw = (snap.properties if snap else {}).get(MATVIEW_PROP)
            if not raw:
                continue
            spec = MvSpec.from_json(raw)
            try:
                b_entry = self._resolve(spec.base)
                if spec.base_uuid and b_entry.uuid != spec.base_uuid:
                    # the name points at a DIFFERENT table now (drop-and-
                    # recreate): same board state as dropped — REFRESH
                    # refuses it for the same reason
                    base_latest = None
                else:
                    base_latest = DeltaLiteTable(
                        self.spark, self.table_root(b_entry)
                    ).latest_version()
            except ExecutionError:
                base_latest = None  # base dropped: permanently stale
            # a changed dimension also makes the view stale (r9 joins)
            dims_stale = False
            for dname, dver in (spec.dim_versions or {}).items():
                try:
                    d_entry = self._resolve(dname)
                    d_uuid = (spec.dim_uuids or {}).get(dname)
                    if (d_uuid and d_entry.uuid != d_uuid) or DeltaLiteTable(
                        self.spark, self.table_root(d_entry)
                    ).latest_version() != dver:
                        dims_stale = True
                except ExecutionError:
                    dims_stale = True  # dim dropped
            mv_rows.append(
                Row(
                    view_schema=e.schema,
                    view_name=e.name,
                    base_table=spec.base,
                    group_columns=",".join(spec.group_cols),
                    base_version=spec.base_version,
                    base_latest_version=base_latest,
                    is_stale=(
                        base_latest is None
                        or base_latest > spec.base_version
                        or dims_stale
                    ),
                )
            )
        mv_schema = T.StructType.fromDDL(
            "view_schema string, view_name string, base_table string, "
            "group_columns string, base_version bigint, "
            "base_latest_version bigint, is_stale boolean"
        )
        # search indexes (r9): freshness by FILE-SET fingerprint, so
        # metadata-only commits never flag a fresh index stale
        from .search_index import load_specs as _si_load, snapshot_fp as _si_fp

        si_rows = []
        for e, snap in snaps:
            specs = _si_load(snap.properties if snap else {})
            if not specs:
                continue
            cur_fp = _si_fp(snap)
            for n, s in sorted(specs.items()):
                si_rows.append(
                    Row(
                        table_schema=e.schema,
                        table_name=e.name,
                        index_name=n,
                        method=s.method,
                        column_name=s.column,
                        built_version=s.built_version,
                        is_stale=s.file_fp != cur_fp,
                        # maintained by REFRESH (delete-aware diffs) and
                        # zeroed by rebuilds/OPTIMIZE — read from the
                        # spec, never the artifact (the board must stay
                        # metadata-only)
                        tombstones=int(s.params.get("tombstones", 0)),
                        # incremental write batches accumulated since the
                        # last build/OPTIMIZE (r11): each one adds small
                        # artifact/stats files readers must open — the
                        # auto-compaction trigger's other axis
                        fragments=int(s.params.get("fragments", 0)),
                        # why the last compaction ran (r12): the auto
                        # trigger with its numbers ("auto: fragments 17
                        # > 16") or "manual OPTIMIZE" — evidence for
                        # tuning auto_compact_fragments
                        last_compact_reason=s.params.get(
                            "last_compact_reason"
                        ),
                    )
                )
        si_schema = T.StructType.fromDDL(
            "table_schema string, table_name string, index_name string, "
            "method string, column_name string, built_version bigint, "
            "is_stale boolean, tombstones bigint, fragments bigint, "
            "last_compact_reason string"
        )
        return {
            "table_versions": self.spark.createDataFrame(tv_rows, tv_schema),
            "dropped_tables": self.spark.createDataFrame(dt_rows, dt_schema),
            # beyond the reference: per-file layout introspection (the
            # DESCRIBE DETAIL story — lets users see compaction/bucketing/
            # z-order effects without filesystem access)
            "table_files": self.spark.createDataFrame(tf_rows, tf_schema),
            # materialized-view freshness: which views lag their base
            "matviews": self.spark.createDataFrame(mv_rows, mv_schema),
            # search-index freshness (r9): which indexes lag their table
            "search_indexes": self.spark.createDataFrame(si_rows, si_schema),
        }

    def _catalog_snapshots(self) -> list[tuple[TableEntry, Snapshot | None]]:
        """Every entry of the database with its head snapshot, None where
        the table's log cannot be read (broken storage): the one path the
        system and information_schema frames read tables through."""
        out = []
        for e in self.catalog.tables(self.database):
            try:
                snap = DeltaLiteTable(self.spark, self.table_root(e)).snapshot()
            except (DeltaLiteError, OSError, ValueError):
                snap = None
            out.append((e, snap))
        return out

    def _information_schema(self) -> dict[str, DataFrame]:
        """information_schema.{tables,columns} over the metastore (A20; the
        reference inherits DataFusion's information_schema provider)."""
        snaps = self._catalog_snapshots()
        t_rows = [
            Row(
                table_catalog=e.database,
                table_schema=e.schema,
                table_name=e.name,
                table_type=(
                    "VIEW"
                    if snap and snap.properties.get(VIEW_PROP)
                    else "BASE TABLE"
                ),
            )
            for e, snap in snaps
        ]
        c_rows = []
        for e, snap in snaps:
            for pos, f in enumerate(snap.schema.fields if snap else (), 1):
                c_rows.append(
                    Row(
                        table_catalog=e.database,
                        table_schema=e.schema,
                        table_name=e.name,
                        column_name=f.name,
                        ordinal_position=pos,
                        data_type=f.dataType.simpleString(),
                        is_nullable="YES",
                    )
                )
        # CHECK constraints live in each table's snapshot properties (the
        # log is authoritative); surfacing them here gives the standard
        # table_constraints/check_constraints pair (constraint_type is
        # always CHECK — no PK/FK surface, same as the reference).
        tc_rows, cc_rows = [], []
        for e, snap in snaps:
            cons = (snap.properties if snap else {}).get("constraints") or {}
            for cname, expr in cons.items():
                tc_rows.append(
                    Row(
                        constraint_catalog=e.database,
                        constraint_schema=e.schema,
                        constraint_name=cname,
                        table_catalog=e.database,
                        table_schema=e.schema,
                        table_name=e.name,
                        constraint_type="CHECK",
                    )
                )
                cc_rows.append(
                    Row(
                        constraint_catalog=e.database,
                        constraint_schema=e.schema,
                        constraint_name=cname,
                        check_clause=expr,
                    )
                )
        return {
            "tables": self.spark.createDataFrame(
                t_rows,
                "table_catalog string, table_schema string, table_name string, table_type string",
            ),
            "columns": self.spark.createDataFrame(
                c_rows,
                "table_catalog string, table_schema string, table_name string, "
                "column_name string, ordinal_position int, data_type string, is_nullable string",
            ),
            "table_constraints": self.spark.createDataFrame(
                tc_rows,
                "constraint_catalog string, constraint_schema string, "
                "constraint_name string, table_catalog string, "
                "table_schema string, table_name string, constraint_type string",
            ),
            "check_constraints": self.spark.createDataFrame(
                cc_rows,
                "constraint_catalog string, constraint_schema string, "
                "constraint_name string, check_clause string",
            ),
        }

    def reload_views(self, sql: str) -> NameMap:
        """Bind what ``sql`` reads to temp views; returns the mapping
        relation name -> view-name used for query rewriting.

        What it reads is ``_reads(sql)``: the relations Spark's parse of
        it names, and the views among them with whatever they read,
        transitively. Each of
        those is checked against its table's head on every statement, so
        freshness is the reference's always-fresh reload_schema
        (src/context/mod.rs:89-112), writers in other processes
        included; the logs of tables the statement does not read are not
        read, and their names keep what they hold until a statement reads
        them. The Spark side is NOT redone per statement: the session's
        binding registry (engine/bindings.py) keys each name by what it
        holds, and to_df, temp-view registration and view re-analysis run
        only for names whose key moved — a table whose snapshot version
        moved, a view whose own version, rewritten SQL or any
        dependency's key moved. Names no longer visible (dropped tables,
        database switch, rename) are unbound.
        """
        reg = bindings.for_session(self.spark)
        with reg.lock:
            return self._reload_views(reg, self._reads(sql))

    def _name_mapping(
        self, entries: list[TableEntry]
    ) -> tuple[NameMap, list[tuple[TableEntry, str, str | None]]]:
        """Every spelling a statement may use for a visible relation,
        mapped to its temp-view name, plus each catalog entry's (mangled,
        plain) temp-view names. reload_views binds by it and _reads
        resolves by it, so the ETag sees exactly the names the rewrite
        resolves."""
        mapping = NameMap()
        named: list[tuple[TableEntry, str, str | None]] = []
        ident = _IDENT.fullmatch
        # case-fold sibling groups: when "Foo" and "foo" both exist, only
        # the exact-lowercase one may own the bare temp-view name (the
        # unquoted-reference fold target, PG-style); the sibling stays
        # reachable through its case-sensitive quoted forms
        lower_groups = Counter((x.schema, x.name.lower()) for x in entries)
        for e in entries:
            mangled = _mangle(e.schema, e.name)
            # a name that needs quoting (special characters, such as the
            # reference's "new_./-~:schema", or UPPERCASE letters: "Foo"
            # and "foo" are distinct case-sensitive identifiers in the
            # dialect, while Spark's temp-view namespace is
            # case-insensitive) gets the hash-suffixed mangle and resolves
            # only through its quoted spellings here
            mapping.add((e.schema, e.name), mangled)
            mapping.add((e.database, e.schema, e.name), mangled)
            if e.schema == self.search_schema:
                if ident(e.name):
                    mapping.cased.setdefault(e.name.lower(), set()).add(e.name)
                if not _plain_lower(e.name):
                    # an unqualified quoted reference resolves against the
                    # search schema, like unquoted names do
                    mapping[((e.name, True),)] = mangled
            plain = (
                e.name
                if e.schema == self.search_schema
                and ident(e.name)
                and not (
                    lower_groups[(e.schema, e.name.lower())] > 1
                    and e.name != e.name.lower()
                )
                else None
            )
            named.append((e, mangled, plain))
        for name in self.staging:
            mapping.add((STAGING_SCHEMA, name), name)
        for mangled, (schema, name) in _LAZY_NAMES.items():
            mapping.add((schema, name), mangled)
        return mapping, named

    def _target(self, rel: parser.Relation, mapping: NameMap) -> str | None:
        """The temp-view name ``rel`` reads: its spelling's in ``mapping``,
        else a one-part name as written (the temp-view lookup folds case),
        else None (a name Spark resolves itself). A quoted one-part name
        that only a case variant of a search-schema table matches is an
        error: quoted identifiers are case-sensitive in the dialect, and
        with only "Foo" in the catalog "foo" would resolve to it."""
        view = mapping.get(_key(rel.parts, rel.quoted))
        if view is not None or len(rel.parts) != 1:
            return view
        name = rel.parts[0]
        variants = mapping.cased.get(name.lower())
        if rel.quoted[0] and variants and _IDENT.fullmatch(name) and name not in variants:
            raise ExecutionError(
                f'relation "{name}" does not exist (quoted identifiers '
                f"are case-sensitive; did you mean one of "
                f"{sorted(variants)}?)"
            )
        return name

    def _targets(self, q: parser.QueryParse, mapping: NameMap) -> set[str]:
        """The lower-cased temp-view names the relations of ``q`` read."""
        return {t.lower() for r in q.relations if (t := self._target(r, mapping))}

    def _reload_views(self, reg: bindings.Bindings, reads: Reads) -> NameMap:
        self._bound_reads = reads.tables
        # logical views bind AFTER every table/staging/system name is in
        # the mapping (their defining queries may reference any of them)
        deferred_views: list[tuple[str, int, str, str, str | None]] = []
        # lower-cased names this reload keeps bound; reload-owned names
        # outside it are stale
        visible: set[str] = set()
        mapping = reads.mapping
        keys = {
            u: ("table", os.path.abspath(self.table_root(e)), snap.version)
            for u, (e, snap) in reads.tables.items()
            if (snap.properties or {}).get(VIEW_PROP) is None
        }
        # bytes a small table may hold on the driver (DeltaLiteTable.
        # to_df) without unbinding what this statement reads
        room = reg.read(keys.values())
        for e, mangled, plain in reads.named:
            names = [n for n in (mangled, plain) if n]
            visible.update(n.lower() for n in names)
            if e.uuid not in reads.tables:
                continue
            snap = reads.tables[e.uuid][1]
            root = os.path.abspath(self.table_root(e))
            view_sql = (snap.properties or {}).get(VIEW_PROP)
            if view_sql is not None:
                deferred_views.append((root, snap.version, view_sql, mangled, plain))
                continue
            key = keys[e.uuid]
            if any(reg.key(n) != key for n in names):
                df = DeltaLiteTable(self.spark, root).to_df(_snap=snap, _room=room)
                room -= held_bytes(df) or 0
                for n in names:
                    reg.bind(n, key, df)
        self._driver_only = (
            bool(keys)
            and not (reads.system or reads.staging or reads.indexes)
            and all(reg.held(k) for k in keys.values())
        )
        for name, df in self.staging.items():
            reg.bind(name, ("staging", id(df)), df)
            visible.add(name.lower())
        # system.* / information_schema.* frames are driver-built, and
        # few statements read them: their names are in the mapping, and a
        # frame builds when a parsed statement reads it
        # (_ensure_lazy_views), at the catalog state of its reload
        self._lazy_views = dict(_LAZY_NAMES)
        visible.update(self._lazy_views)
        # stale names go BEFORE any view expands: a renamed base table
        # leaves its old name bound (rename is catalog-only, the files
        # survive), and a view whose defining query references the old
        # name must break deterministically, not expand against it
        for name in reg.stale(visible):
            reg.drop(name)
        # persisted UDFs register before views expand, so a view over a
        # replaced function re-analyzes against the new definition
        funcs = self._register_functions(reads.catalog_functions)
        self._expand_views(reg, deferred_views, mapping, funcs)
        return mapping

    def _expand_views(self, reg, deferred_views, mapping, funcs) -> None:
        """Bind the logical views of one reload, each after the views it
        reads. A view re-analyzes only when its key moved: its own
        (root, version), its rewritten SQL, the session conf that analysis
        captures, the definitions of the functions it names, or the key of
        any name it reads (the relations of Spark's parse of its SQL — a
        view over a view invalidates transitively). A view reading
        a system table always re-analyzes (those frames rebuild per
        statement). Views that fail to expand are unbound and drop out of
        the mapping, so only statements REFERENCING them fail."""
        if not deferred_views:
            return
        conf = tuple(
            self.spark.conf.get(k)
            for k in ("spark.sql.session.timeZone", "spark.sql.ansi.enabled")
        )
        unfinished = {
            n.lower() for *_, m, p in deferred_views for n in (m, p) if n
        }
        # dependencies can form a cycle (a CTE spelled like another view
        # counts as a read of it): once no view can progress, the
        # remaining views are unbound and tried regardless of order, so
        # none can expand against a stale binding
        forced = False
        todo = deferred_views
        while todo:
            progressed = blocked = False
            still = []
            for item in todo:
                root, version, view_sql, mangled, plain = item
                names = [n for n in (mangled, plain) if n]
                own = {n.lower() for n in names}
                try:
                    view_rw = self._rewrite_names(view_sql, mapping)
                    vq = self._parse(view_sql)
                except Exception:  # noqa: BLE001 — fails the statements reading it
                    still.append(item)
                    continue
                deps = sorted(
                    self._targets(vq, mapping) & (reg.names() | unfinished) - own
                )
                if not forced and unfinished.intersection(deps):
                    blocked = True
                    still.append(item)
                    continue
                key = (
                    "view", root, version, view_rw, conf,
                    tuple((n, funcs[n]) for n in sorted(vq.functions & funcs.keys())),
                    tuple(
                        (d, object() if d in self._lazy_views else reg.key(d))
                        for d in deps
                    ),
                )
                if any(reg.key(n) != key for n in names):
                    try:
                        self._ensure_lazy_views(vq, mapping)
                        df = self.spark.sql(view_rw)
                    except Exception:
                        still.append(item)
                        continue
                    for n in names:
                        reg.bind(n, key, df)
                unfinished -= own
                progressed = True
            todo = still
            if not progressed:
                if forced or not blocked:
                    break
                forced = True
                for *_, mangled, plain in todo:
                    for n in (mangled, plain):
                        if n:
                            reg.drop(n)
        for *_, mangled, plain in todo:
            # broken view (e.g. a dropped base table)
            for n in (mangled, plain):
                if n:
                    reg.drop(n)
            for k in [k for k, v in mapping.items() if v == mangled]:
                del mapping[k]

    def _ensure_lazy_views(self, q: parser.QueryParse, mapping: NameMap) -> None:
        """Materialize any lazily-registered system/information_schema
        temp views the parsed query ``q`` reads (r14 — see reload_views);
        builds happen at most once per reload, at the same catalog state
        an eager per-statement build saw."""
        lazy = self._lazy_views
        hits = self._targets(q, mapping) & lazy.keys()
        if not hits:
            return
        sys_frames = info_frames = None
        for mangled in hits:
            schema_name, name = lazy.pop(mangled)
            if schema_name == SYSTEM_SCHEMA:
                if sys_frames is None:
                    sys_frames = self._system_tables()
                df = sys_frames[name]
            else:
                if info_frames is None:
                    info_frames = self._information_schema()
                df = info_frames[name]
            bindings.for_session(self.spark).bind(
                mangled, ("system", object()), df
            )

    def _rewrite_names(self, sql: str, mapping: NameMap, edits=()) -> str:
        """``sql`` with each relation ``mapping`` resolves spliced to its
        temp view at the span Spark's parse gave it, and with ``edits``
        (``((start, end), text)``) applied, which take what they span."""
        edits = list(edits)
        for rel in self._parse(sql).relations:
            view = self._target(rel, mapping)
            if view is None or rel.parts == (view,):
                continue
            if not any(a <= rel.span[0] < b for (a, b), _ in edits):
                edits.append((rel.span, f"`{view}`"))
        return parser.splice(sql, edits)

    def _parse_text(self, sql: str, spans: bool = False) -> parser.QueryParse:
        """``sql`` parsed by the session's parser (``parser.parse_query``)
        in the engine's dialect; ``self._parse`` caches it by text."""
        with self._session_lock(), self._ansi_dialect():
            return parser.parse_query(self.spark, sql, spans)

    # ------------------------------------------------------------ functions

    def _register_functions(self, funcs: dict[str, dict]) -> dict[str, dict]:
        """Re-register the persisted UDFs ``funcs`` (the statement's
        ``Reads.catalog_functions``) on the session (reference re-registers
        from catalog in reload_schema, src/context/mod.rs:101-112); returns
        their specs by lower-cased name."""
        from .udf import UdfError, register_udf

        for name, spec in funcs.items():
            try:
                register_udf(self.spark, name, spec, allow_python=self.allow_python_udfs)
            except UdfError:
                # persisted function whose language is disabled/unavailable in
                # this session: skip registration; using it errors at analysis
                continue
        return {name.lower(): spec for name, spec in funcs.items()}

    # ------------------------------------------------------------ execution

    def execute(self, sql: str, search_path: str | None = None) -> DataFrame | None:
        """Execute one or more ;-separated statements; only the last may be
        a read (reference frontend/http.rs:174-204); returns its DataFrame.

        ``search_path`` scopes unqualified names for this call only (the
        Flight frontend's per-command search_path); it is applied under the
        execution lock so concurrent callers never see each other's value.
        """
        with self._exec_lock:
            old = self.search_schema
            try:
                if search_path:
                    self.search_schema = search_path
                stmts = parser.split_statements(sql)
                if not stmts:
                    raise ExecutionError("empty statement")
                for s in stmts[:-1]:
                    if parser.is_read_only(s):
                        raise ExecutionError(
                            "only the last statement in a multi-statement request may be a query"
                        )
                    self.execute_statement(s)
                return self.execute_statement(stmts[-1])
            finally:
                self.search_schema = old

    @contextmanager
    def _ansi_dialect(self):
        """Scoped spark.sql.ansi.doubleQuotedIdentifiers=true. The engine
        speaks the reference's ANSI dialect, where double quotes delimit
        IDENTIFIERS ("date field"), not strings (query.rs:163-280 queries
        a quoted column). Spark's default silently parses "x" as the
        string 'x' — set/restore under the execution lock, so embedders
        using the same session outside the engine keep Spark defaults.
        A scope inside another (a parse inside a statement) sets nothing."""
        if self._dialect_depth:
            yield
            return
        conf_key = "spark.sql.ansi.doubleQuotedIdentifiers"
        prev = self.spark.conf.get(conf_key, "false")
        self._dialect_depth = 1
        try:
            self.spark.conf.set(conf_key, "true")
            yield
        finally:
            self._dialect_depth = 0
            self.spark.conf.set(conf_key, prev)

    def execute_statement(self, sql: str) -> DataFrame | None:
        with self._exec_lock, self._session_lock():
            stmt = parser.parse_statement(sql)
            handler = getattr(self, f"_exec_{stmt.kind}", None)
            if handler is None:
                raise ExecutionError(f"no handler for {stmt.kind}")
            with self._ansi_dialect():
                return handler(stmt)

    def query(self, sql: str) -> DataFrame:
        # same dialect + lock as execute(): "x" must parse as an
        # identifier through BOTH entry points, not just execute()
        with self._exec_lock, self._session_lock(), self._ansi_dialect():
            return self._exec_query(parser.Statement("query", sql))

    def _session_lock(self):
        """Statements on one SparkSession run one at a time, whichever
        context runs them: the temp-view bindings (engine/bindings.py)
        and the scoped ANSI conf are session state every context on it
        shares. Taken after ``_exec_lock``, never before."""
        return bindings.for_session(self.spark).lock

    # ---- reads

    def _exec_query(self, stmt) -> DataFrame:
        meta = self._meta_query(stmt.text)
        if meta is not None:
            return meta
        sql = stmt.text
        # per-statement temp views (time travels, search calls, a pruned
        # scan): spark.sql analyzes eagerly, so the returned plan holds
        # resolved relations and they can be dropped once it returns
        aliases: list[str] = []
        try:
            mapping = self.reload_views(sql)
            q = self._parse(sql)
            edits = self._bind_travels(q, aliases)
            edits += self._expand_search_index_calls(q, aliases)
            edits += self._maybe_prune_scans(q, mapping, aliases)
            rewritten = self._rewrite_names(sql, mapping, edits)
            self._ensure_lazy_views(q, mapping)
            df = self.spark.sql(rewritten)
            if self._driver_only and not aliases:
                results.driver_held(df)
            return df
        finally:
            for alias in aliases:
                self.spark.catalog.dropTempView(alias)

    def _bind_alias(self, prefix: str, df: DataFrame, aliases: list[str]) -> str:
        """Bind ``df`` under a fresh per-statement temp view, recorded in
        ``aliases`` for the caller to drop."""
        alias = f"{prefix}_{len(aliases)}_{uuid.uuid4().hex[:8]}"
        df.createOrReplaceTempView(alias)
        aliases.append(alias)
        return alias

    def _bind_travels(self, q: parser.QueryParse, aliases: list[str]) -> list:
        """Bind the snapshot each time travel of ``q`` reads (reference
        src/version.rs:28-106 registers ``name:version`` aliases alike) and
        return the splices that read it, re-exposing the table's own name
        as the qualifier unless the query aliases the relation."""
        edits = []
        for tt in parser.extract_time_travel(q):
            parts, ts = tt.relation.parts, tt.spec
            _db, schema_name, tbl = parser.qualified(parts)
            if schema_name == STAGING_SCHEMA:
                df = self._staging_travel(tbl, ts)
            else:
                t = DeltaLiteTable(self.spark, self.table_root(self._resolve(parts)))
                if (t.snapshot().properties or {}).get(VIEW_PROP):
                    raise ExecutionError(
                        "time travel over a view is not supported (the "
                        "view stores no data; travel its base tables)"
                    )
                if ts.startswith("version="):
                    df = t.to_df(version=int(ts[len("version="):]))
                else:
                    df = t.to_df(timestamp=ts)
            alias = self._bind_alias("__sfs_tt", df, aliases)
            expose = "" if tt.aliased else f" AS {quote_ident(parts[-1])}"
            edits.append((tt.span, f"`{alias}`{expose}"))
        return edits

    def _maybe_prune_scans(self, q: parser.QueryParse, mapping: NameMap, aliases: list[str]) -> list:
        """Stats-level scan pruning (the reference gets it from
        DataFusion's PruningPredicate over its providers): engine tables
        and delta staging tables prune by per-file stats, iceberg by
        manifest column bounds, so whole files are skipped driver-side
        before Spark plans the scan.

        Only fires for the provably-safe shape of ``parser.Scan``: one
        SELECT over one table with a WHERE, no set operation, subquery or
        join. The pruned frame binds under a per-statement alias (in
        ``aliases``, for the caller to drop) and the returned splice puts
        it in place of the relation; the shared name keeps its binding.
        Pruning is conservative (engine/pruning.py). An engine table whose
        every file survives reads the full view, and so does an unbucketed
        one that ``DeltaLiteTable.one_partition`` reads as one partition:
        its one task opens each small footer anyway, while a pruned frame
        costs a relation and a temp view per statement."""
        s = q.scan
        name = s and self._target(s.relation, mapping)
        try:
            df = name and self._pruned_frame(q, name)
            if df is None:
                return []
            span = self._parse(q.sql, True).scan.spans[0]
            alias, edit = self._bind_scan_alias(span, s.alias is not None, name, df)
        except Exception:  # best-effort: the full view is already registered
            return []
        aliases.append(alias)
        return [edit]

    def _pruned_frame(self, q: parser.QueryParse, name: str) -> DataFrame | None:
        """The frame ``_maybe_prune_scans`` binds for ``q.scan``'s relation,
        the temp view ``name``, or None to read the full view."""
        s = q.scan
        staging = {n.lower(): n for n in self.staging_specs}.get(name.lower())
        if staging is not None:
            fmt, location, options = self.staging_specs[staging]
            if fmt == "table":
                # remote tables: re-push a bare trailing LIMIT into the
                # remote SQL. Projection-only select list, no GROUP/ORDER
                # — a pushed LIMIT is an over-fetch cap, semantics-
                # preserving, but ONLY when the remote applies the FULL
                # WHERE before capping: Spark's pushFilters offers just the
                # shippable conjuncts (disjunctions and cast-wrapped
                # predicates stay Spark-side), and a remote LIMIT applied
                # before a residual Spark-side filter can silently drop
                # matching rows. So require no WHERE at all, or a WHERE
                # whose every top-level conjunct is provably shippable
                # against the table's schema (_where_fully_shippable).
                if s.limit is None or s.where and not _where_fully_shippable(
                    self._scan_where(q), self.staging[staging].schema
                ):
                    return None
                from ..sources.external import read_external

                return read_external(
                    self.spark, "table", location, options={**options, "limit": str(s.limit)}
                )
            if fmt == "iceberg" and s.where:
                from ..sources.iceberg import read_iceberg

                return read_iceberg(self.spark, location, options, predicate_sql=self._scan_where(q))
            if fmt in ("delta", "deltatable") and s.where:
                from ..sources.delta_log import read_any_delta

                return read_any_delta(self.spark, location, predicate_sql=self._scan_where(q))
            return None
        for e, snap in self._bound_reads.values():
            # engine-native tables prune by the footer stats their adds
            # already carry — the read-side twin of DML pruning
            if not s.where or name.lower() not in (
                _mangle(e.schema, e.name).lower(),
                e.schema == self.search_schema and e.name.lower(),
            ):
                continue
            t = DeltaLiteTable(self.spark, self.table_root(e))
            if (snap.properties or {}).get(VIEW_PROP) is not None or (
                t.one_partition(snap.files) and all(f.bucket is None for f in snap.files)
            ):
                return None  # a logical view has no files; one task reads a small table
            files = t.pruned_files(snap, self._scan_where(q))
            # nothing to skip: the bound view serves it
            return t.to_df(_snap=snap, _files=files) if len(files) < len(snap.files) else None
        return None

    def _scan_where(self, q: parser.QueryParse) -> str:
        """The WHERE text of ``q.scan``, without the column qualifiers
        that name its relation (the stats evaluators read bare names)."""
        s = self._parse(q.sql, True).scan
        (r0, r1), (c0, c1) = s.spans
        pred = q.sql[c0:c1]
        for name in filter(None, (s.alias, q.sql[r0:r1], s.relation.parts[-1])):
            pred = re.sub(rf"(?<![\w.`])`?{re.escape(name)}`?\.", "", pred)
        return pred

    @staticmethod
    def _bind_scan_alias(span, aliased: bool, name: str, df) -> tuple[str, tuple]:
        """Bind ``df`` under a fresh alias; returns it and its splice over
        the relation at ``span``, which keeps its view name as an alias
        unless the query gives it one."""
        alias = f"__sfs_scan_{uuid.uuid4().hex[:12]}"
        df.createOrReplaceTempView(alias)
        return alias, (span, f"`{alias}`" if aliased else f"`{alias}` AS `{name}`")

    def _staging_travel(self, name: str, ts: str) -> DataFrame:
        """Time travel over an iceberg staging table: FOR TIMESTAMP AS OF
        maps to the snapshot-log's as-of resolution, FOR VERSION AS OF to a
        snapshot id — the same unified travel syntax engine tables get
        (beyond the reference, whose iceberg reads are pinned at CREATE);
        delta externals travel through the deltalite snapshot log."""
        spec = self.staging_specs.get(name)
        if spec is None:
            raise ExecutionError(
                f"time travel on staging.{name} requires an iceberg or delta "
                "external table"
            )
        fmt, location, options = spec
        if fmt == "table":
            raise ExecutionError(
                f"time travel is not supported on remote table staging.{name}"
            )
        if fmt in ("delta", "deltatable"):
            from ..sources.delta_log import read_any_delta

            if ts.startswith("version="):
                return read_any_delta(
                    self.spark, location, version=int(ts[len("version="):])
                )
            return read_any_delta(self.spark, location, timestamp=ts)
        from ..sources.external import read_external

        opts = {
            k: v for k, v in options.items()
            if k not in ("snapshot-id", "as-of-timestamp")
        }
        if ts.startswith("version="):
            opts["snapshot-id"] = ts[len("version="):]
        else:
            import datetime as _dt

            dt = _dt.datetime.fromisoformat(ts.replace("Z", "+00:00"))
            if dt.tzinfo is None:
                dt = dt.replace(tzinfo=_dt.timezone.utc)
            opts["as-of-timestamp"] = str(int(dt.timestamp() * 1000))
        return read_external(self.spark, fmt, location, options=opts)

    def _meta_query(self, sql: str) -> DataFrame | None:
        """SHOW TABLES / SHOW COLUMNS / DESCRIBE against our catalog (A20;
        the reference delegates these to DataFusion's information_schema,
        logical.rs:109-117 — ours answer from the metastore)."""
        kind, arg = _meta_form(sql)
        if kind == "tables":
            rows = [
                Row(table_schema=e.schema, table_name=e.name)
                for e in self.catalog.tables(self.database)
            ] + [
                Row(table_schema=SYSTEM_SCHEMA, table_name=n)
                for n in ("table_versions", "dropped_tables", "table_files")
            ] + [Row(table_schema=STAGING_SCHEMA, table_name=n) for n in self.staging]
            return self.spark.createDataFrame(
                rows, "table_schema string, table_name string"
            )
        if kind == "history":
            # Delta-parity commit history (our extension; complements
            # system.table_versions with per-commit add/remove counts)
            t = self.delta_table(arg)
            rows = [
                Row(
                    version=c.version,
                    timestamp_ms=c.timestamp_ms,
                    operation=c.operation,
                    n_adds=len(c.adds),
                    n_removes=len(c.removes),
                )
                for c in t.history()
            ]
            return self.spark.createDataFrame(
                rows,
                "version long, timestamp_ms long, operation string, "
                "n_adds long, n_removes long",
            )
        if kind == "columns":
            rows = [
                Row(column_name=f.name, data_type=f.dataType.simpleString(), nullable=True)
                for f in self.delta_table(arg).schema().fields
            ]
            return self.spark.createDataFrame(
                rows, "column_name string, data_type string, nullable boolean"
            )
        if kind == "analyze":
            # DataFusion-dialect parity (the reference passes EXPLAIN
            # ANALYZE through to DataFusion): EXECUTE the query, then
            # report the FINAL plan — under AQE that is the re-planned
            # post-execution plan (coalesced shuffles, demoted joins),
            # which plain EXPLAIN cannot show — plus row/time totals.
            import time as _time

            inner = self._exec_query(parser.Statement("query", arg))
            qe = inner._jdf.queryExecution()
            t0 = _time.perf_counter()
            # execute the query's OWN physical plan (an RDD count — no
            # driver-side data collect): a separate .count() would build
            # a new column-pruned Dataset and leave this plan's AQE
            # unfinalized (isFinalPlan=false — the initial plan, which is
            # exactly what plain EXPLAIN already shows)
            n_rows = qe.executedPlan().execute().count()
            elapsed_ms = int((_time.perf_counter() - t0) * 1000)
            plan = qe.executedPlan().toString()
            lines = [
                f"rows: {n_rows}",
                f"elapsed_ms: {elapsed_ms}",
                "-- final adaptive plan --",
                *plan.rstrip("\n").split("\n"),
            ]
            return self.spark.createDataFrame(
                [Row(plan_line=ln) for ln in lines], "plan_line string"
            )
        if kind == "detail":
            # Delta-parity one-row table summary from the live snapshot
            entry = self._resolve(arg)
            t = DeltaLiteTable(self.spark, self.table_root(entry))
            snap = t.snapshot()
            rows = [
                Row(
                    format="deltalite",
                    name=f"{entry.schema}.{entry.name}",
                    location=self.table_root(entry),
                    version=snap.version,
                    num_files=len(snap.files),
                    size_bytes=sum(f.size_bytes for f in snap.files),
                    num_rows=snap.num_rows,
                    num_deletion_vectors=sum(1 for f in snap.files if f.dv),
                    properties=json.dumps(snap.properties, sort_keys=True),
                )
            ]
            return self.spark.createDataFrame(
                rows,
                "format string, name string, location string, version long, "
                "num_files long, size_bytes long, num_rows long, "
                "num_deletion_vectors long, properties string",
            )
        if kind == "create":
            entry = self._resolve(arg)
            t = DeltaLiteTable(self.spark, self.table_root(entry))
            snap = t.snapshot()
            from .matview import MATVIEW_PROP, MvSpec

            raw = (snap.properties or {}).get(MATVIEW_PROP)
            if raw:
                # a materialized view re-creates as its defining query,
                # not as the materialized table shape
                spec = MvSpec.from_json(raw)
                ddl = (
                    f"CREATE MATERIALIZED VIEW {entry.schema}.{entry.name} "
                    f"AS {spec.query}"
                )
                return self.spark.createDataFrame(
                    [Row(create_statement=ddl)], "create_statement string"
                )
            vsql = (snap.properties or {}).get(VIEW_PROP)
            if vsql:
                ddl = f"CREATE VIEW {entry.schema}.{entry.name} AS {vsql}"
                return self.spark.createDataFrame(
                    [Row(create_statement=ddl)], "create_statement string"
                )
            schema = snap.schema
            cols = ",\n  ".join(
                f"{f.name} {f.dataType.simpleString().upper()}"
                for f in schema.fields
            )
            ddl = f"CREATE TABLE {entry.schema}.{entry.name} (\n  {cols}\n)"
            from .search_index import INDEX_PROP, load_specs

            props = {
                k: v
                for k, v in (snap.properties or {}).items()
                if k not in ("constraints", INDEX_PROP)
            }
            if props:
                kv = ", ".join(
                    f"'{k}' = '{','.join(v) if isinstance(v, list) else v}'"
                    for k, v in sorted(props.items())
                )
                ddl += f"\nWITH ({kv})"
            qual = f"{entry.schema}.{entry.name}"
            for name, expr in (snap.properties or {}).get(
                "constraints", {}
            ).items():
                # constraints re-apply as their own executable statements
                # (CREATE TABLE has no inline CHECK syntax here)
                ddl += f";\nALTER TABLE {qual} ADD CONSTRAINT {name} CHECK ({expr})"
            for iname, ispec in sorted(
                load_specs(snap.properties or {}).items()
            ):
                # search indexes re-create as their own DDL (the artifact
                # rebuilds; the JSON spec prop is internal bookkeeping);
                # single quotes in values double so the DDL re-parses.
                # Runtime observability stats are NOT user params — the
                # re-executed CREATE would persist them as stale config
                # (the build recomputes the real values)
                _runtime = {
                    "last_rebuild_reason",
                    "last_batch_resid_norm",
                    "baseline_resid_norm",
                    "tombstones",
                    "epoch",
                    "fragments",
                }
                with_items = [
                    f"""'{k}' = '{str(v).replace("'", "''")}'"""
                    for k, v in sorted(ispec.params.items())
                    if k not in _runtime
                ]
                ddl += (
                    f";\nCREATE SEARCH INDEX {iname} ON {qual} "
                    f"({ispec.column}) USING {ispec.method}"
                    + (f" WITH ({', '.join(with_items)})" if with_items else "")
                )
            return self.spark.createDataFrame(
                [Row(create_statement=ddl)], "create_statement string"
            )
        return None

    # ---- DDL

    def _exec_create_database(self, stmt) -> None:
        self.catalog.create_database(stmt.name, stmt.if_not_exists)

    def _exec_create_schema(self, stmt) -> None:
        db, _, name = parser.parse_qualified(stmt.name)
        self.catalog.create_schema(db or self.database, name, stmt.if_not_exists)

    def _guard_staging(self, schema: str | None) -> None:
        """The staging schema is session-scoped and write-protected — the
        reference's exact guard (ddl.rs:488-507 asserts this wording)."""
        if schema == STAGING_SCHEMA:
            raise ExecutionError(
                "The staging schema can only be referenced via CREATE EXTERNAL TABLE"
            )

    def _exec_create_table(self, stmt) -> None:
        db, schema, name = parser.parse_qualified(stmt.name)
        self._guard_staging(schema)
        db, schema = db or self.database, schema or self.search_schema
        if stmt.if_not_exists and self.catalog.get_table(db, schema, name):
            return
        spark_schema = columns_to_schema(stmt.columns)
        entry = self.catalog.create_table(
            db, schema, name,
            to_ddl(spark_schema.fields),
        )
        t = DeltaLiteTable.create(
            self.spark,
            self.table_root(entry),
            spark_schema,
            properties=stmt.fields.get("properties") or None,
        )
        self._record(entry, t)

    def _exec_ctas(self, stmt) -> None:
        db, schema, name = parser.parse_qualified(stmt.name)
        db, schema = db or self.database, schema or self.search_schema
        if stmt.if_not_exists and self.catalog.get_table(db, schema, name):
            return
        df = self._exec_query(parser.Statement("query", stmt.query))
        entry = self.catalog.create_table(
            db, schema, name,
            to_ddl(df.schema.fields),
        )
        t = DeltaLiteTable.create(self.spark, self.table_root(entry), df.schema)
        t.append(df, operation="CTAS")
        self._record(entry, t)

    def _exec_shallow_clone(self, stmt) -> None:
        """CREATE TABLE x SHALLOW CLONE y [FOR VERSION/TIMESTAMP AS OF]:
        a metadata-only copy (Delta-parity, beyond the reference) — the
        new table's first commit references the SOURCE's data files (and
        deletion vectors) by absolute path; zero bytes move, whatever
        the source size. The clone then lives its own life: DML rewrites
        land under the clone's root, its vacuum never touches borrowed
        files (deltalite.vacuum skips absolute remove paths), and the
        documented Delta caveat applies — vacuuming the SOURCE can
        orphan clone references."""
        from .deltalite import AddFile
        from .matview import MATVIEW_PROP

        db, schema, name = parser.parse_qualified(stmt.name)
        self._guard_staging(schema)
        db, schema = db or self.database, schema or self.search_schema
        if stmt.if_not_exists and self.catalog.get_table(db, schema, name):
            return
        src_entry = self._resolve(stmt.source)
        src = DeltaLiteTable(self.spark, self.table_root(src_entry))
        snap = src.snapshot(
            version=stmt.fields.get("version"),
            timestamp=stmt.fields.get("timestamp"),
        )
        if (snap.properties or {}).get(VIEW_PROP) is not None:
            # a view stores no files: the "clone" would inherit VIEW_PROP
            # and track the LIVE base tables, silently ignoring any
            # AS OF clause — refuse; CTAS materializes a snapshot
            raise ExecutionError(
                "SHALLOW CLONE of a view is not supported (a view has no "
                "data files; use CREATE TABLE ... AS SELECT to "
                "materialize it)"
            )

        def _absolute(p: str) -> str:
            return p if os.path.isabs(p) else os.path.join(src.root, p)

        adds = []
        for f in snap.files:
            dv = dict(f.dv, path=_absolute(f.dv["path"])) if f.dv else None
            adds.append(
                AddFile(
                    _absolute(f.path), f.rows, f.size_bytes, f.stats,
                    f.bucket, dv, f.blooms,
                )
            )
        # properties carry over (bucketing/blooms/constraints keep
        # working); a clone of a materialized view is a PLAIN table —
        # its contents are now independent data, not a derived view, and
        # SEARCH INDEXES stay behind too (the artifact lives under the
        # SOURCE's root — an inherited spec would point at files the
        # clone does not own; re-create the index on the clone instead).
        # List-valued props re-stringify: create() re-normalizes them.
        from .search_index import INDEX_PROP as _SI_PROP

        props = {
            k: (",".join(v) if isinstance(v, list) else v)
            for k, v in (snap.properties or {}).items()
            if k not in (MATVIEW_PROP, _SI_PROP)
        }
        entry = self.catalog.create_table(db, schema, name, snap.schema_ddl)
        t = DeltaLiteTable.create(
            self.spark,
            self.table_root(entry),
            snap.schema,
            operation="SHALLOW CLONE",
            properties=props or None,
        )
        t._next_commit("CLONE FILES", adds, [])
        self._record(entry, t)

    def _exec_create_matview(self, stmt) -> None:
        """CREATE MATERIALIZED VIEW: materialize the (restricted) group
        aggregate into a deltalite table and record the incremental spec
        in its properties (engine/matview.py — beyond the reference,
        which has no view machinery)."""
        from .matview import MATVIEW_PROP, MvSpec, parse_mv_query, query_at_version

        db, schema, name = parser.parse_qualified(stmt.name)
        self._guard_staging(schema)
        db, schema = db or self.database, schema or self.search_schema
        if stmt.if_not_exists and self.catalog.get_table(db, schema, name):
            return
        shape = parse_mv_query(stmt.query)
        base, group_cols = shape.base, shape.group_cols
        base_entry = self._resolve(base)  # must be a managed table
        base_t = DeltaLiteTable(self.spark, self.table_root(base_entry))
        if (base_t.snapshot().properties or {}).get(VIEW_PROP):
            raise ExecutionError(
                "materialized views must be defined over a base table, "
                "not a logical view (its file-diff refresh needs stored "
                "data)"
            )
        # joined dimensions must also be managed tables (their versions
        # gate the incremental path: any dim change -> full refresh)
        dim_versions: dict[str, int] = {}
        dim_uuids: dict[str, str] = {}
        for dim in shape.dims:
            dim_entry = self._resolve(dim)
            dim_t = DeltaLiteTable(self.spark, self.table_root(dim_entry))
            if (dim_t.snapshot().properties or {}).get(VIEW_PROP):
                raise ExecutionError(
                    "materialized views may only join managed tables "
                    f"({dim} is a logical view — version tracking needs "
                    "stored data)"
                )
            dim_versions[dim] = dim_t.latest_version()
            dim_uuids[dim] = dim_entry.uuid
        # a bare GROUP BY name that matched a select ALIAS is resolved
        # by Spark against the BASE/DIM columns FIRST — if such a column
        # exists, the engine's parsed expression and Spark's grouping
        # would disagree (and the collapsed output keys could not be a
        # merge PK). Reject the shadow up front, data-independent.
        if any(shape.group_via_alias or []):
            avail: set[str] = set()
            for ref in [base, *shape.dims]:
                avail |= {
                    n.lower() for n in self.delta_table(ref).schema().names
                }
            for c, flag in zip(group_cols, shape.group_via_alias):
                if flag and c.lower() in avail:
                    raise ExecutionError(
                        f"GROUP BY {c} is ambiguous: {c!r} is both a "
                        "select alias and a base/dimension column, and "
                        "Spark groups by the COLUMN — rename the alias "
                        "or group by the full expression"
                    )
        base_version = base_t.latest_version()
        pinned = query_at_version(stmt.query, base, base_version)
        # one execution feeds BOTH the uniqueness check and the
        # materialize below (the refresh path's recompute pattern)
        df = self._exec_query(
            parser.Statement("query", pinned)
        ).localCheckpoint()
        missing = [c for c in group_cols if c not in df.columns]
        if missing:
            raise ExecutionError(
                f"group column(s) {missing} not in the view output "
                f"{df.columns} (group columns must pass through, bare "
                "or as the GROUP BY expression's alias)"
            )
        from pyspark.sql import functions as F

        # the group output columns are the MERGE PK: they must uniquely
        # key the materialized rows — the backstop behind the
        # alias-shadow rejection above (any remaining divergence between
        # the parsed shape and Spark's GROUP BY resolution surfaces as a
        # duplicate key here, at CREATE, never as a corrupted refresh).
        # Aggregate under a reserved name: a group column named `count`
        # must not collide with the check's own output.
        dup = (
            df.groupBy(*group_cols)
            .agg(F.count(F.lit(1)).alias("__mv_cnt"))
            .where(F.col("__mv_cnt") > 1)
            .limit(1)
            .count()
        )
        if dup:
            raise ExecutionError(
                f"group column(s) {group_cols} do not uniquely key the "
                "view output — rename the alias so it does not shadow a "
                "grouped base column"
            )
        spec = MvSpec(
            base, group_cols, stmt.query, base_version,
            dim_versions or None,
            shape.group_exprs,
            base_entry.uuid,
            dim_uuids or None,
        )
        entry = self.catalog.create_table(
            db, schema, name,
            to_ddl(df.schema.fields),
        )
        t = DeltaLiteTable.create(
            self.spark,
            self.table_root(entry),
            df.schema,
            operation="CREATE MATERIALIZED VIEW",
            properties={MATVIEW_PROP: spec.to_json()},
        )
        t.append(df, operation="MATERIALIZE")
        self._record(entry, t)

    def _matview_spec(self, t: DeltaLiteTable):
        from .matview import MATVIEW_PROP, MvSpec

        raw = t.snapshot().properties.get(MATVIEW_PROP)
        return MvSpec.from_json(raw) if raw else None

    def _guard_matview(self, t: DeltaLiteTable, what: str) -> None:
        from .matview import MATVIEW_PROP

        props = t.snapshot().properties or {}
        if props.get(MATVIEW_PROP) is not None:
            raise ExecutionError(
                f"{what} is not allowed on a materialized view "
                "(its contents are derived; run REFRESH MATERIALIZED VIEW)"
            )
        self._guard_view_props(props, what)

    def _guard_view_props(self, props: dict, what: str) -> None:
        if (props or {}).get(VIEW_PROP) is not None:
            raise ExecutionError(
                f"{what} is not allowed on a view (it stores no rows; "
                "apply it to the base tables instead)"
            )

    def _guard_view(self, t: DeltaLiteTable, what: str) -> None:
        self._guard_view_props(t.snapshot().properties or {}, what)

    def _exec_create_view(self, stmt) -> None:
        """CREATE [OR REPLACE] VIEW: a logical view — the defining query
        is stored in the catalog (the entry holds ZERO data files) and
        re-expanded against the live catalog by every statement that
        reads it, so reads always see the CURRENT base tables with no
        refresh step (contrast _exec_create_matview). Beyond the reference, which
        rejects CreateView outright (src/context/physical.rs:573-575,
        "Creating views is currently unsupported!").

        Views may reference tables and previously created views."""
        db, schema, name = parser.parse_qualified(stmt.name)
        self._guard_staging(schema)
        db, schema = db or self.database, schema or self.search_schema
        q = self._parse(stmt.query)
        mapping, _named = self._name_mapping(self.catalog.tables(self.database))
        reads = self._targets(q, mapping)
        # staging tables are session-scoped: a persistent view over one
        # would break on the next session (a staging.* name is refused
        # whether or not it exists)
        if reads & {n.lower() for n in self.staging} or any(
            len(r.parts) > 1 and r.parts[-2].lower() == STAGING_SCHEMA for r in q.relations
        ):
            raise ExecutionError(
                "a view cannot reference session-scoped staging "
                "tables (CREATE TABLE ... AS SELECT them into a "
                "managed table first)"
            )
        # time-travel clauses pin a snapshot through a code path raw
        # reload expansion does not run — reject rather than create a
        # view that can never re-expand
        if q.travels:
            raise ExecutionError(
                "a view cannot use time travel in its defining query "
                "(materialize the snapshot with CTAS instead)"
            )
        # search_index() relations expand through the same query-only
        # pass time travel does — a view holding one would validate
        # here and then break on every reload
        if q.search_calls:
            raise ExecutionError(
                "a view cannot use search_index() in its defining query "
                "(materialize the lookup with CTAS instead)"
            )
        existing = self.catalog.get_table(db, schema, name)
        if existing is not None:
            if not stmt.or_replace:
                raise ExecutionError(f"{schema}.{name} already exists")
            old = DeltaLiteTable(self.spark, self.table_root(existing))
            if (old.snapshot().properties or {}).get(VIEW_PROP) is None:
                raise ExecutionError(
                    f"{schema}.{name} is not a view — CREATE OR REPLACE "
                    "VIEW cannot replace a table"
                )
            # A replacement whose query references the view being replaced
            # would VALIDATE against the old view's temp registration, then
            # persist a self-referential defining query that reload_views'
            # fixpoint can never expand (its own temp view is dropped
            # first) — silently destroying a working view.
            if reads & {name.lower(), _mangle(schema, name).lower()}:
                raise ExecutionError(
                    f"CREATE OR REPLACE VIEW {schema}.{name} cannot "
                    "reference the view it replaces (a view cannot be "
                    "defined in terms of itself)"
                )
        # validate + capture the output schema (analysis only, no action)
        df = self._exec_query(parser.Statement("query", stmt.query))
        if existing is not None:
            self.catalog.drop_table(db, schema, name)
            DeltaLiteTable(self.spark, self.table_root(existing)).drop_data()
        entry = self.catalog.create_table(
            db, schema, name,
            to_ddl(df.schema.fields),
        )
        t = DeltaLiteTable.create(
            self.spark,
            self.table_root(entry),
            df.schema,
            operation="CREATE VIEW",
            properties={VIEW_PROP: stmt.query},
        )
        self._record(entry, t)

    def _exec_drop_view(self, stmt) -> None:
        db, schema, name = parser.parse_qualified(stmt.name)
        db, schema = db or self.database, schema or self.search_schema
        entry = self.catalog.get_table(db, schema, name)
        if entry is None:
            if stmt.if_exists:
                return
            raise ExecutionError(f"view {schema}.{name} does not exist")
        t = DeltaLiteTable(self.spark, self.table_root(entry))
        if (t.snapshot().properties or {}).get(VIEW_PROP) is None:
            raise ExecutionError(
                f"{schema}.{name} is not a view (use DROP TABLE)"
            )
        self._exec_drop_table(stmt, _allow_view=True)

    def _exec_refresh_matview(self, stmt) -> None:
        """Incremental refresh: recompute ONLY the groups whose base
        files changed between the recorded and latest snapshots, merge
        them in, delete vanished groups — full-overwrite fallback when
        incremental is not possible (see engine/matview.py)."""
        from pyspark.sql import functions as F

        from .matview import (
            MATVIEW_PROP,
            affected_group_values,
            affected_groups_via_query,
            group_predicate,
            parse_mv_query,
            query_at_version,
        )

        entry = self._resolve(stmt.name)
        t = DeltaLiteTable(self.spark, self.table_root(entry))
        spec = self._matview_spec(t)
        if spec is None:
            raise ExecutionError(f"{stmt.name} is not a materialized view")

        def _bind(name: str, expect_uuid: str | None) -> DeltaLiteTable:
            # views bind by NAME (rename-back heals, like logical views)
            # but a DIFFERENT table under the recorded name must fail
            # loudly: its data is unrelated and its version history
            # doesn't even contain spec's recorded versions — refreshing
            # from it would silently corrupt the view. Pre-r10 specs
            # carry no uuid and skip the check.
            bound = self._resolve(name)
            if expect_uuid and bound.uuid != expect_uuid:
                raise ExecutionError(
                    f"{stmt.name}: table {name} is not the table the "
                    "view was created over (it was dropped or renamed "
                    "and the name now points to a different table) — "
                    "rename the original back, or DROP and re-CREATE "
                    "the materialized view"
                )
            return DeltaLiteTable(self.spark, self.table_root(bound))

        base_t = _bind(spec.base, spec.base_uuid)
        v_to = base_t.latest_version()
        # dimension versions gate the incremental path: the file-diff is
        # fact-only, so ANY dim change means the always-correct full
        # overwrite (dims are small and change rarely — the refresh cost
        # stays proportional to changed fact data in the common case)
        dims_now: dict[str, int] = {}
        dims_changed = False
        for dname, dver in (spec.dim_versions or {}).items():
            dv = _bind(dname, (spec.dim_uuids or {}).get(dname)).latest_version()
            dims_now[dname] = dv
            if dv != dver:
                dims_changed = True
        if v_to == spec.base_version and not dims_changed:
            return  # already current
        if dims_changed:
            vals = None  # full refresh
        elif spec.dim_versions or spec.exprs() != spec.group_cols:
            # join views AND expression-grouped views go through the
            # FROM-swap scan: it re-aliases the changed-files view under
            # the fact's own alias, so group expressions qualified with
            # that alias (substr(t.g,1,1)) still resolve — the plain
            # selectExpr path below would throw and silently downgrade
            # every refresh to a full overwrite
            vals = affected_groups_via_query(
                self.spark,
                base_t,
                spec.base_version,
                v_to,
                parse_mv_query(spec.query),
                lambda s: self._exec_query(parser.Statement("query", s)),
            )
        else:
            vals = affected_group_values(
                self.spark, base_t, spec.base_version, v_to,
                spec.group_cols, spec.exprs(),
            )
        pinned = query_at_version(spec.query, spec.base, v_to)
        if vals is None:
            # full refresh: atomic overwrite at the new snapshot
            df = self._exec_query(parser.Statement("query", pinned))
            t.overwrite(df, operation="REFRESH MATERIALIZED VIEW")
        elif vals:
            from .matview import MatViewError

            try:
                pred = group_predicate(spec.group_cols, vals)
            except MatViewError:
                # non-representable group literal (e.g. NaN): downgrade
                # to the full-overwrite path — always correct
                df = self._exec_query(parser.Statement("query", pinned))
                t.overwrite(df, operation="REFRESH MATERIALIZED VIEW")
                pred = None
            if pred is None:
                recompute = None
        if vals and pred is not None:
            recompute = self._exec_query(
                parser.Statement(
                    "query", f"SELECT * FROM ({pinned}) __mv WHERE {pred}"
                )
            ).localCheckpoint()
            # the affected-group list is driver-bounded (capped at
            # MAX_INCREMENTAL_GROUPS) — bind it as a LocalRelation
            # (r14; createDataFrame parallelizes a pickled RDD whose
            # every scan spawns Python-worker tasks, the r13 serving
            # finding applied to the refresh's vanished-group anti-join)
            from ..functions import local_df

            g_schema = recompute.select(*spec.group_cols).schema
            g_ddl = ", ".join(
                f"`{f.name}` {f.dataType.simpleString()}"
                for f in g_schema.fields
            )
            affected = local_df(self.spark, [tuple(v) for v in vals], g_ddl)
            vanished = affected.join(
                recompute.select(*spec.group_cols), spec.group_cols, "left_anti"
            )
            value_cols = [
                c for c in recompute.columns if c not in spec.group_cols
            ]
            change = recompute.withColumn(
                "__mv_delete", F.lit(False)
            ).unionByName(
                vanished.select(
                    *spec.group_cols,
                    *[
                        F.lit(None).cast(recompute.schema[c].dataType).alias(c)
                        for c in value_cols
                    ],
                    F.lit(True).alias("__mv_delete"),
                )
            )
            t.merge(change, spec.group_cols, delete_col="__mv_delete")
        # record the new base version (metadata-only commit)
        snap = t.snapshot()
        spec.base_version = v_to
        if dims_now:
            spec.dim_versions = dims_now
        t._next_commit(
            "REFRESH VERSION",
            [],
            [],
            metadata={
                "schema_ddl": snap.schema_ddl,
                "properties": dict(
                    snap.properties, **{MATVIEW_PROP: spec.to_json()}
                ),
            },
        )
        self._record(entry, t)

    # ------------------------------------------------------- search indexes

    def _search_index_target(self, table_name: str):
        """(entry, DeltaLiteTable, snapshot, specs) for index DDL."""
        from .search_index import load_specs

        entry = self._resolve(table_name)
        t = DeltaLiteTable(self.spark, self.table_root(entry))
        snap = t.snapshot()
        props = snap.properties or {}
        self._guard_view_props(props, "SEARCH INDEX DDL")
        return entry, t, snap, load_specs(props)

    def _commit_index_specs(self, entry, t, specs, op: str) -> None:
        from .search_index import INDEX_PROP, dump_specs

        snap = t.snapshot()
        props = dict(snap.properties or {})
        if specs:
            props[INDEX_PROP] = dump_specs(specs)
        else:
            props.pop(INDEX_PROP, None)
        t._next_commit(
            op,
            [],
            [],
            metadata={"schema_ddl": snap.schema_ddl, "properties": props},
        )
        self._record(entry, t)

    def _exec_create_search_index(self, stmt) -> None:
        """CREATE SEARCH INDEX (engine/search_index.py — beyond the
        reference): one corpus pass materializes the partition-pruned
        index artifact under the table's own root; the spec + file-set
        fingerprint land in the table properties."""
        from .search_index import (
            _METHODS,
            IndexSpec,
            build_index,
            index_dir,
            snapshot_fp,
        )

        f = stmt.fields
        entry, t, snap, specs = self._search_index_target(f["table"])
        if f["index"] in specs:
            if f["if_not_exists"]:
                return
            raise ExecutionError(
                f"search index {f['index']} already exists on {f['table']}"
            )
        if f["method"] not in _METHODS:
            raise ExecutionError(
                f"unknown index method {f['method']} "
                f"(supported: {', '.join(_METHODS)})"
            )
        schema = snap.schema
        names = {x.name for x in schema.fields}
        col = f["column"]
        cols = f.get("columns") or col.split(",")
        if len(cols) > 1 and f["method"] != "BM25":
            raise ExecutionError(
                f"multi-column indexes are BM25-only ({f['method']} "
                "takes exactly one column)"
            )
        if len(set(c.lower() for c in cols)) != len(cols):
            raise ExecutionError("duplicate column in index column list")
        for c in cols:
            if c not in names:
                raise ExecutionError(f"column {c} not in {f['table']}")
            c_type = schema[c].dataType.simpleString()
            if f["method"] in ("BM25", "LSH") and c_type != "string":
                raise ExecutionError(
                    f"{f['method']} indexes require a STRING column "
                    f"({c} is {c_type})"
                )
            if f["method"] == "IVFPQ" and c_type not in (
                "array<float>", "array<double>"
            ):
                raise ExecutionError(
                    "IVFPQ indexes require an ARRAY<FLOAT|DOUBLE> column "
                    f"({c} is {c_type})"
                )
        # BM25-only knobs: field weights (fielded scoring) + match mode
        if "weights" in f["params"]:
            if f["method"] != "BM25":
                raise ExecutionError("weights is a BM25-only parameter")
            try:
                ws = [float(x) for x in str(f["params"]["weights"]).split(",")]
            except ValueError as ex:
                raise ExecutionError(
                    "weights must be a comma-separated number list "
                    f"(e.g. '2.0,1.0'): {ex}"
                ) from ex
            if len(ws) != len(cols):
                raise ExecutionError(
                    f"weights lists {len(ws)} values for {len(cols)} "
                    "column(s)"
                )
            # float() accepts 'inf'/'nan'/negatives — all of which flow
            # straight into the BM25F tf/dl sums and silently corrupt
            # every score; reject at CREATE, the only place the user is
            # listening
            import math as _math

            if any(not _math.isfinite(w) or w <= 0 for w in ws):
                raise ExecutionError(
                    "weights must be finite and positive "
                    f"(got {f['params']['weights']!r})"
                )
        if str(f["params"].get("match", "any")).lower() not in ("any", "all"):
            raise ExecutionError("match must be 'any' or 'all'")
        if "match" in f["params"] and f["method"] != "BM25":
            raise ExecutionError("match is a BM25-only parameter")
        if str(f["params"].get("auto_compact", "on")).lower() not in (
            "on", "off",
        ):
            raise ExecutionError("auto_compact must be 'on' or 'off'")
        if "auto_compact_fragments" in f["params"]:
            try:
                if int(f["params"]["auto_compact_fragments"]) < 1:
                    raise ValueError("must be >= 1")
            except ValueError as ex:
                raise ExecutionError(
                    "auto_compact_fragments must be a positive integer: "
                    f"{ex}"
                ) from ex
        id_col = f["params"].get("id_col", "doc_id")
        if id_col not in names:
            raise ExecutionError(
                f"id column {id_col!r} not in {f['table']} (set WITH "
                "('id_col' = '<pk column>'))"
            )
        allow_dup = str(
            f["params"].get("allow_duplicate_ids", "false")
        ).lower()
        if allow_dup not in ("true", "false"):
            raise ExecutionError(
                "allow_duplicate_ids must be 'true' or 'false'"
            )
        params = dict(f["params"], id_col=id_col)
        if allow_dup == "false":
            # one single-column aggregate over the corpus (same scan
            # the build below pays): duplicate or NULL ids poison the
            # (id, epoch) tombstone model — a duplicate id's mask hides
            # its live copies and a NULL id can never be masked.
            # Validating here keeps clean tables' incremental refresh
            # guarantee unconditional and gives dirty tables a clear
            # error at CREATE instead of silent rebuild costs (r12);
            # WITH ('allow_duplicate_ids' = 'true') opts into
            # rebuild-on-duplicate refreshes.
            from pyspark.sql import functions as F

            bad = (
                t.to_df(_snap=snap)
                .select(id_col)
                .groupBy(id_col)
                .agg(F.count(F.lit(1)).alias("__n"))
                .where(F.col(id_col).isNull() | (F.col("__n") > 1))
                .limit(1)
                .count()
            )
            if bad:
                raise ExecutionError(
                    f"id column {id_col!r} has duplicate or NULL values "
                    f"in {f['table']}; deduplicate the table or add "
                    "WITH ('allow_duplicate_ids' = 'true') to opt into "
                    "full rebuilds on duplicate-id refreshes"
                )
            params["unique_ids"] = "validated"
        spec = IndexSpec(
            f["index"],
            f["method"],
            col,
            t.latest_version() + 1,  # the props commit below
            params,
            snapshot_fp(snap),
        )
        stats = build_index(
            t.to_df(_snap=snap),
            index_dir(self.table_root(entry), f["index"]),
            spec,
        )
        if stats:
            spec.params.update(stats)
        specs[f["index"]] = spec
        self._commit_index_specs(entry, t, specs, "CREATE SEARCH INDEX")

    def _exec_refresh_search_index(self, stmt) -> None:
        """Bring a search index up to date. BM25 refreshes INCREMENTALLY
        when the table's file diff since the build is append-only: only
        the ADDED files' documents are tokenized and their postings
        append into the same term-hash partitions, with a mergeable
        stats fragment (operators/bm25.append_bm25_index) — refresh cost
        proportional to new data, the 100 TB ingest shape. Any rewrite/
        delete in the diff (or a non-BM25 method) downgrades to the
        always-correct full rebuild. A fingerprint-fresh index is a
        no-op (no commit), the matview contract."""
        from .matview import changed_files
        from .search_index import build_index, index_dir, snapshot_fp

        f = stmt.fields
        entry, t, snap, specs = self._search_index_target(f["table"])
        spec = specs.get(f["index"])
        if spec is None:
            raise ExecutionError(
                f"search index {f['index']} does not exist on {f['table']}"
            )
        path = index_dir(self.table_root(entry), f["index"])
        # crash-safety: the incremental append and the spec commit are
        # not atomic — a crash between them would make the RETRY re-append
        # the same documents (duplicated postings, doubled stats). The
        # marker is written BEFORE appending and removed only AFTER the
        # spec commit; a surviving marker forces the always-correct full
        # rebuild (whose overwrite replaces the artifact wholesale).
        marker = os.path.join(path, "_append_pending")
        # the marker check must PRECEDE the fingerprint early-return: a
        # crash mid-OPTIMIZE (which changes no table data) leaves a
        # half-rewritten artifact behind a FRESH fingerprint — without
        # this, REFRESH would no-op forever and every lookup fail until
        # unrelated data changed (advisor find, r11)
        if spec.file_fp == snapshot_fp(snap) and not os.path.exists(marker):
            return  # already current: no rebuild, no commit
        # the reason param describes THIS refresh only: pop the previous
        # one up front, let each downgrade path record its own (stale
        # reasons on the board were an advisor find, r11)
        spec.params.pop("last_rebuild_reason", None)
        had_marker = os.path.exists(marker)
        incremental = False
        # epoch counter for the (id, epoch) tombstone model (r11):
        # removals mask at the PRE-refresh epoch, appends land one epoch
        # later — so updates and re-inserts of tombstoned ids stay
        # incremental (engine/search_index.incremental_delta)
        e_prev = int(spec.params.get("epoch", 0))
        wrote_batches = 0  # artifact/stats fragments this refresh adds
        marker_held = False  # True once THIS refresh created the mutex
        if not had_marker:
            try:
                from .search_index import (
                    FullRebuildRequired,
                    apply_incremental_delete,
                    incremental_delta,
                )

                _so, only_old, _sn, only_new = changed_files(
                    t, spec.built_version, t.latest_version()
                )
                if only_old or only_new:
                    schema = snap.schema
                    id_col = spec.params.get("id_col", "doc_id")
                    # delete/update-aware diff (r10 tombstones, r11
                    # epochs): removed rows tombstone at e_prev (plus a
                    # negative BM25 stats fragment), added/updated rows
                    # append at e_prev + 1; duplicate-id diffs and cap
                    # overflows raise FullRebuildRequired into the
                    # rebuild below (which clears the mask)
                    removed, new_rows = incremental_delta(
                        t, schema, spec, only_old, only_new, path
                    )
                    # two concurrent refreshers that both passed the entry
                    # check would BOTH append (duplicated postings,
                    # doubled stats) — the marker doubles as the mutex:
                    # exclusive create, loser fails fast and clean (the
                    # winner's marker is removed only after its commit)
                    try:
                        with open(marker, "x") as fh:
                            fh.write(snapshot_fp(snap))
                        marker_held = True
                    except FileExistsError:
                        raise ExecutionError(
                            f"search index {f['index']} on {f['table']} "
                            "has a refresh or optimize in flight; retry "
                            "when it finishes"
                        ) from None
                    if removed is None and new_rows is None:
                        # compaction-only base-table diff (OPTIMIZE /
                        # ZORDER rewrote files, same rows): the index is
                        # already exact — bump the fingerprint and commit
                        # without touching the artifact, never a corpus
                        # re-tokenize (advisor find, r11)
                        incremental = True
                    if removed is not None:
                        apply_incremental_delete(
                            spec, removed, path, epoch=e_prev
                        )
                        from ..operators.index_tombstones import (
                            tombstone_count,
                        )

                        spec.params["tombstones"] = tombstone_count(
                            self.spark, path
                        )
                        wrote_batches += 1
                        incremental = True
                    if new_rows is None:
                        pass  # delete/compaction-only diff
                    elif spec.method == "IVFPQ":
                        # r10: append-only refresh encodes the NEW
                        # vectors with the FROZEN codebooks into their
                        # cells (one pass over added files, the
                        # append_bm25_index shape). The drift gate
                        # compares the batch's mean residual norm
                        # against the build-time baseline; past
                        # max_drift x baseline the frozen model no
                        # longer fits and DriftExceeded downgrades to
                        # the retraining full rebuild below.
                        from pyspark.sql import functions as F

                        from ..operators.pq import (
                            DriftExceeded,
                            append_ivfpq_index,
                        )

                        emb = new_rows.select(
                            F.col(id_col),
                            F.col(spec.column)
                            .cast("array<double>")
                            .alias(spec.column),
                        )
                        try:
                            norm = append_ivfpq_index(
                                emb,
                                path,
                                emb_col=spec.column,
                                id_col=id_col,
                                max_drift_ratio=float(
                                    spec.params.get("max_drift", 1.5)
                                ),
                                epoch=e_prev + 1,
                            )
                        except DriftExceeded as ex:
                            # observable reason for the rebuild. Forced
                            # False even when a delete already applied:
                            # the drifted batch must land via the
                            # retraining rebuild, not be dropped
                            spec.params["last_batch_resid_norm"] = round(
                                ex.batch_norm, 9
                            )
                            # without this a drift-triggered rebuild kept
                            # showing whatever reason an EARLIER refresh
                            # recorded (advisor find, r11)
                            spec.params["last_rebuild_reason"] = (
                                "drift exceeded"
                            )
                            incremental = False
                        else:
                            spec.params["last_batch_resid_norm"] = round(
                                norm, 9
                            )
                            spec.params["epoch"] = e_prev + 1
                            wrote_batches += 1
                            incremental = True
                    else:
                        from ..operators.bm25 import append_bm25_index
                        from ..operators.lsh_index import append_lsh_index

                        appender = (
                            append_bm25_index
                            if spec.method == "BM25"
                            else append_lsh_index
                        )
                        appender(
                            new_rows,
                            path,
                            text_col=spec.column,
                            id_col=id_col,
                            epoch=e_prev + 1,
                        )
                        spec.params["epoch"] = e_prev + 1
                        wrote_batches += 1
                        incremental = True
            except FullRebuildRequired as ex:
                # observable reason on the spec (system.search_indexes
                # surfaces params): update-in-diff, tombstoned re-insert,
                # or tombstone cap — all correct via the rebuild below
                spec.params["last_rebuild_reason"] = str(ex)
                incremental = False
            except ExecutionError:
                # the deliberate mutex-loser error raised when another
                # refresh/optimize holds the marker must propagate, not
                # reroute the loser into a redundant full rebuild
                # (advisor find, r11)
                raise
            except Exception:  # noqa: BLE001 — vacuumed history etc.
                spec.params["last_rebuild_reason"] = "diff unavailable"
                incremental = False
        if not incremental:
            if had_marker:
                spec.params["last_rebuild_reason"] = (
                    "interrupted refresh recovered"
                )
            elif not marker_held:
                # rebuilds reached WITHOUT the mutex (diff classified
                # before any artifact write) still need it: two
                # concurrent overwrites of the same artifact dir corrupt
                try:
                    with open(marker, "x") as fh:
                        fh.write("rebuild")
                except FileExistsError:
                    raise ExecutionError(
                        f"search index {f['index']} on {f['table']} has "
                        "a refresh or optimize in flight; retry when it "
                        "finishes"
                    ) from None
            spec.params.setdefault("last_rebuild_reason", "full rebuild")
            stats = build_index(t.to_df(_snap=snap), path, spec)
            if stats:
                spec.params.update(stats)
            spec.params.pop("tombstones", None)  # rebuild cleared the mask
            spec.params.pop("epoch", None)  # rebuild rows are epoch 0
            spec.params.pop("fragments", None)  # overwrite collapsed them
        elif wrote_batches:
            # each incremental write batch appends small artifact/stats
            # files; the counter drives the auto-compaction below and
            # surfaces on system.search_indexes (r11). Metadata-only
            # refreshes (compaction-only diffs) write nothing and bump
            # nothing.
            spec.params["fragments"] = (
                int(spec.params.get("fragments", 0)) + wrote_batches
            )
        spec.built_version = t.latest_version() + 1
        spec.file_fp = snapshot_fp(snap)
        self._commit_index_specs(
            entry,
            t,
            specs,
            "REFRESH SEARCH INDEX"
            + (" (INCREMENTAL)" if incremental else ""),
        )
        try:
            os.remove(marker)
        except OSError:
            pass
        # r11 auto-compaction: a long-lived incremental index accrues
        # stats fragments and tombstones until someone remembers to
        # OPTIMIZE — REFRESH now fires the same IO-only compaction when
        # fragments exceed the limit or the mask passes half its cap
        # (serving is bit-identical across it; disable per-index with
        # WITH ('auto_compact' = 'off'))
        if (
            incremental
            and str(spec.params.get("auto_compact", "on")).lower() != "off"
        ):
            from ..operators.index_tombstones import (
                TOMBSTONE_CAP_FLOOR,
                TOMBSTONE_CAP_RATIO,
            )

            frags = int(spec.params.get("fragments", 0))
            tomb = int(spec.params.get("tombstones", 0))
            frag_limit = int(spec.params.get("auto_compact_fragments", 16))
            live = max(int(snap.num_rows), 1)
            cap = max(
                TOMBSTONE_CAP_RATIO * live,
                float(
                    spec.params.get("tombstone_cap", TOMBSTONE_CAP_FLOOR)
                ),
            )
            if frags > frag_limit or tomb > cap / 2:
                # observable trigger (r12): why auto-compaction fired,
                # with the numbers, so operators can tune
                # auto_compact_fragments from system.search_indexes
                reason = (
                    f"auto: fragments {frags} > {frag_limit}"
                    if frags > frag_limit
                    else f"auto: tombstones {tomb} > cap/2 {cap / 2:g}"
                )
                try:
                    self._compact_search_index(
                        entry, t, specs, spec, path,
                        "OPTIMIZE SEARCH INDEX (AUTO)",
                        reason=reason,
                    )
                except ExecutionError:
                    # the user's REFRESH already committed; if another
                    # refresh/optimize grabbed the marker in the gap,
                    # the opportunistic compaction just skips — the next
                    # REFRESH re-triggers it (advisor find, r11)
                    pass

    def _exec_optimize_search_index(self, stmt) -> None:
        """OPTIMIZE SEARCH INDEX: fold the tombstone mask into the
        artifact and collapse accumulated stats fragments — an IO-only
        rewrite (engine/search_index.compact_index), never the corpus
        re-tokenized. Serving is bit-identical before/after. The index
        identity (built_version/file_fp) is unchanged, but the spec
        commit below bumps the TABLE version, so cached GETs
        re-validate once — harmless over-invalidation, same as every
        index DDL."""
        from .search_index import index_dir

        f = stmt.fields
        entry, t, _snap, specs = self._search_index_target(f["table"])
        spec = specs.get(f["index"])
        if spec is None:
            raise ExecutionError(
                f"search index {f['index']} does not exist on {f['table']}"
            )
        path = index_dir(self.table_root(entry), f["index"])
        if not os.path.isdir(path):
            raise ExecutionError(
                f"search index {f['index']} on {f['table']} has no "
                "artifact on disk (dropped or restored past it); DROP "
                "SEARCH INDEX and re-CREATE it"
            )
        marker = os.path.join(path, "_append_pending")
        if os.path.exists(marker):
            raise ExecutionError(
                f"search index {f['index']} has an interrupted refresh "
                "pending; run REFRESH SEARCH INDEX first"
            )
        self._compact_search_index(
            entry, t, specs, spec, path, "OPTIMIZE SEARCH INDEX"
        )

    def _compact_search_index(
        self, entry, t, specs, spec, path: str, op: str,
        reason: str = "manual OPTIMIZE",
    ) -> None:
        """Shared body of manual OPTIMIZE SEARCH INDEX and the r11
        auto-compaction REFRESH fires when fragments/tombstones pile up:
        fold the mask + fragments into the artifact (IO-only), zero the
        counters, commit the spec under ``op``."""
        from .search_index import compact_index

        marker = os.path.join(path, "_append_pending")
        # the rewrite-and-swap is not atomic: a crash mid-compaction
        # leaves the marker, and the next REFRESH full-rebuilds. The
        # exclusive create also serializes concurrent compactors (two
        # racing __compact swaps would collide) — the pre-check in
        # _exec_optimize_search_index is advisory, this is the mutex
        try:
            with open(marker, "x") as fh:
                fh.write("optimize")
        except FileExistsError:
            raise ExecutionError(
                "a refresh or optimize is already in flight on this "
                "index; retry when it finishes"
            ) from None
        compact_index(self.spark, path, spec)
        spec.params.pop("tombstones", None)  # mask folded into artifact
        spec.params.pop("fragments", None)  # fragments collapsed
        # why this compaction ran (r12: auto-trigger numbers or manual)
        # — surfaced on system.search_indexes and the commit info
        spec.params["last_compact_reason"] = reason
        self._commit_index_specs(entry, t, specs, op)
        try:
            os.remove(marker)
        except OSError:
            pass

    def _exec_drop_search_index(self, stmt) -> None:
        import shutil

        from .search_index import index_dir

        f = stmt.fields
        entry, t, _snap, specs = self._search_index_target(f["table"])
        if f["index"] not in specs:
            if f["if_exists"]:
                return
            raise ExecutionError(
                f"search index {f['index']} does not exist on {f['table']}"
            )
        del specs[f["index"]]
        shutil.rmtree(
            index_dir(self.table_root(entry), f["index"]), ignore_errors=True
        )
        self._commit_index_specs(entry, t, specs, "DROP SEARCH INDEX")

    def _expand_search_index_calls(self, q: parser.QueryParse, aliases: list[str]) -> list:
        """Bind each ``search_index('tbl', 'idx', 'query', k)`` relation of
        ``q`` as a temp view holding the top-k lookup result (result_id,
        score, rank) and return the splices that read them. Lookup cost is
        proportional to the probed partitions. Calls sharing one (table,
        index, k) batch into one multi-probe plan
        (search_index.lookup_many) whose rows re-bind per call as
        LocalRelations: the q_index_serving shape, 12 calls over 4
        indexes, runs 4 probe plans, not 12."""
        calls = q.search_calls
        if not calls:
            return []
        from .search_index import index_dir, load_specs, lookup, lookup_many

        groups: dict[tuple[str, str, int], list[parser.SearchCall]] = {}
        for c in calls:
            groups.setdefault((c.table, c.index, c.k), []).append(c)
        edits = []
        for (tbl, idx, k), group in groups.items():
            entry = self._resolve(tbl)
            t = DeltaLiteTable(self.spark, self.table_root(entry))
            specs = load_specs(t.snapshot().properties or {})
            spec = specs.get(idx)
            if spec is None:
                raise ExecutionError(
                    f"search index {idx} does not exist on {tbl} "
                    f"(existing: {sorted(specs) or 'none'})"
                )
            path = index_dir(self.table_root(entry), idx)
            if not os.path.isdir(path):
                # a RESTORE past the index's DROP resurrects the spec
                # without the artifact — fail with the remedy, not a
                # parquet file-not-found
                raise ExecutionError(
                    f"search index {idx} on {tbl} has no artifact on "
                    "disk (dropped or restored past it); DROP SEARCH "
                    "INDEX and re-CREATE it"
                )
            if len(group) == 1:
                frames = [lookup(self.spark, path, spec, group[0].query, k)]
            else:
                per_slot = lookup_many(
                    self.spark, path, spec,
                    [(slot, c.query) for slot, c in enumerate(group)], k,
                )
                frames = [per_slot[slot] for slot in range(len(group))]
            for c, df in zip(group, frames):
                edits.append((c.span, f"`{self._bind_alias('__sfs_si', df, aliases)}`"))
        return edits

    def _exec_create_external_table(self, stmt) -> None:
        from ..sources.external import read_external

        if stmt.name in self.staging:
            if stmt.if_not_exists:
                return
            raise ExecutionError(f"external table {stmt.name} already exists")
        df = read_external(
            self.spark,
            stmt.format,
            stmt.location,
            columns=stmt.columns,
            options=stmt.options,
        )
        part = stmt.fields.get("partition_by") or []
        missing = [c for c in part if c not in df.columns]
        if missing:
            raise ExecutionError(
                f"PARTITIONED BY column(s) {missing} not present in the "
                f"discovered schema {df.columns}"
            )
        self.staging[stmt.name] = df
        if stmt.format == "table":
            # remote table: keep the spec so per-query LIMITs can be
            # re-pushed into the remote SQL (provider.rs renders LIMIT n)
            self.staging_specs[stmt.name] = (
                stmt.format, stmt.location, dict(stmt.options or {})
            )
        if stmt.format in ("iceberg", "delta", "deltatable"):
            options = dict(stmt.options or {})
            if stmt.format == "iceberg" and "snapshot-id" not in options:
                # pin the snapshot resolved at CREATE so later per-query
                # re-reads (pruned scans) cannot drift to a newer snapshot
                # than the registered view (reference pins at CREATE too)
                from ..sources.iceberg import resolve_snapshot_id

                try:
                    options["snapshot-id"] = str(
                        resolve_snapshot_id(stmt.location, options)
                    )
                except Exception:
                    pass  # unpinnable (e.g. as-of option) -> best effort
            self.staging_specs[stmt.name] = (stmt.format, stmt.location, options)

    def _exec_convert_to_delta(self, stmt) -> None:
        db, schema, name = parser.parse_qualified(stmt.name)
        db, schema = db or self.database, schema or self.search_schema
        existing = self.catalog.get_table(db, schema, name)
        if existing is not None and os.path.realpath(
            self.table_root(existing)
        ) == os.path.realpath(stmt.path):
            # idempotent re-CONVERT of the same path under the same name
            # (reference convert.rs:168-200 runs the statement twice)
            return
        t = DeltaLiteTable.convert_from_parquet(self.spark, stmt.path)
        # conversion registers the existing directory; catalog points at it
        # via a dedicated uuid row whose root IS that path: store relative
        # link in schema_ddl metadata? Simplest: create entry then symlink.
        entry = self.catalog.create_table(db, schema, name, t.snapshot().schema_ddl)
        os.symlink(os.path.abspath(stmt.path), self.table_root(entry))
        self._record(entry, t)

    def _exec_create_function(self, stmt) -> None:
        from .udf import validate_spec

        try:
            spec = json.loads(stmt.spec)
        except json.JSONDecodeError as exc:
            raise ExecutionError(f"CREATE FUNCTION body is not valid JSON: {exc}") from exc
        validate_spec(spec)
        if spec["language"] == "python" and not self.allow_python_udfs:
            raise ExecutionError(
                "python UDFs are disabled on this server (unsandboxed exec); "
                "pass --enable-python-udfs / allow_python_udfs=True to opt in"
            )
        self.catalog.create_function(self.database, stmt.name, spec, stmt.or_replace)

    def _exec_drop_function(self, stmt) -> None:
        for n in stmt.names:
            self.catalog.drop_function(self.database, n, stmt.if_exists)

    def _exec_rename_table(self, stmt) -> None:
        db, schema, name = parser.parse_qualified(stmt.name)
        db2, schema2, name2 = parser.parse_qualified(stmt.new_name)
        self._guard_staging(schema2)
        db, schema = db or self.database, schema or self.search_schema
        db2, schema2 = db2 or self.database, schema2 or schema
        if db != db2:
            raise ExecutionError("cannot move tables across databases")  # reference parity
        self.catalog.rename_table(db, schema, name, schema2, name2)

    def _exec_drop_table(self, stmt, _allow_view: bool = False) -> None:
        db, schema, name = parser.parse_qualified(stmt.name)
        db, schema = db or self.database, schema or self.search_schema
        if not _allow_view:
            # symmetric with DROP VIEW refusing tables. Best-effort: a
            # table whose storage is missing/corrupt must stay droppable
            # (the pre-guard behavior), so a failed log replay means
            # "not provably a view" and the drop proceeds
            existing = self.catalog.get_table(db, schema, name)
            if existing is not None:
                try:
                    t = DeltaLiteTable(self.spark, self.table_root(existing))
                    is_view = (t.snapshot().properties or {}).get(
                        VIEW_PROP
                    ) is not None
                except Exception:
                    is_view = False
                if is_view:
                    raise ExecutionError(
                        f"{schema}.{name} is a view (use DROP VIEW)"
                    )
        try:
            entry = self.catalog.drop_table(db, schema, name)
        except CatalogError:
            if stmt.if_exists:
                return
            raise
        root = self.table_root(entry)
        DeltaLiteTable(self.spark, root).drop_data()
        bindings.for_session(self.spark).drop_root(os.path.abspath(root))

    def _exec_drop_schema(self, stmt) -> None:
        db, _, name = parser.parse_qualified(stmt.name)
        self._guard_staging(name)
        try:
            dropped = self.catalog.drop_schema(db or self.database, name)
        except CatalogError:
            if stmt.if_exists:
                return
            raise
        for e in dropped:
            DeltaLiteTable(self.spark, self.table_root(e)).drop_data()

    def _exec_drop_database(self, stmt) -> None:
        try:
            dropped = self.catalog.drop_database(stmt.name)
        except CatalogError:
            if stmt.if_exists:
                return
            raise
        for e in dropped:
            DeltaLiteTable(self.spark, self.table_root(e)).drop_data()
        if self.database == stmt.name:
            self.database = DEFAULT_DB

    # ---- DML

    def _record(self, entry: TableEntry, t: DeltaLiteTable) -> None:
        # mirror EVERY commit above the catalog's high-water mark, not
        # just the latest: a CTAS lands two commits (CREATE + data)
        # before its single _record call, and skipping v0 left
        # system.table_versions missing a version that time travel can
        # reach. Starting at the mark (not at 0) reads only the new
        # commit files and keeps versions VACUUM pruned out of the
        # catalog; all of them land in one catalog transaction.
        mark = self.catalog.recorded_version(entry.uuid)
        start = 0 if mark is None else mark + 1
        commits = [t.read_commit(v) for v in range(start, t.latest_version() + 1)]
        self.catalog.record_versions(
            entry.uuid, [(c.version, c.timestamp_ms, c.operation) for c in commits]
        )

    def _write_statement(self, name: str, what: str, guard, op, ddl: bool = False) -> None:
        """Run the write statement ``what`` on table ``name``: resolve it,
        let ``guard`` refuse a table ``what`` must not change (a view, and
        with ``_guard_matview`` a materialized view, whose contents would
        desync from its definition), run ``op(t)`` under
        ``_retry_conflicts`` and record every new version in the catalog.
        With ``ddl`` the op may change the schema, and the catalog's cached
        DDL (SHOW COLUMNS, DESCRIBE, information_schema) is refreshed from
        the log first."""
        entry = self._resolve(name)
        t = DeltaLiteTable(self.spark, self.table_root(entry))
        guard(t, what)
        self._retry_conflicts(lambda: op(t))
        if ddl:
            self.catalog.update_schema(entry.uuid, t.snapshot().schema_ddl)
        self._record(entry, t)

    def _exec_insert(self, stmt) -> None:
        def insert(t: DeltaLiteTable) -> None:
            df = self._exec_query(parser.Statement("query", stmt.query))
            target_cols = [f.name for f in t.schema().fields]
            if stmt.columns:
                if len(stmt.columns) != len(df.columns):
                    raise ExecutionError(
                        f"INSERT column list has {len(stmt.columns)} names but query produces {len(df.columns)}"
                    )
                unknown = [c for c in stmt.columns if c not in target_cols]
                if unknown:
                    raise ExecutionError(f"unknown INSERT columns: {unknown}")
                df = df.toDF(*stmt.columns)
            elif set(df.columns) != set(target_cols):
                # unnamed/positional source (e.g. VALUES): map by position
                if len(df.columns) > len(target_cols):
                    raise ExecutionError("INSERT has more expressions than target columns")
                df = df.toDF(*target_cols[: len(df.columns)])
            if stmt.fields.get("overwrite"):
                # INSERT OVERWRITE: one atomic commit replaces the live file
                # set (deltalite.overwrite aligns + enforces constraints, and
                # its OCC base-version rejects racing writers)
                t.overwrite(df, operation="INSERT OVERWRITE")
            else:
                t.append(df)

        self._write_statement(stmt.name, "INSERT", self._guard_matview, insert)

    @staticmethod
    def _retry_conflicts(op) -> None:
        """Statement-level retry for write statements: losing the OCC race
        aborts the stale commit (deltalite._next_commit), and every op
        re-snapshots on entry, so re-running it re-plans against the new
        base — lost-update safety AND availability under concurrency."""
        from .deltalite import ConcurrentCommitError

        for _ in range(8):
            try:
                return op()
            except ConcurrentCommitError:
                continue
        raise ConcurrentCommitError("DML lost the commit race 8 times")

    def _exec_update(self, stmt) -> None:
        def update(t: DeltaLiteTable) -> None:
            self._register_functions(self.catalog.functions(self.database))
            t.update(stmt.sets, stmt.where)

        self._write_statement(stmt.name, "UPDATE", self._guard_matview, update)

    def _exec_delete(self, stmt) -> None:
        _, schema, tbl = parser.parse_qualified(stmt.name)
        if schema == STAGING_SCHEMA:
            self._delete_staging_iceberg(tbl, stmt.where)
            return

        def delete(t: DeltaLiteTable) -> None:
            self._register_functions(self.catalog.functions(self.database))
            t.delete(stmt.where)

        self._write_statement(stmt.name, "DELETE", self._guard_matview, delete)

    def _delete_staging_iceberg(self, name: str, where: str | None) -> None:
        """DELETE on an iceberg staging table: commits a positional-delete
        (merge-on-read) snapshot via sources.iceberg.iceberg_delete_where
        and re-pins the staging view to it — the deltalite DELETE surface
        extended to the one external format with a write path. Other
        staging formats stay read-only (reference parity: externals are
        scan-only there, iceberg.rs is read-only too — this exceeds it)."""
        from ..sources.external import read_external
        from ..sources.iceberg import iceberg_delete_where

        spec = self.staging_specs.get(name)
        if name not in self.staging:
            raise ExecutionError(f"staging table {name} does not exist")
        if spec is None or spec[0] != "iceberg":
            raise ExecutionError(
                "staging tables are read-only external tables "
                "(DELETE is supported only for STORED AS ICEBERG)"
            )
        fmt, location, options = spec
        if not where:
            raise ExecutionError(
                "DELETE on an iceberg staging table requires a WHERE "
                "clause (unscoped truncation of an external table is "
                "refused; drop and re-create instead)"
            )
        new_meta, _n = iceberg_delete_where(self.spark, location, where, options)
        if new_meta is None:
            return  # nothing matched: no new snapshot, keep the pin
        from ..sources.iceberg import resolve_snapshot_id

        opts = dict(options)
        opts["snapshot-id"] = str(resolve_snapshot_id(new_meta))
        self.staging[name] = read_external(
            self.spark, fmt, new_meta, options=opts
        )
        self.staging_specs[name] = (fmt, new_meta, opts)

    def _exec_merge(self, stmt) -> None:
        """ANSI MERGE INTO (restricted subset) over the engine's merge
        operator — the SQL surface for what CDC sync does programmatically
        (deltalite.merge: pruned full-outer upsert). Supported:

        * full upsert: WHEN MATCHED THEN UPDATE SET * +
          WHEN NOT MATCHED THEN INSERT *
        * upsert with a delete flag column:
          WHEN MATCHED AND s.<flag> THEN DELETE + the two above
        * pure delete-by-key: WHEN MATCHED THEN DELETE (alone)

        The ON clause must be equality conjuncts on same-named columns
        (they become the merge PK). Anything else fails loudly.
        """
        from pyspark.sql import functions as F

        cl = stmt.clauses
        if cl["update"] and not cl["insert"]:
            raise ExecutionError(
                "MERGE with UPDATE SET * also needs WHEN NOT MATCHED THEN "
                "INSERT * (update-only merges are not supported)"
            )
        if cl["delete"] and (cl["update"] or cl["insert"] or cl["delete_if"]):
            raise ExecutionError(
                "unconditional WHEN MATCHED THEN DELETE cannot combine with "
                "other clauses; use WHEN MATCHED AND <flag> THEN DELETE"
            )
        if not (cl["update"] or cl["insert"] or cl["delete"]):
            raise ExecutionError("MERGE needs at least one WHEN clause")
        pk_cols: list[str] = []
        for part in re.split(r"(?i)\s+and\s+", stmt.on):
            m = re.match(
                r"\s*(?:(\w+)\.)?(\w+)\s*=\s*(?:(\w+)\.)?(\w+)\s*$", part
            )
            if not m or m.group(2) != m.group(4):
                raise ExecutionError(
                    "MERGE ON must be equality conjuncts on same-named "
                    f"columns; got: {part.strip()!r}"
                )
            pk_cols.append(m.group(2))
        src = self._exec_query(parser.Statement(
            "query", stmt.source_query or f"SELECT * FROM {stmt.source_table}"
        ))
        missing = [c for c in pk_cols if c not in src.columns]
        if missing:
            raise ExecutionError(f"MERGE source lacks ON column(s) {missing}")
        delete_col = cl["delete_if"]
        if delete_col and delete_col not in src.columns:
            raise ExecutionError(
                f"MERGE delete flag column {delete_col!r} not in source"
            )
        if cl["delete"]:
            delete_col = "__sfs_merge_delete"
            src = src.withColumn(delete_col, F.lit(True))
        self._write_statement(
            stmt.name, "MERGE", self._guard_matview,
            lambda t: t.merge(src, pk_cols, delete_col=delete_col),
        )

    def _exec_truncate(self, stmt) -> None:
        self._write_statement(
            stmt.name, "TRUNCATE", self._guard_matview, lambda t: t.truncate()
        )

    def _exec_restore(self, stmt) -> None:
        # restore can rewind schema evolution — resync the cached DDL
        self._write_statement(
            stmt.name, "RESTORE", self._guard_matview,
            lambda t: t.restore(version=stmt.version, timestamp=stmt.timestamp),
            ddl=True,
        )

    def _exec_add_column(self, stmt) -> None:
        self._write_statement(
            stmt.name, "ALTER TABLE ADD COLUMN", self._guard_matview,
            lambda t: t.add_column(stmt.column, stmt.dtype), ddl=True,
        )

    def _exec_drop_column(self, stmt) -> None:
        def drop_column(t: DeltaLiteTable) -> None:
            # a search index holds the column name in its spec: dropping it
            # would leave lookups serving a column the table no longer has
            # and crash the NEXT refresh deep inside the rebuild — reject at
            # the DDL boundary instead (PG-style dependent-object error)
            from .search_index import load_specs as _si_load

            for iname, ispec in _si_load(
                t.snapshot().properties or {}
            ).items():
                cols = set(ispec.column.split(","))
                cols.add(ispec.params.get("id_col", "doc_id"))
                if stmt.column in cols:
                    raise ExecutionError(
                        f"column {stmt.column} is referenced by search index "
                        f"{iname}; DROP SEARCH INDEX {iname} ON {stmt.name} "
                        "first"
                    )
            t.drop_column(stmt.column)

        self._write_statement(
            stmt.name, "ALTER TABLE DROP COLUMN", self._guard_matview,
            drop_column, ddl=True,
        )

    def _exec_add_constraint(self, stmt) -> None:
        self._write_statement(
            stmt.name, "ALTER TABLE ADD CONSTRAINT", self._guard_view,
            lambda t: t.add_constraint(stmt.constraint, stmt.expr),
        )

    def _exec_drop_constraint(self, stmt) -> None:
        self._write_statement(
            stmt.name, "ALTER TABLE DROP CONSTRAINT", self._guard_view,
            lambda t: t.drop_constraint(stmt.constraint),
        )

    def _exec_optimize(self, stmt) -> None:
        self._write_statement(
            stmt.name, "OPTIMIZE", self._guard_view,
            lambda t: t.optimize(
                zorder_by=stmt.fields.get("zorder_by"),
                predicate_sql=stmt.fields.get("predicate"),
            ),
        )

    def _exec_vacuum_table(self, stmt) -> None:
        entry = self._resolve(stmt.name)
        t = DeltaLiteTable(self.spark, self.table_root(entry))
        # retention 0 = reference parity; the opt-in table property keeps
        # a CONCURRENT writer's in-flight files out of the orphan sweep
        # (deltalite.vacuum docstring has the race)
        grace = int(
            (t.snapshot().properties or {}).get("vacuum_orphan_grace_ms", 0)
        )
        t.vacuum(retention_ms=0, orphan_grace_ms=grace)
        # search-index artifacts not referenced by the current specs are
        # orphans (a crashed CREATE's partial build, a RESTORE past the
        # index's lifetime) — GC them with the same sweep
        import shutil

        from .search_index import load_specs

        root = self.table_root(entry)
        sdir = os.path.join(root, "_search")
        if os.path.isdir(sdir):
            live = set(load_specs(t.snapshot().properties or {}))
            for name in os.listdir(sdir):
                if name not in live:
                    shutil.rmtree(
                        os.path.join(sdir, name), ignore_errors=True
                    )
        self.catalog.prune_versions(entry.uuid, t.latest_version())

    def _exec_vacuum_database(self, stmt) -> None:
        """GC dropped tables' storage + catalog rows (reference
        utils.rs:50 gc_databases)."""
        gone = []
        for (u, _db, _s, _n, _ms) in self.catalog.dropped_tables():
            root = os.path.join(self.data_dir, u)
            DeltaLiteTable(self.spark, root).drop_data()
            gone.append(u)
        self.catalog.clear_dropped(gone)

    def _exec_copy_to(self, stmt) -> None:
        from ..sources.store import data_plane_url

        if stmt.table:
            df = self.delta_table(stmt.table).to_df()
        else:
            df = self._exec_query(parser.Statement("query", stmt.query))
        # bucket destinations write through the Hadoop connector URI
        # (s3:// -> s3a://), same mapping the external read path uses
        stmt.path = data_plane_url(stmt.path)
        part = stmt.fields.get("partition_by") or []
        if stmt.format == "iceberg":
            # our extension (reference COPY knows csv/parquet/json only):
            # each COPY commits one append snapshot, so repeated COPYs build
            # a time-travelable history rather than clobbering the target
            if part:
                raise ExecutionError("PARTITIONED BY is not supported with ICEBERG")
            from ..sources.iceberg import write_iceberg_table

            write_iceberg_table(self.spark, df, stmt.path)
            return
        if stmt.format == "delta":
            # real Delta Lake export (readable by delta-rs / delta-spark);
            # appends a commit per COPY, like the iceberg path.
            # PARTITIONED BY writes the protocol's hive layout with
            # partitionValues in the add actions (r7 session C)
            from ..sources.delta_log import write_delta_table

            write_delta_table(self.spark, df, stmt.path, partition_by=part)
            return
        fmt = {"csv": "csv", "parquet": "parquet", "ndjson": "json", "json": "json"}.get(
            stmt.format
        )
        if fmt is None:
            raise ExecutionError(f"COPY TO format {stmt.format} not supported")
        if part:
            # hive-layout export (reference A6 PARTITIONED BY,
            # parser.rs:253-337): one directory tree keyed on the columns,
            # parallel writers — no single-file coalesce
            writer = df.write.mode("overwrite").partitionBy(*part)
        else:
            writer = df.coalesce(1).write.mode("overwrite")
        if fmt == "csv":
            writer = writer.option("header", stmt.options.get("header", "true"))
        writer.format(fmt).save(stmt.path)

    # ------------------------------------------------------------ ETag

    def _reads(self, sql: str) -> Reads:
        """Which relations ``sql`` reads: each relation Spark's parse of it
        names (``_parse``: in subqueries, CTE bodies and under EXPLAIN too,
        time-traveled ones included), resolved as statements resolve them
        (``_target``), and the tables and indexes of its ``search_index()``
        calls. A relation spelled like both a CTE and a table counts as a
        read of the table: a superset only costs a re-expansion, a missed
        read serves stale rows. A view adds what its SQL reads,
        transitively. Reads the catalog, the Delta logs of what it finds
        and, for a text not parsed before, Spark's parser, whose
        ParseException it raises as executing the text would."""
        mapping, named = self._name_mapping(self.catalog.tables(self.database))
        owner = {n.lower(): e for e, *names in named for n in names if n}
        staging = {n.lower() for n in self.staging}
        catalog_funcs = self.catalog.functions(self.database)
        funcs = {n.lower(): spec for n, spec in catalog_funcs.items()}
        out = Reads(mapping=mapping, named=named, catalog_functions=catalog_funcs)

        def snapshot(e: TableEntry) -> Snapshot:
            if e.uuid not in out.tables:
                t = DeltaLiteTable(self.spark, self.table_root(e))
                out.tables[e.uuid] = (e, t.snapshot())
            return out.tables[e.uuid][1]

        kind, arg = _meta_form(sql)
        if arg:
            sql = arg if kind == "analyze" else f"TABLE {arg}"
        todo = [(self._parse(sql), True)]
        while todo:
            q, top = todo.pop()
            try:
                hits = self._targets(q, mapping)
            except ExecutionError:
                if top:
                    raise
                continue  # a broken view fails the statements that read it
            out.system |= not hits.isdisjoint(_LAZY_NAMES)
            out.staging |= not hits.isdisjoint(staging)
            for n in q.functions & funcs.keys():
                out.functions[n] = funcs[n]
            for n in hits & owner.keys():
                if owner[n].uuid in out.tables:
                    continue
                view_sql = (snapshot(owner[n]).properties or {}).get(VIEW_PROP)
                if view_sql is not None:
                    try:
                        todo.append((self._parse(view_sql), False))
                    except Exception:  # noqa: BLE001
                        pass
            for c in q.search_calls:
                from .search_index import load_specs

                try:
                    entry = self._resolve(c.table)
                    spec = load_specs(snapshot(entry).properties or {}).get(c.index)
                except Exception:  # noqa: BLE001 — the query itself will
                    continue  # surface the real unresolved-relation error
                if spec is not None:
                    out.indexes.add((entry.uuid, c.index, spec.built_version, spec.file_fp))
        return out

    def etag_for_query(self, sql: str) -> str:
        """SHA-256 over what the query reads (``_reads``): a cached GET
        revalidates to 304 only while its result cannot have changed. The
        reference hashes the Delta tables its plan scans, views inlined
        (src/frontend/http.rs:63-105); this hash covers:

        * the (uuid, head version) of every entry read, views and what
          they read included;
        * each ``search_index()`` read's built_version and artifact file
          fingerprint (a REFRESH leaves the table's data files alone);
        * the spec of every persisted function named;
        * for a system.* or information_schema.* read, the (schema, name,
          uuid, version) of every table in the database and the dropped
          tables — those frames describe the whole catalog;
        * for a staging read, a fresh value: staging tables carry no
          version, so such a GET never answers 304.

        An unchanged read hashes the same across calls and restarts. Runs
        under the execution lock, so a concurrent per-call search_path
        never leaks into the resolution. A text parsed before (the GET's
        own execution parses it again) makes no Spark call here."""
        with self._exec_lock:
            r = self._reads(sql)
            h = sha256()
            for u, (_e, snap) in sorted(r.tables.items()):
                h.update(f"{u}@{snap.version};".encode())
            for u, i, bv, fp in sorted(r.indexes):
                h.update(f"{u}:{i}@{bv}:{fp};".encode())
            for n, spec in sorted(r.functions.items()):
                h.update(f"fn {n}={json.dumps(spec, sort_keys=True)};".encode())
            if r.system:
                for e in self.catalog.tables(self.database):
                    v = DeltaLiteTable(self.spark, self.table_root(e)).latest_version()
                    h.update(f"{e.schema}.{e.name}:{e.uuid}@{v};".encode())
                h.update(repr(sorted(self.catalog.dropped_tables())).encode())
            if r.staging:
                h.update(os.urandom(16))
        return h.hexdigest()
