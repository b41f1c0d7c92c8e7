"""Metastore catalog — databases / schemas / tables / functions.

The reference keeps a lightweight catalog in Postgres or SQLite (reference
src/config/schema.rs:104-111, src/catalog/) with tables for databases
("collections" of schemas), schemas, tables (UUID-named storage dirs),
table versions, functions, and dropped tables pending GC. This is the same
model on stdlib sqlite3.

Naming rules copied from the reference: default database `default`, default
schema `public`, reserved in-memory `staging` schema for external tables and
read-only `system` schema for virtual tables (src/catalog/mod.rs:21-23,
src/provider.rs:25-54). Table directories are UUID-named so RENAME is a
catalog-only operation (A11, reference physical.rs:635-665).

Journal. A file catalog runs in WAL mode with ``synchronous=FULL``. Every
committed statement writes the catalog at least once (its new Delta
versions go into ``table_versions``), so the commit cost is on the write
path of every DML statement, upload, CREATE and CDC flush. SQLite's default
rollback journal creates, syncs and deletes ``<db>-journal`` on each
commit; on ext4 each of those directory operations waits for a filesystem
journal commit, and one single-row commit took a median 52 ms on a 4-core
ext4 host (TRUNCATE 54 ms, PERSIST 0.13 ms, WAL 0.04 ms; a raw ``fsync``
there takes 0.03 ms). WAL appends to ``<db>-wal`` instead and, with
``synchronous=FULL``, syncs it on every commit, so a committed row survives
power loss exactly as under the rollback journal. WAL also lets readers
run beside the writer, across threads and across processes that share the
file. An in-memory catalog (``:memory:``) has no journal file and keeps
SQLite's ``memory`` mode.
"""

from __future__ import annotations

import json
import sqlite3
import threading
import time
import uuid
from dataclasses import dataclass

DEFAULT_DB = "default"
DEFAULT_SCHEMA = "public"
STAGING_SCHEMA = "staging"
SYSTEM_SCHEMA = "system"
RESERVED_SCHEMAS = (STAGING_SCHEMA, SYSTEM_SCHEMA)

_DDL = """
CREATE TABLE IF NOT EXISTS databases (
    name TEXT PRIMARY KEY,
    created_ms INTEGER NOT NULL
);
CREATE TABLE IF NOT EXISTS schemas (
    database TEXT NOT NULL,
    name TEXT NOT NULL,
    created_ms INTEGER NOT NULL,
    PRIMARY KEY (database, name)
);
CREATE TABLE IF NOT EXISTS tables (
    database TEXT NOT NULL,
    schema TEXT NOT NULL,
    name TEXT NOT NULL,
    uuid TEXT NOT NULL,
    schema_ddl TEXT NOT NULL,
    created_ms INTEGER NOT NULL,
    PRIMARY KEY (database, schema, name)
);
CREATE TABLE IF NOT EXISTS table_versions (
    uuid TEXT NOT NULL,
    version INTEGER NOT NULL,
    timestamp_ms INTEGER NOT NULL,
    operation TEXT NOT NULL,
    PRIMARY KEY (uuid, version)
);
CREATE TABLE IF NOT EXISTS dropped_tables (
    uuid TEXT NOT NULL,
    database TEXT NOT NULL,
    schema TEXT NOT NULL,
    name TEXT NOT NULL,
    dropped_ms INTEGER NOT NULL
);
CREATE TABLE IF NOT EXISTS functions (
    database TEXT NOT NULL,
    name TEXT NOT NULL,
    spec_json TEXT NOT NULL,
    created_ms INTEGER NOT NULL,
    PRIMARY KEY (database, name)
);
"""


class CatalogError(Exception):
    pass


@dataclass(frozen=True)
class TableEntry:
    database: str
    schema: str
    name: str
    uuid: str
    schema_ddl: str


class Catalog:
    """SQLite-backed metastore. Thread-safe via one lock (the reference
    serializes through sqlx pools; our write volume is tiny).

    A file catalog runs in WAL mode with ``synchronous=FULL`` (the module
    docstring gives the measured reason and the durability it keeps). A
    statement's Delta versions are mirrored with one
    :meth:`record_versions` call, so one statement is one catalog
    commit."""

    def __init__(self, path: str):
        self._conn = sqlite3.connect(path, check_same_thread=False)
        self._lock = threading.Lock()
        with self._lock:
            # outside any transaction: SQLite ignores a journal-mode
            # change inside one. WAL is persistent in the file itself;
            # synchronous is per connection, so it is set on every open.
            self._conn.execute("PRAGMA journal_mode=WAL")
            self._conn.execute("PRAGMA synchronous=FULL")
            self._conn.executescript(_DDL)
            self._conn.execute(
                "INSERT OR IGNORE INTO databases VALUES (?, ?)",
                (DEFAULT_DB, int(time.time() * 1000)),
            )
            self._conn.execute(
                "INSERT OR IGNORE INTO schemas VALUES (?, ?, ?)",
                (DEFAULT_DB, DEFAULT_SCHEMA, int(time.time() * 1000)),
            )
            self._conn.commit()

    # ------------------------------------------------------------ databases

    def create_database(self, name: str, if_not_exists: bool = False) -> None:
        with self._lock:
            if self._db_exists(name):
                if if_not_exists:
                    return
                raise CatalogError(f"database {name} already exists")
            now = int(time.time() * 1000)
            self._conn.execute("INSERT INTO databases VALUES (?, ?)", (name, now))
            # every database gets a default `public` schema (reference
            # physical.rs:137-162 creates it on CREATE DATABASE)
            self._conn.execute(
                "INSERT INTO schemas VALUES (?, ?, ?)", (name, DEFAULT_SCHEMA, now)
            )
            self._conn.commit()

    def _db_exists(self, name: str) -> bool:
        return (
            self._conn.execute("SELECT 1 FROM databases WHERE name=?", (name,)).fetchone()
            is not None
        )

    def databases(self) -> list[str]:
        return [r[0] for r in self._conn.execute("SELECT name FROM databases ORDER BY 1")]

    def drop_database(self, name: str) -> list[TableEntry]:
        """Returns the dropped tables so the caller can GC their storage."""
        with self._lock:
            if not self._db_exists(name):
                raise CatalogError(f"database {name} does not exist")
            dropped = [
                TableEntry(*r)
                for r in self._conn.execute(
                    "SELECT database, schema, name, uuid, schema_ddl FROM tables WHERE database=?",
                    (name,),
                )
            ]
            now = int(time.time() * 1000)
            for t in dropped:
                self._conn.execute(
                    "INSERT INTO dropped_tables VALUES (?, ?, ?, ?, ?)",
                    (t.uuid, t.database, t.schema, t.name, now),
                )
            self._conn.execute("DELETE FROM tables WHERE database=?", (name,))
            self._conn.execute("DELETE FROM schemas WHERE database=?", (name,))
            self._conn.execute("DELETE FROM databases WHERE name=?", (name,))
            self._conn.commit()
            return dropped

    # ------------------------------------------------------------ schemas

    def create_schema(self, database: str, name: str, if_not_exists: bool = False) -> None:
        if name in RESERVED_SCHEMAS:
            raise CatalogError(f"schema name {name} is reserved")
        with self._lock:
            if not self._db_exists(database):
                raise CatalogError(f"database {database} does not exist")
            exists = (
                self._conn.execute(
                    "SELECT 1 FROM schemas WHERE database=? AND name=?", (database, name)
                ).fetchone()
                is not None
            )
            if exists:
                if if_not_exists:
                    return
                raise CatalogError(f"schema {name} already exists")
            self._conn.execute(
                "INSERT INTO schemas VALUES (?, ?, ?)", (database, name, int(time.time() * 1000))
            )
            self._conn.commit()

    def schemas(self, database: str) -> list[str]:
        return [
            r[0]
            for r in self._conn.execute(
                "SELECT name FROM schemas WHERE database=? ORDER BY 1", (database,)
            )
        ]

    def drop_schema(self, database: str, name: str) -> list[TableEntry]:
        with self._lock:
            exists = (
                self._conn.execute(
                    "SELECT 1 FROM schemas WHERE database=? AND name=?", (database, name)
                ).fetchone()
                is not None
            )
            if not exists:
                raise CatalogError(f"schema {name} does not exist")
            dropped = [
                TableEntry(*r)
                for r in self._conn.execute(
                    "SELECT database, schema, name, uuid, schema_ddl FROM tables "
                    "WHERE database=? AND schema=?",
                    (database, name),
                )
            ]
            now = int(time.time() * 1000)
            for t in dropped:
                self._conn.execute(
                    "INSERT INTO dropped_tables VALUES (?, ?, ?, ?, ?)",
                    (t.uuid, t.database, t.schema, t.name, now),
                )
            self._conn.execute(
                "DELETE FROM tables WHERE database=? AND schema=?", (database, name)
            )
            self._conn.execute(
                "DELETE FROM schemas WHERE database=? AND name=?", (database, name)
            )
            self._conn.commit()
            return dropped

    # ------------------------------------------------------------ tables

    def create_table(
        self, database: str, schema: str, name: str, schema_ddl: str
    ) -> TableEntry:
        with self._lock:
            row = self._conn.execute(
                "SELECT 1 FROM schemas WHERE database=? AND name=?", (database, schema)
            ).fetchone()
            if row is None:
                raise CatalogError(f"schema {database}.{schema} does not exist")
            if self._get(database, schema, name) is not None:
                raise CatalogError(f"table {schema}.{name} already exists")
            entry = TableEntry(database, schema, name, uuid.uuid4().hex, schema_ddl)
            self._conn.execute(
                "INSERT INTO tables VALUES (?, ?, ?, ?, ?, ?)",
                (database, schema, name, entry.uuid, schema_ddl, int(time.time() * 1000)),
            )
            self._conn.commit()
            return entry

    def update_schema(self, table_uuid: str, schema_ddl: str) -> None:
        """Refresh the catalog's cached DDL after schema evolution (the
        table log stays authoritative — this keeps SHOW COLUMNS /
        DESCRIBE / information_schema in sync)."""
        with self._lock:
            self._conn.execute(
                "UPDATE tables SET schema_ddl=? WHERE uuid=?",
                (schema_ddl, table_uuid),
            )
            self._conn.commit()

    def _get(self, database: str, schema: str, name: str):
        return self._conn.execute(
            "SELECT database, schema, name, uuid, schema_ddl FROM tables "
            "WHERE database=? AND schema=? AND name=?",
            (database, schema, name),
        ).fetchone()

    def get_table(self, database: str, schema: str, name: str) -> TableEntry | None:
        row = self._get(database, schema, name)
        return TableEntry(*row) if row else None

    def tables(self, database: str, schema: str | None = None) -> list[TableEntry]:
        if schema:
            rows = self._conn.execute(
                "SELECT database, schema, name, uuid, schema_ddl FROM tables "
                "WHERE database=? AND schema=? ORDER BY schema, name",
                (database, schema),
            )
        else:
            rows = self._conn.execute(
                "SELECT database, schema, name, uuid, schema_ddl FROM tables "
                "WHERE database=? ORDER BY schema, name",
                (database,),
            )
        return [TableEntry(*r) for r in rows]

    def rename_table(
        self, database: str, schema: str, name: str, new_schema: str, new_name: str
    ) -> None:
        """Catalog-only rename/move within one database (A11)."""
        with self._lock:
            if self._get(database, schema, name) is None:
                raise CatalogError(f"table {schema}.{name} does not exist")
            row = self._conn.execute(
                "SELECT 1 FROM schemas WHERE database=? AND name=?", (database, new_schema)
            ).fetchone()
            if row is None:
                raise CatalogError(f"target schema {new_schema} does not exist")
            if self._get(database, new_schema, new_name) is not None:
                raise CatalogError(f"table {new_schema}.{new_name} already exists")
            self._conn.execute(
                "UPDATE tables SET schema=?, name=? WHERE database=? AND schema=? AND name=?",
                (new_schema, new_name, database, schema, name),
            )
            self._conn.commit()

    def drop_table(self, database: str, schema: str, name: str) -> TableEntry:
        with self._lock:
            row = self._get(database, schema, name)
            if row is None:
                raise CatalogError(f"table {schema}.{name} does not exist")
            entry = TableEntry(*row)
            self._conn.execute(
                "DELETE FROM tables WHERE database=? AND schema=? AND name=?",
                (database, schema, name),
            )
            self._conn.execute(
                "INSERT INTO dropped_tables VALUES (?, ?, ?, ?, ?)",
                (entry.uuid, database, schema, name, int(time.time() * 1000)),
            )
            self._conn.commit()
            return entry

    def recorded_version(self, table_uuid: str) -> int | None:
        """The highest version mirrored for a table (None: none yet) —
        the high-water mark the next :meth:`record_versions` starts
        above. VACUUM prunes rows below the latest version, never the
        latest itself, so the mark never moves backwards."""
        return self._conn.execute(
            "SELECT max(version) FROM table_versions WHERE uuid=?", (table_uuid,)
        ).fetchone()[0]

    def record_versions(self, table_uuid: str, rows: list[tuple[int, int, str]]) -> None:
        """Mirror deltalite commits ``(version, timestamp_ms, operation)``
        into the catalog in ONE transaction (reference create_new_version,
        delta.rs:415-423 + system_tables.rs:132-210). Idempotent per
        version, so two engines recording the same commit agree."""
        if not rows:
            return
        with self._lock:
            self._conn.executemany(
                "INSERT OR IGNORE INTO table_versions VALUES (?, ?, ?, ?)",
                [(table_uuid, v, ts, op) for (v, ts, op) in rows],
            )
            self._conn.commit()

    def table_versions(self, table_uuid: str | None = None) -> list[tuple]:
        if table_uuid:
            return list(
                self._conn.execute(
                    "SELECT uuid, version, timestamp_ms, operation FROM table_versions "
                    "WHERE uuid=? ORDER BY version",
                    (table_uuid,),
                )
            )
        return list(
            self._conn.execute(
                "SELECT uuid, version, timestamp_ms, operation FROM table_versions ORDER BY uuid, version"
            )
        )

    def dropped_tables(self) -> list[tuple]:
        return list(
            self._conn.execute(
                "SELECT uuid, database, schema, name, dropped_ms FROM dropped_tables ORDER BY dropped_ms"
            )
        )

    def clear_dropped(self, uuids: list[str]) -> None:
        with self._lock:
            for u in uuids:
                self._conn.execute("DELETE FROM dropped_tables WHERE uuid=?", (u,))
                self._conn.execute("DELETE FROM table_versions WHERE uuid=?", (u,))
            self._conn.commit()

    def prune_versions(self, table_uuid: str, keep_from_version: int) -> None:
        with self._lock:
            self._conn.execute(
                "DELETE FROM table_versions WHERE uuid=? AND version < ?",
                (table_uuid, keep_from_version),
            )
            self._conn.commit()

    # ------------------------------------------------------------ functions

    def create_function(self, database: str, name: str, spec: dict, or_replace: bool = False) -> None:
        with self._lock:
            exists = (
                self._conn.execute(
                    "SELECT 1 FROM functions WHERE database=? AND name=?", (database, name)
                ).fetchone()
                is not None
            )
            if exists and not or_replace:
                raise CatalogError(f"function {name} already exists")
            self._conn.execute(
                "INSERT OR REPLACE INTO functions VALUES (?, ?, ?, ?)",
                (database, name, json.dumps(spec), int(time.time() * 1000)),
            )
            self._conn.commit()

    def functions(self, database: str) -> dict[str, dict]:
        return {
            r[0]: json.loads(r[1])
            for r in self._conn.execute(
                "SELECT name, spec_json FROM functions WHERE database=?", (database,)
            )
        }

    def drop_function(self, database: str, name: str, if_exists: bool = False) -> None:
        with self._lock:
            cur = self._conn.execute(
                "DELETE FROM functions WHERE database=? AND name=?", (database, name)
            )
            self._conn.commit()
            if cur.rowcount == 0 and not if_exists:
                raise CatalogError(f"function {name} does not exist")
