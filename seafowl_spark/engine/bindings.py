"""Per-SparkSession registry of the engine's temp-view bindings.

Spark's temp-view namespace belongs to the SparkSession, so the registry
does too: every ``SeafowlContext`` on one session shares it. Each bound
name carries a key saying exactly what it holds, and ``bind`` skips the
Spark work (building the frame is the caller's, registering it is
``createOrReplaceTempView``) when the name already holds that key:

* a catalog table: ``("table", root, snapshot version)``;
* a logical view: ``("view", root, version, rewritten SQL, conf, specs
  of the functions it names, keys of every name it reads)`` — the names
  and functions come from Spark's parse of its SQL
  (``parser.parse_query``), so a view over a view invalidates
  transitively;
* a staging table: ``("staging", id(frame))``, the frame itself being
  held by the registry while bound;
* a lazily built system frame or a Flight inline table: a key holding a
  fresh ``object()``, which never compares equal, so it always rebinds.

A table binding either scans parquet or holds the table's rows on the
driver (``deltalite.held_bytes``). The registry counts the bytes the
driver-held frames hold and keeps their total under ``budget``: binding
one more unbinds the least recently read until it fits, and a statement
binds a table through parquet when even that would not make room. A
logical view's plan holds the rows of the tables it reads, so a view
over a driver-held frame is unbound when that frame is.

Roots are absolute table directories, so two contexts with different data
directories never match each other's keys. Every write or drop of a name
the engine binds goes through here: a name rebound behind the registry's
back would be served under a key it no longer holds.
"""

from __future__ import annotations

import threading
from functools import cached_property
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession

from .deltalite import held_bytes

# key kinds that reload_views owns: a reload unbinds such a name once the
# catalog it reads no longer shows it
RELOAD_KINDS = frozenset({"table", "view", "staging", "system"})

_SESSION_ATTR = "_sfs_bindings"
_CREATE_LOCK = threading.Lock()


class Bindings:
    """name -> (key, DataFrame) for every temp view the engine bound on one
    session. Names fold to lower case, as Spark's temp-view lookup does."""

    def __init__(self, spark: SparkSession) -> None:
        self.spark = spark
        self._bound: dict[str, tuple[tuple, DataFrame]] = {}
        # key -> Arrow bytes of each driver-held frame bound, least
        # recently read first
        self._held: dict[tuple, int] = {}
        # held for a whole statement (SeafowlContext._session_lock), so a
        # context on the same session cannot rebind a name between a
        # statement's reload and the analysis of its SQL
        self.lock = threading.RLock()

    @cached_property
    def budget(self) -> int:
        """The Arrow bytes all driver-held frames may hold: an eighth of
        the driver JVM's max heap, which leaves room for the rows taking
        more space there, as a LocalRelation's UnsafeRows, than in Arrow."""
        runtime = self.spark._jvm.java.lang.Runtime.getRuntime()
        return int(runtime.maxMemory()) // 8

    def key(self, name: str) -> tuple | None:
        b = self._bound.get(name.lower())
        return b[0] if b else None

    def names(self) -> set[str]:
        return set(self._bound)

    def held(self, key: tuple) -> bool:
        """Whether ``key`` is bound to a driver-held frame."""
        return key in self._held

    def held_total(self) -> int:
        return sum(self._held.values())

    def read(self, keys: Iterable[tuple]) -> int:
        """Mark the driver-held frames bound to ``keys`` as the most
        recently read; returns the bytes one more frame may hold if every
        other driver-held frame were unbound."""
        with self.lock:
            keys = [k for k in keys if k in self._held]
            for k in keys:
                self._held[k] = self._held.pop(k)
            return self.budget - sum(self._held[k] for k in keys)

    def bind(self, name: str, key: tuple, df: DataFrame) -> bool:
        """Point ``name`` at ``df`` unless it already holds ``key``; True
        when the name was (re)bound. Then driver-held frames other than
        ``df`` are unbound, least recently read first, until their total
        fits in ``budget``."""
        with self.lock:
            old = self.key(name)
            if old == key:
                return False
            df.createOrReplaceTempView(name)
            self._bound[name.lower()] = (key, df)
            held = held_bytes(df)
            if held is not None:
                self._held.pop(key, None)
                self._held[key] = held
            if old is not None:
                self._release(old)
            while self.held_total() > self.budget:
                lru = next(iter(self._held))
                if lru == key:
                    break
                for n in [n for n, (k, _df) in self._bound.items() if k == lru]:
                    self.drop(n)
                self._held.pop(lru, None)
            return True

    def drop(self, name: str) -> None:
        with self.lock:
            b = self._bound.pop(name.lower(), None)
            if b is None:
                return
            try:
                self.spark.catalog.dropTempView(name)
            except Exception:  # noqa: BLE001 — already gone is the wanted state
                pass
            self._release(b[0])

    def _release(self, key: tuple) -> None:
        """Forget the driver-held frame of ``key`` once no name holds it,
        and unbind every view whose plan holds it."""
        if key[0] != "table" or key not in self._held:
            return  # a view's key may hold a dict: only table keys hash
        if any(k == key for k, _df in self._bound.values()):
            return
        del self._held[key]
        for n, (k, _df) in list(self._bound.items()):
            if k[0] == "view" and _mentions(k, key):
                self.drop(n)

    def drop_root(self, root: str) -> None:
        """Unbind every table or view name bound to the table at ``root``."""
        with self.lock:
            for name, (key, _df) in list(self._bound.items()):
                if key[0] in ("table", "view") and key[1] == root:
                    self.drop(name)

    def stale(self, visible: set[str]) -> list[str]:
        """Reload-owned names missing from ``visible`` (lower-cased)."""
        return [
            n for n, (key, _df) in self._bound.items()
            if key[0] in RELOAD_KINDS and n not in visible
        ]


def _mentions(key: tuple, target: tuple) -> bool:
    """Whether ``key`` is ``target`` or holds it, at any depth (a view's
    key holds the keys of the names it reads)."""
    return key == target or any(
        isinstance(x, tuple) and _mentions(x, target) for x in key
    )


def for_session(spark: SparkSession) -> Bindings:
    """The session's registry, created on first use."""
    reg = getattr(spark, _SESSION_ATTR, None)
    if reg is None:
        with _CREATE_LOCK:
            reg = getattr(spark, _SESSION_ATTR, None)
            if reg is None:
                reg = Bindings(spark)
                setattr(spark, _SESSION_ATTR, reg)
    return reg
