"""Per-SparkSession registry of the engine's temp-view bindings.

Spark's temp-view namespace belongs to the SparkSession, so the registry
does too: every ``SeafowlContext`` on one session shares it. Each bound
name carries a key saying exactly what it holds, and ``bind`` skips the
Spark work (building the frame is the caller's, registering it is
``createOrReplaceTempView``) when the name already holds that key:

* a catalog table: ``("table", root, snapshot version)``;
* a logical view: ``("view", root, version, rewritten SQL, conf, specs
  of the functions it names, keys of every name it reads)`` — a view over
  a view invalidates transitively;
* a staging table: ``("staging", id(frame))``, the frame itself being
  held by the registry while bound;
* a lazily built system frame or a Flight inline table: a key holding a
  fresh ``object()``, which never compares equal, so it always rebinds.

Roots are absolute table directories, so two contexts with different data
directories never match each other's keys. Every write or drop of a name
the engine binds goes through here: a name rebound behind the registry's
back would be served under a key it no longer holds.
"""

from __future__ import annotations

import re
import threading
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession

# key kinds that reload_views owns: a reload unbinds such a name once the
# catalog it reads no longer shows it
RELOAD_KINDS = frozenset({"table", "view", "staging", "system"})

_TOKEN = re.compile(r"[A-Za-z0-9_]+")
_SESSION_ATTR = "_sfs_bindings"
_CREATE_LOCK = threading.Lock()


def referenced_names(sql: str, names: Iterable[str]) -> set[str]:
    """The lower-cased members of ``names`` that ``sql`` may read.

    A name counts when it equals an identifier token of ``sql``
    case-insensitively (mangled view names and bare search-schema names
    are single tokens); a name that is not a single token counts when it
    occurs anywhere in the text. This over-detects on purpose — a column,
    alias or literal spelled like a table counts too — because a superset
    only costs a re-expansion, while a missed name serves stale rows."""
    tokens = {t.lower() for t in _TOKEN.findall(sql)}
    low = sql.lower()
    out = set()
    for n in names:
        nl = n.lower()
        if nl in tokens or (not _TOKEN.fullmatch(nl) and nl in low):
            out.add(nl)
    return out


class Bindings:
    """name -> (key, DataFrame) for every temp view the engine bound on one
    session. Names fold to lower case, as Spark's temp-view lookup does."""

    def __init__(self, spark: SparkSession) -> None:
        self.spark = spark
        self._bound: dict[str, tuple[tuple, DataFrame]] = {}
        # held for a whole statement (SeafowlContext._session_lock), so a
        # context on the same session cannot rebind a name between a
        # statement's reload and the analysis of its SQL
        self.lock = threading.RLock()

    def key(self, name: str) -> tuple | None:
        b = self._bound.get(name.lower())
        return b[0] if b else None

    def names(self) -> set[str]:
        return set(self._bound)

    def bind(self, name: str, key: tuple, df: DataFrame) -> bool:
        """Point ``name`` at ``df`` unless it already holds ``key``; True
        when the name was (re)bound."""
        with self.lock:
            if self.key(name) == key:
                return False
            df.createOrReplaceTempView(name)
            self._bound[name.lower()] = (key, df)
            return True

    def drop(self, name: str) -> None:
        with self.lock:
            if self._bound.pop(name.lower(), None) is None:
                return
            try:
                self.spark.catalog.dropTempView(name)
            except Exception:  # noqa: BLE001 — already gone is the wanted state
                pass

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
