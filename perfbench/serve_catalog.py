"""serve_catalog: point reads, small aggregates, view reads, cached GET
revalidations and single-row DML against an 8-table catalog.

Every statement makes the engine reload the whole catalog (``reload_views``
replays and re-registers each table), so the statement plane is most of
each op here. Writes land on four hot tables and change their versions and
ETags.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from harness import BenchError, Recorder, rows

N_TABLES = 8
N_HOT = 4
N_GROUPS = 16
# The shape of a run is fixed: table sizes, the op pattern and the
# rotations below (which table and which kind of read each op is) do not
# depend on the seed. The seed picks the contents (column values, keys,
# groups), so every seed does the same work.
PATTERN = ("read", "revalidate", "update", "read", "revalidate",
           "insert", "read", "revalidate", "update", "read")
READ_KINDS = ("point", "agg", "view", "point", "agg")
# nominal timed ops per --seconds on a 4-core host (see README.md)
OPS_PER_SECOND = 4.0
# Untimed warm-up: read latency stops falling after about 40 ops (see
# README.md). Four cycles also send 12 GETs, one per GET-pool query, so
# every timed GET is conditional.
WARMUP_OPS = 4 * len(PATTERN)

VIEWS = {
    "v0": "SELECT grp, count(*) AS n, sum(v) AS s FROM t00 GROUP BY grp",
    "v1": "SELECT grp, count(*) AS n, sum(v) AS s FROM t01 GROUP BY grp",
    "v2": "SELECT id, grp, v FROM t02 WHERE v >= 500",
    "v3": "SELECT grp, max(v) AS top FROM t03 GROUP BY grp",
}
VIEW_BASE = {"v0": 0, "v1": 1, "v2": 2, "v3": 3}


class Table:
    """The generator's model of one engine table (id is unique)."""

    def __init__(self, ids, grp, v):
        self.grp = {int(i): int(g) for i, g in zip(ids, grp)}
        self.v = {int(i): int(x) for i, x in zip(ids, v)}
        self.next_id = int(ids.max()) + 1

    def point(self, k):
        return [(k, self.grp[k], self.v[k], f"r{k}")]

    def group_agg(self, g):
        vs = [self.v[i] for i, gg in self.grp.items() if gg == g]
        return [(len(vs), sum(vs))]


def _name(i: int) -> str:
    return f"t{i:02d}"


class Workload:
    pattern = PATTERN

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        self.tables: list[Table] = []
        self.arrow: list[pa.Table] = []
        for i in range(N_TABLES):
            n = 1000 + i * 9000 // (N_TABLES - 1)
            ids = np.arange(n, dtype=np.int64)
            grp = self.rng.integers(0, N_GROUPS, n).astype(np.int64)
            v = self.rng.integers(0, 1000, n).astype(np.int64)
            self.tables.append(Table(ids, grp, v))
            self.arrow.append(pa.table({
                "id": ids, "grp": grp, "v": v,
                "name": pa.array([f"r{i}" for i in range(n)]),
            }))
        # GET pool: the queries a dashboard would keep revalidating
        self.get_pool = []
        for h in range(N_HOT):
            t = self.tables[h]
            self.get_pool.append(("point", h, int(self.rng.choice(list(t.v)))))
            self.get_pool.append(("agg", N_TABLES - 1 - h, int(self.rng.integers(0, N_GROUPS))))
        # whole-view GETs: the ETag of a view never moves (stale 304s)
        for view in VIEWS:
            self.get_pool.append(("view", view, None))
        self.etags: dict[int, tuple[str, list]] = {}
        self.seq = 0
        self.n_reads = self.n_gets = self.n_writes = 0

    # ------------------------------------------------------------ queries

    def _sql(self, kind, target, arg) -> str:
        if kind == "point":
            return f"SELECT id, grp, v, name FROM {_name(target)} WHERE id = {arg}"
        if kind == "agg":
            return (f"SELECT count(*) AS n, sum(v) AS s FROM {_name(target)} "
                    f"WHERE grp = {arg}")
        where = "" if arg is None else f" WHERE grp = {arg}"
        if target == "v2":
            return f"SELECT count(*) AS n, sum(v) AS s FROM v2{where}"
        if target == "v3":
            return f"SELECT grp, top FROM v3{where}"
        return f"SELECT grp, n, s FROM {target}{where}"

    def _expected(self, kind, target, arg, empty_view=False) -> list[tuple]:
        if kind == "point":
            return self.tables[target].point(arg)
        if kind == "agg":
            return self.tables[target].group_agg(arg)
        t = self.tables[VIEW_BASE[target]]
        groups: dict[int, list[int]] = {}
        if not empty_view:
            for i, g in t.grp.items():
                if arg is None or g == arg:
                    groups.setdefault(g, []).append(t.v[i])
        if target == "v2":
            vs = [v for members in groups.values() for v in members if v >= 500]
            return [(len(vs), sum(vs) if vs else None)]
        if target == "v3":
            return [(g, max(m)) for g, m in groups.items()]
        return [(g, len(m), sum(m)) for g, m in groups.items()]

    @staticmethod
    def _got(body: bytes) -> list[tuple]:
        return sorted(tuple(r.values()) for r in rows(body))

    # ------------------------------------------------------------ set-up

    def setup(self, http, client, rec: Recorder, clock) -> None:
        """Upload the tables, create the views, then a fixed untimed warm-up."""
        for i, tbl in enumerate(self.arrow):
            http.upload(_name(i), tbl)
        for view, sql in VIEWS.items():
            status, _, body = http.post(f"CREATE VIEW {view} AS {sql}")
            if status != 200:
                raise BenchError(f"CREATE VIEW {view}: {status} {body[:200]!r}")
        for cls in self.ops(WARMUP_OPS):
            self.do(cls, http, client, rec, clock)

    # ------------------------------------------------------------ ops

    def ops(self, n: int):
        for _ in range(n):
            yield PATTERN[self.seq % len(PATTERN)]
            self.seq += 1

    def do(self, cls: str, http, client, rec: Recorder, clock) -> None:
        if cls in ("update", "insert"):
            self._write(cls, http, rec, clock)
        else:
            getattr(self, "_" + cls)(http, rec, clock)

    def _read(self, http, rec, clock):
        r = self.n_reads
        self.n_reads += 1
        kind = READ_KINDS[r % len(READ_KINDS)]
        arg = int(self.rng.integers(0, N_GROUPS))
        if kind == "view":
            # a whole view: a filtered one is answered wrongly (see probe)
            target, arg = f"v{r % len(VIEWS)}", None
        else:
            # every third read goes to a cold table, the rest to hot ones
            target = (N_HOT + r // 3 % (N_TABLES - N_HOT) if r % 3 == 2
                      else r % N_HOT)
            if kind == "point":
                arg = int(self.rng.choice(list(self.tables[target].v)))
        sql = self._sql(kind, target, arg)
        t0 = clock()
        status, _, body = http.post(sql)
        rec.add("read", (clock() - t0) * 1e3)
        got = self._got(body) if status == 200 else None
        if got != sorted(self._expected(kind, target, arg)):
            rec.fail(f"read {sql!r}: {status} {body[:200]!r}")

    def probe(self, http, rec: Recorder) -> None:
        """Untimed, after the timed phase: one filtered read of each view."""
        for view in VIEWS:
            arg = int(self.rng.integers(0, N_GROUPS))
            sql = self._sql("view", view, arg)
            rec.attempted += 1
            status, _, body = http.post(sql)
            got = self._got(body) if status == 200 else None
            if got == sorted(self._expected("view", view, arg)):
                continue
            if got == self._expected("view", view, arg, empty_view=True):
                # scan pruning swaps a filtered view for its empty table dir
                rec.known("view_where_empty")
            else:
                rec.fail(f"probe {sql!r}: {status} {body[:200]!r}")

    def _revalidate(self, http, rec, clock):
        i = self.n_gets % len(self.get_pool)
        self.n_gets += 1
        kind, target, arg = self.get_pool[i]
        sql = self._sql(kind, target, arg)
        etag, last = self.etags.get(i, (None, None))
        rec.conditional_gets += etag is not None
        t0 = clock()
        status, headers, body = http.get(sql, etag)
        ms = (clock() - t0) * 1e3
        want = sorted(self._expected(kind, target, arg))
        if status == 304 and etag is not None:
            rec.add("revalidate", ms)
            if last != want:
                if kind == "view":
                    # ETag ignores a view's base tables: stale reply
                    rec.known("stale_view_304")
                else:
                    rec.fail(f"stale 304 for {sql!r}")
            return
        rec.add("read", ms)
        got = self._got(body)
        if status != 200 or got != want:
            rec.fail(f"GET {sql!r}: {status} {body[:200]!r}")
            return
        self.etags[i] = (headers.get("ETag"), got)

    def _write(self, kind, http, rec, clock):
        h = self.n_writes % N_HOT
        self.n_writes += 1
        t = self.tables[h]
        if kind == "insert":
            k, g = t.next_id, int(self.rng.integers(0, N_GROUPS))
            v = int(self.rng.integers(0, 1000))
            sql = f"INSERT INTO {_name(h)} VALUES ({k}, {g}, {v}, 'r{k}')"
            apply = lambda: (t.grp.__setitem__(k, g), t.v.__setitem__(k, v),
                             setattr(t, "next_id", k + 1))
        else:
            k = int(self.rng.choice(list(t.v)))
            v = int(self.rng.integers(0, 1000))
            sql = f"UPDATE {_name(h)} SET v = {v} WHERE id = {k}"
            apply = lambda: t.v.__setitem__(k, v)
        t0 = clock()
        status, _, body = http.post(sql)
        rec.add("write", (clock() - t0) * 1e3)
        if status != 200:
            rec.fail(f"write {sql!r}: {status} {body[:200]!r}")
            return
        apply()

    # ------------------------------------------------------------ results

    def extra_metrics(self, rec: Recorder) -> dict:
        return {}
