"""Small tables held on the driver (``DeltaLiteTable.to_df`` with a room).

A statement binds a small table as a one-partition LocalRelation read by
pyarrow. Spark folds a point, filter or LIMIT read over it into rows the
driver holds, which ``results.fetch`` returns without a Spark job; every
other read runs one job. Each read returns what the parquet binding of
the same table returns (``DRIVER_WRITE_MAX_ROWS`` set to 0 turns the
driver binding off), and the registry keeps the bytes held under its
budget."""

import json
import os
import struct
import subprocess
import sys
import uuid

import numpy as np
import pytest
from pyspark.sql import types as T

from seafowl_spark.engine import bindings, deltalite, results
from tests.conftest import spark_jobs
from tests.test_results import (
    TYPE_MATRIX,
    RawPg,
    _data_rows,
    _golden,
    _post,
    python_tz,
)


def _key(ctx, name):
    t = ctx.delta_table(name)
    return ("table", os.path.abspath(t.root), t.latest_version())


def _held(ctx, name) -> bool:
    return bindings.for_session(ctx.spark).held(_key(ctx, name))


def _norm(v):
    """A value as comparable data: floats by repr (NaN equals NaN, -0.0
    differs from 0.0), maps as their ordered items."""
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, dict):
        return ("map", [(_norm(k), _norm(x)) for k, x in v.items()])
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _wire(ctx, sql, ordered=False):
    """The rows the frontends send for ``sql``: ``fetch`` and then the
    Python values ``row_batches`` gives each column."""
    df = ctx.execute(sql)
    got = [
        _norm(r)
        for batch in results.row_batches(results.fetch(df), df.schema)
        for r in batch
    ]
    return got if ordered else sorted(got, key=repr)


def _jobs(ctx, sql) -> int:
    return spark_jobs(ctx.spark, lambda: results.fetch(ctx.execute(sql)))


# ------------------------------------------------------ seeded equality

COLUMNS = (
    ("k", "BIGINT"), ("g", "INT"), ("f", "DOUBLE"), ("z", "DOUBLE"),
    ("d", "DECIMAL(12, 4)"), ("ts", "TIMESTAMP"), ("st", "STRUCT<x: INT, y: STRING>"),
    ("arr", "ARRAY<INT>"), ("m", "MAP<STRING, INT>"), ("s", "STRING"),
)


def _create(ctx, name, columns):
    """CREATE TABLE by an empty typed SELECT: a column list cannot spell a
    STRUCT or MAP type, whose commas split it."""
    cols = ", ".join(f"CAST(NULL AS {t}) AS {n}" for n, t in columns)
    ctx.execute(f"CREATE TABLE {name} AS SELECT {cols} WHERE 1 = 0")


def _value(rng, kind):
    if rng.random() < 0.15:
        return "NULL"
    if kind == "f":
        return str(rng.choice(["CAST('NaN' AS DOUBLE)", "-0.0D", "0.0D", "1.5D",
                               f"{rng.normal():.6f}D"]))
    if kind == "z":
        return str(rng.choice(["-0.0D", "0.0D", "CAST('NaN' AS DOUBLE)"]))
    if kind == "d":
        return f"{rng.normal() * 100:.4f}BD"
    if kind == "ts":
        return (f"TIMESTAMP '2024-0{int(rng.integers(1, 10))}-1{int(rng.integers(0, 10))} "
                f"0{int(rng.integers(0, 10))}:30:00.25'")
    if kind == "st":
        return f"named_struct('x', {int(rng.integers(0, 9))}, 'y', 'y{int(rng.integers(0, 9))}')"
    if kind == "arr":
        return f"array({int(rng.integers(0, 9))}, NULL, {int(rng.integers(0, 9))})"
    if kind == "m":
        return f"map('a', {int(rng.integers(0, 9))}, 'b{int(rng.integers(0, 3))}', NULL)"
    return f"'s{int(rng.integers(0, 9))}'"


def _seed(ctx, monkeypatch, prefix, seed):
    """Tables ``{prefix}a`` (four files and a merge-on-read DELETE, so
    deletion vectors) and ``{prefix}b``, a view over ``a`` and a view over
    that view; the same ``seed`` gives the same rows."""
    rng = np.random.default_rng(seed)
    a, b = f"{prefix}a", f"{prefix}b"
    _create(ctx, a, COLUMNS)
    for f in range(4):
        vals = []
        for i in range(20):
            k = f * 20 + i
            g = "NULL" if rng.random() < 0.1 else str(int(rng.integers(0, 4)))
            rest = [_value(rng, c) for c in ("f", "z", "d", "ts", "st", "arr", "m", "s")]
            vals.append(f"({k}, {g}, {', '.join(rest)})")
        ctx.execute(f"INSERT INTO {a} VALUES {', '.join(vals)}")
    ctx.execute(f"CREATE TABLE {b} (k BIGINT, s STRING)")
    ctx.execute(
        f"INSERT INTO {b} VALUES "
        + ", ".join(f"({k}, 'b{int(rng.integers(0, 5))}')" for k in range(0, 80, 3))
    )
    ctx.execute(f"CREATE VIEW {prefix}va AS SELECT k, g, d, s FROM {a} WHERE k % 2 = 0")
    ctx.execute(
        f"CREATE VIEW {prefix}vva AS SELECT g, count(*) AS n, sum(d) AS sd "
        f"FROM {prefix}va GROUP BY g"
    )
    with monkeypatch.context() as m:
        m.setattr(deltalite, "MOR_DELETE_MIN_BYTES", 0)
        ctx.execute(f"DELETE FROM {a} WHERE k % 7 = 3")
    assert any(f.dv for f in ctx.delta_table(a).snapshot().files)


SHAPES = {
    "point": "SELECT * FROM {a} WHERE k = 8",
    "in_list": "SELECT k, s, m, arr FROM {a} WHERE k IN (1, 5, 9, 40, 3)",
    "range": "SELECT * FROM {a} WHERE k BETWEEN 10 AND 30",
    "limit": "SELECT k, f, z, st FROM {a} WHERE k < 6 LIMIT 10",
    "order_by": "SELECT k, f, z FROM {a} ORDER BY f, k",
    "aggregate": "SELECT count(*), count(f), sum(d), max(ts), min(k) FROM {a}",
    "group_by": "SELECT g, count(*), sum(d), max(s) FROM {a} GROUP BY g",
    "distinct": "SELECT DISTINCT g, s FROM {a}",
    "window": "SELECT k, row_number() OVER (PARTITION BY g ORDER BY k) AS r FROM {a}",
    "join": "SELECT x.k, y.s, x.d FROM {a} x JOIN {b} y ON x.k = y.k WHERE x.g = 1",
    "view_over_view": "SELECT * FROM {vva}",
    "view_point": "SELECT * FROM {va} WHERE k = 12",
    "version_as_of": "SELECT k, f, ts FROM {a} FOR VERSION AS OF 2 WHERE k < 30",
    "whole_table": "SELECT * FROM {a}",
}


@pytest.mark.parametrize("zone", ("UTC", "Asia/Kolkata"))
def test_driver_held_reads_match_parquet(ctx, monkeypatch, zone):
    prev = ctx.spark.conf.get("spark.sql.session.timeZone")
    ctx.spark.conf.set("spark.sql.session.timeZone", zone)
    try:
        with python_tz(zone):
            _seed(ctx, monkeypatch, "h_", 11)
            _seed(ctx, monkeypatch, "p_", 11)
            names = {n: f"{{p}}{n}" for n in ("a", "b", "va", "vva")}

            def sql(shape, p):
                return SHAPES[shape].format(**{n: v.format(p=p) for n, v in names.items()})

            with monkeypatch.context() as m:
                m.setattr(deltalite, "DRIVER_WRITE_MAX_ROWS", 0)
                parquet = {s: _wire(ctx, sql(s, "p_"), s == "order_by") for s in SHAPES}
            held = {s: _wire(ctx, sql(s, "h_"), s == "order_by") for s in SHAPES}
            assert _held(ctx, "h_a") and _held(ctx, "h_b")
            assert not _held(ctx, "p_a") and not _held(ctx, "p_b")
    finally:
        ctx.spark.conf.set("spark.sql.session.timeZone", prev)
    for s in SHAPES:
        assert held[s] == parquet[s], s
    assert parquet["point"] and parquet["join"] and parquet["version_as_of"]


# --------------------------------------------------------- golden bytes

# TYPE_MATRIX columns of a type the driver path does not carry: a
# TIMESTAMP below the top level, NULL, an interval and a variant
_NOT_CARRIED = {"arr_ts", "st", "n", "dti", "v"}
_CARRIED = [
    (i, name, typ) for i, (name, typ, *_) in enumerate(TYPE_MATRIX)
    if name not in _NOT_CARRIED
]


def _matrix_table(ctx):
    """Table ``gm`` of the matrix's carried columns, its rows in order."""
    _create(ctx, "gm", [(n, t) for _, n, t in _CARRIED])
    for r in range(3):
        vals = [
            "NULL" if r == 2 else TYPE_MATRIX[i][2 + r] for i, _, _ in _CARRIED
        ]
        cols = ", ".join(f"CAST({v} AS {t})" for v, (_, _, t) in zip(vals, _CARRIED))
        ctx.execute(f"INSERT INTO gm SELECT {cols}")
    ctx.execute("SELECT 1 FROM gm LIMIT 1")
    assert _held(ctx, "gm")


def _projected_jsonl(zone):
    keep = [n for _, n, _ in _CARRIED]
    out = []
    for line in _golden("http", zone, ".jsonl").decode().splitlines():
        obj = json.loads(line)
        out.append(json.dumps({n: obj[n] for n in keep}) + "\n")
    return "".join(out).encode()


def _projected_datarows(zone):
    """The golden DataRow messages with only the carried columns."""
    keep = [i for i, _, _ in _CARRIED]
    blob, out, off = _golden("pgwire", zone, ".bin"), [], 0
    while off < len(blob):
        ln = struct.unpack("!i", blob[off + 1 : off + 5])[0]
        msg, off = blob[off + 5 : off + 1 + ln], off + 1 + ln
        fields, pos = [], 2
        for _ in range(struct.unpack("!h", msg[:2])[0]):
            n = struct.unpack("!i", msg[pos : pos + 4])[0]
            fields.append(msg[pos : pos + 4 + max(n, 0)])
            pos += 4 + max(n, 0)
        body = struct.pack("!h", len(keep)) + b"".join(fields[i] for i in keep)
        out.append(b"D" + struct.pack("!i", len(body) + 4) + body)
    return b"".join(out)


@pytest.mark.parametrize("zone", ("UTC", "Asia/Kolkata"))
def test_golden_bytes_through_the_driver(ctx, zone):
    """HTTP JSON lines and pgwire DataRows of the matrix's carried columns,
    read with no Spark job from a driver-held table, are the golden bytes."""
    from seafowl_spark.engine.pgwire import PgWireServer
    from seafowl_spark.engine.server import SeafowlServer

    for name, typ, *_ in TYPE_MATRIX:
        dt = T.StructType.fromDDL(f"c {typ or 'VOID'}")["c"].dataType
        assert deltalite._carried(dt) == (name not in _NOT_CARRIED), name
    _matrix_table(ctx)
    names = ", ".join(n for _, n, _ in _CARRIED)
    query = f"SELECT {names} FROM gm"
    assert _jobs(ctx, query) == 0
    srv = SeafowlServer(ctx).start()
    pg = PgWireServer(ctx).start()
    client = RawPg(pg.port)
    try:
        with python_tz(zone):
            code, body = _post(srv.port, query)
            msgs = client.query(query)
    finally:
        client.close()
        pg.stop()
        srv.stop()
    assert code == 200
    assert body == _projected_jsonl(zone)
    assert b"".join(_data_rows(msgs)) == _projected_datarows(zone)


# ------------------------------------------------------------ job counts


def _small(ctx, name="t", n=50):
    ctx.execute(f"CREATE TABLE {name} (k BIGINT, g INT, v DOUBLE, s STRING)")
    ctx.execute(
        f"INSERT INTO {name} VALUES "
        + ", ".join(f"({i}, {i % 5}, {i * 0.5}, 's{i}')" for i in range(n))
    )


JOBS = {
    "SELECT * FROM t WHERE k = 7": 0,
    "SELECT v * 2 AS w, s FROM t WHERE k IN (3, 4)": 0,
    "SELECT * FROM t WHERE g = 2 AND v > 3": 0,
    "SELECT k FROM t LIMIT 5": 0,
    "SELECT * FROM t": 0,
    "SELECT count(*), sum(v) FROM t": 1,
    "SELECT g, count(*) FROM t GROUP BY g": 1,
    "SELECT DISTINCT g FROM t": 1,
    "SELECT k, rank() OVER (PARTITION BY g ORDER BY v) FROM t": 1,
}


@pytest.mark.parametrize("sql", sorted(JOBS))
def test_job_count(ctx, sql):
    _small(ctx)
    ctx.execute("SELECT 1 FROM t LIMIT 1")
    assert _held(ctx, "t")
    assert _jobs(ctx, sql) == JOBS[sql]


def test_first_read_after_a_write_runs_no_job(ctx):
    _small(ctx)
    assert _wire(ctx, "SELECT k FROM t WHERE k = 3") == [(3,)]
    ctx.execute("INSERT INTO t VALUES (99, 1, 1.0, 'new')")
    got = []
    assert spark_jobs(ctx.spark, lambda: got.append(
        _wire(ctx, "SELECT s FROM t WHERE k = 99"))) == 0
    assert got == [[("new",)]]


def test_empty_table_read_runs_no_job(ctx):
    ctx.execute("CREATE TABLE t (k BIGINT, s STRING)")
    assert _wire(ctx, "SELECT * FROM t WHERE k = 1") == []
    assert _held(ctx, "t")
    assert _jobs(ctx, "SELECT s FROM t WHERE k = 1") == 0


def _kept_parquet(ctx, name):
    ctx.execute(f"SELECT * FROM {name} LIMIT 1")
    assert not _held(ctx, name)
    assert _jobs(ctx, f"SELECT * FROM {name} WHERE k = 1") == 1


def test_over_the_row_bound_binds_parquet(ctx, monkeypatch):
    monkeypatch.setattr(deltalite, "DRIVER_WRITE_MAX_ROWS", 40)
    _small(ctx, n=41)
    _kept_parquet(ctx, "t")


def test_over_the_byte_bound_binds_parquet(ctx, monkeypatch):
    _small(ctx)
    monkeypatch.setattr(deltalite, "ONE_PARTITION_MAX_BYTES", 100)
    _kept_parquet(ctx, "t")


def test_33_files_bind_parquet(ctx):
    ctx.execute("CREATE TABLE t (k BIGINT)")
    for i in range(deltalite.ONE_PARTITION_MAX_FILES + 1):
        ctx.execute(f"INSERT INTO t VALUES ({i})")
    assert len(ctx.delta_table("t").snapshot().files) == 33
    _kept_parquet(ctx, "t")


def test_bucketed_binds_parquet(ctx):
    ctx.execute(
        "CREATE TABLE t (k BIGINT, s STRING) WITH ('bucket_by' = 'k', 'buckets' = '4')"
    )
    ctx.execute("INSERT INTO t VALUES (1, 'a'), (2, 'b')")
    ctx.execute("SELECT * FROM t LIMIT 1")
    assert not _held(ctx, "t")


def test_non_carried_column_binds_parquet(ctx):
    ctx.execute("CREATE TABLE t (k BIGINT, tss ARRAY<TIMESTAMP>)")
    ctx.execute("INSERT INTO t VALUES (1, array(TIMESTAMP '2024-01-01 00:00:00'))")
    _kept_parquet(ctx, "t")


def test_python_udf_runs_through_the_job(ctx):
    _small(ctx)
    ctx.spark.udf.register("plus_one_drv", lambda x: x + 1, "bigint")
    ctx.execute("SELECT 1 FROM t LIMIT 1")
    assert _held(ctx, "t")
    sql = "SELECT plus_one_drv(k) AS r FROM t WHERE k < 3"
    got = []
    assert spark_jobs(ctx.spark, lambda: got.append(_wire(ctx, sql))) == 1
    assert got == [[(1,), (2,), (3,)]]


def test_ansi_error_in_a_folded_filter_reaches_http(ctx, monkeypatch):
    """Spark raises the error while folding the filter over the held rows;
    HTTP answers it as it answers the parquet read's error."""
    from seafowl_spark.engine.server import SeafowlServer

    _small(ctx, "h")
    with monkeypatch.context() as m:
        m.setattr(deltalite, "DRIVER_WRITE_MAX_ROWS", 0)
        _small(ctx, "p")
        ctx.execute("SELECT 1 FROM p LIMIT 1")
    ctx.execute("SELECT 1 FROM h LIMIT 1")
    assert _held(ctx, "h") and not _held(ctx, "p")
    srv = SeafowlServer(ctx).start()
    try:
        out = {
            t: _post_error(srv.port, f"SELECT * FROM {t} WHERE 10 / (k - k) > 1")
            for t in ("h", "p")
        }
    finally:
        srv.stop()
    for code, body in out.values():
        assert code == 400
        assert "DIVIDE_BY_ZERO" in body
    assert out["h"][0] == out["p"][0]


def _post_error(port, query):
    import urllib.error

    try:
        return _post(port, query)
    except urllib.error.HTTPError as e:
        return e.code, e.read().decode()


# ------------------------------------------------------------- freshness


def test_commit_by_another_process_is_seen(ctx, tmp_path):
    ctx.execute("CREATE TABLE xd (doc_id BIGINT, text STRING)")
    ctx.execute("INSERT INTO xd VALUES (1, 'one')")
    assert _wire(ctx, "SELECT doc_id FROM xd WHERE doc_id > 0") == [(1,)]
    assert _held(ctx, "xd")
    worker = os.path.join(os.path.dirname(__file__), "xproc_worker.py")
    go, ready = str(tmp_path / "go"), str(tmp_path / "ready")
    with open(go, "w") as fh:
        fh.write("go")
    proc = subprocess.run(
        [sys.executable, worker, ctx.data_dir, "a", go, ready, "insert"],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=300,
    )
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out.get("insert_ok"), out
    assert _wire(ctx, "SELECT doc_id FROM xd WHERE doc_id > 0") == [(1,), (100,)]
    assert _held(ctx, "xd")


# ---------------------------------------------------------------- memory


def test_held_bytes_stay_under_the_budget(ctx, monkeypatch):
    """Reading more small tables than the budget holds unbinds the least
    recently read; a table bigger than the whole budget binds parquet."""
    reg = bindings.for_session(ctx.spark)
    for i in range(5):
        _small(ctx, f"t{i}")
    ctx.execute("SELECT * FROM t0 LIMIT 1")
    one = deltalite.held_bytes(reg._bound["t0"][1])
    assert one
    monkeypatch.setattr(reg, "budget", int(2.5 * one))
    for i in range(5):
        assert _wire(ctx, f"SELECT k FROM t{i} WHERE k = {i}") == [(i,)]
        assert reg.held_total() <= reg.budget
        assert _held(ctx, f"t{i}")
    assert [i for i in range(5) if reg.key(f"t{i}") is not None] == [3, 4]
    # a read keeps what it reads bound: t3 is now the most recent
    assert _wire(ctx, "SELECT k FROM t3 WHERE k = 1") == [(1,)]
    assert _wire(ctx, "SELECT k FROM t0 WHERE k = 2") == [(2,)]
    assert [i for i in range(5) if reg.key(f"t{i}") is not None] == [0, 3]
    # a statement's own reads are never unbound for one another
    assert _wire(ctx, "SELECT count(*) FROM t1 JOIN t2 USING (k) JOIN t4 USING (k)") == [(50,)]
    assert reg.held_total() <= reg.budget
    monkeypatch.setattr(reg, "budget", one // 2)
    ctx.execute("INSERT INTO t0 VALUES (100, 0, 0.0, 'x')")
    assert _wire(ctx, "SELECT k FROM t0 WHERE k = 100") == [(100,)]
    assert not _held(ctx, "t0")
    assert reg.held_total() <= reg.budget


def test_a_view_over_an_unbound_table_is_unbound(ctx, monkeypatch):
    """A view's plan holds the rows of the tables it reads, so it goes when
    they do."""
    reg = bindings.for_session(ctx.spark)
    _small(ctx, "t0")
    _small(ctx, "t1")
    ctx.execute("CREATE VIEW v0 AS SELECT g, count(*) AS n FROM t0 GROUP BY g")
    assert sorted(_wire(ctx, "SELECT * FROM v0")) == [(g, 10) for g in range(5)]
    assert reg.key("v0") is not None
    monkeypatch.setattr(reg, "budget", reg.held_total())
    ctx.execute("SELECT * FROM t1 WHERE k = 1")
    assert reg.key("t0") is None and reg.key("v0") is None
    assert sorted(_wire(ctx, "SELECT * FROM v0")) == [(g, 10) for g in range(5)]


# ------------------------------------------------------------ satellites


def test_bucket_pin_hashes_without_a_job(ctx):
    """A point read of a bucketed table hashes its bucket pin twice, to
    decide whether to prune and to build the pruned frame; each used to
    run a job of its own, so the read ran 3 jobs."""
    ctx.execute(
        "CREATE TABLE t (k BIGINT, s STRING) WITH ('bucket_by' = 'k', 'buckets' = '4')"
    )
    ctx.execute("INSERT INTO t VALUES (1, 'a'), (2, 'b')")
    assert _wire(ctx, "SELECT s FROM t WHERE k = 2") == [("b",)]
    assert _jobs(ctx, "SELECT s FROM t WHERE k = 2") == 1


def test_schema_parsed_once_per_ddl(ctx, monkeypatch):
    col = f"c_{uuid.uuid4().hex[:12]}"
    parses = []
    parse = T.StructType.fromDDL

    def counting(cls, ddl):
        if col in ddl:
            parses.append(ddl)
        return parse(ddl)

    monkeypatch.setattr(T.StructType, "fromDDL", classmethod(counting))
    ctx.execute(f"CREATE TABLE t ({col} BIGINT, s STRING)")
    for i in range(3):
        ctx.execute(f"INSERT INTO t VALUES ({i}, 'x')")
        assert _wire(ctx, f"SELECT count(*) FROM t WHERE {col} >= 0") == [(i + 1,)]
    assert len(parses) == 1, parses
    ctx.execute("ALTER TABLE t ADD COLUMN w INT")
    for i in range(2):
        ctx.execute(f"INSERT INTO t VALUES ({i}, 'y', {i})")
        assert _wire(ctx, "SELECT count(w) FROM t") == [(i + 1,)]
    assert len(parses) == 2, parses
