"""Result fetch and encoding (engine/results.py): every HTTP and pgwire
read fetches its rows in one Spark job as Arrow batches, and the bytes on
the wire are the ones the row-iterator encoder produced.

The golden files under tests/data/ were captured from the encoder that
pulled rows with ``toLocalIterator`` (Python ``Row`` values), before the
Arrow path replaced it."""

import json
import os
import struct
import time
from contextlib import contextmanager
from hashlib import sha256

import pytest

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

# (column, type, row 1, row 2); a third row is all NULL. The type list
# covers every Spark type a serving read returns: Arrow values that
# to_pylist() gives differently from Row (struct, map, tz-aware
# timestamp) sit beside the ones it gives identically.
TYPE_MATRIX = [
    ("i8", "TINYINT", "-128", "127"),
    ("i16", "SMALLINT", "-32768", "32767"),
    ("i32", "INT", "-2147483648", "42"),
    ("i64", "BIGINT", "9007199254740993", "-1"),
    ("f32", "FLOAT", "1.1", "'NaN'"),
    ("f64", "DOUBLE", "0.1", "'NaN'"),
    ("f64_inf", "DOUBLE", "'Infinity'", "'-Infinity'"),
    ("dec", "DECIMAL(12,4)", "12345.678", "-0.5"),
    ("b", "BOOLEAN", "true", "false"),
    ("s", "STRING", "'héllo ✓ \"q\" ü'", "''"),
    ("d", "DATE", "DATE '2024-02-29'", "DATE '1969-12-31'"),
    ("ts", "TIMESTAMP", "TIMESTAMP '2024-01-02 03:04:05.123456'",
     "TIMESTAMP '1970-01-01 00:00:00'"),
    ("ts_ntz", "TIMESTAMP_NTZ", "TIMESTAMP_NTZ '2024-07-02 03:04:05.5'",
     "TIMESTAMP_NTZ '1999-12-31 23:59:59'"),
    ("bin", "BINARY", "X'CAFE00'", "X''"),
    ("arr", "ARRAY<INT>", "array(1, NULL, 3)", "array()"),
    ("arr_ts", "ARRAY<TIMESTAMP>",
     "array(TIMESTAMP '2024-06-01 12:00:00', NULL)", "array()"),
    ("m_str", "MAP<STRING, INT>", "map('k', 1, 'j', NULL)", "map()"),
    ("m_int", "MAP<INT, STRING>", "map(1, 'a', 2, 'b')", "map(-1, NULL)"),
    ("st", "STRUCT<a: INT, b: STRING, t: TIMESTAMP, bin: BINARY>",
     "named_struct('a', 1, 'b', 'x', 't', TIMESTAMP '2024-03-04 05:06:07', "
     "'bin', X'01')",
     "named_struct('a', NULL, 'b', NULL, 't', NULL, 'bin', NULL)"),
    ("arr_st", "ARRAY<STRUCT<a: INT, b: STRING>>",
     "array(named_struct('a', 1, 'b', 'x'), named_struct('a', 2, 'b', NULL))",
     "array()"),
    ("n", None, "NULL", "NULL"),
    ("dti", "INTERVAL DAY TO SECOND", "INTERVAL '1 02:03:04.5' DAY TO SECOND",
     "INTERVAL '-0 00:00:01' DAY TO SECOND"),
    ("v", "VARIANT", "parse_json('{\"a\": [1, 2.5], \"b\": null}')",
     "parse_json('\"x\"')"),
]


def _matrix_sql() -> str:
    def row(ordinal, values):
        cols = ", ".join(
            f"{v} AS {name}" if typ is None else f"CAST({v} AS {typ}) AS {name}"
            for (name, typ, *_), v in zip(TYPE_MATRIX, values)
        )
        return f"SELECT {ordinal} AS ord, {cols}"

    rows = [
        row(1, [r1 for *_, r1, _ in TYPE_MATRIX]),
        row(2, [r2 for *_, r2 in TYPE_MATRIX]),
        row(3, ["NULL"] * len(TYPE_MATRIX)),
    ]
    names = ", ".join(name for name, *_ in TYPE_MATRIX)
    return f"SELECT {names} FROM ({' UNION ALL '.join(rows)}) ORDER BY ord"


MATRIX_SQL = _matrix_sql()
GOLDEN_ZONES = ("UTC", "Asia/Kolkata")


def golden_path(kind: str, zone: str) -> str:
    return os.path.join(DATA, f"results_matrix_{kind}_{zone.replace('/', '_')}")


@contextmanager
def python_tz(zone: str):
    """Run with the Python process in ``zone`` (naive timestamps are built
    in the process's local zone); restores TZ and tzset() afterwards."""
    prev = os.environ.get("TZ")
    os.environ["TZ"] = zone
    time.tzset()
    try:
        yield
    finally:
        if prev is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = prev
        time.tzset()


def _post(port, query):
    import urllib.request

    req = urllib.request.Request(
        f"http://127.0.0.1:{port}/q", data=json.dumps({"query": query}).encode()
    )
    with urllib.request.urlopen(req) as resp:
        return resp.status, resp.read()


def _get(port, query):
    import urllib.parse
    import urllib.request

    req = urllib.request.Request(
        f"http://127.0.0.1:{port}/q/{sha256(query.encode()).hexdigest()}",
        headers={"X-Seafowl-Query": urllib.parse.quote(query)},
    )
    with urllib.request.urlopen(req) as resp:
        return resp.status, resp.read()


class RawPg:
    """Protocol-v3 client that keeps the raw bytes of every message."""

    def __init__(self, port):
        import socket

        self.sock = socket.create_connection(("127.0.0.1", port), timeout=60)
        body = struct.pack("!I", 196608) + b"user\x00t\x00database\x00default\x00\x00"
        self.sock.sendall(struct.pack("!I", len(body) + 4) + body)
        self.until_ready()

    def _exact(self, n):
        out = b""
        while len(out) < n:
            chunk = self.sock.recv(n - len(out))
            if not chunk:
                raise ConnectionError("closed")
            out += chunk
        return out

    def until_ready(self):
        msgs = []
        while True:
            head = self._exact(5)
            (length,) = struct.unpack("!I", head[1:])
            msgs.append(head + self._exact(length - 4))
            if head[:1] == b"Z":
                return msgs

    def send(self, tag, body):
        self.sock.sendall(tag + struct.pack("!I", len(body) + 4) + body)

    def query(self, sql):
        self.send(b"Q", sql.encode() + b"\x00")
        return self.until_ready()

    def execute(self, sql, *max_rows):
        """Parse, bind, one Execute per ``max_rows`` value, Sync."""
        self.send(b"P", b"\x00" + sql.encode() + b"\x00" + struct.pack("!H", 0))
        self.send(b"B", b"\x00\x00" + struct.pack("!HH", 0, 0))
        for n in max_rows:
            self.send(b"E", b"\x00" + struct.pack("!i", n))
        self.send(b"S", b"")
        return self.until_ready()

    def close(self):
        self.sock.sendall(b"X" + struct.pack("!I", 4))
        self.sock.close()


def _data_rows(msgs):
    return [m for m in msgs if m[:1] == b"D"]


def _row_texts(msgs):
    rows = []
    for m in _data_rows(msgs):
        (n,) = struct.unpack("!H", m[5:7])
        off, row = 7, []
        for _ in range(n):
            (ln,) = struct.unpack("!i", m[off : off + 4])
            off += 4
            row.append(None if ln == -1 else m[off : off + ln].decode())
            off += max(ln, 0)
        rows.append(tuple(row))
    return rows


@pytest.fixture()
def http(ctx):
    from seafowl_spark.engine.server import SeafowlServer

    srv = SeafowlServer(ctx).start()
    yield srv
    srv.stop()


@pytest.fixture()
def pgc(ctx):
    from seafowl_spark.engine.pgwire import PgWireServer

    srv = PgWireServer(ctx).start()
    client = RawPg(srv.port)
    yield client
    client.close()
    srv.stop()


def _golden(kind, zone, suffix):
    with open(golden_path(kind, zone) + suffix, "rb") as f:
        return f.read()


class TestBytesUnchanged:
    """Every type a read returns encodes to the bytes the row-iterator
    encoder sent: HTTP JSON lines and pgwire DataRows, in UTC and in a
    non-UTC Python zone (naive timestamps are local time)."""

    @pytest.mark.parametrize("zone", GOLDEN_ZONES)
    def test_http_jsonlines_golden(self, http, zone):
        with python_tz(zone):
            code, body = _post(http.port, MATRIX_SQL)
        assert code == 200
        assert body == _golden("http", zone, ".jsonl")

    @pytest.mark.parametrize("zone", GOLDEN_ZONES)
    def test_pgwire_datarows_golden(self, pgc, zone):
        with python_tz(zone):
            msgs = pgc.query(MATRIX_SQL)
        assert b"".join(_data_rows(msgs)) == _golden("pgwire", zone, ".bin")

    def test_zero_column_rows_kept(self, http):
        code, body = _post(http.port, "SELECT * EXCEPT (x) FROM VALUES (1), (2) AS t(x)")
        assert (code, body) == (200, b"{}\n{}\n")

    def test_map_order_matches_collect(self, spark):
        """A map's dict order is the JVM HashMap's iteration order for every
        key type whose hash is a function of the value: at sizes that cross
        HashMap resizes, and with keys that share a bucket often enough to
        resize a small table or turn a bucket into a tree."""
        import itertools

        from seafowl_spark.engine import results

        same_hash = ["".join(p) for p in itertools.product(["Aa", "BB"], repeat=5)]
        keys = {
            "STRING": lambda i: f"'k{i * 7919 % 1000}é'",
            "INT": lambda i: str(i * 2654435761 % 2**31 - 2**30),
            "BIGINT": lambda i: f"CAST({i * 6364136223846793005 % 2**63} AS BIGINT)",
            "SMALLINT": lambda i: f"CAST({i * 37 % 30000 - 15000} AS SMALLINT)",
            "DOUBLE": lambda i: f"CAST({i * 1.37 - 20} AS DOUBLE)",
            "FLOAT": lambda i: f"CAST({i * 0.5 - 3} AS FLOAT)",
            "DECIMAL(30,3)": lambda i: f"{(i * 10**19 + 7 * i) * (-1) ** i}.125",
            "BOOLEAN": lambda i: "true" if i % 2 else "false",
            "DATE": lambda i: f"date_add(DATE '1960-01-01', {i * 397})",
            "TIMESTAMP": lambda i: f"timestamp_micros({i * 98765432101 - 10**12})",
            "TIMESTAMP_NTZ": lambda i: f"CAST(timestamp_micros({i * 12345678901}) AS TIMESTAMP_NTZ)",
            # one bucket: 'Aa' and 'BB' hash alike; multiples of 64
            "STRING ": lambda i: f"'{same_hash[i]}'",
            "INT ": lambda i: str((i * 37 % 65) * 64),
            "DOUBLE ": lambda i: f"CAST({(i * 11 % 97) * 0.125} AS DOUBLE)",
        }
        cols = []
        for typ, key in keys.items():
            most = {"BOOLEAN": 2, "STRING ": len(same_hash)}.get(typ, 65)
            for n in sorted({min(n, most) for n in (2, 5, 13, 25, 49, 65)}):
                ks = ", ".join(key(i) for i in range(n))
                cols.append(
                    f"CAST(map_from_arrays(array({ks}), sequence(1, {n})) "
                    f"AS MAP<{typ.strip()}, INT>) AS c{len(cols)}"
                )
        nested = "map('b', map('y', 1, 'x', 2), 'a', NULL) AS nested"
        df = spark.sql(f"SELECT {', '.join(cols)}, {nested}")
        (got,) = [
            row
            for batch in results.row_batches(results.fetch(df), df.schema)
            for row in batch
        ]
        (want,) = df.collect()
        for name, g, w in zip(df.columns, got, want):
            assert (name, repr(g)) == (name, repr(w))


def _count_jobs(monkeypatch, spark, owner, names, group):
    """Run ``owner``'s methods ``names`` (called on server threads) under
    the job group ``group``; returns a function giving the group's job
    count so far."""
    sc = spark.sparkContext
    for name in names:
        orig = getattr(owner, name)

        def wrapped(*args, __orig=orig, **kwargs):
            sc.setJobGroup(group, "per-request job count")
            try:
                return __orig(*args, **kwargs)
            finally:
                sc._jsc.clearJobGroup()

        monkeypatch.setattr(owner, name, wrapped)
    return lambda: len(sc.statusTracker().getJobIdsForGroup(group))


FOUR_FILE_READ = "SELECT x, s FROM four WHERE x % 3 <> 1"


@pytest.fixture()
def four_files(ctx, monkeypatch):
    """A table written by four INSERTs (four data files, read as four
    partitions) and a filter that scan pruning cannot narrow. The
    one-partition bound is 0 here, or the small table would read as one
    partition."""
    from seafowl_spark.engine import deltalite

    monkeypatch.setattr(deltalite, "ONE_PARTITION_MAX_BYTES", 0)
    ctx.execute("CREATE TABLE four (x int, s varchar)")
    for k in range(4):
        ctx.execute(
            "INSERT INTO four VALUES "
            + ", ".join(f"({k * 10 + i}, 's{k * 10 + i}')" for i in range(5))
        )
    assert ctx.execute(FOUR_FILE_READ).rdd.getNumPartitions() == 4
    expect = sorted(
        (k * 10 + i, f"s{k * 10 + i}")
        for k in range(4)
        for i in range(5)
        if (k * 10 + i) % 3 != 1
    )
    return expect


def test_http_map_keys_json_cannot_key_by(http):
    """Maps keyed by decimal, date or timestamp encode their keys as the
    str() the encoder gives such values (json.dumps rejects those keys),
    nested ones included."""
    code, body = _post(
        http.port,
        "SELECT map(CAST(1.5 AS DECIMAL(3,1)), 'a') AS m_dec, "
        "map(DATE '2024-01-01', 1) AS m_date, "
        "map(TIMESTAMP_NTZ '2024-01-02 03:04:05', 2) AS m_ts, "
        "array(map(DATE '2024-02-29', 3)) AS arr_m, "
        "named_struct('m', map(CAST(2 AS DECIMAL(2,0)), 4)) AS st_m, "
        "map('k', 5) AS m_str",
    )
    assert code == 200
    assert json.loads(body) == {
        "m_dec": {"1.5": "a"},
        "m_date": {"2024-01-01": 1},
        "m_ts": {"2024-01-02 03:04:05": 2},
        "arr_m": [{"2024-02-29": 3}],
        "st_m": [{"2": 4}],
        "m_str": {"k": 5},
    }


class TestOneJobPerRead:
    """A read over four result partitions launches exactly one Spark job,
    whichever frontend serves it (the row iterator ran one per partition)."""

    def test_http_post(self, spark, four_files, http, monkeypatch):
        from seafowl_spark.engine.server import SeafowlHandler

        jobs = _count_jobs(monkeypatch, spark, SeafowlHandler, ["_dispatch"], "jc_post")
        code, body = _post(http.port, FOUR_FILE_READ)
        assert code == 200
        rows = sorted(tuple(json.loads(l).values()) for l in body.splitlines())
        assert rows == four_files
        assert jobs() == 1

    def test_http_get_200(self, spark, four_files, http, monkeypatch):
        from seafowl_spark.engine.server import SeafowlHandler

        jobs = _count_jobs(monkeypatch, spark, SeafowlHandler, ["_dispatch"], "jc_get")
        code, body = _get(http.port, FOUR_FILE_READ)
        assert code == 200
        assert len(body.splitlines()) == len(four_files)
        assert jobs() == 1

    def test_pgwire_simple_query(self, spark, four_files, pgc, monkeypatch):
        from seafowl_spark.engine.pgwire import _Handler

        jobs = _count_jobs(monkeypatch, spark, _Handler, ["_simple_query"], "jc_pgq")
        rows = _row_texts(pgc.query(FOUR_FILE_READ))
        assert sorted((int(x), s) for x, s in rows) == four_files
        assert jobs() == 1

    def test_pgwire_execute_max_rows(self, spark, four_files, pgc, monkeypatch):
        from seafowl_spark.engine.pgwire import _Handler

        jobs = _count_jobs(monkeypatch, spark, _Handler, ["_execute_msg"], "jc_pge")
        msgs = pgc.execute(FOUR_FILE_READ, 2, 0)
        # the first Execute sends 2 rows and suspends the portal, the
        # second sends the other 11 from the result the first one fetched
        tags = [m[:1] for m in msgs]
        assert tags == [b"1", b"2"] + [b"D"] * 2 + [b"s"] + [b"D"] * 11 + [b"C", b"Z"]
        assert sorted((int(x), s) for x, s in _row_texts(msgs)) == four_files
        assert b"C" + struct.pack("!I", 14) + b"SELECT 11\x00" in msgs
        assert jobs() == 1


def _rows_to_jsonlines_by_iterator(df):
    """The encoder the Arrow fetch replaced: rows pulled partition by
    partition with toLocalIterator, one Spark job per partition."""
    import io

    buf = io.BytesIO()
    cols = df.columns
    for row in df.toLocalIterator(prefetchPartitions=True):
        obj = {c: row[i] for i, c in enumerate(cols)}
        buf.write(json.dumps(obj, default=str).encode())
        buf.write(b"\n")
    return buf.getvalue()


@pytest.mark.slow  # about 20 s: six encodes of a 12 MB result
def test_large_result_no_slower_than_iterator(spark):
    """A 200k-row, ~12 MB JSON-lines result encodes no slower than the
    row-iterator encoder (min of 3 interleaved runs, 25% slack for noise)
    and to the same bytes."""
    from seafowl_spark.engine.server import _rows_to_jsonlines

    df = spark.range(200_000).selectExpr(
        "id", "concat('name-', id) AS s", "id * 0.5 AS d", "id % 7 = 0 AS b"
    )
    assert df.rdd.getNumPartitions() > 1
    old, new = [], []
    for _ in range(3):
        bodies = []
        for times, encode in ((old, _rows_to_jsonlines_by_iterator), (new, _rows_to_jsonlines)):
            t0 = time.perf_counter()
            bodies.append(encode(df))
            times.append(time.perf_counter() - t0)
        assert bodies[0] == bodies[1] and len(bodies[0]) > 10_000_000
    assert min(new) <= 1.25 * min(old), (old, new)
