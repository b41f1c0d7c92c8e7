"""PG-wire frontend tests: a minimal hand-rolled protocol-v3 client doing
startup + simple queries, verifying row description, data rows, errors,
and session survival after an error."""

import socket
import struct

import pytest

from seafowl_spark.engine.pgwire import PgWireServer


class MiniPgClient:
    def __init__(self, port: int, database: str = "default"):
        self.sock = socket.create_connection(("127.0.0.1", port), timeout=30)
        body = struct.pack("!I", 196608)  # protocol 3.0
        body += b"user\x00test\x00database\x00" + database.encode() + b"\x00\x00"
        self.sock.sendall(struct.pack("!I", len(body) + 4) + body)
        self._drain_until_ready()

    def _recv_exact(self, n):
        out = b""
        while len(out) < n:
            chunk = self.sock.recv(n - len(out))
            if not chunk:
                raise ConnectionError("closed")
            out += chunk
        return out

    def _read_msg(self):
        tag = self._recv_exact(1)
        (length,) = struct.unpack("!I", self._recv_exact(4))
        return tag, self._recv_exact(length - 4)

    def _drain_until_ready(self):
        msgs = []
        while True:
            tag, payload = self._read_msg()
            msgs.append((tag, payload))
            if tag == b"Z":
                return msgs

    def query(self, sql: str):
        body = sql.encode() + b"\x00"
        self.sock.sendall(b"Q" + struct.pack("!I", len(body) + 4) + body)
        msgs = self._drain_until_ready()
        cols, rows, errors = [], [], []
        for tag, payload in msgs:
            if tag == b"T":
                (n,) = struct.unpack("!H", payload[:2])
                off = 2
                for _ in range(n):
                    end = payload.index(b"\x00", off)
                    cols.append(payload[off:end].decode())
                    off = end + 1 + 18
            elif tag == b"D":
                (n,) = struct.unpack("!H", payload[:2])
                off = 2
                row = []
                for _ in range(n):
                    (ln,) = struct.unpack("!i", payload[off : off + 4])
                    off += 4
                    if ln == -1:
                        row.append(None)
                    else:
                        row.append(payload[off : off + ln].decode())
                        off += ln
                rows.append(tuple(row))
            elif tag == b"E":
                errors.append(payload)
        return cols, rows, errors

    # ---------------------------------------------------- extended protocol

    def _send(self, tag: bytes, body: bytes):
        self.sock.sendall(tag + struct.pack("!I", len(body) + 4) + body)

    def parse(self, name: str, sql: str, oids: list[int] | None = None):
        oids = oids or []
        body = name.encode() + b"\x00" + sql.encode() + b"\x00"
        body += struct.pack("!H", len(oids))
        for o in oids:
            body += struct.pack("!I", o)
        self._send(b"P", body)

    def bind(
        self,
        portal: str,
        stmt: str,
        params: list[bytes | None],
        fmts: list[int] | None = None,
    ):
        body = portal.encode() + b"\x00" + stmt.encode() + b"\x00"
        fmts = fmts or []
        body += struct.pack("!H", len(fmts))
        for f in fmts:
            body += struct.pack("!H", f)
        body += struct.pack("!H", len(params))
        for p in params:
            if p is None:
                body += struct.pack("!i", -1)
            else:
                body += struct.pack("!i", len(p)) + p
        self._send(b"B", body)

    def describe(self, kind: bytes, name: str):
        self._send(b"D", kind + name.encode() + b"\x00")

    def execute(self, portal: str, max_rows: int = 0):
        self._send(b"E", portal.encode() + b"\x00" + struct.pack("!i", max_rows))

    def sync(self):
        self._send(b"S", b"")
        return self._drain_until_ready()

    @staticmethod
    def collect(msgs):
        """Split a message batch into (tags, cols, rows, errors)."""
        tags, cols, rows, errors = [], [], [], []
        for tag, payload in msgs:
            tags.append(tag)
            if tag == b"T":
                (n,) = struct.unpack("!H", payload[:2])
                off = 2
                for _ in range(n):
                    end = payload.index(b"\x00", off)
                    cols.append(payload[off:end].decode())
                    off = end + 1 + 18
            elif tag == b"D":
                (n,) = struct.unpack("!H", payload[:2])
                off = 2
                row = []
                for _ in range(n):
                    (ln,) = struct.unpack("!i", payload[off : off + 4])
                    off += 4
                    if ln == -1:
                        row.append(None)
                    else:
                        row.append(payload[off : off + ln].decode())
                        off += ln
                rows.append(tuple(row))
            elif tag == b"E":
                errors.append(payload)
        return tags, cols, rows, errors

    def close(self):
        self.sock.sendall(b"X" + struct.pack("!I", 4))
        self.sock.close()


@pytest.fixture()
def pg(ctx):
    srv = PgWireServer(ctx).start()
    client = MiniPgClient(srv.port)
    yield ctx, client
    client.close()
    srv.stop()


class TestPgWire:
    def test_ddl_then_select(self, pg):
        ctx, client = pg
        _, _, err = client.query("CREATE TABLE pgt (x int, s text)")
        assert not err
        client.query("INSERT INTO pgt VALUES (1, 'a'), (2, NULL)")
        cols, rows, err = client.query("SELECT x, s FROM pgt ORDER BY x")
        assert not err
        assert cols == ["x", "s"]
        assert rows == [("1", "a"), ("2", None)]

    def test_error_keeps_session_alive(self, pg):
        ctx, client = pg
        _, _, err = client.query("SELECT * FROM missing_table")
        assert err
        cols, rows, err2 = client.query("SELECT 1 AS one")
        assert not err2 and rows == [("1",)]

    def test_bool_text_format(self, pg):
        ctx, client = pg
        _, rows, _ = client.query("SELECT true AS t, false AS f")
        assert rows == [("t", "f")]


class TestPgWireExtended:
    """Parse/Bind/Describe/Execute two-phase flow (reference
    src/frontend/postgres.rs:41-77 prepare + portal)."""

    def _seed(self, client):
        client.query("CREATE TABLE ext (x int, s text)")
        client.query("INSERT INTO ext VALUES (1, 'a'), (2, 'b'), (3, 'c')")

    def test_prepared_statement_text_params(self, pg):
        ctx, client = pg
        self._seed(client)
        client.parse("st", "SELECT x, s FROM ext WHERE x > $1 ORDER BY x", [23])
        client.bind("", "st", [b"1"])
        client.describe(b"P", "")
        client.execute("")
        tags, cols, rows, errors = client.collect(client.sync())
        assert not errors
        assert b"1" in tags and b"2" in tags  # ParseComplete + BindComplete
        assert cols == ["x", "s"]
        assert rows == [("2", "b"), ("3", "c")]

    def test_rebind_same_statement(self, pg):
        ctx, client = pg
        self._seed(client)
        client.parse("st2", "SELECT count(*) AS n FROM ext WHERE s = $1")
        client.bind("", "st2", [b"a"])
        client.execute("")
        _, _, rows, errors = client.collect(client.sync())
        assert not errors and rows == [("1",)]
        client.bind("", "st2", [b"zzz"])
        client.execute("")
        _, _, rows2, errors2 = client.collect(client.sync())
        assert not errors2 and rows2 == [("0",)]

    def test_binary_params(self, pg):
        ctx, client = pg
        self._seed(client)
        client.parse("stb", "SELECT x FROM ext WHERE x = $1", [23])
        client.bind("", "stb", [struct.pack("!i", 2)], fmts=[1])
        client.execute("")
        _, _, rows, errors = client.collect(client.sync())
        assert not errors and rows == [("2",)]

    def test_null_param(self, pg):
        ctx, client = pg
        self._seed(client)
        client.parse("stn", "SELECT count(*) AS n FROM ext WHERE s = $1")
        client.bind("", "stn", [None])
        client.execute("")
        _, _, rows, errors = client.collect(client.sync())
        assert not errors and rows == [("0",)]  # = NULL matches nothing

    def test_describe_statement(self, pg):
        ctx, client = pg
        self._seed(client)
        client.parse("std", "SELECT x, s FROM ext WHERE x > $1", [23])
        client.describe(b"S", "std")
        msgs = client.sync()
        tags = [t for t, _ in msgs]
        assert b"t" in tags  # ParameterDescription
        _, cols, _, errors = client.collect(msgs)
        assert not errors and cols == ["x", "s"]

    def test_execute_row_limit(self, pg):
        ctx, client = pg
        self._seed(client)
        client.parse("stl", "SELECT x FROM ext ORDER BY x")
        client.bind("", "stl", [])
        client.execute("", max_rows=2)
        _, _, rows, errors = client.collect(client.sync())
        assert not errors and rows == [("1",), ("2",)]

    def test_execute_in_chunks_suspends_portal(self, pg):
        """Execute(max_rows) sends that many rows, then PortalSuspended
        while rows remain; the next Execute resumes where it stopped and
        the last one ends with CommandComplete. Close drops the portal."""
        ctx, client = pg
        self._seed(client)
        client.parse("stc", "SELECT x FROM ext ORDER BY x")
        client.bind("p", "stc", [])
        client.execute("p", max_rows=2)
        client.execute("p", max_rows=2)
        msgs = client.sync()
        tags, _, rows, errors = client.collect(msgs)
        assert not errors and rows == [("1",), ("2",), ("3",)]
        assert tags == [b"1", b"2", b"D", b"D", b"s", b"D", b"C", b"Z"]
        assert (b"C", b"SELECT 1\x00") in msgs
        client._send(b"C", b"Pp\x00")
        client.execute("p")
        tags, _, _, errors = client.collect(client.sync())
        assert b"3" in tags  # CloseComplete
        assert len(errors) == 1 and b"unknown portal" in errors[0]

    def test_error_aborts_until_sync(self, pg):
        ctx, client = pg
        self._seed(client)
        client.parse("bad", "SELECT * FROM nowhere")
        client.bind("", "bad", [])
        client.execute("")  # fails
        client.execute("")  # must be discarded (aborted state)
        msgs = client.sync()
        _, _, _, errors = client.collect(msgs)
        assert len(errors) == 1  # one error, second Execute skipped
        # session still alive for the next cycle
        client.parse("ok", "SELECT 1 AS one")
        client.bind("", "ok", [])
        client.execute("")
        _, _, rows, errors2 = client.collect(client.sync())
        assert not errors2 and rows == [("1",)]

    def test_close_statement(self, pg):
        ctx, client = pg
        self._seed(client)
        client.parse("stc", "SELECT 1 AS one")
        client._send(b"C", b"S" + b"stc\x00")
        client.bind("", "stc", [])
        msgs = client.sync()
        _, _, _, errors = client.collect(msgs)
        assert errors  # bind after close: unknown statement

    def test_string_literal_dollar_untouched(self, pg):
        ctx, client = pg
        client.parse("stq", "SELECT '$1' AS lit, $1 AS val")
        client.bind("", "stq", [b"7"])
        client.execute("")
        _, _, rows, errors = client.collect(client.sync())
        assert not errors and rows == [("$1", "7")]


class TestStartupDatabase:
    def test_connection_scoped_database(self, ctx):
        """The startup `database` parameter selects the database for the
        connection (psql -d semantics)."""
        srv = PgWireServer(ctx).start()
        try:
            admin = MiniPgClient(srv.port)
            admin.query("CREATE DATABASE pgdb2")
            c2 = MiniPgClient(srv.port, database="pgdb2")
            _, _, errs = c2.query("CREATE TABLE only_here (x int)")
            assert errs == []
            c2.query("INSERT INTO only_here VALUES (5)")
            cols, rows, errs = c2.query("SELECT x FROM only_here")
            assert (cols, rows, errs) == (["x"], [("5",)], [])
            # the default-database connection cannot see it
            _, _, errs = admin.query("SELECT x FROM only_here")
            assert errs
            c2.close()
            admin.close()
        finally:
            srv.stop()

    def test_unknown_database_refused(self, ctx):
        srv = PgWireServer(ctx).start()
        try:
            with pytest.raises(ConnectionError):
                MiniPgClient(srv.port, database="no_such_db")
        finally:
            srv.stop()


class TestDescribeBeforeExecute:
    """Convergence-client shape (reference src/frontend/postgres.rs:41-77):
    the prepare phase answers field metadata from ANALYSIS only, so a
    client can type its result columns before any row is produced.
    Driven with the raw-socket client (no psycopg2 in this environment)
    over a parameterized SELECT on a time-travel table."""

    @staticmethod
    def _decode_rowdesc(payload):
        """(names, oids) from a RowDescription ('T') payload."""
        (n,) = struct.unpack("!H", payload[:2])
        off, names, oids = 2, [], []
        for _ in range(n):
            end = payload.index(b"\x00", off)
            names.append(payload[off:end].decode())
            # field tail: table_oid(I) attnum(h) type_oid(I) len(h) mod(i) fmt(h)
            (oid,) = struct.unpack_from("!I", payload, end + 1 + 6)
            oids.append(oid)
            off = end + 1 + 18
        return names, oids

    def test_rowdescription_precedes_execute_over_time_travel(self, pg):
        ctx, client = pg
        client.query("CREATE TABLE tt (x int, s text)")
        client.query("INSERT INTO tt VALUES (1, 'a'), (2, 'b')")  # version 1
        client.query("INSERT INTO tt VALUES (30, 'c')")           # version 2
        client.parse(
            "ttq",
            "SELECT x, s FROM tt FOR VERSION AS OF 1 WHERE x > $1 ORDER BY x",
            [23],
        )
        client.describe(b"S", "ttq")  # statement: ParameterDescription + T
        client.bind("", "ttq", [b"0"])
        client.describe(b"P", "")     # portal: T again, post-bind
        client.execute("")
        msgs = client.sync()
        tags = [t for t, _ in msgs]

        # Describe answered with metadata BEFORE the first DataRow
        assert b"T" in tags and b"D" in tags
        assert tags.index(b"T") < tags.index(b"D")
        # ParameterDescription for $1 came from the statement describe
        pd = [p for t, p in msgs if t == b"t"]
        assert len(pd) == 1
        n_params, oid0 = struct.unpack("!HI", pd[0][:6])
        assert (n_params, oid0) == (1, 23)

        # both RowDescriptions (statement-level and portal-level) carry the
        # ANALYZED schema: names + pg type OIDs (int4=23, text=25)
        t_msgs = [p for t, p in msgs if t == b"T"]
        assert len(t_msgs) == 2
        for payload in t_msgs:
            names, oids = self._decode_rowdesc(payload)
            assert names == ["x", "s"]
            assert oids == [23, 25]

        # and Execute then returns only the version-1 rows
        _, _, rows, errors = client.collect(msgs)
        assert not errors
        assert rows == [("1", "a"), ("2", "b")]

    def test_describe_only_no_rows_executed(self, pg):
        """A Describe cycle with no Execute must not stream any DataRow —
        the schema comes from planning, not from running the query."""
        ctx, client = pg
        client.query("CREATE TABLE tt2 (v double)")
        client.query("INSERT INTO tt2 VALUES (1.5)")
        client.parse("d0", "SELECT v, v + $1 AS shifted FROM tt2", [701])
        client.describe(b"S", "d0")
        msgs = client.sync()
        tags = [t for t, _ in msgs]
        assert b"T" in tags and b"D" not in tags
        names, oids = self._decode_rowdesc(
            [p for t, p in msgs if t == b"T"][0]
        )
        assert names == ["v", "shifted"]
        assert oids == [701, 701]


class TestNewStatementsOverPgWire:
    def test_restore_and_describe_detail(self, pg):
        """The r7 statements through the PG simple-query path: psql-style
        clients can RESTORE and introspect."""
        ctx, client = pg
        client.query("CREATE TABLE pr (k bigint)")
        client.query("INSERT INTO pr VALUES (1), (2)")
        client.query("DELETE FROM pr WHERE k = 1")
        _c, rows, err = client.query("SELECT count(*) FROM pr")
        assert not err and rows == [("1",)]
        _c, _r, err = client.query("RESTORE TABLE pr TO VERSION AS OF 1")  # CREATE=0, INSERT=1
        assert not err
        _c, rows, err = client.query("SELECT count(*) FROM pr")
        assert not err and rows == [("2",)]
        cols, rows, err = client.query("DESCRIBE DETAIL pr")
        assert not err and rows
        d = dict(zip(cols, rows[0]))
        assert d["format"] == "deltalite" and d["num_rows"] == "2"


class TestPgWireMatView:
    def test_matview_lifecycle_over_the_wire(self, pg):
        """r8 statements through the PostgreSQL wire protocol: create,
        refresh, read — simple-query flow, same as psql would issue."""
        ctx, client = pg
        for stmt in (
            "CREATE TABLE wt (g text, v bigint)",
            "INSERT INTO wt VALUES ('a', 1), ('a', 2), ('b', 3)",
            "CREATE MATERIALIZED VIEW wmv AS "
            "SELECT g, SUM(v) AS s FROM wt GROUP BY g",
            "INSERT INTO wt VALUES ('b', 10)",
            "REFRESH MATERIALIZED VIEW wmv",
        ):
            _, _, err = client.query(stmt)
            assert not err, (stmt, err)
        cols, rows_, err = client.query("SELECT g, s FROM wmv ORDER BY g")
        assert not err
        assert [c[0] for c in cols] == ["g", "s"]
        assert [list(r) for r in rows_] == [["a", "3"], ["b", "13"]]
        # logical view (r8 session D): tracks the base with no refresh
        _, _, err = client.query(
            "CREATE VIEW wv AS SELECT g, COUNT(*) AS n FROM wt GROUP BY g"
        )
        assert not err
        _, _, err = client.query("INSERT INTO wt VALUES ('c', 5)")
        assert not err
        _, rows_, err = client.query("SELECT g, n FROM wv ORDER BY g")
        assert not err
        assert [list(r) for r in rows_] == [["a", "2"], ["b", "2"], ["c", "1"]]
        _, _, err = client.query("DROP VIEW wv")
        assert not err
