"""PostgreSQL wire-protocol frontend (SURVEY.md §3.3; reference
src/frontend/postgres.rs via the convergence Engine).

Minimal but real protocol v3 implementation on stdlib sockets:

* startup: accepts the StartupMessage, answers AuthenticationOk +
  ParameterStatus + ReadyForQuery (no auth/TLS — same as the reference,
  main.rs:198-200; SSLRequest is answered 'N'),
* simple query protocol ('Q'): executes via SeafowlContext, returns
  RowDescription + DataRows (text format) + CommandComplete + ReadyForQuery;
  errors become ErrorResponse and keep the session alive,
* extended protocol (reference serves prepare/bind/portal two-phase via
  the convergence Engine, src/frontend/postgres.rs:41-77): Parse ('P')
  stores a named prepared statement with $n placeholders, Bind ('B')
  materializes a portal by substituting parameter values (text format
  always; binary for bool/int2/int4/int8/float4/float8), Describe ('D')
  answers ParameterDescription/RowDescription (planning the statement the
  way the reference's prepare does), Execute ('E') streams DataRows —
  at most ``max_rows`` of them, then PortalSuspended while rows remain,
  CommandComplete at the end — Close ('C') and Sync ('S') complete the
  flow; errors put the session in aborted-until-Sync state per the
  protocol,
* Terminate ('X') closes cleanly.

Like the reference, results are fully planned before the row description is
sent (two-phase schema-then-rows shape).
"""

from __future__ import annotations

import socket
import socketserver
import struct
import threading

import pyarrow as pa
from pyspark.sql import types as T

from . import parser, results
from .context import SeafowlContext
from .server import AccessPolicy

# PostgreSQL type OIDs for the text-format row description
_OID = {
    "boolean": 16,
    "bigint": 20,
    "smallint": 21,
    "int": 23,
    "integer": 23,
    "double": 701,
    "float": 700,
    "string": 25,
    "date": 1082,
    "timestamp": 1114,
    "binary": 17,
}


def _oid_for(dt: T.DataType) -> int:
    s = dt.simpleString()
    if s.startswith("decimal"):
        return 1700
    return _OID.get(s, 25)  # default: text


def _msg(tag: bytes, payload: bytes) -> bytes:
    return tag + struct.pack("!I", len(payload) + 4) + payload


def _cstr(s: str) -> bytes:
    return s.encode() + b"\x00"


_NULL = struct.pack("!i", -1)  # DataRow field length of a NULL


class _Handler(socketserver.BaseRequestHandler):
    ctx: SeafowlContext
    policy: AccessPolicy
    _token: str | None = None
    _db: str | None = None  # per-connection database (startup parameter)

    def _execute(self, sql: str):
        """Run under this connection's database (psql -d semantics, the
        reference resolves the startup database the same way); serialized
        under the context lock so the override never leaks to others."""
        ctx = self.ctx
        if not self._db or self._db == ctx.database:
            return ctx.execute(sql)
        with ctx._exec_lock:
            prev = ctx.database
            ctx.set_database(self._db)
            try:
                return ctx.execute(sql)
            finally:
                ctx.set_database(prev)

    def handle(self):
        sock: socket.socket = self.request
        if not self._startup(sock):
            return
        self._send_ready(sock)
        # extended-protocol session state
        self._stmts: dict[str, tuple[str, list[int]]] = {}
        self._portals: dict[str, str] = {}
        # portal -> (rows not yet sent, schema): a read portal's result,
        # fetched by its first Execute and sent max_rows at a time
        self._results: dict[str, tuple[pa.Table, T.StructType]] = {}
        self._aborted = False  # error seen: skip until Sync
        try:
            self._serve(sock)
        finally:
            self._results.clear()

    def _serve(self, sock: socket.socket):
        buf = b""
        while True:
            data = sock.recv(65536)
            if not data:
                return
            buf += data
            while len(buf) >= 5:
                tag = buf[0:1]
                (length,) = struct.unpack("!I", buf[1:5])
                if len(buf) < 1 + length:
                    break
                payload = buf[5 : 1 + length]
                buf = buf[1 + length :]
                if tag == b"X":
                    return
                if tag == b"S":  # Sync: end of extended batch
                    self._aborted = False
                    self._send_ready(sock)
                    continue
                if self._aborted:
                    continue  # protocol: discard until Sync after an error
                if tag == b"Q":
                    self._simple_query(sock, payload.rstrip(b"\x00").decode())
                    self._send_ready(sock)
                elif tag == b"P":
                    self._parse_msg(sock, payload)
                elif tag == b"B":
                    self._bind_msg(sock, payload)
                elif tag == b"D":
                    self._describe_msg(sock, payload)
                elif tag == b"E":
                    self._execute_msg(sock, payload)
                elif tag == b"C":
                    self._close_msg(sock, payload)
                elif tag == b"H":  # Flush: we already send eagerly
                    pass
                # ignore anything else

    # ------------------------------------------------------------ protocol

    def _startup(self, sock: socket.socket) -> bool:
        raw = self._recv_exact(sock, 4)
        if raw is None:
            return False
        (length,) = struct.unpack("!I", raw)
        body = self._recv_exact(sock, length - 4)
        if body is None:
            return False
        (code,) = struct.unpack("!I", body[:4])
        if code == 80877103:  # SSLRequest -> refuse, expect plain startup
            sock.sendall(b"N")
            return self._startup(sock)
        if code == 80877102:  # CancelRequest: nothing to cancel
            return False
        # StartupMessage parameters: null-separated key/value pairs
        params: dict[str, str] = {}
        parts = body[4:].split(b"\x00")
        for i in range(0, len(parts) - 1, 2):
            if parts[i]:
                params[parts[i].decode()] = parts[i + 1].decode()
        db = params.get("database")
        if db and db != self.ctx.database:
            if db not in self.ctx.catalog.databases():
                self._send_error(sock, f'database "{db}" does not exist')
                return False
            self._db = db
        # if any policy needs a credential, run cleartext
        # password auth (reference checks AccessPolicy sha256 the same way)
        if self.policy.read != "any" or self.policy.write != "any":
            sock.sendall(_msg(b"R", struct.pack("!I", 3)))  # CleartextPassword
            hdr = self._recv_exact(sock, 5)
            if hdr is None or hdr[0:1] != b"p":
                return False
            (plen,) = struct.unpack("!I", hdr[1:5])
            pw = self._recv_exact(sock, plen - 4)
            if pw is None:
                return False
            self._token = pw.rstrip(b"\x00").decode()
            if not self.policy.can_read(self._token) and not self.policy.can_write(
                self._token
            ):
                self._send_error(sock, "password authentication failed")
                return False
        sock.sendall(_msg(b"R", struct.pack("!I", 0)))  # AuthenticationOk
        for k, v in (
            ("server_version", "15.0 (seafowl_spark)"),
            ("client_encoding", "UTF8"),
            ("DateStyle", "ISO"),
        ):
            sock.sendall(_msg(b"S", _cstr(k) + _cstr(v)))
        return True

    @staticmethod
    def _recv_exact(sock: socket.socket, n: int) -> bytes | None:
        out = b""
        while len(out) < n:
            chunk = sock.recv(n - len(out))
            if not chunk:
                return None
            out += chunk
        return out

    def _send_ready(self, sock: socket.socket):
        sock.sendall(_msg(b"Z", b"I"))

    def _send_error(self, sock: socket.socket, message: str):
        payload = b"SERROR\x00" + b"C42000\x00" + b"M" + _cstr(message[:900]) + b"\x00"
        sock.sendall(_msg(b"E", payload))

    # -------------------------------------------------------- extended flow

    @staticmethod
    def _cstr_at(payload: bytes, pos: int) -> tuple[str, int]:
        end = payload.index(b"\x00", pos)
        return payload[pos:end].decode(), end + 1

    def _ext_error(self, sock: socket.socket, message: str):
        self._send_error(sock, message)
        self._aborted = True  # discard until Sync (protocol error recovery)

    def _parse_msg(self, sock: socket.socket, payload: bytes):
        try:
            name, pos = self._cstr_at(payload, 0)
            query, pos = self._cstr_at(payload, pos)
            (n_oids,) = struct.unpack_from("!H", payload, pos)
            pos += 2
            oids = [
                struct.unpack_from("!I", payload, pos + 4 * i)[0] for i in range(n_oids)
            ]
            self._stmts[name] = (query, oids)
            sock.sendall(_msg(b"1", b""))  # ParseComplete
        except Exception as exc:  # noqa: BLE001
            self._ext_error(sock, f"Parse failed: {exc}")

    @staticmethod
    def _decode_binary_param(oid: int, raw: bytes) -> str:
        if oid == 16:  # bool
            return "TRUE" if raw != b"\x00" else "FALSE"
        if oid == 21:
            return str(struct.unpack("!h", raw)[0])
        if oid == 23:
            return str(struct.unpack("!i", raw)[0])
        if oid == 20:
            return str(struct.unpack("!q", raw)[0])
        if oid == 700:
            return repr(struct.unpack("!f", raw)[0])
        if oid == 701:
            return repr(struct.unpack("!d", raw)[0])
        raise ValueError(f"binary parameter format not supported for OID {oid}")

    @staticmethod
    def _text_param_literal(oid: int, text: str) -> str:
        numeric_oids = {20, 21, 23, 700, 701, 1700}
        import re as _re

        if oid in numeric_oids or (
            oid == 0 and _re.fullmatch(r"-?[0-9]+(\.[0-9]+)?", text)
        ):
            return text
        if oid == 16:
            return "TRUE" if text.lower() in ("t", "true", "1", "y", "yes", "on") else "FALSE"
        return "'" + text.replace("'", "''") + "'"

    def _substitute_params(self, sql: str, oids: list[int], literals: list[str]) -> str:
        """Replace $1..$n outside string literals (the reference's
        convergence engine binds values into the statement the same way)."""
        import re as _re

        parts = _re.split(r"('(?:[^']|'')*')", sql)
        for i in range(0, len(parts), 2):
            def sub(m: "_re.Match[str]") -> str:
                idx = int(m.group(1)) - 1
                if idx < 0 or idx >= len(literals):
                    raise ValueError(f"parameter ${idx + 1} not bound")
                return literals[idx]

            parts[i] = _re.sub(r"\$([0-9]+)", sub, parts[i])
        return "".join(parts)

    def _bind_msg(self, sock: socket.socket, payload: bytes):
        try:
            portal, pos = self._cstr_at(payload, 0)
            stmt_name, pos = self._cstr_at(payload, pos)
            if stmt_name not in self._stmts:
                raise ValueError(f"unknown prepared statement {stmt_name!r}")
            sql, oids = self._stmts[stmt_name]
            (n_fmt,) = struct.unpack_from("!H", payload, pos)
            pos += 2
            fmts = [struct.unpack_from("!H", payload, pos + 2 * i)[0] for i in range(n_fmt)]
            pos += 2 * n_fmt
            (n_params,) = struct.unpack_from("!H", payload, pos)
            pos += 2
            literals: list[str] = []
            for i in range(n_params):
                (plen,) = struct.unpack_from("!i", payload, pos)
                pos += 4
                oid = oids[i] if i < len(oids) else 0
                if plen == -1:
                    literals.append("NULL")
                    continue
                raw = payload[pos : pos + plen]
                pos += plen
                fmt = fmts[i] if i < len(fmts) else (fmts[0] if len(fmts) == 1 else 0)
                if fmt == 1:
                    literals.append(self._decode_binary_param(oid, raw))
                else:
                    literals.append(self._text_param_literal(oid, raw.decode()))
            # result format codes ignored: we always send text
            self._portals[portal] = self._substitute_params(sql, oids, literals)
            self._results.pop(portal, None)
            sock.sendall(_msg(b"2", b""))  # BindComplete
        except Exception as exc:  # noqa: BLE001
            self._ext_error(sock, f"Bind failed: {exc}")

    def _row_description(self, sock: socket.socket, df):
        fields = df.schema.fields
        desc = struct.pack("!H", len(fields))
        for f in fields:
            desc += _cstr(f.name) + struct.pack(
                "!IhIhih", 0, 0, _oid_for(f.dataType), -1, -1, 0
            )
        sock.sendall(_msg(b"T", desc))

    def _plan_portal(self, sql: str):
        """Plan (analyze) without executing — the schema half of the
        reference's prepare (postgres.rs:49-59). Returns None for writes."""
        stmts = parser.split_statements(sql)
        if not stmts or not parser.is_read_only(stmts[-1]):
            return None
        return self._execute(sql)

    def _describe_msg(self, sock: socket.socket, payload: bytes):
        try:
            kind = payload[0:1]
            name, _ = self._cstr_at(payload, 1)
            if kind == b"S":
                if name not in self._stmts:
                    raise ValueError(f"unknown prepared statement {name!r}")
                sql, oids = self._stmts[name]
                import re as _re

                n_params = max(
                    [int(m) for m in _re.findall(r"\$([0-9]+)", sql)] or [0]
                )
                pd = struct.pack("!H", n_params)
                for i in range(n_params):
                    pd += struct.pack("!I", oids[i] if i < len(oids) else 0)
                sock.sendall(_msg(b"t", pd))  # ParameterDescription
                # plan with NULL placeholders for the row description
                probe = self._substitute_params(sql, oids, ["NULL"] * n_params)
                df = self._plan_portal(probe)
            else:
                if name not in self._portals:
                    raise ValueError(f"unknown portal {name!r}")
                df = self._plan_portal(self._portals[name])
            if df is None:
                sock.sendall(_msg(b"n", b""))  # NoData
            else:
                self._row_description(sock, df)
        except Exception as exc:  # noqa: BLE001
            self._ext_error(sock, f"Describe failed: {exc}")

    def _execute_msg(self, sock: socket.socket, payload: bytes):
        """Run the portal. A read's first Execute fetches the whole result
        in one Spark job and keeps it on the portal; each Execute sends
        the next ``max_rows`` rows (all of them when 0), then
        PortalSuspended while rows remain or CommandComplete, as
        PostgreSQL does."""
        try:
            portal, pos = self._cstr_at(payload, 0)
            (max_rows,) = struct.unpack_from("!i", payload, pos)
            if portal not in self._portals:
                raise ValueError(f"unknown portal {portal!r}")
            if portal not in self._results:
                sql = self._portals[portal]
                writes = any(
                    not parser.is_read_only(s) for s in parser.split_statements(sql)
                )
                if writes and not self.policy.can_write(self._token):
                    raise PermissionError("write access denied")
                if not writes and not self.policy.can_read(self._token):
                    raise PermissionError("read access denied")
                df = self._execute(sql)
                if df is None or writes:
                    sock.sendall(_msg(b"C", _cstr("OK")))
                    return
                self._results[portal] = (results.fetch(df), df.schema)
            rest, schema = self._results[portal]
            n = rest.num_rows if max_rows <= 0 else min(max_rows, rest.num_rows)
            self._send_rows(sock, rest.slice(0, n), schema)
            rest = rest.slice(n) if n < rest.num_rows else rest.schema.empty_table()
            self._results[portal] = (rest, schema)
            if rest.num_rows:
                sock.sendall(_msg(b"s", b""))  # PortalSuspended
            else:
                sock.sendall(_msg(b"C", _cstr(f"SELECT {n}")))
        except Exception as exc:  # noqa: BLE001
            self._ext_error(sock, f"Execute failed: {exc}")

    def _close_msg(self, sock: socket.socket, payload: bytes):
        kind = payload[0:1]
        name, _ = self._cstr_at(payload, 1)
        if kind == b"S":
            self._stmts.pop(name, None)
        else:
            self._portals.pop(name, None)
            self._results.pop(name, None)
        sock.sendall(_msg(b"3", b""))  # CloseComplete

    def _send_rows(self, sock: socket.socket, table: pa.Table, schema: T.StructType) -> int:
        """Send the rows of a fetched result as text DataRows; each Arrow
        batch's DataRows go out in one sendall, so the driver holds the
        Arrow result plus one batch of messages."""
        ncols = struct.pack("!H", len(schema.fields))
        n = 0
        for batch in results.row_batches(table, schema):
            msgs = []
            for row in batch:
                body = [ncols]
                for v in row:
                    if v is None:
                        body.append(_NULL)
                    else:
                        b = (("t" if v else "f") if isinstance(v, bool) else str(v)).encode()
                        body.append(struct.pack("!i", len(b)) + b)
                msgs.append(_msg(b"D", b"".join(body)))
            sock.sendall(b"".join(msgs))
            n += len(msgs)
        return n

    def _simple_query(self, sock: socket.socket, sql: str):
        try:
            if not sql.strip():
                sock.sendall(_msg(b"I", b""))  # EmptyQueryResponse
                return
            writes = any(not parser.is_read_only(s) for s in parser.split_statements(sql))
            if writes and not self.policy.can_write(self._token):
                self._send_error(sock, "write access denied")
                return
            if not writes and not self.policy.can_read(self._token):
                self._send_error(sock, "read access denied")
                return
            df = self._execute(sql)
            if df is None or not parser.is_read_only(parser.split_statements(sql)[-1]):
                sock.sendall(_msg(b"C", _cstr("OK")))
                return
            self._row_description(sock, df)
            n = self._send_rows(sock, results.fetch(df), df.schema)
            sock.sendall(_msg(b"C", _cstr(f"SELECT {n}")))
        except Exception as exc:  # noqa: BLE001
            self._send_error(sock, str(exc))


class PgWireServer:
    """Threaded PG-wire server bound to one SeafowlContext."""

    def __init__(
        self,
        ctx: SeafowlContext,
        host: str = "127.0.0.1",
        port: int = 0,
        policy: AccessPolicy | None = None,
    ):
        handler = type(
            "BoundPgHandler", (_Handler,), {"ctx": ctx, "policy": policy or AccessPolicy()}
        )

        class _Server(socketserver.ThreadingTCPServer):
            allow_reuse_address = True
            daemon_threads = True

        self.server = _Server((host, port), handler)
        self.port = self.server.server_address[1]
        self._thread: threading.Thread | None = None

    def start(self) -> "PgWireServer":
        self._thread = threading.Thread(target=self.server.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self):
        self.server.shutdown()
        self.server.server_close()
