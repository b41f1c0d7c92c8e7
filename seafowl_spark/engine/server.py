"""HTTP frontend (A17/A18 + SURVEY.md §3.1; reference src/frontend/http.rs).

Endpoints (same shapes as the reference):

* ``POST /q``  body ``{"query": "..."}`` — N ;-separated statements, only the
  last may be a read; response is JSON-lines (one object per row) with
  ``Content-Type: application/json; arrow-schema=<urlencoded schema>``
  (reference http.rs:108-155) and an ``X-Seafowl-Query-Time`` header.
* ``GET /q/<sha256-of-query>`` with the query in the ``X-Seafowl-Query``
  header (or ``{"query": ...}`` body) — READ-ONLY; the URL hash must match
  the query text (CDN cache keying, reference http.rs:291-324); response
  carries ``ETag`` derived from the scanned tables' versions plus
  ``Cache-Control``; ``If-None-Match`` match returns ``304`` WITHOUT
  executing the query (reference http.rs:349-360).
* ``POST /upload/<schema>/<table>`` — multipart CSV/Parquet upload, creates
  the table if absent then appends (reference http.rs:380-487).
* ``GET /healthz``.

Auth: optional bearer token checked as sha256 (reference AccessPolicy
sha256-password mode, config/schema.rs:204-266); read and write policies are
independent ("any" | "off" | sha256 hex).

Serving model: one hot SparkSession + SeafowlContext behind a threaded
stdlib HTTP server — the Spark driver is the coordinator exactly as the
reference's tokio process is, and rows stream to the client via
toLocalIterator (partition-at-a-time, no full materialization on the
driver; reference streams RecordBatches the same way, http.rs:128-155).
"""

from __future__ import annotations

import io
import json
import re
import threading
import time
import urllib.parse
from contextlib import contextmanager
from hashlib import sha256
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import DataFrame

from . import parser
from .context import SeafowlContext
from .types import to_ddl

DEFAULT_CACHE_CONTROL = "max-age=43200, public"  # reference config/schema.rs:263
QUERY_HEADER = "X-Seafowl-Query"


class AccessPolicy:
    """"any" | "off" | sha256-hex-of-password (reference auth.rs:78-143)."""

    def __init__(self, read: str = "any", write: str = "any"):
        self.read = read
        self.write = write

    def _allowed(self, policy: str, token: str | None) -> bool:
        if policy == "any":
            return True
        if policy == "off":
            return False
        return token is not None and sha256(token.encode()).hexdigest() == policy

    def can_read(self, token: str | None) -> bool:
        return self._allowed(self.read, token)

    def can_write(self, token: str | None) -> bool:
        return self._allowed(self.write, token)


def _json_default(v):
    return str(v)


def _rows_to_jsonlines(df: DataFrame) -> "bytes":
    buf = io.BytesIO()
    cols = df.columns
    # partition-at-a-time pull: bounded driver memory
    for row in df.toLocalIterator(prefetchPartitions=True):
        obj = {c: row[i] for i, c in enumerate(cols)}
        buf.write(json.dumps(obj, default=_json_default).encode())
        buf.write(b"\n")
    return buf.getvalue()


def _arrow_schema_param(df: DataFrame) -> str:
    return urllib.parse.quote(df.schema.json())


class Metrics:
    """Process-wide serving counters, exposed at GET /metrics in Prometheus
    text format (reference exposes HTTP/gRPC/memory metrics the same way,
    config/context.rs setup_metrics)."""

    def __init__(self):
        import threading

        self._lock = threading.Lock()
        self.counters = {
            "queries_total": 0,
            "query_errors_total": 0,
            "cache_hits_total": 0,
            "uploads_total": 0,
            "query_seconds_total": 0.0,
        }

    def inc(self, name: str, amount: float = 1):
        with self._lock:
            self.counters[name] += amount

    def render(self) -> bytes:
        lines = []
        for k, v in sorted(self.counters.items()):
            lines.append(f"# TYPE seafowl_{k} counter")
            lines.append(f"seafowl_{k} {v}")
        return ("\n".join(lines) + "\n").encode()


METRICS = Metrics()


class SeafowlHandler(BaseHTTPRequestHandler):
    server_version = "seafowl-spark/0.1"
    ctx: SeafowlContext
    policy: AccessPolicy
    cache_control: str
    upload_max_mb: int = 256

    def log_message(self, fmt, *args):  # quiet
        pass

    # ------------------------------------------------------------- helpers

    def _token(self) -> str | None:
        auth = self.headers.get("Authorization", "")
        if auth.startswith("Bearer "):
            return auth[7:]
        return None

    def _body(self) -> bytes:
        length = int(self.headers.get("Content-Length") or 0)
        return self.rfile.read(length) if length else b""

    def _send(self, code: int, body: bytes = b"", headers: dict | None = None):
        self.send_response(code)
        for k, v in (headers or {}).items():
            self.send_header(k, v)
        # lax CORS, reference http.rs:518-526 (echo the origin + Vary)
        origin = self.headers.get("Origin")
        if origin:
            self.send_header("Access-Control-Allow-Origin", origin)
            self.send_header("Vary", "Origin")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        if body:
            self.wfile.write(body)

    def _error(self, code: int, message: str):
        self._send(code, json.dumps({"error": message}).encode() + b"\n",
                   {"Content-Type": "application/json"})

    # ------------------------------------------------------------- routes

    @contextmanager
    def _use_db(self, db: str | None):
        """Route-level database override (reference's `{database}/q`
        prefixed routes, frontend/http.rs:566-631). Serialized under the
        context's exec lock so concurrent requests against different
        databases never see each other's override."""
        ctx = self.ctx
        if not db or db == ctx.database:
            yield
            return
        with ctx._exec_lock:
            prev = ctx.database
            ctx.set_database(db)
            try:
                yield
            finally:
                ctx.set_database(prev)

    def _dispatch(self, db: str | None, fn, *args):
        from .context import ExecutionError

        try:
            with self._use_db(db):
                fn(*args)
        except ExecutionError as exc:
            self._error(404, str(exc))

    def do_OPTIONS(self):  # noqa: N802
        # CORS preflight (reference http.rs:518-526, test_cors): any
        # origin, GET/POST, the query/auth/content-type headers, 24 h
        self._send(
            200,
            b"",
            {
                "Access-Control-Allow-Methods": "GET, POST",
                "Access-Control-Allow-Headers": "X-Seafowl-Query, Authorization, Content-Type",
                "Access-Control-Max-Age": "86400",
            },
        )

    def do_GET(self):  # noqa: N802
        path = urllib.parse.urlparse(self.path).path
        if path in ("/healthz", "/readyz"):
            # reference serves both spellings (frontend/http.rs:637-638)
            self._send(200, b"ready", {"Content-Type": "text/plain"})
            return
        if path == "/metrics":
            self._send(200, METRICS.render(), {"Content-Type": "text/plain"})
            return
        m = re.match(r"^/(?:([A-Za-z_][\w]*)/)?q/([0-9a-f]{64})$", path)
        if m:
            self._dispatch(m.group(1), self._cached_read, m.group(2))
            return
        self._error(404, "not found")

    def do_POST(self):  # noqa: N802
        path = urllib.parse.urlparse(self.path).path
        m = re.match(r"^/(?:([A-Za-z_][\w]*)/)?q$", path)
        if m:
            self._dispatch(m.group(1), self._run_query)
            return
        m = re.match(r"^/(?:([A-Za-z_][\w]*)/)?upload/([A-Za-z_][\w]*)/([A-Za-z_][\w]*)$", path)
        if m:
            self._dispatch(m.group(1), self._upload, m.group(2), m.group(3))
            return
        self._error(404, "not found")

    # ------------------------------------------------------------- handlers

    def _parse_query(self) -> str | None:
        q = self.headers.get(QUERY_HEADER)
        if q:
            return urllib.parse.unquote(q)
        body = self._body()
        if body:
            try:
                return json.loads(body)["query"]
            except (json.JSONDecodeError, KeyError):
                return None
        return None

    def _cached_read(self, url_hash: str):
        if not self.policy.can_read(self._token()):
            self._error(403, "read access denied")
            return
        query = self._parse_query()
        if not query:
            self._error(400, "no query provided")
            return
        actual = sha256(query.encode()).hexdigest()
        if actual != url_hash:
            self._error(400, f"query hash mismatch: expected {actual}")
            return
        stmts = parser.split_statements(query)
        if len(stmts) != 1 or not parser.is_read_only(stmts[0]):
            self._error(405, "GET /q only serves single read-only statements")
            return
        try:
            etag = self.ctx.etag_for_query(stmts[0])
            if self.headers.get("If-None-Match") == etag:
                # cache hit: no execution at all (reference http.rs:349-360)
                METRICS.inc("cache_hits_total")
                self._send(304, b"", {"ETag": etag, "Cache-Control": self.cache_control})
                return
            t0 = time.perf_counter()
            df = self.ctx.execute(stmts[0])
            body = _rows_to_jsonlines(df)
            self._send(
                200,
                body,
                {
                    "Content-Type": f"application/json; arrow-schema={_arrow_schema_param(df)}",
                    "ETag": etag,
                    "Cache-Control": self.cache_control,
                    "Vary": f"Authorization, Content-Type, Origin, {QUERY_HEADER}",
                    "X-Seafowl-Query-Time": f"{time.perf_counter() - t0:.3f}",
                },
            )
        except Exception as exc:  # noqa: BLE001
            self._error(400, str(exc)[:2000])

    def _run_query(self):
        query = self._parse_query()
        if not query:
            self._error(400, "no query provided")
            return
        token = self._token()
        stmts = parser.split_statements(query)
        writes = any(not parser.is_read_only(s) for s in stmts)
        if writes and not self.policy.can_write(token):
            self._error(403, "write access denied")
            return
        if not writes and not self.policy.can_read(token):
            self._error(403, "read access denied")
            return
        try:
            t0 = time.perf_counter()
            df = self.ctx.execute(query)
            METRICS.inc("queries_total")
            if df is None:
                self._send(200, b"", {"Content-Type": "application/json"})
                return
            body = _rows_to_jsonlines(df)
            METRICS.inc("query_seconds_total", time.perf_counter() - t0)
            self._send(
                200,
                body,
                {
                    "Content-Type": f"application/json; arrow-schema={_arrow_schema_param(df)}",
                    "X-Seafowl-Query-Time": f"{time.perf_counter() - t0:.3f}",
                },
            )
        except Exception as exc:  # noqa: BLE001
            METRICS.inc("query_errors_total")
            self._error(400, str(exc)[:2000])

    def _upload(self, schema: str, table: str):
        """Multipart CSV/Parquet upload -> create-if-absent + append
        (reference http.rs:380-487, physical.rs:906-1005)."""
        if not self.policy.can_write(self._token()):
            self._error(403, "write access denied")
            return
        # reference HttpFrontend.upload_data_max_length (schema.rs:251,
        # default 256 MB): bound the bytes a single upload may buffer
        try:
            length = int(self.headers.get("Content-Length", "0"))
        except ValueError:
            length = 0
        if length > self.upload_max_mb * 1024 * 1024:
            self._error(413, f"upload exceeds {self.upload_max_mb} MB limit")
            return
        ctype = self.headers.get("Content-Type", "")
        m = re.search(r'boundary="?([^";]+)"?', ctype)
        if not m:
            self._error(400, "expected multipart/form-data with boundary")
            return
        try:
            filename, payload = _parse_multipart(self._body(), m.group(1).encode())
        except ValueError as exc:
            self._error(400, str(exc))
            return
        import os
        import tempfile

        suffix = ".parquet" if filename.endswith(".parquet") else ".csv"
        with tempfile.NamedTemporaryFile(suffix=suffix, delete=False) as f:
            f.write(payload)
            tmp = f.name
        try:
            spark = self.ctx.spark
            if suffix == ".parquet":
                df = spark.read.parquet(tmp)
            else:
                df = (
                    spark.read.option("header", "true")
                    .option("inferSchema", "true")
                    .csv(tmp)
                )
            qualified = f"{schema}.{table}"
            existing = self.ctx.catalog.get_table(self.ctx.database, schema, table)
            if existing is None:
                ddl = to_ddl(df.schema.fields)
                entry = self.ctx.catalog.create_table(self.ctx.database, schema, table, ddl)
                from .deltalite import DeltaLiteTable

                t = DeltaLiteTable.create(spark, self.ctx.table_root(entry), df.schema)
            else:
                from .deltalite import DeltaLiteTable

                t = DeltaLiteTable(spark, self.ctx.table_root(existing))
                entry = existing
            t.append(df, operation="UPLOAD")
            self.ctx._record(entry, t)
            METRICS.inc("uploads_total")
            self._send(200, f"done: {qualified}\n".encode(), {"Content-Type": "text/plain"})
        except Exception as exc:  # noqa: BLE001
            self._error(400, str(exc)[:2000])
        finally:
            os.unlink(tmp)


def _parse_multipart(body: bytes, boundary: bytes) -> tuple[str, bytes]:
    """Minimal multipart/form-data parser: returns (filename, file bytes)."""
    delim = b"--" + boundary
    for part in body.split(delim):
        if b"Content-Disposition" not in part:
            continue
        header_blob, _, data = part.partition(b"\r\n\r\n")
        m = re.search(rb'filename="([^"]+)"', header_blob)
        if not m:
            continue
        data = data.rstrip(b"\r\n")
        if data.endswith(b"--"):
            data = data[:-2].rstrip(b"\r\n")
        return m.group(1).decode(), data
    raise ValueError("no file part found in multipart body")


class SeafowlServer:
    """Threaded HTTP server wrapper around one SeafowlContext."""

    def __init__(
        self,
        ctx: SeafowlContext,
        host: str = "127.0.0.1",
        port: int = 0,
        policy: AccessPolicy | None = None,
        cache_control: str = DEFAULT_CACHE_CONTROL,
        upload_max_mb: int = 256,
    ):
        handler = type(
            "BoundHandler",
            (SeafowlHandler,),
            {
                "ctx": ctx,
                "policy": policy or AccessPolicy(),
                "cache_control": cache_control,
                "upload_max_mb": upload_max_mb,
            },
        )
        self.httpd = ThreadingHTTPServer((host, port), handler)
        self.port = self.httpd.server_address[1]
        self._thread: threading.Thread | None = None

    def start(self) -> "SeafowlServer":
        self._thread = threading.Thread(target=self.httpd.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self.httpd.shutdown()
        self.httpd.server_close()
