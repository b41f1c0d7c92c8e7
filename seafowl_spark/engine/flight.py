"""Arrow Flight frontend (SURVEY.md §3.2; reference src/frontend/flight/).

Same control flow as the reference's Flight SQL handler:

* ``get_flight_info`` with a JSON command ``{"query": ...}`` plans the query
  and parks the result under a ticket id (reference parks the stream in a
  DashMap keyed by query id, handler.rs:124-134); ``do_get`` drains it as
  Arrow record batches.
* **Inline metastore** (reference InlineMetastoreCommandStatementQuery,
  flight/sql.rs:109-150): the command may carry ``{"tables": {name: path
  | {"path", "format": delta|iceberg}}}``
  mapping view names to deltalite table roots — stateless serving over
  arbitrary tables without catalog registration.
* ``search_path`` in the command scopes unqualified names to a schema
  (reference search-path header).
* ``do_put`` with a command ``{"path", "origin", "sequence_number",
  "pk": [...], "descriptors": [...]}`` ingests CDC change batches into the
  sync writer (reference DataSyncCommand over do_put, handler.rs:136-237);
  the ``flush`` action forces a merge. Whenever a put or the action
  flushes a catalog table, its new versions are mirrored into the catalog
  in one transaction.

Scale note: a result is fetched in one Spark job and held driver-side as
Arrow before streaming (engine/results.py, the fetch HTTP and pgwire use
too); a partition-streaming do_get is the future path for bulk exports.
"""

from __future__ import annotations

import json
import threading
import uuid

import pyarrow as pa
import pyarrow.flight as flight

from ..streaming.sync import ColumnDescriptor, SyncSchema, SyncWriter
from . import bindings, results
from .catalog import TableEntry
from .context import SeafowlContext
from .server import AccessPolicy


class SeafowlFlightServer(flight.FlightServerBase):
    def __init__(
        self,
        ctx: SeafowlContext,
        location: str = "grpc://127.0.0.1:0",
        policy: AccessPolicy | None = None,
    ):
        super().__init__(location)
        self.ctx = ctx
        self.policy = policy or AccessPolicy()
        self.sync_writer = SyncWriter(ctx.spark)
        # catalog entry of each table root a put buffered by name, so a
        # flush records the versions it commits in the catalog
        self._sync_entries: dict[str, TableEntry] = {}
        self._results: dict[str, pa.Table] = {}
        self._lock = threading.Lock()

    # ------------------------------------------------------------ queries

    def _execute_to_arrow(self, command: dict) -> pa.Table:
        from . import parser

        query = command["query"]
        token = command.get("token")
        writes = any(
            not parser.is_read_only(s) for s in parser.split_statements(query)
        )
        if writes and not self.policy.can_write(token):
            raise flight.FlightUnauthorizedError("write access denied")
        if not writes and not self.policy.can_read(token):
            raise flight.FlightUnauthorizedError("read access denied")
        inline = command.get("tables") or {}
        specs: dict[str, tuple[str, str]] = {}
        if inline:
            # inline metastore: register the shipped tables as views. A
            # value is either a deltalite path (string) or {"path": ...,
            # "format": "delta"|"iceberg"} — the reference's external
            # metastore serves both formats per schema (clade
            # ListSchemaResponse, tests/fixtures.rs:27-70)
            from .deltalite import DeltaLiteTable

            for name, spec in inline.items():
                if isinstance(spec, str):
                    spec = {"path": spec, "format": "delta"}
                fmt = (spec.get("format") or "delta").lower()
                if fmt in ("delta", "deltatable"):
                    df = DeltaLiteTable(self.ctx.spark, spec["path"]).to_df()
                elif fmt == "iceberg":
                    from ..sources.iceberg import read_iceberg

                    df = read_iceberg(self.ctx.spark, spec["path"], dict(spec.get("options") or {}))
                else:
                    raise flight.FlightServerError(f"unsupported inline table format {fmt!r}")
                specs[name] = (fmt, spec["path"])
                # through the session's binding registry, so the next
                # reload rebinds a catalog table this name shadows
                bindings.for_session(self.ctx.spark).bind(
                    name, ("inline", object()), df
                )
            ins = self._inline_insert(query, specs)
            if ins is not None:
                return ins
        # search_path rides the call (applied under the context's execution
        # lock) instead of mutating shared ctx state across threads
        df = self.ctx.execute(query, search_path=command.get("search_path"))
        return results.fetch(df)

    def _inline_insert(self, query: str, specs: dict[str, tuple[str, str]]):
        """INSERT INTO an inline ICEBERG table (reference
        tests/flight/inline_metastore.rs test_inline_iceberg_write):
        evaluates the VALUES/SELECT source, aligns it to the target
        schema, and commits one append snapshot next to the shipped
        metadata — the shipped (pinned) metadata version is untouched, so
        concurrent readers of v1 see no change."""
        import os
        import re as _re

        import pyarrow as pa

        from pyspark.sql import functions as F

        m = _re.match(
            r"(?is)^\s*insert\s+into\s+[\"`]?(\w+)[\"`]?\s*"
            r"(?:\(([^)]*)\))?\s*(values\s*.+|select\s+.+)$",
            query.strip().rstrip(";"),
        )
        if m is None or m.group(1) not in specs:
            return None
        name, collist, rest = m.group(1), m.group(2), m.group(3)
        fmt, path = specs[name]
        if fmt != "iceberg":
            raise flight.FlightServerError(
                "inline INSERT is supported for iceberg tables only"
            )
        from ..sources.iceberg import write_iceberg_table

        spark = self.ctx.spark
        target = spark.table(name)
        src = spark.sql(rest)
        cols = (
            [c.strip().strip('`"') for c in collist.split(",")]
            if collist
            else list(target.columns)
        )
        if len(src.columns) != len(cols):
            raise flight.FlightServerError(
                f"INSERT has {len(src.columns)} expressions for {len(cols)} columns"
            )
        src = src.toDF(*cols)
        aligned = src.select(
            *[
                (
                    F.col(f.name).cast(f.dataType)
                    if f.name in cols
                    else F.lit(None).cast(f.dataType)
                ).alias(f.name)
                for f in target.schema.fields
            ]
        )
        table_dir = os.path.dirname(os.path.dirname(os.path.abspath(path)))
        write_iceberg_table(spark, aligned, table_dir)
        return pa.table({})

    def get_flight_info(self, context, descriptor):
        command = json.loads(descriptor.command.decode())
        table = self._execute_to_arrow(command)
        ticket_id = uuid.uuid4().hex
        with self._lock:
            self._results[ticket_id] = table
        endpoint = flight.FlightEndpoint(ticket_id.encode(), [])
        return flight.FlightInfo(
            table.schema, descriptor, [endpoint], table.num_rows, -1
        )

    def do_get(self, context, ticket):
        with self._lock:
            table = self._results.pop(ticket.ticket.decode(), None)
        if table is None:
            raise flight.FlightServerError("unknown or already-consumed ticket")
        return flight.RecordBatchStream(table)

    # ------------------------------------------------------------ CDC sync

    def do_put(self, context, descriptor, reader, writer):
        cmd = json.loads(descriptor.command.decode())
        if not self.policy.can_write(cmd.get("token")):
            raise flight.FlightUnauthorizedError("write access denied")
        schema = SyncSchema(
            [ColumnDescriptor(d["name"], d["role"], d["target"]) for d in cmd["descriptors"]]
        )
        batch = reader.read_all().to_pandas()
        if cmd.get("table"):
            entry = self.ctx._resolve(cmd["table"])
            root = self.ctx.table_root(entry)
            self._sync_entries[root] = entry
        else:
            root = cmd["path"]
        flushed = self.sync_writer.enqueue(
            root,
            schema,
            batch,
            origin=cmd.get("origin", "flight"),
            sequence=int(cmd.get("sequence_number", 0)),
        )
        if flushed:
            self._record(root)

    def _record(self, root: str) -> None:
        """Mirror the versions a flush committed into the catalog, through
        the same path statements use (a put that flushed nothing touches
        neither the catalog nor the log)."""
        entry = self._sync_entries.get(root)
        if entry is not None:
            from .deltalite import DeltaLiteTable

            self.ctx._record(entry, DeltaLiteTable(self.ctx.spark, root))

    def do_action(self, context, action):
        if action.type == "flush":
            for root in self.sync_writer.flush_all():
                self._record(root)
            return [flight.Result(b"ok")]
        if action.type == "healthz":
            return [flight.Result(b"ok")]
        raise flight.FlightServerError(f"unknown action {action.type}")


def start_flight_server(
    ctx: SeafowlContext, port: int = 0, policy: AccessPolicy | None = None
) -> SeafowlFlightServer:
    server = SeafowlFlightServer(ctx, f"grpc://127.0.0.1:{port}", policy=policy)
    thread = threading.Thread(target=server.serve, daemon=True)
    thread.start()
    return server
