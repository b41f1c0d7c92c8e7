"""Span tracer for the benchmark server.

``install()`` wraps the public entry points of each engine layer from the
outside (the engine itself is not edited). A span records its name, start,
end, parent span and op id; high-frequency calls (object-store requests,
commit reads, Python->JVM commands) are counted instead. Everything stays
in memory in the server process until ``dump()``.

An op is one client request: an HTTP request carrying ``X-Perfbench-Op``,
a Flight ``do_put`` whose command has ``perfbench_op``, or a Flight action
whose body is the op id. Only ops that start while recording is on are
traced. Each traced op also runs under the Spark job group ``pb<op>`` so
its jobs, stages and tasks can be counted exactly at dump time.
"""

from __future__ import annotations

import functools
import json
import threading
import time


class Tracer:
    def __init__(self):
        self.enabled = False
        self.spans: list[list] = []  # [name, start, end, parent index, op]
        self.counts: dict[int, dict[str, float]] = {}
        self.local = threading.local()
        self.sc = None

    def bind(self, spark) -> None:
        self.sc = spark.sparkContext

    # ---------------------------------------------------------- recording

    def current_op(self):
        return getattr(self.local, "op", None)

    def under(self, name: str) -> bool:
        return name in getattr(self.local, "names", ())

    def count(self, name: str, n: float = 1) -> None:
        op = self.current_op()
        if op is not None:
            c = self.counts.setdefault(op, {})
            c[name] = c.get(name, 0) + n

    def _quiet(self, fn) -> None:
        self.local.quiet = True
        try:
            fn()
        finally:
            self.local.quiet = False

    def _run(self, name, fn, args, kwargs, op=None, on_exit=None):
        loc = self.local
        root = op is not None
        if root:
            loc.op, loc.stack, loc.names = op, [], []
            self.counts.setdefault(op, {})
            self._quiet(lambda: self.sc.setJobGroup(f"pb{op}", "perfbench", False))
        span = [name, time.perf_counter(), None, loc.stack[-1] if loc.stack else -1, loc.op]
        self.spans.append(span)
        loc.stack.append(len(self.spans) - 1)
        loc.names.append(name)
        try:
            result = fn(*args, **kwargs)
            if on_exit is not None:
                on_exit(self, args, kwargs, result)
            return result
        finally:
            span[2] = time.perf_counter()
            loc.stack.pop()
            loc.names.pop()
            if root:
                self._quiet(lambda: self.sc._jsc.clearJobGroup())
                loc.op = None

    # ---------------------------------------------------------- wrapping

    def span(self, owner, attr: str, name: str, on_exit=None, root_op=None) -> None:
        """Wrap ``owner.attr`` in a span. With ``root_op`` (args -> op id or
        None) the wrapped call starts an op; without it the call is traced
        only inside an op."""
        raw = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        static = isinstance(raw, staticmethod)
        fn = raw.__func__ if static else raw

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if root_op is not None:
                op = root_op(args) if self.enabled else None
                if op is None:
                    return fn(*args, **kwargs)
                return self._run(name, fn, args, kwargs, op=op, on_exit=on_exit)
            if self.current_op() is None:
                return fn(*args, **kwargs)
            return self._run(name, fn, args, kwargs, on_exit=on_exit)

        setattr(owner, attr, staticmethod(wrapper) if static else wrapper)

    def counter(self, owner, attr: str, count) -> None:
        """Wrap ``owner.attr`` to call ``count(tracer, args)`` inside an op."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if self.current_op() is not None and not getattr(self.local, "quiet", False):
                count(self, args)
            return fn(*args, **kwargs)

        setattr(owner, attr, wrapper)

    # ---------------------------------------------------------- output

    def dump(self) -> dict:
        try:  # let the listener bus catch up with the last jobs
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:  # noqa: BLE001
            time.sleep(2)
        st = self.sc.statusTracker()
        jobs = {}
        for op in self.counts:
            ids = st.getJobIdsForGroup(f"pb{op}")
            stages = tasks = 0
            for j in ids:
                info = st.getJobInfo(j)
                for s in info.stageIds if info else ():
                    si = st.getStageInfo(s)
                    if si is not None:
                        stages += 1
                        tasks += si.numTasks
            jobs[op] = {"spark.jobs": len(ids), "spark.stages": stages, "spark.tasks": tasks}
        return {"spans": self.spans, "counts": self.counts, "jobs": jobs}


TRACER = Tracer()


def _header_op(args):
    op = args[0].headers.get("X-Perfbench-Op")
    return int(op) if op is not None else None


def _put_op(args):
    return json.loads(args[2].command.decode()).get("perfbench_op")


def _action_op(args):
    body = args[2].body.to_pybytes()
    return int(body) if body else None


def _commit_counts(tr, args, kwargs, commit):
    tr.count("deltalite.files_added", len(commit.adds))
    tr.count("deltalite.files_removed", len(commit.removes))
    tr.count("deltalite.bytes_written", sum(a.size_bytes for a in commit.adds))
    tr.count("deltalite.rows_written", sum(a.rows for a in commit.adds))


def _squash_counts(tr, args, kwargs, result):
    upserts, deletes = result[0], result[1]
    tr.count("sync.rows_in", sum(len(b) for _, b in args[0]))
    tr.count("sync.rows_net", len(upserts) + len(set(deletes) - set(upserts)))


def install() -> Tracer:
    """Wrap the layers; call before the engine builds its session."""
    import py4j.java_gateway
    import py4j.protocol
    from pyspark.sql import SparkSession

    from seafowl_spark.engine import catalog, context, deltalite, flight, parser, server
    from seafowl_spark.sources import store
    from seafowl_spark.streaming import sync

    tr = TRACER
    # server
    for m in ("do_POST", "do_GET"):
        tr.span(server.SeafowlHandler, m, "server.handler", root_op=_header_op)
    tr.span(server, "_rows_to_jsonlines", "server.fetch",
            on_exit=lambda t, a, k, r: t.count("server.response_bytes", len(r)))
    # parser
    for f in ("split_statements", "parse_statement", "is_read_only",
              "extract_time_travel", "parse_qualified"):
        tr.span(parser, f, "parser")
    # context
    C = context.SeafowlContext
    tr.span(C, "execute_statement", "context.execute_statement")
    tr.span(C, "reload_views", "context.reload_views",
            on_exit=lambda t, a, k, r: t.count("context.tables_registered", len(set(r.values()))))
    tr.span(C, "_rewrite_names", "context.rewrite")
    tr.span(C, "etag_for_query", "context.etag")
    # catalog
    for m in [m for m in vars(catalog.Catalog) if not m.startswith("_")]:
        if callable(getattr(catalog.Catalog, m)):
            tr.span(catalog.Catalog, m, "catalog")
    # deltalite
    D = deltalite.DeltaLiteTable
    tr.span(D, "snapshot", "deltalite.snapshot")
    tr.span(D, "to_df", "deltalite.to_df")
    tr.span(D, "merge", "deltalite.merge")
    for m in ("append", "overwrite", "update", "delete"):
        tr.span(D, m, "deltalite.write")
    tr.span(D, "_next_commit", "deltalite.commit", on_exit=_commit_counts)
    tr.counter(D, "read_commit", lambda t, a: t.count(
        "deltalite.commits_replayed" if t.under("deltalite.snapshot") else "deltalite.commits_read"))
    tr.counter(D, "latest_version", lambda t, a: t.under("context.etag") and t.count("context.etag_tables"))
    # object store
    L = store.LocalStore
    for m, kind in (("list", "list"), ("list_recursive", "list"), ("get", "get"),
                    ("open_input", "get"), ("put", "put"), ("put_if_absent", "put")):
        tr.counter(L, m, lambda t, a, kind=kind: t.count(f"store.{kind}_calls"))
    # sync
    W = sync.SyncWriter
    tr.span(W, "enqueue", "sync.enqueue")
    tr.span(W, "flush", "sync.flush")
    tr.span(W, "_squash", "sync.squash", on_exit=_squash_counts)
    # flight
    F = flight.SeafowlFlightServer
    tr.span(F, "do_put", "flight.do_put", root_op=_put_op)
    tr.span(F, "do_action", "flight.do_action", root_op=_action_op)
    # spark: analysis, and every Python->JVM command except object release
    tr.span(SparkSession, "sql", "spark.sql")
    memory = py4j.protocol.MEMORY_COMMAND_NAME
    tr.counter(py4j.java_gateway.GatewayClient, "send_command",
               lambda t, a: not a[1].startswith(memory) and t.count("spark.py4j_calls"))
    return tr
