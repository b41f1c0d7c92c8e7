"""Per-layer metrics from a traced run's span dump (see tracing.py).

Every metric is a mean per traced op of the timed phase, over all op
classes, unless its unit says otherwise. Times are inclusive times of the
outermost span of that name (a span nested in a span of the same name is
not counted twice); ``context.execute_self_ms`` is the self time of
``execute_statement``: its duration minus the time its child spans cover.
"""

from __future__ import annotations

UNITS = {
    "server.handler_ms": "ms", "server.fetch_ms": "ms", "server.response_bytes": "bytes",
    "parser.ms": "ms",
    "context.reload_views_ms": "ms", "context.tables_registered": "count",
    "context.rewrite_ms": "ms", "context.execute_self_ms": "ms",
    "context.etag_ms": "ms", "context.etag_tables": "count", "context.etag_hit_ratio": "ratio",
    "catalog.calls": "count", "catalog.ms": "ms",
    "deltalite.snapshot_calls": "count", "deltalite.snapshot_ms": "ms",
    "deltalite.commits_replayed": "count", "deltalite.to_df_ms": "ms",
    "deltalite.commit_ms": "ms", "deltalite.files_added": "count",
    "deltalite.files_removed": "count", "deltalite.bytes_written": "bytes",
    "deltalite.write_amplification": "ratio",
    "store.list_calls": "count", "store.get_calls": "count", "store.put_calls": "count",
    "sync.enqueue_ms": "ms", "sync.squash_ms": "ms", "sync.squash_ratio": "ratio",
    "sync.merge_ms": "ms",
    "flight.do_put_ms": "ms", "flight.flush_ms": "ms",
    "spark.analyze_ms": "ms", "spark.jobs": "count", "spark.stages": "count",
    "spark.tasks": "count", "spark.py4j_calls": "count",
    "host.steal_pct": "%", "server.rss_mb": "MB", "tracing.overhead_pct": "%",
}

# span name -> metric, as inclusive time of the outermost span
TIMES = {
    "server.handler": "server.handler_ms", "server.fetch": "server.fetch_ms",
    "parser": "parser.ms",
    "context.reload_views": "context.reload_views_ms", "context.rewrite": "context.rewrite_ms",
    "context.etag": "context.etag_ms",
    "catalog": "catalog.ms",
    "deltalite.snapshot": "deltalite.snapshot_ms", "deltalite.to_df": "deltalite.to_df_ms",
    "deltalite.commit": "deltalite.commit_ms",
    "sync.enqueue": "sync.enqueue_ms", "sync.squash": "sync.squash_ms",
    "flight.do_put": "flight.do_put_ms",
    "spark.sql": "spark.analyze_ms",
}
# per-op counters recorded in the server, reported under the same name
COUNTS = ("server.response_bytes", "context.tables_registered", "context.etag_tables",
          "deltalite.commits_replayed", "deltalite.files_added", "deltalite.files_removed",
          "deltalite.bytes_written", "store.list_calls", "store.get_calls", "store.put_calls",
          "spark.py4j_calls", "spark.jobs", "spark.stages", "spark.tasks")
# the counts that repeat exactly across runs at one seed (selftest.py)
EXACT = ("spark.py4j_calls", "spark.jobs", "spark.tasks", "deltalite.snapshot_calls",
         "deltalite.commits_replayed", "store.list_calls", "store.get_calls",
         "store.put_calls", "deltalite.files_added", "deltalite.files_removed")


class Spans:
    def __init__(self, dump: dict):
        self.spans = dump["spans"]
        self.children: dict[int, list[int]] = {}
        for i, s in enumerate(self.spans):
            self.children.setdefault(s[3], []).append(i)
        self.ops = sorted(int(op) for op in dump["counts"])
        self.counts = {int(op): c for op, c in dump["counts"].items()}
        for op, j in dump["jobs"].items():
            self.counts[int(op)].update(j)

    def dur(self, i: int) -> float:
        s = self.spans[i]
        return (s[2] - s[1]) * 1e3

    def self_ms(self, i: int) -> float:
        return self.dur(i) - sum(self.dur(c) for c in self.children.get(i, ()))

    def ancestors(self, i: int):
        p = self.spans[i][3]
        while p != -1:
            yield self.spans[p][0]
            p = self.spans[p][3]

    def outermost(self, name: str):
        for i, s in enumerate(self.spans):
            if s[0] == name and name not in self.ancestors(i):
                yield i


def per_layer(dump: dict, rec) -> dict:
    sp = Spans(dump)
    n = max(1, len(sp.ops))
    out = {}
    for name, metric in TIMES.items():
        out[metric] = sum(sp.dur(i) for i in sp.outermost(name)) / n
    for counter in COUNTS:
        out[counter] = sum(c.get(counter, 0) for c in sp.counts.values()) / n
    out["catalog.calls"] = sum(1 for _ in sp.outermost("catalog")) / n
    out["deltalite.snapshot_calls"] = sum(1 for s in sp.spans if s[0] == "deltalite.snapshot") / n
    out["context.execute_self_ms"] = sum(
        sp.self_ms(i) for i, s in enumerate(sp.spans) if s[0] == "context.execute_statement") / n
    out["sync.merge_ms"] = sum(
        sp.dur(i) for i in sp.outermost("deltalite.merge") if "sync.flush" in sp.ancestors(i)) / n
    out["flight.flush_ms"] = sum(sp.dur(i) for i in sp.outermost("flight.do_action")) / n
    total = lambda k: sum(c.get(k, 0) for c in sp.counts.values())  # noqa: E731
    rows_in = total("sync.rows_in")
    out["sync.squash_ratio"] = total("sync.rows_net") / rows_in if rows_in else 0.0
    # bytes written / bytes of the changed rows, taking a changed row to be
    # as large as an average written row: rows written / rows changed
    changed = total("sync.rows_net") or rec.changed_rows_traced
    out["deltalite.write_amplification"] = total("deltalite.rows_written") / changed if changed else 0.0
    out["context.etag_hit_ratio"] = (
        rec.count("revalidate") / rec.conditional_gets if rec.conditional_gets else 0.0)
    return out


def self_time_by_class(dump: dict, op_class: dict) -> dict:
    """Mean self time per op of each span name, per op class (top 6)."""
    sp = Spans(dump)
    acc: dict[str, dict[str, float]] = {}
    n: dict[str, int] = {}
    for op in sp.ops:
        n[op_class[op]] = n.get(op_class[op], 0) + 1
    for i, s in enumerate(sp.spans):
        cls = op_class[int(s[4])]
        acc.setdefault(cls, {})
        acc[cls][s[0]] = acc[cls].get(s[0], 0.0) + sp.self_ms(i)
    return {
        cls: dict(sorted(((k, round(v / n[cls], 2)) for k, v in names.items()),
                         key=lambda kv: -kv[1])[:6])
        for cls, names in acc.items()
    }
