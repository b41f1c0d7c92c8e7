"""ingest_cdc: CDC change batches over Arrow Flight ``do_put`` into one
keyed table, a client ``flush`` every few batches, and one freshness read
over HTTP after each flush.

The sync writer's squash and deltalite's copy-on-write ``merge`` do most of
the work. The catalog holds one table, so the statement plane is small.
"""

from __future__ import annotations

import json

import numpy as np
import pyarrow as pa
import pyarrow.flight as flight

from harness import Recorder, rows

PRELOAD_ROWS = 100_000
BATCH_ROWS = 500
BATCHES_PER_FLUSH = 10
INSERT_FRAC, UPDATE_FRAC = 0.6, 0.3  # the rest are deletes
PATTERN = ("put",) * BATCHES_PER_FLUSH + ("flush", "read")
# nominal timed ops per --seconds on a 4-core host (see README.md)
OPS_PER_SECOND = 14.0
# Untimed warm-up: flush latency falls steeply over the first 8 cycles
# and drifts down until about the 20th (see README.md).
WARMUP_OPS = 20 * len(PATTERN)
ORIGIN = "perfbench"
DESCRIPTORS = [
    {"name": "old_id", "role": "old_pk", "target": "id"},
    {"name": "new_id", "role": "new_pk", "target": "id"},
    {"name": "a", "role": "value", "target": "a"},
    {"name": "s", "role": "value", "target": "s"},
]
FRESHNESS_SQL = ("SELECT count(*) AS n, sum(a) AS sa, sum(id) AS si, "
                 "sum(a * (id % 97)) AS sx FROM cdc")


class Workload:
    pattern = PATTERN

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        ids = np.arange(PRELOAD_ROWS, dtype=np.int64)
        a = self.rng.integers(0, 1_000_000, PRELOAD_ROWS).astype(np.int64)
        self.arrow = pa.table({"id": ids, "a": a,
                               "s": pa.array([f"s{x % 1000}" for x in a])})
        # model: live keys (swap-remove list + position map) and values
        self.keys = ids.tolist()
        self.pos = {k: i for i, k in enumerate(self.keys)}
        self.val = dict(zip(self.keys, a.tolist()))
        self.next_id = PRELOAD_ROWS
        self.sums = [PRELOAD_ROWS, int(a.sum()), int(ids.sum()),
                     int((a * (ids % 97)).sum())]
        self.seq = 0
        self.sequence_number = 0

    # ------------------------------------------------------------ model

    def _apply(self, k: int, a: int | None) -> None:
        old = self.val.get(k)
        if old is not None:
            self.sums[0] -= 1
            self.sums[1] -= old
            self.sums[2] -= k
            self.sums[3] -= old * (k % 97)
        if a is None:
            i = self.pos.pop(k)
            last = self.keys.pop()
            if last != k:
                self.keys[i] = last
                self.pos[last] = i
            del self.val[k]
            return
        if old is None:
            self.pos[k] = len(self.keys)
            self.keys.append(k)
        self.val[k] = a
        self.sums[0] += 1
        self.sums[1] += a
        self.sums[2] += k
        self.sums[3] += a * (k % 97)

    def _batch(self) -> pa.Table:
        n_ins = int(BATCH_ROWS * INSERT_FRAC)
        n_upd = int(BATCH_ROWS * UPDATE_FRAC)
        n_del = BATCH_ROWS - n_ins - n_upd
        picks = self.rng.choice(len(self.keys), n_upd + n_del, replace=False)
        touched = [self.keys[i] for i in picks]
        old_id, new_id, vals = [], [], []
        for k in touched[:n_upd]:
            old_id.append(k)
            new_id.append(k)
            vals.append(int(self.rng.integers(0, 1_000_000)))
        for k in touched[n_upd:]:
            old_id.append(k)
            new_id.append(None)
            vals.append(None)
        for _ in range(n_ins):
            old_id.append(None)
            new_id.append(self.next_id)
            vals.append(int(self.rng.integers(0, 1_000_000)))
            self.next_id += 1
        for o, n, a in zip(old_id, new_id, vals):
            self._apply(n if n is not None else o, a)
        return pa.table({
            "old_id": pa.array(old_id, pa.int64()),
            "new_id": pa.array(new_id, pa.int64()),
            "a": pa.array(vals, pa.int64()),
            "s": pa.array([None if a is None else f"s{a % 1000}" for a in vals]),
        })

    # ------------------------------------------------------------ set-up

    def setup(self, http, client, rec: Recorder, clock) -> None:
        """Preload the table, then a fixed untimed warm-up."""
        http.upload("cdc", self.arrow)
        for cls in self.ops(WARMUP_OPS):
            self.do(cls, http, client, rec, clock)

    # ------------------------------------------------------------ ops

    def ops(self, n: int):
        for _ in range(n):
            yield PATTERN[self.seq % len(PATTERN)]
            self.seq += 1

    def do(self, cls: str, http, client, rec: Recorder, clock) -> None:
        if cls == "put":
            batch = self._batch()
            self.sequence_number += 1
            cmd = {"table": "public.cdc", "origin": ORIGIN,
                   "sequence_number": self.sequence_number,
                   "descriptors": DESCRIPTORS, "perfbench_op": http.op}
            desc = flight.FlightDescriptor.for_command(json.dumps(cmd).encode())
            t0 = clock()
            try:
                writer, _ = client.do_put(desc, batch.schema)
                writer.write_table(batch)
                writer.close()
            except flight.FlightError as exc:
                rec.fail(f"do_put {self.sequence_number}: {exc}")
            rec.add("put", (clock() - t0) * 1e3)
        elif cls == "flush":
            t0 = clock()
            try:
                list(client.do_action(flight.Action("flush", str(http.op).encode())))
            except flight.FlightError as exc:
                rec.fail(f"flush: {exc}")
            rec.add("write", (clock() - t0) * 1e3)
        else:
            t0 = clock()
            status, _, body = http.post(FRESHNESS_SQL)
            rec.add("read", (clock() - t0) * 1e3)
            got = [tuple(r.values()) for r in rows(body)] if status == 200 else None
            if got != [tuple(self.sums)]:
                rec.fail(f"freshness read: {status} {body[:200]!r} != {self.sums}")

    def probe(self, http, rec: Recorder) -> None:
        """No untimed probes: every freshness read is checked and timed."""

    # ------------------------------------------------------------ results

    def extra_metrics(self, rec: Recorder) -> dict:
        busy_s = (sum(rec.lat["put"]) + sum(rec.lat["write"])) / 1e3
        return {
            "ingest_rows_per_s": rec.count("put") * BATCH_ROWS / busy_s,
            "flush_p50_ms": rec.p("write", 50),
        }
