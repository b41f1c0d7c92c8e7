"""CDC sync ingest (A19; reference src/sync/* ~3700 LoC, clade/proto/sync.proto).

Change batches arrive with column roles OLD_PK / NEW_PK / CHANGED / VALUE
(reference sync.proto ColumnRole): an insert has NULL old-PKs, a delete has
NULL new-PKs, a PK-preserving or PK-changing update has both; each CHANGED
boolean column gates whether its VALUE column actually changed (so partial
updates don't clobber unrelated columns).

Pipeline (mirrors SURVEY.md §2.E):

1. enqueue per target table; flush when row / byte / lag / batch-count
   thresholds trip (reference defaults: 3 GiB buffer, 600 s max lag,
   100 syncs/table, 100k rows per squashed sync — config/schema.rs:337-347,
   writer.rs:29),
2. squash the buffered batches on the driver into one net change per final
   PK (``SyncWriter._squash``). The result equals applying the batches one
   by one in arrival order, so it does not depend on where flushes fall.
   Chain-free buffers squash in a few vectorized pandas passes; buffers
   with PK chains (A->B renames) take the arrival-order loop, the
   reference semantics. The reference builds UNION / FULL OUTER JOIN plans
   for this (planner.rs:130-421); the buffer is bounded by
   ``MAX_ROWS_PER_SYNC``, so it is already driver-sized,
3. apply via deltalite MERGE, handing it the squashed pandas frame: the
   pre-join facts (PK bounds, NULL-PK check, bucket set) come from that
   frame, then a FULL OUTER JOIN base<->changes on the PK rewrites only
   the pruned files (planner.rs:449-548). On an unbucketed table whose
   rewrite fits one output file, merge runs that join and write on the
   driver in Arrow, so such a flush launches no Spark job at all; a
   bucketed table or a larger rewrite runs the join in Spark,
4. record (origin, sequence) in the commit for exactly-once resume
   (reference SyncCommitInfo, sync/mod.rs:47-88): re-delivered sequences
   are skipped.
"""

from __future__ import annotations

import functools
import time
from collections.abc import Mapping
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from ..engine.deltalite import DeltaLiteTable

# reference defaults (config/schema.rs:337-347, writer.rs:29)
MAX_IN_MEMORY_BYTES = 3 * 1024**3
MAX_REPLICATION_LAG_S = 600
MAX_SYNCS_PER_TABLE = 100
MAX_ROWS_PER_SYNC = 100_000

ROLE_OLD_PK = "old_pk"
ROLE_NEW_PK = "new_pk"
ROLE_CHANGED = "changed"
ROLE_VALUE = "value"


class SyncError(Exception):
    pass


@dataclass(frozen=True)
class ColumnDescriptor:
    name: str  # column name in the arriving batch
    role: str  # old_pk | new_pk | changed | value
    target: str  # target table column this describes


@dataclass
class SyncSchema:
    """Validated change-batch schema (reference src/sync/schema/mod.rs:13-116)."""

    descriptors: list[ColumnDescriptor]

    def __post_init__(self):
        old_pk = {d.target for d in self.descriptors if d.role == ROLE_OLD_PK}
        new_pk = {d.target for d in self.descriptors if d.role == ROLE_NEW_PK}
        if not new_pk:
            raise SyncError("sync schema needs at least one new_pk column")
        if old_pk != new_pk:
            raise SyncError(
                f"old_pk and new_pk column sets must match: {old_pk} vs {new_pk}"
            )
        values = {d.target for d in self.descriptors if d.role == ROLE_VALUE}
        for d in self.descriptors:
            if d.role == ROLE_CHANGED and d.target not in values:
                raise SyncError(
                    f"changed column {d.name} must point at a value column, got {d.target}"
                )

    @property
    def pk_targets(self) -> list[str]:
        return [d.target for d in self.descriptors if d.role == ROLE_NEW_PK]

    def cols(self, role: str) -> list[ColumnDescriptor]:
        return [d for d in self.descriptors if d.role == role]


@dataclass
class _Buffer:
    batches: list[tuple[SyncSchema, pd.DataFrame]] = field(default_factory=list)
    bytes: int = 0
    first_ts: float = field(default_factory=time.time)
    last_sequence: int | None = None
    origin: str | None = None


class NetChange(tuple):
    """The squash result, ``(upserts, deletes, pk_cols, value_cols)``.

    ``upserts`` maps each upserted final PK tuple to the columns its row
    sets; ``deletes`` holds the final PK tuples to delete. ``frame`` is the
    same net change as one merge-ready pandas frame: the PK columns, each
    value column with its ``__set_<col>`` mask, and ``__delete__``.
    """

    frame: pd.DataFrame

    def __new__(cls, frame: pd.DataFrame, pk_cols: list[str], value_cols: list[str]):
        dropped = frame["__delete__"].to_numpy(dtype=bool)
        deletes = set(zip(*(frame[c].to_numpy()[dropped].tolist() for c in pk_cols)))
        upserts = _Upserts(frame[~dropped], pk_cols, value_cols)
        self = super().__new__(cls, (upserts, deletes, pk_cols, value_cols))
        self.frame = frame
        return self


class _Upserts(Mapping):
    """``{pk tuple: {column: value}}`` over the upsert rows of a squashed
    frame, listing only the columns each row sets."""

    def __init__(self, frame: pd.DataFrame, pk_cols: list[str], value_cols: list[str]):
        self._frame, self._pk_cols, self._value_cols = frame, pk_cols, value_cols

    @functools.cached_property
    def _pos(self) -> dict[tuple, int]:
        keys = zip(*(self._frame[c].tolist() for c in self._pk_cols))
        return {k: i for i, k in enumerate(keys)}

    def __getitem__(self, pk):
        row = self._frame.iloc[self._pos[pk]]
        return {c: row[c] for c in self._value_cols if row[f"__set_{c}"]}

    def __iter__(self):
        return iter(self._pos)

    def __len__(self):
        return len(self._frame)


def _rows_in_arrival_order(batches, pk_cols: list[str], value_cols: list[str]):
    """Every buffered row as one array per field, in arrival order: the
    old/new PK values (``old:<pk>``/``new:<pk>``), ``has_old``/``has_new``
    (all PK columns of that side non-null), and per value column its value
    and ``set:<col>`` (the row assigns it: described, and CHANGED unless
    the flag is false or NULL)."""
    parts = []
    for schema, pdf in batches:
        src = {
            role: {d.target: d.name for d in schema.cols(role)}
            for role in (ROLE_OLD_PK, ROLE_NEW_PK, ROLE_VALUE, ROLE_CHANGED)
        }
        n = len(pdf)
        # positional (.to_numpy) extraction: batch slices may carry a
        # non-zero-based index
        part = {}
        for side, role in (("old", ROLE_OLD_PK), ("new", ROLE_NEW_PK)):
            cols = [pdf[src[role][c]] for c in pk_cols]
            part[f"has_{side}"] = np.logical_and.reduce([col.notna().to_numpy() for col in cols])
            for c, col in zip(pk_cols, cols):
                part[f"{side}:{c}"] = col.to_numpy(dtype=object)
        for c in value_cols:
            name, flag = src[ROLE_VALUE].get(c), src[ROLE_CHANGED].get(c)
            if name is None:
                part[c] = np.full(n, None, dtype=object)
                part[f"set:{c}"] = np.zeros(n, dtype=bool)
                continue
            part[c] = pdf[name].to_numpy(dtype=object)
            part[f"set:{c}"] = (
                np.ones(n, dtype=bool)
                if flag is None
                else pdf[flag].astype("boolean").to_numpy(dtype=bool, na_value=False)
            )
        parts.append(part)
    return {k: np.concatenate([p[k] for p in parts]) for k in parts[0]}


def _squash_vectorized(rows, pk_cols: list[str], value_cols: list[str]) -> dict:
    """Chain-free squash: per PK the last op decides delete-vs-upsert, and
    each value column takes its last assignment after the key's last
    delete. A key deleted earlier in the buffer restarts from an empty
    row, so its unassigned columns are set to NULL."""
    keep = rows["has_old"] | rows["has_new"]  # drop malformed rows
    rows = {k: v[keep] for k, v in rows.items()}
    is_del = ~rows["has_new"]
    key = {c: np.where(rows["has_new"], rows[f"new:{c}"], rows[f"old:{c}"]) for c in pk_cols}
    codes = pd.DataFrame(key).groupby(pk_cols, sort=False).ngroup().to_numpy()
    n_keys = int(codes.max()) + 1 if len(codes) else 0
    pos = np.arange(len(codes))

    def last(mask):  # per key: position of the last row where mask holds, or -1
        out = np.full(n_keys, -1, dtype=np.int64)
        np.maximum.at(out, codes[mask], pos[mask])
        return out

    final = last(np.ones(len(codes), dtype=bool))
    last_del = last(is_del)
    after_del = pos > last_del[codes]
    out = {c: key[c][final] for c in pk_cols}
    for c in value_cols:
        at = last(rows[f"set:{c}"] & after_del)
        out[c] = np.where(at >= 0, rows[c][at], None)
        out[f"__set_{c}"] = (at >= 0) | (last_del >= 0)
    out["__delete__"] = is_del[final]
    return out


def _squash_in_order(rows, pk_cols: list[str], value_cols: list[str]) -> dict:
    """Arrival-order squash, the reference semantics and the path for
    buffers with PK chains: an A->B rename moves A's pending row to B and
    deletes A. Same results as ``_squash_vectorized`` on chain-free
    buffers."""
    state: dict[tuple, dict] = {}
    deletes: set[tuple] = set()
    reset: set[tuple] = set()  # keys removed earlier in the buffer
    olds = zip(*(rows[f"old:{c}"] for c in pk_cols))
    news = zip(*(rows[f"new:{c}"] for c in pk_cols))
    for i, (old_pk, new_pk) in enumerate(zip(olds, news)):
        if not rows["has_new"][i]:
            if rows["has_old"][i]:  # delete
                state.pop(old_pk, None)
                deletes.add(old_pk)
                reset.add(old_pk)
            continue  # malformed row: neither insert nor delete
        vals = {c: rows[c][i] for c in value_cols if rows[f"set:{c}"][i]}
        if rows["has_old"][i] and old_pk != new_pk:  # pk-changing update
            state[new_pk] = {**state.pop(old_pk, {}), **vals}
            deletes.add(old_pk)
            if old_pk in reset:
                reset.add(new_pk)
            reset.add(old_pk)
        else:
            state.setdefault(new_pk, {}).update(vals)
        deletes.discard(new_pk)

    keys = list(state) + [k for k in deletes if k not in state]
    out = {c: _objects(k[j] for k in keys) for j, c in enumerate(pk_cols)}
    for c in value_cols:
        out[c] = _objects(state.get(k, {}).get(c) for k in keys)
        out[f"__set_{c}"] = np.array(
            [k in state and (c in state[k] or k in reset) for k in keys], dtype=bool
        )
    out["__delete__"] = np.array([k not in state for k in keys], dtype=bool)
    return out


def _objects(values) -> np.ndarray:
    """A 1-d object array (``np.array`` would nest list-valued cells)."""
    values = list(values)
    arr = np.empty(len(values), dtype=object)
    arr[:] = values
    return arr


class SyncWriter:
    """Buffers change batches per table URL and merges on flush."""

    def __init__(
        self,
        spark,
        max_bytes: int = MAX_IN_MEMORY_BYTES,
        max_lag_s: float = MAX_REPLICATION_LAG_S,
        max_syncs: int = MAX_SYNCS_PER_TABLE,
        max_rows: int = MAX_ROWS_PER_SYNC,
    ):
        self.spark = spark
        self.max_bytes = max_bytes
        self.max_lag_s = max_lag_s
        self.max_syncs = max_syncs
        self.max_rows = max_rows
        self._buffers: dict[str, _Buffer] = {}
    # --------------------------------------------------------------- ingest

    def enqueue(
        self,
        table_root: str,
        schema: SyncSchema,
        batch: pd.DataFrame,
        origin: str,
        sequence: int,
    ) -> bool:
        """Add a change batch; returns True if the table was flushed (by a
        threshold, or because the batch switched origins).

        Exactly-once: a buffer window (one origin's puts into one table
        between flushes) reads the origin's committed sequence from the
        log on its first put only, so a restart or another writer is seen
        there; a later put is a duplicate when its sequence is at or below
        the window's last one."""
        buf = self._buffers.get(table_root)
        if buf is not None and buf.origin == origin:
            # every put since the window's log read had a higher sequence,
            # so the last one bounds what is committed or buffered
            last = buf.last_sequence
        else:
            last = DeltaLiteTable(self.spark, table_root).last_app_txn_version(origin)
        if last is not None and sequence <= last:
            return False  # duplicate delivery: exactly-once skip

        flushed = False
        if buf is not None and buf.origin != origin:
            # one origin per buffered table window keeps sequence tracking sane
            flushed = self.flush(table_root)
            buf = None
        if buf is None:
            buf = self._buffers[table_root] = _Buffer(origin=origin)
        buf.last_sequence = sequence
        buf.batches.append((schema, batch))
        buf.bytes += int(batch.memory_usage(deep=True).sum())

        if (
            buf.bytes >= self.max_bytes
            or len(buf.batches) >= self.max_syncs
            or sum(len(b) for _, b in buf.batches) >= self.max_rows
            or time.time() - buf.first_ts >= self.max_lag_s
        ):
            return self.flush(table_root) or flushed
        return flushed

    # --------------------------------------------------------------- squash

    @staticmethod
    def _squash(
        batches: list[tuple[SyncSchema, pd.DataFrame]],
        columns: list[str] | None = None,
    ) -> NetChange:
        """Net effect of the buffered changes: one row per final PK, equal
        to applying the batches one by one in arrival order.

        ``columns`` lists the target's value columns (default: the columns
        the batches describe). A column no batch describes is only ever
        set by a reset: a key deleted and re-inserted within the buffer
        gets NULL there, as it would across two flushes. Chain-free
        buffers squash vectorized; PK chains (A->B renames) take the
        arrival-order loop. The reference builds UNION / FULL OUTER JOIN
        plans for this (planner.rs:130-421).
        """
        pk_cols = batches[-1][0].pk_targets
        value_cols = list(columns) if columns is not None else list(
            dict.fromkeys(d.target for s, _ in batches for d in s.cols(ROLE_VALUE))
        )
        rows = _rows_in_arrival_order(batches, pk_cols, value_cols)
        both = rows["has_old"] & rows["has_new"]
        chains = any(
            (rows[f"old:{c}"][both] != rows[f"new:{c}"][both]).any() for c in pk_cols
        )
        squash = _squash_in_order if chains else _squash_vectorized
        return NetChange(pd.DataFrame(squash(rows, pk_cols, value_cols)), pk_cols, value_cols)

    # --------------------------------------------------------------- flush

    def flush(self, table_root: str) -> bool:
        """Merge the table's buffered changes; returns True if that
        committed a new version."""
        buf = self._buffers.pop(table_root, None)
        if buf is None or not buf.batches:
            return False
        t = DeltaLiteTable(self.spark, table_root)
        pk_cols = buf.batches[-1][0].pk_targets
        net = self._squash(
            buf.batches, [c for c in t.schema().names if c not in pk_cols]
        )
        if net.frame.empty:
            return False
        t.merge(
            net.frame,
            pk_cols,
            delete_col="__delete__",
            app_txn=(
                {"app_id": buf.origin, "version": buf.last_sequence}
                if buf.origin is not None
                else None
            ),
        )
        return True

    def flush_all(self) -> list[str]:
        """Flush every buffered table; returns the roots that committed."""
        return [root for root in list(self._buffers) if self.flush(root)]


# --------------------------------------------------------------------------
# Structured Streaming bridge
# --------------------------------------------------------------------------

def foreach_batch_merge(
    table_root: str,
    pk_cols: list[str],
    delete_col: str | None = None,
    order_col: str | None = None,
):
    """`writeStream.foreachBatch` sink merging each micro-batch into a
    deltalite table — the Structured Streaming face of the sync path
    (micro-batch buffering is what the reference's enqueue/flush loop does
    by hand). batch_id doubles as the idempotence txn version.

    The batch is squashed to one row per PK before merging (last-wins by
    ``order_col`` — e.g. a Kafka offset / CDC LSN — or an arbitrary row via
    dropDuplicates when no order column exists): a micro-batch carrying two
    changes for the same PK would otherwise fan out the merge's FULL OUTER
    JOIN and write duplicate rows.
    """

    def apply(batch_df, batch_id: int):
        t = DeltaLiteTable(batch_df.sparkSession, table_root)
        last = t.last_app_txn_version("stream")
        if last is not None and batch_id <= last:
            return
        if order_col is not None:
            from pyspark.sql import functions as F
            from pyspark.sql.window import Window

            w = Window.partitionBy(*pk_cols).orderBy(F.col(order_col).desc())
            batch_df = (
                batch_df.withColumn("__sfs_rn", F.row_number().over(w))
                .where(F.col("__sfs_rn") == 1)
                .drop("__sfs_rn")
            )
        else:
            batch_df = batch_df.dropDuplicates(pk_cols)
        # materialize the squashed batch once (r14, guide §5): merge()
        # runs two actions over its change set (the combined bounds/
        # null-PK aggregate, then the full-outer join + write), and each
        # would re-execute this dedup window — including its shuffle —
        # from the source. Micro-batches are bounded by construction, so
        # the localCheckpoint is batch-sized, never corpus-sized.
        batch_df = batch_df.localCheckpoint()
        t.merge(
            batch_df,
            pk_cols,
            delete_col=delete_col,
            app_txn={"app_id": "stream", "version": batch_id},
        )

    return apply
