"""CDC sync tests (reference tests/flight/sync.rs matrix): schema
validation, insert/update/delete/pk-change squash, partial-column CHANGED
semantics, exactly-once sequences, merge pruning."""

import os
import uuid

import pandas as pd
import pytest

from seafowl_spark.streaming.sync import (
    ColumnDescriptor as CD,
    SyncError,
    SyncSchema,
    SyncWriter,
)
from tests.conftest import rows


@pytest.fixture()
def target(ctx):
    ctx.execute("CREATE TABLE s (pk bigint, a varchar, b double)")
    ctx.execute("INSERT INTO s VALUES (1, 'one', 1.0), (2, 'two', 2.0)")
    return ctx


def full_schema():
    return SyncSchema(
        [
            CD("old_pk", "old_pk", "pk"),
            CD("new_pk", "new_pk", "pk"),
            CD("a", "value", "a"),
            CD("b", "value", "b"),
        ]
    )


class TestSyncSchema:
    def test_pk_sets_must_match(self):
        with pytest.raises(SyncError, match="must match"):
            SyncSchema([CD("o", "old_pk", "x"), CD("n", "new_pk", "y")])

    def test_changed_must_point_at_value(self):
        with pytest.raises(SyncError, match="value column"):
            SyncSchema(
                [
                    CD("o", "old_pk", "pk"),
                    CD("n", "new_pk", "pk"),
                    CD("c", "changed", "missing"),
                ]
            )

    def test_needs_pk(self):
        with pytest.raises(SyncError, match="new_pk"):
            SyncSchema([CD("a", "value", "a")])


class TestSyncApply:
    def _writer(self, ctx):
        return SyncWriter(ctx.spark, max_rows=10_000)

    def _root(self, ctx):
        return ctx.table_root(ctx.catalog.get_table("default", "public", "s"))

    def test_insert_update_delete(self, target):
        ctx = target
        w = self._writer(ctx)
        batch = pd.DataFrame(
            {
                "old_pk": [None, 1, 2],
                "new_pk": [3, 1, None],
                "a": ["three", "ONE", None],
                "b": [3.0, 1.5, None],
            }
        )
        w.enqueue(self._root(ctx), full_schema(), batch, origin="o1", sequence=1)
        w.flush_all()
        out = ctx.execute("SELECT pk, a, b FROM s ORDER BY pk")
        assert rows(out) == [(1, "ONE", 1.5), (3, "three", 3.0)]

    def test_pk_chain_squash(self, target):
        """A->B rename then B update collapses to one net change."""
        ctx = target
        w = self._writer(ctx)
        b1 = pd.DataFrame({"old_pk": [1], "new_pk": [10], "a": ["moved"], "b": [1.0]})
        b2 = pd.DataFrame({"old_pk": [10], "new_pk": [10], "a": ["moved2"], "b": [9.9]})
        w.enqueue(self._root(ctx), full_schema(), b1, origin="o1", sequence=1)
        w.enqueue(self._root(ctx), full_schema(), b2, origin="o1", sequence=2)
        w.flush_all()
        out = ctx.execute("SELECT pk, a, b FROM s ORDER BY pk")
        assert rows(out) == [(2, "two", 2.0), (10, "moved2", 9.9)]

    def test_changed_flag_preserves_columns(self, target):
        """CHANGED=false VALUE columns must not clobber existing data."""
        ctx = target
        w = self._writer(ctx)
        schema = SyncSchema(
            [
                CD("old_pk", "old_pk", "pk"),
                CD("new_pk", "new_pk", "pk"),
                CD("a", "value", "a"),
                CD("a_changed", "changed", "a"),
                CD("b", "value", "b"),
                CD("b_changed", "changed", "b"),
            ]
        )
        batch = pd.DataFrame(
            {
                "old_pk": [1],
                "new_pk": [1],
                "a": [None],
                "a_changed": [False],  # a untouched
                "b": [42.0],
                "b_changed": [True],
            }
        )
        w.enqueue(self._root(ctx), schema, batch, origin="o1", sequence=1)
        w.flush_all()
        out = ctx.execute("SELECT pk, a, b FROM s WHERE pk = 1")
        assert rows(out) == [(1, "one", 42.0)]  # 'one' survived

    def test_exactly_once_sequence_skip(self, target):
        ctx = target
        w = self._writer(ctx)
        batch = pd.DataFrame({"old_pk": [1], "new_pk": [1], "a": ["x"], "b": [0.0]})
        w.enqueue(self._root(ctx), full_schema(), batch, origin="o1", sequence=5)
        w.flush_all()
        # redelivery of sequence 5 (and below) must be a no-op
        batch2 = pd.DataFrame({"old_pk": [1], "new_pk": [1], "a": ["dup"], "b": [-1.0]})
        flushed = w.enqueue(self._root(ctx), full_schema(), batch2, origin="o1", sequence=5)
        assert flushed is False
        w.flush_all()
        out = ctx.execute("SELECT a FROM s WHERE pk = 1")
        assert rows(out) == [("x",)]

    def test_log_read_once_per_buffer_window(self, target, monkeypatch):
        """Only a window's first put reads the log for the exactly-once
        check; later puts check against the window's last sequence, and
        re-deliveries inside the window are skipped too."""
        from seafowl_spark.engine.deltalite import DeltaLiteTable

        ctx = target
        w = self._writer(ctx)
        reads = []
        read_commit = DeltaLiteTable.read_commit
        monkeypatch.setattr(
            DeltaLiteTable, "read_commit",
            lambda self, v, *a: reads.append(v) or read_commit(self, v, *a),
        )
        per_put = []
        for seq in (1, 2, 3):
            batch = pd.DataFrame({"old_pk": [None], "new_pk": [10 + seq], "a": ["n"], "b": [0.0]})
            before = len(reads)
            w.enqueue(self._root(ctx), full_schema(), batch, origin="o1", sequence=seq)
            per_put.append(len(reads) - before)
        assert per_put == [2, 0, 0]  # CREATE and INSERT, read once
        dup = pd.DataFrame({"old_pk": [None], "new_pk": [99], "a": ["dup"], "b": [0.0]})
        assert w.enqueue(self._root(ctx), full_schema(), dup, origin="o1", sequence=2) is False
        w.flush_all()
        # the next window reads the log again, flush included
        before = len(reads)
        assert w.enqueue(self._root(ctx), full_schema(), dup, origin="o1", sequence=3) is False
        assert len(reads) > before
        assert rows(ctx.execute("SELECT pk FROM s")) == [(1,), (2,), (11,), (12,), (13,)]

    def test_window_sees_another_writers_commit(self, target):
        """A new window reads the log, so a sequence another writer
        committed meanwhile is skipped."""
        ctx = target
        first, second = self._writer(ctx), self._writer(ctx)
        batch = pd.DataFrame({"old_pk": [1], "new_pk": [1], "a": ["x"], "b": [0.0]})
        first.enqueue(self._root(ctx), full_schema(), batch, origin="o1", sequence=7)
        first.flush_all()
        again = pd.DataFrame({"old_pk": [1], "new_pk": [1], "a": ["late"], "b": [0.0]})
        assert second.enqueue(self._root(ctx), full_schema(), again, origin="o1", sequence=7) is False
        assert not second._buffers

    def test_merge_prunes_untouched_files(self, target):
        """Only files whose PK range intersects the change set rewrite."""
        ctx = target
        ctx.execute("INSERT INTO s VALUES (1000, 'far', 0.0)")
        w = self._writer(ctx)
        batch = pd.DataFrame({"old_pk": [1], "new_pk": [1], "a": ["hit"], "b": [0.1]})
        w.enqueue(self._root(ctx), full_schema(), batch, origin="o1", sequence=1)
        w.flush_all()
        t = ctx.delta_table("s")
        commit = t.read_commit(t.latest_version())
        assert commit.operation == "MERGE"
        # the (1000) file is out of the [1,1] PK range: not rewritten
        assert len(commit.removes) == 1
        out = ctx.execute("SELECT pk, a FROM s ORDER BY pk")
        assert rows(out) == [(1, "hit"), (2, "two"), (1000, "far")]

    def test_row_threshold_triggers_flush(self, target):
        ctx = target
        w = SyncWriter(ctx.spark, max_rows=2)
        b = pd.DataFrame({"old_pk": [None], "new_pk": [50], "a": ["n"], "b": [5.0]})
        assert w.enqueue(self._root(ctx), full_schema(), b, origin="o1", sequence=1) is False
        b2 = pd.DataFrame({"old_pk": [None], "new_pk": [51], "a": ["m"], "b": [6.0]})
        assert w.enqueue(self._root(ctx), full_schema(), b2, origin="o1", sequence=2) is True
        out = ctx.execute("SELECT count(*) AS n FROM s")
        assert rows(out) == [(4,)]


class TestSparkSquash:
    """Cases written for the retired Spark squash path, now run on the one
    driver-side squash: chain-free buffers squash vectorized, PK chains
    take the arrival-order loop."""

    def _root(self, ctx):
        return ctx.table_root(ctx.catalog.get_table("default", "public", "s"))

    def _writer(self, ctx):
        return SyncWriter(ctx.spark, max_rows=10_000)

    def test_insert_update_delete_spark_path(self, target):
        ctx = target
        w = self._writer(ctx)
        batch = pd.DataFrame(
            {
                "old_pk": [None, 1, 2],
                "new_pk": [3, 1, None],
                "a": ["three", "ONE", None],
                "b": [3.0, 1.5, None],
            }
        )
        w.enqueue(self._root(ctx), full_schema(), batch, origin="o1", sequence=1)
        w.flush_all()
        out = ctx.execute("SELECT pk, a, b FROM s ORDER BY pk")
        assert rows(out) == [(1, "ONE", 1.5), (3, "three", 3.0)]

    def test_changed_flag_spark_path(self, target):
        ctx = target
        w = self._writer(ctx)
        schema = SyncSchema(
            [
                CD("old_pk", "old_pk", "pk"),
                CD("new_pk", "new_pk", "pk"),
                CD("a", "value", "a"),
                CD("a_changed", "changed", "a"),
                CD("b", "value", "b"),
                CD("b_changed", "changed", "b"),
            ]
        )
        batch = pd.DataFrame(
            {
                "old_pk": [1],
                "new_pk": [1],
                "a": [None],
                "a_changed": [False],
                "b": [42.0],
                "b_changed": [True],
            }
        )
        w.enqueue(self._root(ctx), schema, batch, origin="o1", sequence=1)
        w.flush_all()
        out = ctx.execute("SELECT pk, a, b FROM s WHERE pk = 1")
        assert rows(out) == [(1, "one", 42.0)]

    def test_last_write_wins_across_batches(self, target):
        """Two updates to the same PK in separate batches: the later one
        wins, exactly as arrival-order application would have it."""
        ctx = target
        w = self._writer(ctx)
        b1 = pd.DataFrame({"old_pk": [1], "new_pk": [1], "a": ["first"], "b": [1.1]})
        b2 = pd.DataFrame({"old_pk": [1], "new_pk": [1], "a": ["second"], "b": [2.2]})
        root = self._root(ctx)
        w.enqueue(root, full_schema(), b1, origin="o1", sequence=1)
        w.enqueue(root, full_schema(), b2, origin="o1", sequence=2)
        w.flush_all()
        out = ctx.execute("SELECT a, b FROM s WHERE pk = 1")
        assert rows(out) == [("second", 2.2)]

    def test_delete_then_reinsert(self, target):
        """delete(1) then insert(1) within one buffer: values from before
        the delete must not leak into the re-inserted row."""
        ctx = target
        w = self._writer(ctx)
        b = pd.DataFrame(
            {
                "old_pk": [1, 1, None],
                "new_pk": [1, None, 1],
                "a": ["stale", None, "fresh"],
                "b": [9.9, None, 7.0],
            }
        )
        w.enqueue(self._root(ctx), full_schema(), b, origin="o1", sequence=1)
        w.flush_all()
        out = ctx.execute("SELECT pk, a, b FROM s WHERE pk = 1")
        assert rows(out) == [(1, "fresh", 7.0)]

    def test_pk_chain_falls_back_to_pandas(self, target):
        """Renames take the arrival-order loop; the result matches the
        chain-squash semantics."""
        ctx = target
        w = self._writer(ctx)
        b1 = pd.DataFrame({"old_pk": [1], "new_pk": [10], "a": ["moved"], "b": [1.0]})
        b2 = pd.DataFrame({"old_pk": [10], "new_pk": [10], "a": ["moved2"], "b": [9.9]})
        root = self._root(ctx)
        w.enqueue(root, full_schema(), b1, origin="o1", sequence=1)
        w.enqueue(root, full_schema(), b2, origin="o1", sequence=2)
        w.flush_all()
        out = ctx.execute("SELECT pk, a, b FROM s ORDER BY pk")
        assert rows(out) == [(2, "two", 2.0), (10, "moved2", 9.9)]

    def test_equivalent_to_pandas_squash(self, ctx, monkeypatch):
        """Randomized chain-free buffers produce identical tables through
        the vectorized squash and the arrival-order loop."""
        import random as _random

        from seafowl_spark.streaming import sync

        rng = _random.Random(123)
        ops = []
        for _ in range(60):
            pk = rng.randrange(0, 12)
            kind = rng.choice(["ins", "upd", "del"])
            if kind == "del":
                ops.append((pk, None, None, None))
            elif kind == "ins":
                ops.append((None, pk, f"v{rng.randrange(100)}", rng.random()))
            else:
                ops.append((pk, pk, f"u{rng.randrange(100)}", rng.random()))
        pdf = pd.DataFrame(ops, columns=["old_pk", "new_pk", "a", "b"])

        outs = {}
        for mode in ("vectorized", "in_order"):
            if mode == "in_order":
                monkeypatch.setattr(sync, "_squash_vectorized", sync._squash_in_order)
            ctx.execute(f"DROP TABLE IF EXISTS sq_{mode}")
            ctx.execute(f"CREATE TABLE sq_{mode} (pk bigint, a varchar, b double)")
            ctx.execute(f"INSERT INTO sq_{mode} VALUES (0, 'base', 0.0), (5, 'five', 5.0)")
            w = SyncWriter(ctx.spark, max_rows=10_000)
            root = ctx.table_root(ctx.catalog.get_table("default", "public", f"sq_{mode}"))
            half = len(pdf) // 2
            w.enqueue(root, full_schema(), pdf.iloc[:half], origin="o1", sequence=1)
            w.enqueue(root, full_schema(), pdf.iloc[half:], origin="o1", sequence=2)
            w.flush_all()
            outs[mode] = rows(ctx.execute(f"SELECT pk, a, b FROM sq_{mode} ORDER BY pk"))
        assert outs["vectorized"] == outs["in_order"]


def changed_schema():
    return SyncSchema(
        [
            CD("old_pk", "old_pk", "pk"),
            CD("new_pk", "new_pk", "pk"),
            CD("a", "value", "a"),
            CD("a_changed", "changed", "a"),
            CD("b", "value", "b"),
            CD("b_changed", "changed", "b"),
        ]
    )


class TestFlushBoundaries:
    """One flush of a buffer equals flushing after every batch."""

    def _root(self, ctx, name="s"):
        return ctx.table_root(ctx.catalog.get_table("default", "public", name))

    def _change(self, old, new, a=None, a_set=True, b=None, b_set=True):
        return {"old_pk": old, "new_pk": new, "a": a, "a_changed": a_set,
                "b": b, "b_changed": b_set}

    def test_reinsert_after_delete_starts_from_empty_row(self, target):
        """delete(1), then insert(1) leaving ``a`` unchanged: ``a`` is NULL,
        as when the delete is flushed first — not the deleted row's value."""
        ctx = target
        w = SyncWriter(ctx.spark, max_rows=10_000)
        b1 = pd.DataFrame([self._change(1, None, a_set=False, b_set=False)])
        b2 = pd.DataFrame([self._change(None, 1, a_set=False, b=7.0)])
        w.enqueue(self._root(ctx), changed_schema(), b1, origin="o1", sequence=1)
        w.enqueue(self._root(ctx), changed_schema(), b2, origin="o1", sequence=2)
        w.flush_all()
        out = ctx.execute("SELECT pk, a, b FROM s WHERE pk = 1")
        assert rows(out) == [(1, None, 7.0)]

    def test_insert_over_pending_update_keeps_it(self, target):
        """update(1, a='x'), then insert(1) leaving ``a`` unchanged: the
        insert lands on the updated row and ``a`` stays 'x'."""
        ctx = target
        w = SyncWriter(ctx.spark, max_rows=10_000)
        b1 = pd.DataFrame([self._change(1, 1, a="x", b_set=False)])
        b2 = pd.DataFrame([self._change(None, 1, a_set=False, b=3.0)])
        w.enqueue(self._root(ctx), changed_schema(), b1, origin="o1", sequence=1)
        w.enqueue(self._root(ctx), changed_schema(), b2, origin="o1", sequence=2)
        w.flush_all()
        out = ctx.execute("SELECT pk, a, b FROM s WHERE pk = 1")
        assert rows(out) == [(1, "x", 3.0)]

    def _stream(self, rng, n_batches, batch_rows, n_keys):
        """Chain-free change batches: inserts, same-key updates and deletes
        over a small key space (so keys are deleted and re-inserted), with
        random CHANGED flags and some malformed rows."""
        batches = []
        for _ in range(n_batches):
            recs = []
            for _ in range(batch_rows):
                pk = rng.randrange(n_keys)
                kind = rng.choice(["ins", "ins", "upd", "upd", "del", "bad"])
                a = rng.choice([None, f"v{rng.randrange(100)}"])
                b = rng.choice([None, float(rng.randrange(100))])
                a_set, b_set = rng.random() < 0.7, rng.random() < 0.7
                if kind == "del":
                    recs.append(self._change(pk, None, a, a_set, b, b_set))
                elif kind == "bad":
                    recs.append(self._change(None, None, a, a_set, b, b_set))
                else:
                    old = pk if kind == "upd" else None
                    recs.append(self._change(old, pk, a, a_set, b, b_set))
            batches.append(pd.DataFrame(recs))
        return batches

    @pytest.mark.parametrize("seed", [11, 12, 13])
    def test_one_flush_equals_flush_per_batch(self, ctx, seed):
        """Property over seeded random chain-free streams. The table has a
        column no batch describes (``c``): a key deleted and re-inserted
        within one flush gets NULL there, as across two flushes."""
        import random as _random

        batches = self._stream(_random.Random(seed), n_batches=4, batch_rows=25, n_keys=10)
        outs = []
        for mode in ("one", "each"):
            name = f"fb_{mode}"
            ctx.execute(f"CREATE TABLE {name} (pk bigint, a varchar, b double, c int)")
            ctx.execute(
                f"INSERT INTO {name} SELECT id AS pk, concat('base', id) AS a, "
                f"CAST(id AS double) AS b, CAST(id * 10 AS int) AS c FROM range(0, 10, 2)"
            )
            w = SyncWriter(ctx.spark, max_rows=10_000)
            root = self._root(ctx, name)
            for i, batch in enumerate(batches):
                w.enqueue(root, changed_schema(), batch, origin="o1", sequence=i + 1)
                if mode == "each":
                    w.flush_all()
            w.flush_all()
            outs.append(rows(ctx.execute(f"SELECT pk, a, b, c FROM {name}")))
        assert outs[0] == outs[1]

    def test_squash_result_shape(self):
        """``_squash(...)[0]``/``[1]`` are sized collections of upserted and
        deleted PK tuples; ``frame`` is the merge-ready change set."""
        batch = pd.DataFrame(
            {"old_pk": [None, 1, 2, None], "new_pk": [3, 1, None, None],
             "a": ["three", "ONE", None, "bad"], "b": [3.0, 1.5, None, 0.0]}
        )
        net = SyncWriter._squash([(full_schema(), batch)])
        upserts, deletes, pk_cols, value_cols = net
        assert sorted(upserts) == [(1,), (3,)] and len(upserts) == 2
        assert upserts[(3,)] == {"a": "three", "b": 3.0}
        assert deletes == {(2,)}
        assert (pk_cols, value_cols) == (["pk"], ["a", "b"])
        assert list(net.frame.columns) == [
            "pk", "a", "__set_a", "b", "__set_b", "__delete__"
        ]
        assert len(net.frame) == 3


class TestDriverMergeFacts:
    """A driver-held change set gives merge its pre-join facts without a
    Spark job, and those facts equal the Spark aggregate's."""

    def _jobs_before_write(self, ctx, monkeypatch, fn):
        from seafowl_spark.engine.deltalite import DeltaLiteTable

        sc = ctx.spark.sparkContext
        tracker = sc.statusTracker()
        group = f"pre_join_{uuid.uuid4().hex}"  # never an earlier test's group
        seen = []
        write = DeltaLiteTable._write_data

        def spy(self, *args, **kwargs):
            seen.append(len(tracker.getJobIdsForGroup(group)))
            return write(self, *args, **kwargs)

        monkeypatch.setattr(DeltaLiteTable, "_write_data", spy)
        sc.setJobGroup(group, "pre-join job count")
        try:
            fn()
        finally:
            sc._jsc.clearJobGroup()
        assert len(seen) == 1
        return seen[0]

    def test_chain_free_flush_runs_no_job_before_join(self, ctx, monkeypatch):
        import numpy as np

        ctx.execute("CREATE TABLE big (pk bigint, a varchar, b double)")
        ctx.execute(
            "INSERT INTO big SELECT id AS pk, concat('r', id) AS a, "
            "CAST(id AS double) AS b FROM range(20000)"
        )
        root = ctx.table_root(ctx.catalog.get_table("default", "public", "big"))
        rng = np.random.default_rng(7)
        upd = rng.choice(20000, 3000, replace=False)
        old = list(upd[:2000]) + list(upd[2000:]) + [None] * 2000
        new = list(upd[:2000]) + [None] * 1000 + list(range(20000, 22000))
        batch = pd.DataFrame(
            {"old_pk": pd.array(old, "Int64"), "new_pk": pd.array(new, "Int64"),
             "a": [f"u{i}" for i in range(5000)], "b": np.arange(5000, dtype=float)}
        )
        w = SyncWriter(ctx.spark, max_rows=10_000)
        w.enqueue(root, full_schema(), batch, origin="o1", sequence=1)
        assert self._jobs_before_write(ctx, monkeypatch, w.flush_all) == 0
        out = ctx.execute("SELECT count(*) AS n, count(a) AS na FROM big")
        assert rows(out) == [(21000, 21000)]

    def test_local_relation_takes_driver_path(self, ctx, monkeypatch):
        """A Spark DataFrame whose plan is a LocalRelation is driver-held
        too: no job before the join, same table as the aggregate path."""
        ctx.execute("CREATE TABLE lr (pk bigint, ts timestamp, a varchar)")
        ctx.execute(
            "INSERT INTO lr VALUES (1, TIMESTAMP '2024-01-01 10:00:00', 'one'), "
            "(2, TIMESTAMP '2024-01-02 10:00:00', 'two')"
        )
        t = ctx.delta_table("lr")
        changes = ctx.spark.createDataFrame(
            pd.DataFrame({"pk": [2, 3], "ts": pd.to_datetime(["2024-02-02", "2024-03-03"]),
                          "a": ["TWO", "three"]}),
            schema="pk bigint, ts timestamp, a string",
        )
        merge = lambda: t.merge(changes, ["pk", "ts"])  # noqa: E731
        assert self._jobs_before_write(ctx, monkeypatch, merge) == 0
        assert rows(ctx.execute("SELECT pk, CAST(ts AS date) AS d, a FROM lr")) == rows(
            ctx.spark.sql(
                "SELECT * FROM VALUES (1, DATE '2024-01-01', 'one'), "
                "(2, DATE '2024-01-02', 'two'), (2, DATE '2024-02-02', 'TWO'), "
                "(3, DATE '2024-03-03', 'three') AS v(pk, d, a)"
            )
        )

    def test_spark_dataframe_merge_keeps_its_aggregate(self, ctx, monkeypatch):
        """A computed (non-local) Spark change set still runs the one
        aggregate job before the join."""
        ctx.execute("CREATE TABLE sp (pk bigint, a varchar)")
        ctx.execute("INSERT INTO sp VALUES (1, 'one'), (2, 'two')")
        t = ctx.delta_table("sp")
        changes = ctx.spark.range(1, 3).selectExpr("id AS pk", "'x' AS a").repartition(2)
        jobs = self._jobs_before_write(ctx, monkeypatch, lambda: t.merge(changes, ["pk"]))
        assert jobs >= 1
        assert rows(ctx.execute("SELECT pk, a FROM sp")) == [(1, "x"), (2, "x")]

    @pytest.mark.parametrize(
        "ddl,values",
        [
            ("bigint", [5, -3, 2**40, 7]),
            ("int", [5, -3, 2**20, 7]),
            ("string", ["m", "B", "zz", "é", "a"]),
            ("date", ["2024-03-01", "1999-12-31", "2030-01-01"]),
        ],
    )
    def test_bounds_match_spark_aggregate(self, spark, ddl, values):
        import datetime

        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        from seafowl_spark.engine.deltalite import _local_changes, _local_pk_bounds

        if ddl == "date":
            values = [datetime.date.fromisoformat(v) for v in values]
        schema = T.StructType.fromDDL(f"pk {ddl}, v string")
        for vals in (values, values + [None]):
            pdf = pd.DataFrame({"pk": pd.Series(vals, dtype=object), "v": "x"})
            df, table = _local_changes(spark, pdf, schema, None)
            got = _local_pk_bounds(table, ["pk"])
            want = df.repartition(2).agg(
                F.min("pk").alias("min_pk"), F.max("pk").alias("max_pk"),
                F.max(F.col("pk").isNull()).alias("__null_pk"),
            ).collect()[0].asDict()
            assert got == want
            assert df.schema["pk"].dataType == schema["pk"].dataType
            # an Arrow frame takes the same path
            _, from_arrow = _local_changes(spark, table, schema, None)
            assert _local_pk_bounds(from_arrow, ["pk"]) == want

    def test_null_pk_rejected_from_driver_frame(self, ctx):
        from seafowl_spark.engine.deltalite import DeltaLiteError

        ctx.execute("CREATE TABLE np (pk bigint, a varchar)")
        ctx.execute("INSERT INTO np VALUES (1, 'one')")
        t = ctx.delta_table("np")
        changes = pd.DataFrame({"pk": pd.array([2, None], "Int64"), "a": ["x", "y"]})
        with pytest.raises(DeltaLiteError, match="NULL in primary key"):
            t.merge(changes, ["pk"])

    def test_bucket_set_matches_spark_aggregate(self, ctx, monkeypatch):
        """Bucketed table: the driver path's bucket set (a jobless
        projection) prunes the same files as the aggregate's collect_set,
        and the merge launches no job before the join."""
        outs = {}
        for mode in ("driver", "spark"):
            name = f"bk_{mode}"
            ctx.execute(
                f"CREATE TABLE {name} (pk bigint, a varchar) "
                f"WITH ('bucket_by' 'pk', 'buckets' '8')"
            )
            ctx.execute(
                f"INSERT INTO {name} SELECT id AS pk, concat('r', id) AS a FROM range(200)"
            )
            t = ctx.delta_table(name)
            pdf = pd.DataFrame(
                {"pk": [3, 17, 250], "a": ["x", "y", "z"],
                 "__delete__": [False, True, False]}
            )
            if mode == "driver":
                merge = lambda: t.merge(pdf, ["pk"], delete_col="__delete__")  # noqa: E731
                assert self._jobs_before_write(ctx, monkeypatch, merge) == 0
            else:
                changes = ctx.spark.createDataFrame(pdf).repartition(2)
                t.merge(changes, ["pk"], delete_col="__delete__")
            commit = t.read_commit(t.latest_version())
            outs[mode] = (
                len(commit.removes),
                rows(ctx.execute(f"SELECT pk, a FROM {name} WHERE pk IN (3, 17, 250)")),
            )
        assert outs["driver"] == outs["spark"]
        assert outs["driver"][0] < 8  # the untouched buckets were not rewritten


class TestFineGrainedPruning:
    def test_file_between_clusters_dropped(self, ctx, monkeypatch):
        """Coarse [min,max] keeps a file that sits between two change
        clusters; fine-grained PK membership drops it (reference
        planner.rs:552-628 two-stage pruning), with identical results."""
        ctx.execute("CREATE TABLE fg (pk bigint, v varchar)")
        # three files with disjoint PK ranges
        ctx.execute("INSERT INTO fg VALUES (1, 'lo'), (5, 'lo2')")
        ctx.execute("INSERT INTO fg VALUES (50, 'mid')")
        ctx.execute("INSERT INTO fg VALUES (95, 'hi'), (100, 'hi2')")
        root = ctx.table_root(ctx.catalog.get_table("default", "public", "fg"))
        from seafowl_spark.engine.deltalite import DeltaLiteTable

        t = DeltaLiteTable(ctx.spark, root)
        changes = ctx.spark.createDataFrame(
            [(1, "LO", False), (95, "HI", False)],
            "pk bigint, v string, __delete__ boolean",
        )
        # force the fine-grained stage (threshold 0)
        monkeypatch.setattr("seafowl_spark.engine.deltalite.FINE_GRAINED_PRUNING_ROWS", 0)
        commit = t.merge(changes, ["pk"], delete_col="__delete__")
        # coarse range [1,95] would rewrite all 3 files; fine-grained
        # drops the middle one (50 is not in the change set)
        assert len(commit.removes) == 2
        out = ctx.execute("SELECT pk, v FROM fg ORDER BY pk")
        assert rows(out) == [
            (1, "LO"), (5, "lo2"), (50, "mid"), (95, "HI"), (100, "hi2"),
        ]

    def test_fine_grained_keeps_results_identical(self, ctx, monkeypatch):
        ctx.execute("CREATE TABLE fg2 (pk bigint, v double)")
        ctx.execute("INSERT INTO fg2 SELECT id, id * 1.0 FROM range(0, 200)")
        root = ctx.table_root(ctx.catalog.get_table("default", "public", "fg2"))
        from seafowl_spark.engine.deltalite import DeltaLiteTable

        t = DeltaLiteTable(ctx.spark, root)
        changes = ctx.spark.createDataFrame(
            [(10, -1.0, False), (190, -2.0, False), (500, -3.0, False)],
            "pk bigint, v double, __delete__ boolean",
        )
        monkeypatch.setattr("seafowl_spark.engine.deltalite.FINE_GRAINED_PRUNING_ROWS", 0)
        t.merge(changes, ["pk"], delete_col="__delete__")
        out = rows(ctx.execute("SELECT pk, v FROM fg2 WHERE pk IN (10, 190, 500)"))
        assert out == [(10, -1.0), (190, -2.0), (500, -3.0)]


class TestAppTxnCheckpoint:
    """last_app_txn_version must seed from the checkpoint's app_txns map:
    an idempotence check after 20+ commits still sees pre-checkpoint
    sequence numbers."""

    def test_last_app_txn_across_checkpoint(self, ctx):
        from seafowl_spark.engine.deltalite import DeltaLiteTable

        ctx.execute("CREATE TABLE atx (x int)")
        root = ctx.table_root(ctx.catalog.get_table("default", "public", "atx"))
        t = DeltaLiteTable(ctx.spark, root)
        df = ctx.spark.createDataFrame([(0,)], "x int")
        t.append(df, app_txn={"app_id": "origin-a", "version": 7})
        # push past CHECKPOINT_INTERVAL with unrelated commits
        for i in range(22):
            ctx.execute(f"INSERT INTO atx VALUES ({i})")
        t2 = DeltaLiteTable(ctx.spark, root)
        assert t2.latest_version() >= t2.CHECKPOINT_INTERVAL
        assert t2.last_app_txn_version("origin-a") == 7
        t2.append(df, app_txn={"app_id": "origin-a", "version": 9})
        assert DeltaLiteTable(ctx.spark, root).last_app_txn_version("origin-a") == 9
        assert DeltaLiteTable(ctx.spark, root).last_app_txn_version("other") is None


class TestSyncFailure:
    """Mid-flush failure injection (reference tests/flight/sync_fail.rs):
    a flush dies between the data/DV write and the log commit; the client
    redelivers, and the origin/sequence bookkeeping must keep the apply
    exactly-once while VACUUM collects the orphan files the dead attempt
    left behind."""

    def _writer(self, ctx):
        return SyncWriter(ctx.spark, max_rows=10_000)

    def _root(self, ctx):
        return ctx.table_root(ctx.catalog.get_table("default", "public", "s"))

    def _batch(self):
        return pd.DataFrame(
            {
                "old_pk": [None, 1],
                "new_pk": [3, 1],
                "a": ["three", "ONE"],
                "b": [3.0, 1.5],
            }
        )

    def test_crash_before_commit_redelivery_applies_once(
        self, target, monkeypatch
    ):
        """Data files land, the commit does not: the sequence is NOT
        recorded, so redelivery must re-apply (not skip), and the dead
        attempt's files are orphans for VACUUM."""
        from seafowl_spark.engine import deltalite as dl

        ctx = target
        w = self._writer(ctx)
        root = self._root(ctx)
        t = dl.DeltaLiteTable(ctx.spark, root)
        files_before = set(t.store.list_recursive(t.root))

        real = dl.DeltaLiteTable._write_commit
        boom = {"armed": True}

        def dying(self_t, commit):
            if boom["armed"]:
                boom["armed"] = False
                raise RuntimeError("injected crash before commit")
            return real(self_t, commit)

        monkeypatch.setattr(dl.DeltaLiteTable, "_write_commit", dying)
        w.enqueue(root, full_schema(), self._batch(), origin="o1", sequence=7)
        with pytest.raises(RuntimeError, match="injected"):
            w.flush_all()

        # nothing committed: table unchanged, sequence unrecorded
        assert t.last_app_txn_version("o1") is None
        assert rows(ctx.execute("SELECT pk, a FROM s ORDER BY pk")) == [
            (1, "one"), (2, "two"),
        ]
        orphans = set(t.store.list_recursive(t.root)) - files_before
        assert any(p.endswith(".parquet") for p in orphans)

        # client redelivers the SAME (origin, sequence): must apply
        assert w.enqueue(
            root, full_schema(), self._batch(), origin="o1", sequence=7
        ) is False  # buffered, not skipped
        w.flush_all()
        assert t.last_app_txn_version("o1") == 7
        assert rows(ctx.execute("SELECT pk, a, b FROM s ORDER BY pk")) == [
            (1, "ONE", 1.5), (2, "two", 2.0), (3, "three", 3.0),
        ]

        # VACUUM collects the dead attempt's files; results unaffected
        dead = t.vacuum(retention_ms=0)
        live = set(t.store.list_recursive(t.root))
        assert orphans & live == set()
        assert any(p.endswith(".parquet") for p in dead)
        assert rows(ctx.execute("SELECT count(*) AS n FROM s")) == [(3,)]

    def test_crash_after_commit_redelivery_skips(self, target, monkeypatch):
        """The commit lands but the ack is lost: redelivery of the same
        (origin, sequence) must be a no-op — exactly-once, no double
        apply."""
        from seafowl_spark.engine import deltalite as dl

        ctx = target
        w = self._writer(ctx)
        root = self._root(ctx)
        t = dl.DeltaLiteTable(ctx.spark, root)

        real = dl.DeltaLiteTable._write_commit
        boom = {"armed": True}

        def ack_lost(self_t, commit):
            real(self_t, commit)
            if boom["armed"]:
                boom["armed"] = False
                raise RuntimeError("injected crash after commit")

        monkeypatch.setattr(dl.DeltaLiteTable, "_write_commit", ack_lost)
        w.enqueue(root, full_schema(), self._batch(), origin="o1", sequence=9)
        with pytest.raises(RuntimeError, match="injected"):
            w.flush_all()

        # the commit IS durable; redelivery skips via sequence high-water
        assert t.last_app_txn_version("o1") == 9
        assert w.enqueue(
            root, full_schema(), self._batch(), origin="o1", sequence=9
        ) is False
        w.flush_all()  # empty buffer: nothing to do
        assert rows(ctx.execute("SELECT pk, a, b FROM s ORDER BY pk")) == [
            (1, "ONE", 1.5), (2, "two", 2.0), (3, "three", 3.0),
        ]

    def test_crash_between_dv_write_and_commit(self, ctx, monkeypatch):
        """Merge-on-read DELETE dies after the DV sidecars are written but
        before the commit: reads see no deletes, the retry lands, and
        VACUUM collects the orphaned first-attempt DVs."""
        from seafowl_spark.engine import deltalite as dl

        ctx.execute(
            "CREATE TABLE mf (k BIGINT, v STRING) WITH ('delete_mode' = 'mor')"
        )
        ctx.execute(
            "INSERT INTO mf SELECT id, CAST(id AS STRING) FROM range(0, 100)"
        )
        e = next(e for e in ctx.catalog.tables(ctx.database) if e.name == "mf")
        t = dl.DeltaLiteTable(ctx.spark, ctx.table_root(e))
        files_before = set(t.store.list_recursive(t.root))

        real = dl.DeltaLiteTable._write_commit
        boom = {"armed": True}

        def dying(self_t, commit):
            if boom["armed"]:
                boom["armed"] = False
                raise RuntimeError("injected crash before commit")
            return real(self_t, commit)

        monkeypatch.setattr(dl.DeltaLiteTable, "_write_commit", dying)
        with pytest.raises(RuntimeError, match="injected"):
            ctx.execute("DELETE FROM mf WHERE k < 10")

        # commit never landed: full table still visible, DVs orphaned
        assert rows(ctx.execute("SELECT count(*) AS n FROM mf")) == [(100,)]
        orphan_dvs = {
            p for p in set(t.store.list_recursive(t.root)) - files_before
            if p.endswith(".bin")
        }
        assert orphan_dvs

        # retry succeeds and is the only apply
        ctx.execute("DELETE FROM mf WHERE k < 10")
        assert rows(ctx.execute("SELECT count(*) AS n FROM mf")) == [(90,)]
        t.vacuum(retention_ms=0)
        assert set(t.store.list_recursive(t.root)).isdisjoint(orphan_dvs)
        assert rows(ctx.execute("SELECT count(*) AS n FROM mf")) == [(90,)]
