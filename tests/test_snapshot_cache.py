"""The per-process head-snapshot cache (engine/deltalite.py ``_HEADS``):
a table's head snapshot is served from memory while its head commit is
the one the snapshot was replayed from, and replayed again as soon as any
writer moves or replaces that commit."""

import json
import shutil

import pandas as pd
from pyspark.sql import types as T

from seafowl_spark.engine import deltalite
from seafowl_spark.engine.deltalite import DeltaLiteTable
from seafowl_spark.streaming.sync import ColumnDescriptor as CD
from seafowl_spark.streaming.sync import SyncSchema, SyncWriter
from tests.conftest import rows


def _create(spark, root, ddl):
    return DeltaLiteTable.create(spark, root, T.StructType.fromDDL(ddl))


def test_unchanged_head_serves_one_object(spark, tmp_path):
    root = str(tmp_path / "t")
    t = _create(spark, root, "x int")
    a = t.snapshot()
    assert DeltaLiteTable(spark, root).snapshot() is a
    assert t.snapshot(version=a.version) is a
    assert t.schema() is a.schema
    t.append(spark.createDataFrame([(1,)], "x int"))
    b = t.snapshot()
    assert b is not a and (b.version, b.num_rows) == (a.version + 1, 1)
    assert t.snapshot() is b
    # an older version is replayed, never served from the cache
    assert t.snapshot(version=a.version).num_rows == 0


def test_each_commit_is_read_once(spark, tmp_path, monkeypatch):
    """A replay reuses the head commit the cache check fetched, and a hit
    fetches only the head commit."""
    root = str(tmp_path / "t")
    t = _create(spark, root, "x int")
    t.append(spark.createDataFrame([(1,)], "x int"))
    gets = []
    get = type(t.store).get
    monkeypatch.setattr(
        type(t.store), "get",
        lambda self, path: gets.append(path) or get(self, path),
    )
    monkeypatch.setattr(deltalite, "_HEADS", {})
    snap = t.snapshot()
    assert sorted(p for p in gets if p.endswith(".json")) == [
        t._version_path(v) for v in (0, 1)
    ]
    gets.clear()
    assert t.snapshot() is snap
    assert [p for p in gets if p.endswith(".json")] == [t._version_path(1)]


def test_drop_and_recreate_at_same_root(spark, tmp_path):
    root = str(tmp_path / "t")
    t = _create(spark, root, "x int")
    assert t.schema().names == ["x"]
    t.drop_data()
    _create(spark, root, "y string, z bigint")
    assert DeltaLiteTable(spark, root).schema().names == ["y", "z"]


def test_recreate_behind_the_cache(spark, tmp_path):
    """Another process dropping and recreating the table evicts nothing
    here, but writes another head commit under the same version."""
    root = str(tmp_path / "t")
    assert _create(spark, root, "x int").schema().names == ["x"]
    shutil.rmtree(root)
    _create(spark, root, "y string")
    assert DeltaLiteTable(spark, root).schema().names == ["y"]


def test_cdc_flush_parses_its_schema_once(ctx, monkeypatch):
    """The table's DDL is parsed once, before the flushes: each flush's new
    version of the unchanged schema reuses that parse."""
    ctx.execute("CREATE TABLE s (pk bigint, a varchar, b double)")
    ctx.execute("INSERT INTO s VALUES (1, 'one', 1.0), (2, 'two', 2.0)")
    root = ctx.table_root(ctx.catalog.get_table("default", "public", "s"))
    schema = SyncSchema([
        CD("old_pk", "old_pk", "pk"), CD("new_pk", "new_pk", "pk"),
        CD("a", "value", "a"), CD("b", "value", "b"),
    ])
    parses = []
    parse = T.StructType.fromDDL

    def counting(cls, ddl):
        parses.append(ddl)
        return parse(ddl)

    monkeypatch.setattr(T.StructType, "fromDDL", classmethod(counting))
    w = SyncWriter(ctx.spark, max_rows=10_000)
    for seq, (pk, a) in enumerate([(3, "three"), (4, "four")], 1):
        batch = pd.DataFrame(
            {"old_pk": [None], "new_pk": [pk], "a": [a], "b": [float(pk)]}
        )
        w.enqueue(root, schema, batch, origin="o1", sequence=seq)
        parses.clear()
        assert w.flush(root)
        assert parses == []
    monkeypatch.undo()
    assert rows(ctx.execute("SELECT pk, a FROM s")) == [
        (1, "one"), (2, "two"), (3, "three"), (4, "four"),
    ]


def test_writes_leave_shared_snapshots_unchanged(ctx):
    """Every snapshot a statement took is shared through the cache, so no
    write may change one in place: each one taken along the way still
    reads as it did when it was taken."""
    ctx.execute(
        "CREATE TABLE m (k bigint, v string, w double) WITH ('delete_mode' = 'mor')"
    )
    t = ctx.delta_table("m")

    def state(snap):
        return json.dumps(
            [snap.schema.json(), snap.properties, [f.to_json() for f in snap.files]],
            sort_keys=True, default=str,
        )

    taken = [t.snapshot()]
    states = [state(taken[0])]
    for sql in [
        "INSERT INTO m SELECT id, concat('r', id), id / 2 FROM range(0, 50)",
        "UPDATE m SET v = 'u' WHERE k < 5",
        "DELETE FROM m WHERE k = 7",
        "ALTER TABLE m ADD CONSTRAINT pos CHECK (k >= 0)",
        "ALTER TABLE m ADD COLUMN extra bigint",
        "ALTER TABLE m DROP COLUMN w",
        "MERGE INTO m t USING (SELECT * FROM VALUES (2, 'B'), (99, 'n') AS s(k, v)) s "
        "ON t.k = s.k WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
        "CREATE SEARCH INDEX ix ON m (v) USING BM25 WITH ('id_col' = 'k')",
        "ALTER TABLE m DROP CONSTRAINT pos",
        "OPTIMIZE TABLE m",
        "CREATE TABLE m2 SHALLOW CLONE m",
        "RESTORE TABLE m TO VERSION AS OF 3",
        "VACUUM TABLE m",
    ]:
        ctx.execute(sql)
        taken.append(t.snapshot())
        states.append(state(taken[-1]))
    assert [state(snap) for snap in taken] == states
