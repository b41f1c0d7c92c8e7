"""deltalite ``merge`` has two paths to the same rows: a driver-held
change set on an unbucketed table whose rewrite fits one output file is
merged in Arrow on the driver (``_merge_on_driver``); everything else runs
the Spark full outer join (``_merge_in_spark``). These tests run the same
change sets through both and compare the tables, check which path runs
for which input, and check that a driver-written file carries no footer
stat a Spark-written file of the same rows would not."""

import datetime
import math
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import Row
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from seafowl_spark.engine import deltalite
from seafowl_spark.engine.deltalite import (
    DeltaLiteError,
    DeltaLiteTable,
    _change_schema,
    _local_changes,
)
from tests.conftest import spark_jobs

VALUE_DDL = (
    "v bigint, s string, st struct<x: int, y: string>, ar array<int>, mp map<string, int>"
)
UTC = datetime.timezone.utc


def _pk_pool(pk_type: str, rng) -> list:
    """Distinct PK values as Spark's join sees them; a double pool holds
    NaN and 0.0 (changes address 0.0 as -0.0, see ``_change_key``)."""
    n = 60
    ints = rng.choice(10_000, n, replace=False).tolist()
    if pk_type == "bigint":
        return [i - 5_000 for i in ints]
    if pk_type == "string":
        return [f"k{i}" if i % 3 else f"é{i}" for i in ints]
    if pk_type == "date":
        return [datetime.date(2000, 1, 1) + datetime.timedelta(days=i) for i in ints]
    if pk_type == "timestamp":
        return [
            datetime.datetime(2020, 1, 1, tzinfo=UTC) + datetime.timedelta(seconds=i * 977)
            for i in ints
        ]
    if pk_type == "decimal(10,2)":
        return [Decimal(i - 5_000) / 100 for i in ints]
    if pk_type == "double":
        return [float("nan"), 0.0] + [i / 8 - 600.0 for i in ints[2:]]
    raise AssertionError(pk_type)


def _change_key(k):
    return -0.0 if isinstance(k, float) and k == 0 else k


def _values(rng, n: int) -> dict:
    def maybe(v):
        return None if rng.random() < 0.15 else v

    return {
        "v": [maybe(int(rng.integers(0, 1_000))) for _ in range(n)],
        "s": [maybe(f"s{rng.integers(0, 50)}") for _ in range(n)],
        "st": [maybe({"x": int(rng.integers(0, 9)), "y": maybe("y")}) for _ in range(n)],
        "ar": [maybe([int(x) for x in rng.integers(0, 9, rng.integers(0, 4))]) for _ in range(n)],
        "mp": [maybe([("a", int(rng.integers(0, 9)))] + ([("b", None)] if rng.random() < 0.5 else []))
               for _ in range(n)],
    }


def _changes(rng, pool, schema, n: int, dup: bool, delete: bool | None = None) -> pa.Table:
    """``n`` change rows over ``pool``: a random mix of updates, inserts
    and deletes (all deletes or none when ``delete`` is given), each value
    column with a random CHANGED mask (NULL counts as unchanged); unique
    keys unless ``dup``."""
    idx = rng.choice(len(pool), n, replace=dup)
    cols = {"pk": [_change_key(pool[i]) for i in idx], **_values(rng, n)}
    for c in ("v", "s", "mp"):
        cols[f"__set_{c}"] = [None if rng.random() < 0.1 else bool(rng.random() < 0.7)
                              for _ in range(n)]
    cols["__delete__"] = [
        bool(rng.random() < 0.2) if delete is None else delete for _ in range(n)
    ]
    names = list(cols)
    arrow_schema = to_arrow_schema(_change_schema(names, schema, "__delete__"))
    return pa.table([pa.array(cols[c], arrow_schema.field(c).type) for c in names],
                    schema=arrow_schema)


def _canon(v):
    """A hashable, bit-exact form of a collected value: -0.0 and NaN stay
    distinct from 0.0 and from each other's absence, maps compare as sets."""
    if isinstance(v, float):
        return ("f", repr(v))
    if isinstance(v, Row):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if isinstance(v, list):
        return tuple(_canon(x) for x in v)
    if isinstance(v, (Decimal, datetime.date)):
        return str(v)
    return v


def _table_rows(t: DeltaLiteTable) -> list:
    return sorted((tuple(_canon(x) for x in r) for r in t.to_df().collect()), key=repr)


@pytest.fixture()
def paths(monkeypatch):
    """Counts the calls of each merge path."""
    calls = {"driver": 0, "spark": 0}
    for name, attr in (("driver", "_merge_on_driver"), ("spark", "_merge_in_spark")):
        orig = getattr(DeltaLiteTable, attr)

        def spy(self, *a, _orig=orig, _name=name, **k):
            calls[_name] += 1
            return _orig(self, *a, **k)

        monkeypatch.setattr(DeltaLiteTable, attr, spy)
    return calls


def _pair(spark, tmp_path, ddl: str, base: pa.Table, properties=None):
    """Two tables holding the same rows in three files each."""
    schema = T.StructType.fromDDL(ddl)
    out = []
    for name in ("driver", "spark"):
        t = DeltaLiteTable.create(spark, str(tmp_path / name), schema, properties=properties)
        t.append(spark.createDataFrame(base, schema=schema).repartition(3))
        out.append(t)
    return out


def _merge_both(spark, t_driver, t_spark, changes: pa.Table):
    """``changes`` into ``t_driver`` as Arrow and into ``t_spark`` as the
    same rows in a computed (non-LocalRelation) Spark frame."""
    schema = t_spark.schema()
    t_driver.merge(changes, ["pk"], delete_col="__delete__")
    frame, _ = _local_changes(spark, changes, schema, "__delete__")
    t_spark.merge(frame.repartition(2), ["pk"], delete_col="__delete__")


@pytest.mark.parametrize(
    "pk_type", ["bigint", "string", "date", "timestamp", "decimal(10,2)", "double"]
)
@pytest.mark.parametrize("seed", [0, 1])
def test_driver_merge_equals_spark_join(spark, tmp_path, paths, pk_type, seed):
    """Seeded change sets — CHANGED masks, deletes, re-inserts of deleted
    keys, and base files carrying deletion vectors — leave the same table
    through either path, merge after merge."""
    rng = np.random.default_rng(seed)
    ddl = f"pk {pk_type}, {VALUE_DDL}"
    schema = T.StructType.fromDDL(ddl)
    pool = _pk_pool(pk_type, rng)
    base_keys = pool[:40]
    base = pa.table({"pk": base_keys, **_values(rng, len(base_keys))},
                    schema=to_arrow_schema(schema))
    t_driver, t_spark = _pair(spark, tmp_path, ddl, base, {"delete_mode": "mor"})
    for t in (t_driver, t_spark):
        t.delete("v % 7 = 0")
    assert any(f.dv for f in t_driver.snapshot().files)
    for _ in range(3):
        _merge_both(spark, t_driver, t_spark, _changes(rng, pool, schema, 25, dup=False))
        assert _table_rows(t_driver) == _table_rows(t_spark)
    # a key deleted by one merge and re-inserted by the next
    for delete in (True, False):
        step = _changes(rng, pool[:1], schema, 1, dup=False, delete=delete)
        _merge_both(spark, t_driver, t_spark, step)
    assert _table_rows(t_driver) == _table_rows(t_spark)
    assert paths == {"driver": 5, "spark": 5}


@pytest.mark.parametrize("pk_type", ["bigint", "string", "double"])
def test_duplicate_change_keys_fan_out_alike(spark, tmp_path, paths, pk_type):
    """Duplicate keys in a change set (a SQL MERGE over a VALUES source
    allows them) fan out the join the same way on both paths."""
    rng = np.random.default_rng(7)
    ddl = f"pk {pk_type}, {VALUE_DDL}"
    schema = T.StructType.fromDDL(ddl)
    pool = _pk_pool(pk_type, rng)[:20]
    base = pa.table({"pk": pool[:12], **_values(rng, 12)}, schema=to_arrow_schema(schema))
    t_driver, t_spark = _pair(spark, tmp_path, ddl, base)
    changes = _changes(rng, pool, schema, 30, dup=True)
    _merge_both(spark, t_driver, t_spark, changes)
    got = _table_rows(t_driver)
    assert got == _table_rows(t_spark)
    assert len(got) > len({r[0] for r in got})  # the fan-out happened
    assert paths == {"driver": 1, "spark": 1}


def test_check_violation_same_error(spark, tmp_path, paths):
    ddl = "pk bigint, v bigint"
    base = pa.table({"pk": [1, 2, 3], "v": [10, 20, 30]})
    t_driver, t_spark = _pair(spark, tmp_path, ddl, base)
    errors = []
    for t in (t_driver, t_spark):
        t.add_constraint("v_pos", "v >= 0")
    changes = pa.table({"pk": [2, 4, 5], "v": [-1, -2, 7]})
    with pytest.raises(DeltaLiteError) as drv:
        t_driver.merge(changes, ["pk"])
    errors.append(str(drv.value))
    frame, _ = _local_changes(spark, changes, t_spark.schema(), None)
    with pytest.raises(DeltaLiteError) as spk:
        t_spark.merge(frame.repartition(2), ["pk"])
    errors.append(str(spk.value))
    assert errors[0] == errors[1] == (
        "CHECK constraint 'v_pos' violated by 2 row(s): (v >= 0)"
    )
    assert paths == {"driver": 1, "spark": 1}
    assert t_driver.latest_version() == t_spark.latest_version()  # nothing committed


STATS_DDL = (
    "i bigint, n int, sm smallint, s string, d date, ts timestamp, tn timestamp_ntz, "
    "dec decimal(10,2), dbig decimal(30,3), dbl double, dnan double, f float, "
    "b boolean, bin binary, st struct<x: int>, ar array<int>, mp map<string, int>"
)


def test_driver_file_stats_match_spark_writer(spark, tmp_path):
    """Every footer stat of a driver-written file equals the stat of a
    Spark-written file of the same rows; the ones that would differ
    (timestamps, integer-stored decimals, doubles holding NaN) are left
    out rather than given another meaning."""
    schema = T.StructType.fromDDL(STATS_DDL)
    t = DeltaLiteTable.create(spark, str(tmp_path / "t"), schema)
    ts = datetime.datetime(2024, 5, 1, 12, 30, tzinfo=UTC)
    data = pa.table(
        {
            "i": [3, -7, None], "n": [1, 2, 3], "sm": [5, None, -5],
            "s": ["b", "ä", None], "d": [datetime.date(2024, 1, 2), None, datetime.date(1999, 3, 4)],
            "ts": [ts, ts + datetime.timedelta(days=400), None],
            "tn": [datetime.datetime(2024, 1, 1, 10), None, datetime.datetime(2023, 1, 1)],
            "dec": [Decimal("1.50"), Decimal("-2.25"), None],
            "dbig": [Decimal("12345678901234567890.125"), Decimal("-1.5"), None],
            "dbl": [-0.0, 2.5, None], "dnan": [1.0, math.nan, -3.0], "f": [0.0, -1.5, None],
            "b": [True, None, False], "bin": [b"x", b"y", None],
            "st": [{"x": 1}, None, {"x": 2}], "ar": [[1], [], None], "mp": [[("k", 1)], None, []],
        },
        schema=to_arrow_schema(schema),
    )
    driver = t._write_data(data)
    spark_files = t._write_data(spark.createDataFrame(data, schema=schema).coalesce(1))
    assert len(driver) == len(spark_files) == 1
    want, got = spark_files[0].stats, driver[0].stats  # both from _footer_stats
    for col, st in got.items():
        for k, v in st.items():
            assert k in want.get(col, {}) and want[col][k] == v, (col, k, v, want.get(col))
    for col in ("i", "n", "sm", "s", "d", "tn", "dbig", "dbl", "f", "b", "bin"):
        assert got[col] == want[col], col  # the same, not just absent
    assert "ts" not in got  # INT96 in Spark's file: no stats
    assert "min" not in got["dnan"] and "min" not in got["dec"]


class TestPathSelection:
    """Which path a merge runs, and the Spark work it costs."""

    def _flush(self, ctx, table: str):
        import pandas as pd

        from seafowl_spark.streaming.sync import ColumnDescriptor as CD
        from seafowl_spark.streaming.sync import SyncSchema, SyncWriter

        root = ctx.table_root(ctx.catalog.get_table("default", "public", table))
        batch = pd.DataFrame({
            "old_pk": pd.array([None, None, 3, 5], "Int64"),
            "new_pk": pd.array([500, 501, 3, None], "Int64"),
            "a": ["n500", "n501", "u3", None],
        })
        schema = SyncSchema([CD("old_pk", "old_pk", "pk"), CD("new_pk", "new_pk", "pk"),
                             CD("a", "value", "a")])
        w = SyncWriter(ctx.spark)
        w.enqueue(root, schema, batch, origin="o", sequence=1)
        return lambda: w.flush_all()

    def _expect(self, ctx, table: str):
        got = [tuple(r) for r in ctx.execute(
            f"SELECT count(*), sum(pk), max(a) FROM {table} WHERE pk IN (3, 5, 500, 501)"
        ).collect()]
        assert got == [(3, 1004, "u3")]

    def test_flush_into_unbucketed_table_runs_no_job(self, ctx, paths):
        ctx.execute("CREATE TABLE u (pk bigint, a varchar)")
        ctx.execute("INSERT INTO u SELECT id AS pk, concat('r', id) AS a FROM range(200)")
        assert spark_jobs(ctx.spark, self._flush(ctx, "u")) == 0
        assert paths == {"driver": 1, "spark": 0}
        self._expect(ctx, "u")

    def test_bloom_table_still_attaches_blooms(self, ctx, paths):
        ctx.execute("CREATE TABLE bl (pk bigint, a varchar) WITH ('bloom_by' 'pk,a')")
        ctx.execute("INSERT INTO bl SELECT id AS pk, concat('r', id) AS a FROM range(200)")
        self._flush(ctx, "bl")()
        assert paths == {"driver": 1, "spark": 0}
        files = ctx.delta_table("bl").snapshot().files
        assert files and all(set(f.blooms or {}) == {"pk", "a"} for f in files)
        self._expect(ctx, "bl")
        # the bitmaps are live: a point read on a merged key still finds it
        assert ctx.execute("SELECT a FROM bl WHERE pk = 501").collect()[0][0] == "n501"

    def test_bucketed_table_runs_the_join(self, ctx, paths):
        ctx.execute("CREATE TABLE bk (pk bigint, a varchar) WITH ('bucket_by' 'pk', 'buckets' '4')")
        ctx.execute("INSERT INTO bk SELECT id AS pk, concat('r', id) AS a FROM range(200)")
        self._flush(ctx, "bk")()
        assert paths == {"driver": 0, "spark": 1}
        assert all(f.bucket is not None for f in ctx.delta_table("bk").snapshot().files)
        self._expect(ctx, "bk")

    def test_rewrite_over_the_file_bound_runs_the_join(self, ctx, paths, monkeypatch):
        ctx.execute("CREATE TABLE big (pk bigint, a varchar)")
        ctx.execute("INSERT INTO big SELECT id AS pk, concat('r', id) AS a FROM range(200)")
        monkeypatch.setattr(deltalite, "MAX_ROWS_PER_FILE", 150)
        self._flush(ctx, "big")()
        assert paths == {"driver": 0, "spark": 1}
        self._expect(ctx, "big")
        assert max(f.rows for f in ctx.delta_table("big").snapshot().files) <= 150

    def test_driver_rewrite_splits_at_the_file_bound(self, spark, tmp_path, paths, monkeypatch):
        """Duplicate keys on both sides fan a driver merge's output out past
        its inputs (2 + 3 rows in, 6 out); the Arrow writer splits files at
        the bound as Spark's does."""
        t = DeltaLiteTable.create(spark, str(tmp_path / "t"), T.StructType.fromDDL("pk bigint"))
        t.append(spark.range(0, 2, 1, 1).selectExpr("1L AS pk"))
        monkeypatch.setattr(deltalite, "MAX_ROWS_PER_FILE", 5)
        t.merge(pa.table({"pk": [1, 1, 1]}), ["pk"])
        assert paths == {"driver": 1, "spark": 0}
        assert sorted(f.rows for f in t.snapshot().files) == [1, 5]

    def test_spark_change_set_runs_the_join(self, ctx, paths):
        ctx.execute("CREATE TABLE sp (pk bigint, a varchar)")
        ctx.execute("INSERT INTO sp VALUES (1, 'one'), (2, 'two')")
        ctx.execute("MERGE INTO sp USING (SELECT * FROM VALUES (2, 'TWO'), (3, 'three') "
                    "AS v(pk, a)) s ON sp.pk = s.pk "
                    "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
        assert paths == {"driver": 0, "spark": 1}
        assert sorted(tuple(r) for r in ctx.execute("SELECT pk, a FROM sp").collect()) == [
            (1, "one"), (2, "TWO"), (3, "three")]
