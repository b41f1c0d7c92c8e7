"""INSERT VALUES, INSERT OVERWRITE VALUES, UPDATE and copy-on-write
DELETE have two write paths. Rows the driver holds — a LocalRelation, or
driver-sized hit files bound as one from ``_read_arrow`` — are written by
pyarrow with no Spark job; everything else is written by a Spark job.
These tests run the same statements through both paths and compare the
tables, check the footer stats and file counts of driver writes, and check
which path runs for which input."""

import datetime
import time
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import types as T

from seafowl_spark.engine import deltalite
from seafowl_spark.engine.deltalite import DeltaLiteTable
from tests.conftest import rows, spark_jobs
from tests.test_driver_merge import _table_rows

DDL = (
    "id bigint, s string, d date, ts timestamp, dec decimal(10,2), dbl double, "
    "st struct<x: int, y: string>, ar array<int>, mp map<string, int>"
)
DOUBLES = ["CAST('NaN' AS DOUBLE)", "CAST('-0.0' AS DOUBLE)", "0.0D", "1.5D", "-2.25D"]


@pytest.fixture(params=["UTC", "Asia/Kolkata"])
def process_tz(request, monkeypatch):
    """The Python process's time zone: Rows hold TIMESTAMP values as naive
    local time, which the Row -> Arrow conversion must undo."""
    monkeypatch.setenv("TZ", request.param)
    time.tzset()
    yield request.param
    monkeypatch.undo()
    time.tzset()


def _values_sql(rng, ids) -> str:
    """A seeded VALUES list over ``ids`` covering every DDL type, NULLs,
    NaN and -0.0."""

    def maybe(v: str) -> str:
        return "NULL" if rng.random() < 0.15 else v

    out = []
    for i in ids:
        day = datetime.date(2000, 1, 1) + datetime.timedelta(days=int(rng.integers(0, 9000)))
        ts = datetime.datetime(2020, 1, 1) + datetime.timedelta(seconds=int(rng.integers(0, 10**8)))
        cents = int(rng.integers(-10**6, 10**6))
        out.append("(" + ", ".join([
            str(i),
            maybe(f"'{'é' if i % 3 else 's'}{rng.integers(0, 50)}'"),
            maybe(f"DATE'{day}'"),
            maybe(f"TIMESTAMP'{ts}'"),
            maybe(f"CAST('{Decimal(cents) / 100}' AS DECIMAL(10,2))"),
            maybe(DOUBLES[int(rng.integers(0, len(DOUBLES)))]),
            maybe(f"named_struct('x', {rng.integers(0, 9)}, 'y', {maybe(repr('y'))})"),
            maybe(f"array({rng.integers(0, 9)}, {maybe('3')})"),
            maybe(f"map('a', {rng.integers(0, 9)}, 'b', {maybe('1')})"),
        ]) + ")")
    return ", ".join(out)


def _frame(spark, rng, ids):
    cols = "id, s, d, ts, dec, dbl, st, ar, mp"
    return spark.sql(f"SELECT * FROM VALUES {_values_sql(rng, ids)} AS v({cols})")


def _assert_stats_within_spark(spark, t, adds):
    """Every footer stat of a driver-written file equals the stat Spark's
    writer gives a file of the same rows; others are left out."""
    for a in adds:
        df = spark.read.schema(t.schema()).parquet(t._data_url(a.path))
        (ref,) = t._write_data(df.coalesce(1))  # a Spark write job
        for col, st in a.stats.items():
            for k, v in st.items():
                assert ref.stats.get(col, {}).get(k) == v, (col, k, v, ref.stats.get(col))


class _Pair:
    """Two tables taking the same statements: ``driver`` on the default
    path, ``spark`` with the driver path switched off."""

    def __init__(self, spark, tmp_path, monkeypatch):
        schema = T.StructType.fromDDL(DDL)
        self.spark, self.monkeypatch = spark, monkeypatch
        self.driver, self.sparkt = (
            DeltaLiteTable.create(spark, str(tmp_path / n), schema) for n in ("driver", "spark")
        )

    def run(self, op):
        """``op(table)`` on both; the driver side must run no job and the
        Spark side must run one."""
        got = {}
        assert spark_jobs(self.spark, lambda: got.setdefault("d", op(self.driver))) == 0
        with self.monkeypatch.context() as m:
            m.setattr(deltalite, "DRIVER_WRITE_MAX_ROWS", 0)
            assert spark_jobs(self.spark, lambda: got.setdefault("s", op(self.sparkt))) > 0
        assert _table_rows(self.driver) == _table_rows(self.sparkt)
        adds, spark_adds = got["d"].adds, got["s"].adds
        # one file per driver write, never more than Spark's writer leaves
        assert len(adds) <= min(1, len(spark_adds))
        _assert_stats_within_spark(self.spark, self.driver, adds)


@pytest.mark.parametrize("seed", [0, 1])
def test_driver_dml_equals_spark_write(spark, tmp_path, monkeypatch, process_tz, seed):
    """Seeded INSERT VALUES, UPDATE over files carrying deletion vectors,
    copy-on-write DELETE and INSERT OVERWRITE VALUES leave the same table
    through either path."""
    rng = np.random.default_rng(seed)
    pair = _Pair(spark, tmp_path, monkeypatch)
    pair.run(lambda t: t.append(_frame(spark, np.random.default_rng(seed), range(40))))
    pair.run(lambda t: t.append(_frame(spark, np.random.default_rng(seed + 7), range(40, 50))))
    for t in (pair.driver, pair.sparkt):
        snap = t.snapshot()
        t._mor_delete(snap, snap.files, "id % 5 = 0")
        assert any(f.dv for f in t.snapshot().files)
    sets = {
        "s": "concat(coalesce(s, 'n'), '!')",
        "ts": "ts + INTERVAL 90 MINUTES",
        "dec": "dec * -1",
        "dbl": "dbl * -1",
        "st": "named_struct('x', CAST(id AS INT), 'y', s)",
        "ar": "concat(ar, array(7))",
        "mp": "map_concat(mp, map('z', 9))",
    }
    k = int(rng.integers(0, 3))
    pair.run(lambda t: t.update(sets, f"id % 3 = {k}"))
    ids = {r[0] for r in pair.driver.to_df().select("id").collect()}
    assert ids == {i for i in range(50) if i % 5}  # no DV row came back
    pair.run(lambda t: t.delete(f"id % 4 = {k} OR dbl IS NULL"))
    pair.run(lambda t: t.overwrite(_frame(spark, np.random.default_rng(seed + 1), range(100, 105))))


class TestPathSelection:
    """Which path a statement takes, and the Spark jobs it costs."""

    @pytest.fixture()
    def arrow_writes(self, monkeypatch):
        calls = []
        orig = DeltaLiteTable._write_arrow

        def spy(self, *a, **k):
            calls.append(1)
            return orig(self, *a, **k)

        monkeypatch.setattr(DeltaLiteTable, "_write_arrow", spy)
        return calls

    def _table(self, ctx, name: str = "t", with_: str = ""):
        ctx.execute(f"CREATE TABLE {name} (id bigint, v bigint, s varchar){with_}")
        ctx.execute(
            f"INSERT INTO {name} SELECT id, id * 10 AS v, concat('r', id) AS s "
            "FROM range(0, 20, 1, 1)"
        )

    @pytest.mark.parametrize("sql, want", [
        ("INSERT INTO t VALUES (100, 1, 'x')", (21, 1901, 100)),
        ("INSERT OVERWRITE t VALUES (100, 1, 'x')", (1, 1, 100)),
        ("UPDATE t SET v = -1 WHERE id = 3", (20, 1869, 19)),
        ("DELETE FROM t WHERE id = 3", (19, 1870, 19)),
    ])
    def test_one_row_dml_runs_no_job(self, ctx, arrow_writes, sql, want):
        self._table(ctx)
        assert spark_jobs(ctx.spark, lambda: ctx.execute(sql)) == 0
        assert arrow_writes == [1]
        assert rows(ctx.execute("SELECT count(*), sum(v), max(id) FROM t")) == [want]

    def test_bucketed_table_writes_with_spark(self, ctx, arrow_writes):
        self._table(ctx, "bk", " WITH ('bucket_by' 'id', 'buckets' '4')")
        ctx.execute("INSERT INTO bk VALUES (100, 1, 'x')")
        ctx.execute("UPDATE bk SET v = -1 WHERE id = 3")
        ctx.execute("DELETE FROM bk WHERE id = 4")
        assert arrow_writes == []
        assert all(f.bucket is not None for f in ctx.delta_table("bk").snapshot().files)
        assert rows(ctx.execute("SELECT count(*), sum(v) FROM bk")) == [(20, 1830)]

    def test_python_udf_set_writes_with_spark(self, ctx, arrow_writes):
        """Spark does not fold a Python UDF into a LocalRelation: the
        rewrite scans the hit files and writes with a Spark job."""
        import base64
        import json

        spec = json.dumps({
            "entrypoint": "f", "language": "python",
            "input_types": ["bigint"], "return_type": "bigint",
            "data": base64.b64encode(b"def f(x):\n    return x + 1\n").decode(),
            "volatility": "immutable",
        })
        self._table(ctx)
        ctx.execute(f"CREATE FUNCTION bump AS '{spec}'")
        assert spark_jobs(ctx.spark, lambda: ctx.execute(
            "UPDATE t SET v = bump(v) WHERE id = 3"
        )) > 0
        assert arrow_writes == []
        assert rows(ctx.execute("SELECT v FROM t WHERE id = 3")) == [(31,)]

    @pytest.mark.parametrize("sql, want", [
        ("UPDATE t SET v = {f}(v) WHERE id = 1", (20, 1901)),
        ("DELETE FROM t WHERE {f}(id) = 3", (19, 1880)),
    ])
    def test_dml_resolves_persisted_functions(self, ctx, sql, want):
        """UPDATE and DELETE register the catalog's functions, as a read
        does: here the statement is the first to name the function (a
        fresh name, so no earlier test registered it)."""
        import base64
        import json
        import uuid

        name = f"bump_{uuid.uuid4().hex[:8]}"
        spec = json.dumps({
            "entrypoint": "f", "language": "python",
            "input_types": ["bigint"], "return_type": "bigint",
            "data": base64.b64encode(b"def f(x):\n    return x + 1\n").decode(),
            "volatility": "immutable",
        })
        self._table(ctx)
        ctx.execute(f"CREATE FUNCTION {name} AS '{spec}'")
        ctx.execute(sql.format(f=name))
        assert rows(ctx.execute("SELECT count(*), sum(v) FROM t")) == [want]

    def test_hit_set_over_the_bound_writes_with_spark(self, ctx, arrow_writes, monkeypatch):
        self._table(ctx)
        monkeypatch.setattr(deltalite, "DRIVER_WRITE_MAX_ROWS", 19)
        assert spark_jobs(ctx.spark, lambda: ctx.execute("DELETE FROM t WHERE id = 3")) > 0
        assert arrow_writes == []
        monkeypatch.setattr(deltalite, "DRIVER_WRITE_MAX_ROWS", 1)
        ctx.execute("INSERT INTO t VALUES (100, 1, 'x'), (101, 2, 'y')")
        assert arrow_writes == []
        assert rows(ctx.execute("SELECT count(*), sum(v) FROM t")) == [(21, 1873)]

    def test_nested_timestamp_writes_with_spark(self, spark, tmp_path, arrow_writes):
        """A Row carries a nested TIMESTAMP as naive local time that the
        converter does not undo: such a table keeps the Spark write."""
        t = DeltaLiteTable.create(
            spark, str(tmp_path / "t"), T.StructType.fromDDL("id bigint, st struct<ts: timestamp>")
        )
        t.append(spark.sql(
            "SELECT 1L AS id, named_struct('ts', TIMESTAMP'2024-01-01 10:00:00') AS st"
        ))
        assert arrow_writes == []
        assert t.to_df().selectExpr("CAST(st.ts AS STRING)").collect()[0][0] == (
            "2024-01-01 10:00:00"
        )


class TestConstraintsWithoutJobs:
    def test_check_runs_no_job_and_keeps_its_message(self, ctx, monkeypatch):
        ctx.execute("CREATE TABLE c (id bigint, v bigint)")
        ctx.execute("INSERT INTO c VALUES (1, 10)")
        ctx.execute("ALTER TABLE c ADD CONSTRAINT v_pos CHECK (v >= 0)")
        assert spark_jobs(ctx.spark, lambda: ctx.execute("INSERT INTO c VALUES (2, 20)")) == 0
        assert spark_jobs(ctx.spark, lambda: ctx.execute("UPDATE c SET v = 5 WHERE id = 1")) == 0
        errors = []
        for bound in (deltalite.DRIVER_WRITE_MAX_ROWS, 0):  # driver, then Spark
            monkeypatch.setattr(deltalite, "DRIVER_WRITE_MAX_ROWS", bound)
            for sql in ("INSERT INTO c VALUES (3, -1), (4, -2)", "UPDATE c SET v = -v"):
                with pytest.raises(Exception) as e:
                    ctx.execute(sql)
                errors.append(str(e.value))
        assert errors[:2] == errors[2:]
        assert "CHECK constraint 'v_pos' violated by 2 row(s): (v >= 0)" in errors[0]
        assert rows(ctx.execute("SELECT id, v FROM c")) == [(1, 5), (2, 20)]

    def test_driver_merge_checks_without_a_job(self, spark, tmp_path):
        t = DeltaLiteTable.create(spark, str(tmp_path / "m"), T.StructType.fromDDL("pk bigint, v bigint"))
        t.append(spark.sql("SELECT * FROM VALUES (1L, 10L), (2L, 20L) AS v(pk, v)"))
        t.add_constraint("v_pos", "v >= 0")
        merge = lambda: t.merge(pa.table({"pk": [2, 3], "v": [5, 6]}), ["pk"])  # noqa: E731
        assert spark_jobs(spark, merge) == 0
        assert sorted(tuple(r) for r in t.to_df().collect()) == [(1, 10), (2, 5), (3, 6)]
