"""Version-keyed temp-view bindings (engine/bindings.py): a statement
rebinds only the catalog names whose key moved, so every test here reads
once to warm the binding, changes the catalog, and reads again."""

import json

import pyarrow.flight as flight
import pytest

from seafowl_spark.engine import bindings
from seafowl_spark.engine.context import (
    _INFO_SCHEMA_NAMES,
    _SYSTEM_TABLE_NAMES,
    SeafowlContext,
)
from seafowl_spark.engine.deltalite import DeltaLiteTable
from seafowl_spark.engine.flight import start_flight_server
from tests.conftest import rows


def one(ctx, sql):
    return ctx.execute(sql).collect()[0][0]


@pytest.fixture()
def base(ctx):
    ctx.execute("CREATE TABLE base (k BIGINT, v BIGINT) WITH ('delete_mode' = 'mor')")
    ctx.execute("INSERT INTO base SELECT id, id * 10 FROM range(0, 10)")
    assert one(ctx, "SELECT sum(v) FROM base") == 450
    return ctx


class TestFreshAfterWrites:
    def test_insert(self, base):
        base.execute("INSERT INTO base VALUES (100, 1)")
        assert one(base, "SELECT count(*) FROM base") == 11

    def test_update(self, base):
        base.execute("UPDATE base SET v = 0 WHERE k < 5")
        assert one(base, "SELECT sum(v) FROM base") == 350

    def test_dv_delete(self, base):
        base.execute("DELETE FROM base WHERE k % 2 = 0")
        assert any(f.dv for f in base.delta_table("base").snapshot().files)
        assert one(base, "SELECT count(*) FROM base") == 5

    def test_restore(self, base):
        v = base.delta_table("base").latest_version()
        base.execute("INSERT INTO base VALUES (100, 1)")
        assert one(base, "SELECT count(*) FROM base") == 11
        base.execute(f"RESTORE TABLE base TO VERSION AS OF {v}")
        assert one(base, "SELECT count(*) FROM base") == 10

    def test_add_column(self, base):
        base.execute("ALTER TABLE base ADD COLUMN w STRING")
        assert base.execute("SELECT * FROM base").columns == ["k", "v", "w"]

    def test_optimize(self, base):
        base.execute("INSERT INTO base VALUES (100, 1)")
        assert one(base, "SELECT count(*) FROM base") == 11
        base.execute("OPTIMIZE base")
        assert one(base, "SELECT count(*) FROM base") == 11
        assert one(base, "SELECT sum(v) FROM base") == 451

    def test_drop_and_recreate(self, base):
        base.execute("DROP TABLE base")
        with pytest.raises(Exception, match="cannot be found|does not exist"):
            base.execute("SELECT * FROM base")
        base.execute("CREATE TABLE base (k BIGINT, v BIGINT)")
        base.execute("INSERT INTO base VALUES (1, 7)")
        assert rows(base.execute("SELECT * FROM base")) == [(1, 7)]

    def test_rename(self, base):
        base.execute("ALTER TABLE base RENAME TO moved")
        assert one(base, "SELECT count(*) FROM moved") == 10
        with pytest.raises(Exception, match="cannot be found|does not exist"):
            base.execute("SELECT * FROM base")

    def test_view_over_view_sees_base_write(self, base):
        base.execute("CREATE VIEW v1 AS SELECT k, v FROM base WHERE k >= 5")
        base.execute("CREATE VIEW v2 AS SELECT sum(v) AS s FROM v1")
        assert one(base, "SELECT s FROM v2") == 350
        base.execute("UPDATE base SET v = 0 WHERE k = 9")
        assert one(base, "SELECT s FROM v2") == 260
        base.execute("INSERT INTO base VALUES (20, 5)")
        assert one(base, "SELECT s FROM public.v2") == 265

    def test_view_over_replaced_function(self, base):
        import base64

        def spec(body):
            return json.dumps({
                "entrypoint": "f", "language": "python",
                "input_types": ["bigint"], "return_type": "bigint",
                "data": base64.b64encode(f"def f(x):\n    return {body}\n".encode()).decode(),
                "volatility": "immutable",
            })

        base.execute(f"CREATE FUNCTION bump AS '{spec('x + 1')}'")
        base.execute("CREATE VIEW vf AS SELECT max(bump(k)) AS m FROM base")
        assert one(base, "SELECT m FROM vf") == 10
        base.execute(f"CREATE OR REPLACE FUNCTION bump AS '{spec('x + 100')}'")
        assert one(base, "SELECT m FROM vf") == 109

    @pytest.mark.parametrize("sql", [
        "SELECT k /* don't */ FROM base",
        "SELECT k FROM other WHERE n <> 'it\\'s' UNION ALL SELECT k FROM base",
        "SELECT k -- don't\nFROM base",
        "SELECT k /* /* nested */ don't */ FROM base",
    ])
    def test_quote_in_comment_or_escape_hides_no_table(self, base, sql):
        # a quote Spark's lexer reads as part of a comment or an escape
        # must not open a literal that hides the table named after it:
        # the name would go unread and keep an earlier statement's rows
        base.execute("CREATE TABLE other (k BIGINT, n STRING)")
        assert sorted(r[0] for r in base.query(sql).collect()) == list(range(10))
        base.execute("INSERT INTO base VALUES (100, 1)")
        assert sorted(r[0] for r in base.query(sql).collect()) == [*range(10), 100]

    def test_view_where_returns_rows(self, base):
        # a filtered read of a view used to rebind the view's name to its
        # zero-file table directory and return nothing
        base.execute("CREATE VIEW vw AS SELECT k, v FROM base")
        assert rows(base.execute("SELECT k FROM vw WHERE k > 7")) == [(8,), (9,)]
        assert rows(base.execute("SELECT k FROM public.vw WHERE k < 1")) == [(0,)]
        assert one(base, "SELECT count(*) FROM vw") == 10


class TestNamespaces:
    def test_database_switch(self, ctx):
        ctx.execute("CREATE TABLE u (x int)")
        ctx.execute("INSERT INTO u VALUES (1)")
        assert rows(ctx.execute("SELECT * FROM u")) == [(1,)]
        ctx.execute("CREATE DATABASE db2")
        ctx.set_database("db2")
        ctx.execute("CREATE TABLE u (x int)")
        ctx.execute("INSERT INTO u VALUES (2)")
        assert rows(ctx.execute("SELECT * FROM u")) == [(2,)]
        ctx.set_database("default")
        assert rows(ctx.execute("SELECT * FROM u")) == [(1,)]

    def test_two_contexts_interleaved(self, spark, tmp_path):
        a = SeafowlContext(spark, str(tmp_path / "a"))
        b = SeafowlContext(spark, str(tmp_path / "b"))
        a.execute("CREATE TABLE t (x int); INSERT INTO t VALUES (1)")
        b.execute("CREATE TABLE t (x int); INSERT INTO t VALUES (2), (3)")
        a.execute("CREATE TABLE only_a (x int)")
        for _ in range(2):
            assert rows(a.execute("SELECT * FROM t")) == [(1,)]
            assert rows(b.execute("SELECT * FROM t")) == [(2,), (3,)]
        with pytest.raises(Exception, match="cannot be found|does not exist"):
            b.execute("SELECT * FROM only_a")
        a.execute("INSERT INTO t VALUES (4)")
        assert rows(b.execute("SELECT * FROM t")) == [(2,), (3,)]
        assert rows(a.execute("SELECT * FROM t")) == [(1,), (4,)]

    def test_flight_search_path_and_inline_shadow(self, ctx, tmp_path):
        ctx.execute("CREATE TABLE t (x int); INSERT INTO t VALUES (1)")
        ctx.execute("CREATE SCHEMA alt")
        ctx.execute("CREATE TABLE alt.t (x int); INSERT INTO alt.t VALUES (2)")
        shipped = tmp_path / "shipped"
        DeltaLiteTable.create(ctx.spark, str(shipped), ctx.execute("SELECT 9 AS x").schema)
        DeltaLiteTable(ctx.spark, str(shipped)).append(ctx.execute("SELECT 9 AS x"))
        srv = start_flight_server(ctx)
        client = flight.FlightClient(f"grpc://127.0.0.1:{srv.port}")

        def run(command):
            desc = flight.FlightDescriptor.for_command(json.dumps(command).encode())
            info = client.get_flight_info(desc)
            return client.do_get(info.endpoints[0].ticket).read_all().to_pydict()

        try:
            assert run({"query": "SELECT x FROM t"}) == {"x": [1]}
            assert run({"query": "SELECT x FROM t", "search_path": "alt"}) == {"x": [2]}
            assert run({"query": "SELECT x FROM t"}) == {"x": [1]}
            # an inline table that does not clash is served as shipped
            assert run({"query": "SELECT x FROM s", "tables": {"s": str(shipped)}}) == {"x": [9]}
            # one named like a catalog table is rebound to the catalog table
            # by the statement's reload, and stays so afterwards
            assert run({"query": "SELECT x FROM t", "tables": {"t": str(shipped)}}) == {"x": [1]}
            assert rows(ctx.execute("SELECT x FROM t")) == [(1,)]
        finally:
            srv.shutdown()


class TestBindingCost:
    def test_statement_reads_the_function_table_once(self, ctx, monkeypatch):
        """``_reads`` and the UDF registration share one read of the
        catalog's function table."""
        ctx.execute("CREATE TABLE ft (x int); INSERT INTO ft VALUES (1)")
        calls = []
        functions = type(ctx.catalog).functions
        monkeypatch.setattr(
            type(ctx.catalog), "functions",
            lambda self, db: calls.append(db) or functions(self, db),
        )
        assert one(ctx, "SELECT x FROM ft") == 1
        assert len(calls) == 1

    def test_unchanged_catalog_makes_no_to_df_calls(self, ctx, monkeypatch):
        """On a 40-table catalog a statement reads only the logs of what
        it reads, and an unchanged table's log is not replayed."""
        for i in range(40):
            ctx.execute(f"CREATE TABLE t{i:02d} (x int); INSERT INTO t{i:02d} VALUES ({i})")
        assert one(ctx, "SELECT x FROM t07") == 7
        calls = {"to_df": [], "snapshot": [], "read_commit": []}

        def spy(name):
            orig = getattr(DeltaLiteTable, name)

            def counting(self, *a, **k):
                calls[name].append(self.root)
                return orig(self, *a, **k)

            monkeypatch.setattr(DeltaLiteTable, name, counting)

        for name in calls:
            spy(name)

        def reset():
            for c in calls.values():
                c.clear()

        def roots(*names):
            return {ctx.delta_table(n).root for n in names}

        assert one(ctx, "SELECT x FROM t07") == 7
        assert calls["to_df"] == []
        assert set(calls["snapshot"]) == roots("t07")
        assert calls["read_commit"] == []
        # a revalidating GET: the ETag, then the statement
        reset()
        q = "SELECT x FROM public.t07"
        tag = ctx.etag_for_query(q)
        assert rows(ctx.execute(q)) == [(7,)]
        assert ctx.etag_for_query(q) == tag
        assert set(calls["snapshot"]) == roots("t07")
        assert calls["read_commit"] == []
        ctx.execute("INSERT INTO t03 VALUES (30)")
        reset()
        assert one(ctx, "SELECT count(*) FROM t03") == 2
        assert len(calls["to_df"]) == 1
        assert set(calls["snapshot"]) == set(calls["read_commit"]) == roots("t03")
        # a view over a view reads its own logs and its innermost base's
        ctx.execute("CREATE VIEW v1 AS SELECT x FROM t05 WHERE x >= 0")
        ctx.execute("CREATE VIEW v2 AS SELECT sum(x) AS s FROM v1")
        assert one(ctx, "SELECT s FROM v2") == 5
        ctx.execute("INSERT INTO t05 VALUES (10)")
        reset()
        assert one(ctx, "SELECT s FROM v2") == 15
        assert set(calls["snapshot"]) == roots("t05", "v1", "v2")

    def test_registry_is_per_session(self, spark):
        assert bindings.for_session(spark) is bindings.for_session(spark)
        other = spark.newSession()
        assert bindings.for_session(other) is not bindings.for_session(spark)

    def test_reads_follow_spark_parse(self, ctx):
        """``_reads`` counts what Spark's parser reads as a relation: a
        literal (``''`` and ``\\'`` escapes included), a comment (nested,
        or a ``--`` one continued by a backslash), a hint or a column is
        not a read, and a name after them is."""
        for n in ("a", "b", "c", "d", "t2", "t3", "t4"):
            ctx.execute(f"CREATE TABLE {n} (x INT, y INT, name STRING, n STRING)")

        def reads(sql):
            return {e.name for e, _snap in ctx._reads(sql).tables.values()}

        assert reads(
            "SELECT `__sfs__public__a`.x, T2.y, b FROM `__sfs__public__a`, T2 "
            "WHERE name = 't3' AND 'it''s t4' <> 'x+y'"
        ) == {"a", "t2"}
        assert reads("SELECT x /* don't */ FROM a") == {"a"}
        assert reads("SELECT x /* b /* c */ d */ FROM a") == {"a"}
        assert reads("SELECT x FROM a WHERE n <> 'it\\'s b' UNION SELECT x FROM c") == {"a", "c"}
        assert reads("SELECT r'C:\\' FROM a") == {"a"}
        assert reads("SELECT x -- it's b \\\n c\nFROM a") == {"a"}
        assert reads("SELECT /*+ BROADCAST(b) */ x FROM a") == {"a"}

    def test_scan_quotes_follows_spark_lexer(self):
        """Quoted identifiers end where Spark's lexer ends them, and
        statements split at the semicolons outside literals and
        comments."""
        from seafowl_spark.engine.parser import scan_quotes, split_statements

        sql = 'SELECT "a\\"b", `c``d` FROM a'
        assert [(k, sql[i:j]) for k, i, j in scan_quotes(sql)] == [
            ("dquote", '"a\\"b"'), ("btick", "`c``d`"),
        ]
        assert split_statements(
            "SELECT 'a;\\'b'; SELECT 2 -- x;y\n; /* ; */ SELECT 3"
        ) == ["SELECT 'a;\\'b'", "SELECT 2", "/* ; */ SELECT 3"]


def test_system_name_tuples_match_builders(ctx):
    ctx.execute("SELECT 1")
    assert set(_SYSTEM_TABLE_NAMES) == set(ctx._system_tables())
    assert set(_INFO_SCHEMA_NAMES) == set(ctx._information_schema())


def test_empty_table_with_quoted_nested_field(ctx, tmp_path):
    ctx.execute("CREATE TABLE e (id int, s STRUCT<`x y`: INT>)")
    df = ctx.execute("SELECT * FROM e")
    assert df.collect() == []
    assert [f.name for f in df.schema["s"].dataType.fields] == ["x y"]
    schema = ctx.spark.sql(
        "SELECT named_struct('x y', 1, 'a.b', array(named_struct('c`d', 'z'))) AS `s t`"
    ).schema
    t = DeltaLiteTable.create(ctx.spark, str(tmp_path / "nested"), schema)
    empty = t.to_df()
    assert empty.collect() == []
    assert empty.schema.simpleString() == schema.simpleString()


def test_contexts_on_threads_read_their_own_tables(spark, tmp_path):
    """More threads than cores, each with its own context on one session,
    writing and reading a table every context names `t`: a read analyzed
    against another context's binding of `t` returns the wrong count."""
    import sys
    import threading

    ctxs = [SeafowlContext(spark, str(tmp_path / f"c{i}")) for i in range(8)]
    for i, c in enumerate(ctxs):
        c.execute(f"CREATE TABLE t (x int); INSERT INTO t VALUES ({i})")
    dialect = spark.conf.get("spark.sql.ansi.doubleQuotedIdentifiers")
    errors = []

    def work(i, c):
        try:
            for k in range(2):
                c.execute(f"INSERT INTO t VALUES ({i})")
                got = rows(c.execute("SELECT count(*), min(x), max(x) FROM t"))
                if got != [(k + 2, i, i)]:
                    errors.append((i, k, got))
        except Exception as exc:  # noqa: BLE001 — reported below
            errors.append((i, repr(exc)))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=work, args=(i, c)) for i, c in enumerate(ctxs)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=300)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)
    assert errors == []
    # the scoped dialect conf is session state too: interleaved statements
    # must not leave it switched on
    assert spark.conf.get("spark.sql.ansi.doubleQuotedIdentifiers") == dialect
