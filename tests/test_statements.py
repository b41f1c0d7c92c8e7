"""Statement corpus — golden-output tests per statement family, mirroring
the reference's tests/statements/{ddl,dml,query,time_travel,convert,vacuum,
truncate}.rs structure (SURVEY.md §5)."""

import base64
import json
import os
import time

import pytest

from seafowl_spark.engine import deltalite
from seafowl_spark.engine.context import ExecutionError
from seafowl_spark.engine.deltalite import DeltaLiteTable
from tests.conftest import rows

FIXTURE = (
    "CREATE TABLE t (c_int int, c_big bigint, c_text varchar, c_float double, c_ts timestamp)"
)


def seed(ctx):
    ctx.execute(FIXTURE)
    ctx.execute(
        "INSERT INTO t VALUES "
        "(1, 10, 'one', 1.5, TIMESTAMP '2024-01-01 00:00:00'), "
        "(2, 20, 'two', 2.5, TIMESTAMP '2024-01-02 00:00:00'), "
        "(3, 30, 'three', 3.5, TIMESTAMP '2024-01-03 00:00:00')"
    )


# ----------------------------------------------------------------- DDL


class TestDDL:
    def test_create_insert_select(self, ctx):
        seed(ctx)
        out = ctx.execute("SELECT c_int, c_text FROM t ORDER BY c_int")
        assert rows(out) == [(1, "one"), (2, "two"), (3, "three")]

    def test_create_if_not_exists(self, ctx):
        seed(ctx)
        ctx.execute("CREATE TABLE IF NOT EXISTS t (x int)")  # no error
        with pytest.raises(Exception, match="already exists"):
            ctx.execute("CREATE TABLE t (x int)")

    def test_schema_qualified(self, ctx):
        ctx.execute("CREATE SCHEMA s2")
        ctx.execute("CREATE TABLE s2.t2 (x int)")
        ctx.execute("INSERT INTO s2.t2 VALUES (42)")
        assert rows(ctx.execute("SELECT * FROM s2.t2")) == [(42,)]

    def test_create_database_and_use(self, ctx):
        ctx.execute("CREATE DATABASE db2")
        assert "db2" in ctx.catalog.databases()
        ctx.set_database("db2")
        ctx.execute("CREATE TABLE u (x int)")
        ctx.execute("INSERT INTO u VALUES (7)")
        assert rows(ctx.execute("SELECT * FROM u")) == [(7,)]
        ctx.set_database("default")
        with pytest.raises(Exception, match="cannot be found|does not exist"):
            ctx.execute("SELECT * FROM u")

    def test_rename_table(self, ctx):
        seed(ctx)
        uuid_before = ctx.catalog.get_table("default", "public", "t").uuid
        ctx.execute("ALTER TABLE t RENAME TO t_new")
        assert ctx.catalog.get_table("default", "public", "t") is None
        # data did not move: same uuid dir (A11 catalog-only rename)
        assert ctx.catalog.get_table("default", "public", "t_new").uuid == uuid_before
        assert rows(ctx.execute("SELECT count(*) AS n FROM t_new")) == [(3,)]

    def test_rename_into_schema(self, ctx):
        seed(ctx)
        ctx.execute("CREATE SCHEMA other")
        ctx.execute("ALTER TABLE t RENAME TO other.t")
        assert rows(ctx.execute("SELECT count(*) AS n FROM other.t")) == [(3,)]

    def test_drop_table(self, ctx):
        seed(ctx)
        root = ctx.table_root(ctx.catalog.get_table("default", "public", "t"))
        ctx.execute("DROP TABLE t")
        assert not os.path.exists(root)
        with pytest.raises(Exception, match="cannot be found|does not exist"):
            ctx.execute("SELECT * FROM t")
        ctx.execute("DROP TABLE IF EXISTS t")  # no error

    def test_drop_schema(self, ctx):
        ctx.execute("CREATE SCHEMA s3")
        ctx.execute("CREATE TABLE s3.a (x int)")
        ctx.execute("DROP SCHEMA s3")
        assert "s3" not in ctx.catalog.schemas("default")

    def test_ctas(self, ctx):
        seed(ctx)
        ctx.execute("CREATE TABLE t2 AS SELECT c_int * 2 AS d FROM t")
        assert rows(ctx.execute("SELECT * FROM t2")) == [(2,), (4,), (6,)]

    def test_reserved_schema_names(self, ctx):
        with pytest.raises(Exception, match="reserved"):
            ctx.execute("CREATE SCHEMA staging")


# ----------------------------------------------------------------- DML


class TestDML:
    def test_insert_column_subset_pads_null(self, ctx):
        seed(ctx)
        ctx.execute("INSERT INTO t (c_int, c_text) VALUES (4, 'four')")
        out = ctx.execute("SELECT c_int, c_big, c_text FROM t WHERE c_int = 4")
        assert rows(out) == [(4, None, "four")]

    def test_insert_select(self, ctx):
        seed(ctx)
        ctx.execute("INSERT INTO t SELECT c_int + 10, c_big, c_text, c_float, c_ts FROM t")
        assert rows(ctx.execute("SELECT count(*) AS n FROM t")) == [(6,)]

    def test_insert_implicit_cast(self, ctx):
        seed(ctx)
        ctx.execute("INSERT INTO t (c_big) VALUES (99)")  # int literal -> bigint
        assert (99,) in rows(ctx.execute("SELECT c_big FROM t"))

    def test_update_with_predicate(self, ctx):
        seed(ctx)
        ctx.execute("UPDATE t SET c_text = 'TWO', c_float = c_float * 10 WHERE c_int = 2")
        out = ctx.execute("SELECT c_int, c_text, c_float FROM t ORDER BY c_int")
        assert rows(out) == [(1, "one", 1.5), (2, "TWO", 25.0), (3, "three", 3.5)]

    def test_update_no_predicate(self, ctx):
        seed(ctx)
        ctx.execute("UPDATE t SET c_int = 0")
        assert rows(ctx.execute("SELECT DISTINCT c_int FROM t")) == [(0,)]

    def test_delete_with_predicate(self, ctx):
        seed(ctx)
        ctx.execute("DELETE FROM t WHERE c_int >= 2")
        assert rows(ctx.execute("SELECT c_int FROM t")) == [(1,)]

    def test_delete_all_removes_files_without_scan(self, ctx):
        seed(ctx)
        ctx.execute("DELETE FROM t")
        assert rows(ctx.execute("SELECT count(*) AS n FROM t")) == [(0,)]
        t = ctx.delta_table("t")
        assert t.read_commit(t.latest_version()).adds == []  # pure remove commit

    def test_truncate(self, ctx):
        seed(ctx)
        ctx.execute("TRUNCATE TABLE t")
        assert rows(ctx.execute("SELECT count(*) AS n FROM t")) == [(0,)]
        # schema survives
        ctx.execute("INSERT INTO t (c_int) VALUES (9)")
        assert rows(ctx.execute("SELECT c_int FROM t")) == [(9,)]

    def test_update_prunes_files(self, ctx):
        """Copy-on-write UPDATE must not rewrite files the predicate
        provably misses (reference physical.rs:274-299)."""
        ctx.execute("CREATE TABLE p (k bigint, v varchar)")
        ctx.execute("INSERT INTO p VALUES (1, 'a'), (2, 'b')")
        ctx.execute("INSERT INTO p VALUES (100, 'x'), (200, 'y')")
        t = ctx.delta_table("p")
        before = {f.path for f in t.snapshot().files}
        assert len(before) == 2
        ctx.execute("UPDATE p SET v = 'Z' WHERE k > 150")
        t = ctx.delta_table("p")
        commit = t.read_commit(t.latest_version())
        assert len(commit.removes) == 1  # only the second file rewritten
        out = ctx.execute("SELECT k, v FROM p ORDER BY k")
        assert rows(out) == [(1, "a"), (2, "b"), (100, "x"), (200, "Z")]

    def test_update_by_date_spellings_rewrites_the_matching_file(self, ctx):
        """A DATE column equals a string literal after casting it, so
        '2024-1-5' and '2024-01-05 10:00:00' both match DATE'2024-01-05';
        stats pruning compared the text and skipped the file holding it."""
        ctx.execute("CREATE TABLE pd (d date, v bigint)")
        ctx.execute("INSERT INTO pd VALUES (DATE'2024-01-05', 1)")
        ctx.execute("INSERT INTO pd VALUES (DATE'2024-01-06', 2)")
        for lit in ("2024-1-5", "2024-01-05 10:00:00"):
            ctx.execute(f"UPDATE pd SET v = v + 10 WHERE d = '{lit}'")
        out = ctx.execute("SELECT d, v FROM pd ORDER BY d").collect()
        assert [(str(r.d), r.v) for r in out] == [("2024-01-05", 21), ("2024-01-06", 2)]


# ----------------------------------------------------------------- queries


class TestQuery:
    def test_multi_statement_last_read(self, ctx):
        out = ctx.execute(
            "CREATE TABLE m (x int); INSERT INTO m VALUES (1), (2); SELECT sum(x) AS s FROM m"
        )
        assert rows(out) == [(3,)]

    def test_multi_statement_read_not_last_rejected(self, ctx):
        with pytest.raises(Exception, match="last statement"):
            ctx.execute("SELECT 1; CREATE TABLE z (x int)")

    def test_aggregates_and_joins(self, ctx):
        seed(ctx)
        ctx.execute("CREATE TABLE dim (c_int int, label varchar)")
        ctx.execute("INSERT INTO dim VALUES (1, 'lo'), (2, 'lo'), (3, 'hi')")
        out = ctx.execute(
            "SELECT d.label, sum(t.c_big) AS s FROM t JOIN dim d ON t.c_int = d.c_int "
            "GROUP BY d.label ORDER BY d.label"
        )
        assert rows(out) == [("hi", 30), ("lo", 30)]

    def test_values_and_case(self, ctx):
        out = ctx.execute(
            "SELECT CASE WHEN x > 1 THEN 'big' ELSE 'small' END AS b "
            "FROM VALUES (1), (2) AS v(x) ORDER BY x"
        )
        assert rows(out) == [("big",), ("small",)]

    def test_system_table_versions(self, ctx):
        seed(ctx)
        out = ctx.execute(
            "SELECT table_name, version, operation FROM system.table_versions ORDER BY version"
        )
        assert rows(out) == [("t", 0, "CREATE TABLE"), ("t", 1, "INSERT")]

    def test_system_dropped_tables(self, ctx):
        seed(ctx)
        ctx.execute("DROP TABLE t")
        out = ctx.execute("SELECT name FROM system.dropped_tables")
        assert rows(out) == [("t",)]


# ----------------------------------------------------------------- time travel


class TestTimeTravel:
    def test_version_query(self, ctx):
        seed(ctx)
        t = ctx.delta_table("t")
        v1_commit = t.read_commit(1)
        # readable ISO timestamp of version 1 (the INSERT)
        import datetime as dt

        ts = dt.datetime.fromtimestamp(
            v1_commit.timestamp_ms / 1000, dt.timezone.utc
        ).strftime("%Y-%m-%dT%H:%M:%S.%f")
        time.sleep(0.01)
        ctx.execute("INSERT INTO t (c_int) VALUES (4)")
        assert rows(ctx.execute("SELECT count(*) AS n FROM t")) == [(4,)]
        out = ctx.execute(f"SELECT count(*) AS n FROM t('{ts}+00:00')")
        assert rows(out) == [(3,)]

    def test_time_travel_join_with_current(self, ctx):
        seed(ctx)
        t = ctx.delta_table("t")
        import datetime as dt

        ts = dt.datetime.fromtimestamp(
            t.read_commit(1).timestamp_ms / 1000, dt.timezone.utc
        ).strftime("%Y-%m-%dT%H:%M:%S.%f+00:00")
        time.sleep(0.01)
        ctx.execute("DELETE FROM t WHERE c_int = 1")
        # diff old vs new via EXCEPT (reference time_travel.rs:111-140 pattern)
        out = ctx.execute(
            f"SELECT c_int FROM t('{ts}') EXCEPT SELECT c_int FROM t"
        )
        assert rows(out) == [(1,)]

    def test_too_early_timestamp_errors(self, ctx):
        seed(ctx)
        with pytest.raises(Exception, match="no version"):
            ctx.execute("SELECT * FROM t('2000-01-01T00:00:00+00:00')")


# ----------------------------------------------------------------- vacuum


class TestVacuum:
    def test_vacuum_table_removes_dead_files(self, ctx):
        seed(ctx)
        ctx.execute("UPDATE t SET c_int = c_int + 1")  # rewrites all files
        t = ctx.delta_table("t")
        dead = [r for c in t.history() for r in c.removes]
        assert dead
        live_before = {f.path for f in t.snapshot().files}
        ctx.execute("VACUUM TABLE t")
        for r in dead:
            assert not os.path.exists(os.path.join(t.root, r))
        assert {f.path for f in t.snapshot().files} == live_before
        assert rows(ctx.execute("SELECT count(*) AS n FROM t")) == [(3,)]

    def test_vacuum_database_gcs_dropped(self, ctx):
        seed(ctx)
        uuid = ctx.catalog.get_table("default", "public", "t").uuid
        ctx.execute("DROP TABLE t")
        assert ctx.catalog.dropped_tables()
        ctx.execute("VACUUM DATABASE default")
        assert ctx.catalog.dropped_tables() == []
        assert not os.path.exists(os.path.join(ctx.data_dir, uuid))


# ----------------------------------------------------------------- convert / copy


class TestConvertCopy:
    def test_copy_to_parquet_and_back(self, ctx, tmp_path):
        seed(ctx)
        dest = str(tmp_path / "export")
        ctx.execute(f"COPY t TO '{dest}'")
        back = ctx.spark.read.parquet(dest)
        assert back.count() == 3

    def test_copy_partitioned_by(self, ctx, tmp_path):
        """COPY ... PARTITIONED BY exports a hive-layout directory tree
        (reference parser.rs:253-337 accepts the same clause)."""
        import os

        ctx.execute("CREATE TABLE cp (k int, part text)")
        ctx.execute("INSERT INTO cp VALUES (1, 'a'), (2, 'a'), (3, 'b')")
        out = str(tmp_path / "part_out")
        ctx.execute(f"COPY cp TO '{out}' STORED AS PARQUET PARTITIONED BY (part)")
        subdirs = {d for d in os.listdir(out) if d.startswith("part=")}
        assert subdirs == {"part=a", "part=b"}
        back = ctx.spark.read.parquet(out)
        assert sorted((r.k, r.part) for r in back.collect()) == [(1, "a"), (2, "a"), (3, "b")]

    def test_copy_query_to_csv(self, ctx, tmp_path):
        seed(ctx)
        dest = str(tmp_path / "export_csv")
        ctx.execute(f"COPY (SELECT c_int, c_text FROM t) TO '{dest}' STORED AS CSV")
        back = ctx.spark.read.option("header", "true").csv(dest)
        assert back.count() == 3

    def test_copy_to_iceberg_and_back(self, ctx, tmp_path):
        """COPY ... STORED AS ICEBERG commits one append snapshot per COPY
        (our extension; readable back through STORED AS ICEBERG)."""
        seed(ctx)
        dest = str(tmp_path / "export_ice")
        ctx.execute(f"COPY (SELECT c_int, c_text FROM t) TO '{dest}' STORED AS ICEBERG")
        meta = f"{dest}/metadata/v1.metadata.json"
        ctx.execute(f"CREATE EXTERNAL TABLE ice_back STORED AS ICEBERG LOCATION '{meta}'")
        assert ctx.execute("SELECT count(*) AS n FROM staging.ice_back").collect()[0]["n"] == 3
        # a second COPY appends a snapshot; v2 metadata sees both
        ctx.execute(f"COPY (SELECT c_int, c_text FROM t) TO '{dest}' STORED AS ICEBERG")
        from seafowl_spark.sources.iceberg import read_iceberg

        assert read_iceberg(ctx.spark, f"{dest}/metadata/v2.metadata.json").count() == 6

    def test_convert_to_delta(self, ctx, tmp_path):
        seed(ctx)
        plain = str(tmp_path / "plain")
        os.makedirs(plain)
        df = ctx.execute("SELECT c_int, c_text FROM t")
        pdf = df.toPandas()
        import pyarrow as pa
        import pyarrow.parquet as pq

        pq.write_table(pa.Table.from_pandas(pdf), os.path.join(plain, "part0.parquet"))
        ctx.execute(f"CONVERT '{plain}' TO DELTA converted")
        assert rows(ctx.execute("SELECT count(*) AS n FROM converted")) == [(3,)]


# ----------------------------------------------------------------- external tables


class TestExternalTables:
    def test_unbounded_external_table_parses(self, ctx, tmp_path):
        """The reference parses CREATE UNBOUNDED EXTERNAL TABLE
        (parser.rs:395-398) even though nothing downstream consumes the
        flag; accept and route to the same external-table path."""
        from seafowl_spark.engine import parser

        p = tmp_path / "ub.csv"
        p.write_text("a,b\n7,z\n")
        stmt = parser.parse_statement(
            f"CREATE UNBOUNDED EXTERNAL TABLE ub STORED AS CSV LOCATION '{p}'"
        )
        assert stmt.kind == "create_external_table" and stmt.unbounded
        assert not parser.parse_statement(
            f"CREATE EXTERNAL TABLE b2 STORED AS CSV LOCATION '{p}'"
        ).unbounded
        ctx.execute(
            f"CREATE UNBOUNDED EXTERNAL TABLE ub STORED AS CSV LOCATION '{p}'"
        )
        assert rows(ctx.execute("SELECT a, b FROM staging.ub")) == [(7, "z")]

    def test_external_csv(self, ctx, tmp_path):
        p = tmp_path / "ext.csv"
        p.write_text("a,b\n1,x\n2,y\n")
        ctx.execute(f"CREATE EXTERNAL TABLE ext STORED AS CSV LOCATION '{p}'")
        out = ctx.execute("SELECT * FROM staging.ext ORDER BY a")
        assert rows(out) == [(1, "x"), (2, "y")]
        # bare name resolves too (staging is in the search path)
        assert rows(ctx.execute("SELECT count(*) AS n FROM ext")) == [(2,)]

    def test_external_parquet_with_schema(self, ctx, tmp_path):
        seed(ctx)
        dest = str(tmp_path / "pq")
        ctx.execute(f"COPY (SELECT c_int FROM t) TO '{dest}'")
        ctx.execute(
            f"CREATE EXTERNAL TABLE extp (c_int int) STORED AS PARQUET LOCATION '{dest}'"
        )
        assert rows(ctx.execute("SELECT count(*) AS n FROM extp")) == [(3,)]


# ----------------------------------------------------------------- functions


class TestExternalPartitioned:
    def test_partitioned_roundtrip(self, ctx, tmp_path):
        """COPY PARTITIONED BY -> CREATE EXTERNAL TABLE ... PARTITIONED BY
        over the hive tree: partition columns come back as columns."""
        ctx.execute("CREATE TABLE ep (k int, part text)")
        ctx.execute("INSERT INTO ep VALUES (1, 'a'), (2, 'b')")
        out = str(tmp_path / "tree")
        ctx.execute(f"COPY ep TO '{out}' STORED AS PARQUET PARTITIONED BY (part)")
        ctx.execute(
            f"CREATE EXTERNAL TABLE ep_back STORED AS PARQUET PARTITIONED BY (part) LOCATION '{out}'"
        )
        got = ctx.execute("SELECT k, part FROM staging.ep_back ORDER BY k")
        assert [(r.k, r.part) for r in got.collect()] == [(1, "a"), (2, "b")]

    def test_partitioned_missing_column_errors(self, ctx, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        p = str(tmp_path / "flat.parquet")
        pq.write_table(pa.table({"x": [1, 2]}), p)
        with pytest.raises(Exception, match="nope"):
            ctx.execute(
                f"CREATE EXTERNAL TABLE bad STORED AS PARQUET PARTITIONED BY (nope) LOCATION '{p}'"
            )


class TestFunctions:
    def _spec(self, source: str, entrypoint: str, inputs, ret):
        return json.dumps(
            {
                "entrypoint": entrypoint,
                "language": "python",
                "input_types": inputs,
                "return_type": ret,
                "data": base64.b64encode(source.encode()).decode(),
                "volatility": "immutable",
            }
        )

    def test_create_and_call_function(self, ctx):
        seed(ctx)
        spec = self._spec("def add_one(x):\n    return x + 1\n", "add_one", ["bigint"], "bigint")
        ctx.execute(f"CREATE FUNCTION add_one AS '{spec}'")
        out = ctx.execute("SELECT add_one(c_big) AS r FROM t ORDER BY c_big")
        assert rows(out) == [(11,), (21,), (31,)]

    def test_or_replace_and_drop(self, ctx):
        seed(ctx)
        spec1 = self._spec("def f(x):\n    return x * 2\n", "f", ["bigint"], "bigint")
        ctx.execute(f"CREATE FUNCTION dbl AS '{spec1}'")
        with pytest.raises(Exception, match="already exists"):
            ctx.execute(f"CREATE FUNCTION dbl AS '{spec1}'")
        spec2 = self._spec("def f(x):\n    return x * 3\n", "f", ["bigint"], "bigint")
        ctx.execute(f"CREATE OR REPLACE FUNCTION dbl AS '{spec2}'")
        assert rows(ctx.execute("SELECT dbl(2) AS r")) == [(6,)]
        ctx.execute("DROP FUNCTION dbl")
        assert ctx.catalog.functions("default") == {}
        ctx.execute("DROP FUNCTION IF EXISTS dbl")  # no error

    def test_bad_spec_rejected(self, ctx):
        with pytest.raises(Exception, match="missing"):
            ctx.execute("CREATE FUNCTION broken AS '{\"language\": \"python\"}'")


# ----------------------------------------------------------------- ETag


class TestETag:
    def test_lazy_name_tuples_match_built_frames(self, ctx):
        """_reads and the rewrite mapping know the introspection frames by
        these tuples; they must name exactly the frames that get built."""
        from seafowl_spark.engine.context import _INFO_SCHEMA_NAMES, _SYSTEM_TABLE_NAMES

        seed(ctx)
        assert sorted(_SYSTEM_TABLE_NAMES) == sorted(ctx._system_tables())
        assert sorted(_INFO_SCHEMA_NAMES) == sorted(ctx._information_schema())

    def test_etag_changes_on_write(self, ctx):
        seed(ctx)
        e1 = ctx.etag_for_query("SELECT * FROM t")
        e2 = ctx.etag_for_query("SELECT * FROM t")
        assert e1 == e2
        ctx.execute("INSERT INTO t (c_int) VALUES (99)")
        assert ctx.etag_for_query("SELECT * FROM t") != e1

    def test_etag_staging_read_never_repeats(self, ctx, tmp_path):
        """Staging tables carry no version, so a read of one never
        revalidates to 304."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        p = str(tmp_path / "s.parquet")
        pq.write_table(pa.table({"x": [1]}), p)
        ctx.execute(f"CREATE EXTERNAL TABLE ext STORED AS PARQUET LOCATION '{p}'")
        q = "SELECT * FROM staging.ext"
        assert ctx.etag_for_query(q) != ctx.etag_for_query(q)

    def test_etag_ignores_untouched_tables(self, ctx):
        seed(ctx)
        ctx.execute("CREATE TABLE other (x int)")
        e1 = ctx.etag_for_query("SELECT * FROM t")
        ctx.execute("INSERT INTO other VALUES (1)")
        assert ctx.etag_for_query("SELECT * FROM t") == e1


# ----------------------------------------------------------------- metadata


class TestMetadata:
    def test_show_tables(self, ctx):
        seed(ctx)
        out = ctx.execute("SHOW TABLES")
        got = rows(out)
        assert ("public", "t") in got
        assert ("system", "table_versions") in got

    def test_show_columns(self, ctx):
        seed(ctx)
        out = ctx.execute("SHOW COLUMNS FROM t")
        assert ("c_int", "int", True) in rows(out)
        out2 = ctx.execute("DESCRIBE t")
        assert rows(out) == rows(out2)

    def test_vacuum_collects_orphans(self, ctx):
        """Files left by failed writes (never committed) are GC'd."""
        seed(ctx)
        t = ctx.delta_table("t")
        orphan_dir = os.path.join(t.root, "data", "txn-orphan")
        os.makedirs(orphan_dir)
        orphan = os.path.join(orphan_dir, "stray.parquet")
        open(orphan, "wb").write(b"junk")
        ctx.execute("VACUUM TABLE t")
        assert not os.path.exists(orphan)
        assert rows(ctx.execute("SELECT count(*) AS n FROM t")) == [(3,)]


# ----------------------------------------------------------------- optimize


class TestOptimize:
    def test_optimize_compacts_small_files(self, ctx):
        ctx.execute("CREATE TABLE o (x bigint)")
        for i in range(4):
            ctx.execute(f"INSERT INTO o VALUES ({i * 10}), ({i * 10 + 1})")
        t = ctx.delta_table("o")
        assert len(t.snapshot().files) == 4
        ctx.execute("OPTIMIZE TABLE o")
        t = ctx.delta_table("o")
        assert len(t.snapshot().files) == 1
        assert rows(ctx.execute("SELECT count(*) AS n, sum(x) AS s FROM o")) == [(8, 124)]
        # second optimize is a no-op commit
        ctx.execute("OPTIMIZE o")
        t = ctx.delta_table("o")
        c = t.read_commit(t.latest_version())
        assert c.adds == [] and c.removes == []

    def test_information_schema(self, ctx):
        seed(ctx)
        out = ctx.execute(
            "SELECT table_schema, table_name FROM information_schema.tables"
        )
        assert ("public", "t") in rows(out)
        cols = ctx.execute(
            "SELECT column_name, data_type, ordinal_position "
            "FROM information_schema.columns WHERE table_name = 't' ORDER BY ordinal_position"
        )
        got = [tuple(r) for r in cols.collect()]
        assert got[0] == ("c_int", "int", 1)
        assert len(got) == 5


class TestTimeTravelStdSyntax:
    def test_for_timestamp_as_of(self, ctx):
        seed(ctx)
        t = ctx.delta_table("t")
        import datetime as dt

        ts = dt.datetime.fromtimestamp(
            t.read_commit(1).timestamp_ms / 1000, dt.timezone.utc
        ).strftime("%Y-%m-%dT%H:%M:%S.%f+00:00")
        time.sleep(0.01)
        ctx.execute("INSERT INTO t (c_int) VALUES (99)")
        out = ctx.execute(f"SELECT count(*) AS n FROM t FOR TIMESTAMP AS OF '{ts}'")
        assert rows(out) == [(3,)]

    def test_for_version_as_of(self, ctx):
        """Delta-standard version travel (our extension; the reference is
        timestamp-only): every commit version stays addressable, and a
        version read joins cleanly with the current table."""
        seed(ctx)
        ctx.execute("INSERT INTO t (c_int) VALUES (99)")
        assert rows(ctx.execute("SELECT count(*) AS n FROM t FOR VERSION AS OF 1")) == [(3,)]
        assert rows(ctx.execute("SELECT count(*) AS n FROM t FOR VERSION AS OF 2")) == [(4,)]
        out = ctx.execute(
            "SELECT count(*) AS n FROM t FOR VERSION AS OF 2 a "
            "JOIN t FOR VERSION AS OF 1 b ON a.c_int = b.c_int"
        )
        assert rows(out) == [(3,)]

    def test_table_name_stays_addressable_without_alias(self, ctx):
        """Standard SQL keeps the table's own name as the relation
        qualifier under time travel — the rewrite re-exposes it as the
        alias (r10: a join matview over `FROM fact FOR VERSION AS OF n
        JOIN dim ON fact.k = dim.k` hit exactly this)."""
        seed(ctx)
        ctx.execute("CREATE TABLE u (c_int int)")
        ctx.execute("INSERT INTO u (c_int) VALUES (1)")
        out = ctx.execute(
            "SELECT count(*) AS n FROM t FOR VERSION AS OF 1 "
            "JOIN u ON t.c_int = u.c_int"
        )
        assert rows(out) == [(1,)]
        # qualified select-list reference too
        out = ctx.execute(
            "SELECT t.c_int AS v FROM t FOR VERSION AS OF 1 "
            "WHERE t.c_int = 1"
        )
        assert rows(out) == [(1,)]
        # an explicit user alias still wins (no double-alias injection)
        out = ctx.execute(
            "SELECT a.c_int AS v FROM t FOR VERSION AS OF 1 a "
            "WHERE a.c_int = 1"
        )
        assert rows(out) == [(1,)]


# slow tier (r14): multi-minute stress/matrix class, excluded
# from the default gate (opt in with --runslow / -m slow)
@pytest.mark.slow
class TestConcurrency:
    """Optimistic concurrency: appends retry the commit race (their adds
    are base-independent); snapshot-based ops commit at base+1 so the
    atomic put-if-absent rejects lost updates (reference delta.rs:429-440
    leans on the object store's put-if-absent the same way)."""

    def test_concurrent_inserts_all_land(self, ctx):
        import threading

        ctx.execute("CREATE TABLE conc (x int)")
        errs = []

        def ins(i):
            try:
                ctx.execute(f"INSERT INTO conc VALUES ({i})")
            except Exception as e:  # noqa: BLE001
                errs.append(e)

        threads = [threading.Thread(target=ins, args=(i,)) for i in range(6)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        assert errs == []
        got = rows(ctx.execute("SELECT x FROM conc"))
        assert got == [(i,) for i in range(6)]
        # every insert claimed its own version
        assert ctx.delta_table("conc").latest_version() == 6

    def test_stale_snapshot_commit_rejected(self, ctx):
        from seafowl_spark.engine.deltalite import ConcurrentCommitError

        ctx.execute("CREATE TABLE stale (x int)")
        ctx.execute("INSERT INTO stale VALUES (1)")
        t = ctx.delta_table("stale")
        base = t.latest_version()
        ctx.execute("INSERT INTO stale VALUES (2)")  # someone else commits
        with pytest.raises(ConcurrentCommitError):
            t._next_commit("UPDATE", [], ["ghost.parquet"], base_version=base)

    def test_concurrent_updates_no_lost_updates(self, ctx):
        """Four writers updating disjoint key ranges at once: with
        snapshot-based OCC + statement retry, every update must land
        (before the base_version fix, a racing UPDATE could silently
        clobber another's commit)."""
        import threading

        ctx.execute("CREATE TABLE cu (k int, v varchar)")
        ctx.execute(
            "INSERT INTO cu VALUES " + ", ".join(f"({i}, 'old')" for i in range(8))
        )
        errs = []

        def upd(lo):
            try:
                ctx.execute(f"UPDATE cu SET v = 'new{lo}' WHERE k >= {lo} AND k < {lo + 2}")
            except Exception as e:  # noqa: BLE001
                errs.append(e)

        threads = [threading.Thread(target=upd, args=(lo,)) for lo in (0, 2, 4, 6)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        assert errs == []
        got = rows(ctx.execute("SELECT k, v FROM cu"))
        assert got == [(i, f"new{(i // 2) * 2}") for i in range(8)]


class TestPartitionPruningPlan:
    def test_partition_filter_reaches_scan(self, ctx, tmp_path):
        """A predicate on the hive partition column must become a
        PartitionFilter (directory pruning — at 100 TB the difference
        between listing one partition and scanning the tree)."""
        ctx.execute("CREATE TABLE pp (k int, part text)")
        ctx.execute("INSERT INTO pp VALUES (1, 'a'), (2, 'b'), (3, 'c')")
        out = str(tmp_path / "ptree")
        ctx.execute(f"COPY pp TO '{out}' STORED AS PARQUET PARTITIONED BY (part)")
        ctx.execute(
            f"CREATE EXTERNAL TABLE pp_back STORED AS PARQUET PARTITIONED BY (part) LOCATION '{out}'"
        )
        df = ctx.execute("SELECT k FROM staging.pp_back WHERE part = 'b'")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [" in plan
        assert "part#" in plan.split("PartitionFilters:")[1].split("]")[0]
        assert [r.k for r in df.collect()] == [2]


class TestSystemTableFiles:
    def test_table_files_reflects_layout(self, ctx):
        ctx.execute("CREATE TABLE stf (x int)")
        ctx.execute("INSERT INTO stf VALUES (1)")
        ctx.execute("INSERT INTO stf VALUES (2)")
        out = rows(ctx.execute(
            "SELECT table_name, count(*) AS files, sum(rows) AS total_rows "
            "FROM system.table_files WHERE table_name = 'stf' GROUP BY table_name"
        ))
        assert out == [("stf", 2, 2)]
        ctx.execute("OPTIMIZE stf")
        out = rows(ctx.execute(
            "SELECT count(*) AS files FROM system.table_files WHERE table_name = 'stf'"
        ))
        assert out == [(1,)]


class TestLogCheckpoints:
    def test_checkpoint_snapshot_equivalence(self, ctx):
        """Past CHECKPOINT_INTERVAL commits, snapshot() seeds from the
        checkpoint; state and time travel must match the full replay."""
        import os

        from seafowl_spark.engine.deltalite import DeltaLiteTable

        ctx.execute("CREATE TABLE ck (x int)")
        for i in range(24):
            ctx.execute(f"INSERT INTO ck VALUES ({i})")
        t = ctx.delta_table("ck")
        assert os.path.exists(os.path.join(t.log_dir, "_last_checkpoint"))
        assert os.path.exists(os.path.join(t.log_dir, f"{20:010d}.checkpoint.json"))
        # checkpointed snapshot equals a from-zero replay
        fresh = DeltaLiteTable(ctx.spark, t.root)
        snap = fresh.snapshot()
        assert snap.num_rows == 24
        assert rows(ctx.execute("SELECT count(*) AS n, sum(x) AS s FROM ck")) == [
            (24, sum(range(24)))
        ]
        # travel to a version BEFORE the checkpoint still replays correctly
        pre = fresh.snapshot(version=5)
        assert pre.num_rows == 5
        # and DML on a checkpointed table keeps working
        ctx.execute("DELETE FROM ck WHERE x >= 20")
        assert rows(ctx.execute("SELECT count(*) AS n FROM ck")) == [(20,)]


class TestNativeScanPruning:
    """Read-side file skipping for engine-native tables: a simple
    SELECT+WHERE scans only the files whose add-stats may match."""

    @pytest.fixture(autouse=True)
    def _no_one_partition_reads(self, monkeypatch):
        # a table read as one partition is served by its bound view,
        # unpruned: these small tables stand for large ones
        monkeypatch.setattr(deltalite, "ONE_PARTITION_MAX_BYTES", 0)

    def test_select_prunes_files(self, ctx):
        ctx.execute("CREATE TABLE pr (k BIGINT, v STRING)")
        ctx.execute(
            "INSERT INTO pr SELECT id, CAST(id AS STRING) FROM range(0, 10)"
        )
        ctx.execute(
            "INSERT INTO pr SELECT id, CAST(id AS STRING) FROM range(1000, 1010)"
        )
        full = ctx.execute("SELECT * FROM pr")
        assert len(full.inputFiles()) >= 2
        filtered = ctx.execute("SELECT k FROM pr WHERE k >= 1000 ORDER BY k")
        assert [r.k for r in filtered.collect()] == list(range(1000, 1010))
        assert len(filtered.inputFiles()) < len(full.inputFiles())
        empty = ctx.execute("SELECT k FROM pr WHERE k < 0")
        assert empty.count() == 0
        # joins / multi-SELECT shapes bypass the pruner but stay correct
        joined = ctx.execute(
            "SELECT a.k FROM pr a JOIN pr b ON a.k = b.k WHERE a.k >= 1000"
        )
        assert joined.count() == 10

    def test_qualified_name_prunes(self, ctx):
        ctx.execute("CREATE TABLE pq2 (k BIGINT)")
        ctx.execute("INSERT INTO pq2 SELECT id FROM range(0, 5)")
        ctx.execute("INSERT INTO pq2 SELECT id FROM range(500, 505)")
        full = ctx.execute("SELECT * FROM public.pq2")
        filtered = ctx.execute("SELECT k FROM public.pq2 WHERE k < 10")
        assert sorted(r.k for r in filtered.collect()) == [0, 1, 2, 3, 4]
        assert len(filtered.inputFiles()) < len(full.inputFiles())


class TestMergeStatement:
    def _seed(self, ctx, name):
        ctx.execute(f"CREATE TABLE {name} (k BIGINT, v STRING)")
        ctx.execute(
            f"INSERT INTO {name} VALUES (1, 'a'), (2, 'b'), (3, 'c')"
        )

    def test_full_upsert(self, ctx):
        self._seed(ctx, "mg1")
        ctx.execute(
            "MERGE INTO mg1 t USING (SELECT * FROM VALUES (2, 'B'), (4, 'd') "
            "AS s(k, v)) s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT *"
        )
        out = rows(ctx.execute("SELECT k, v FROM mg1 ORDER BY k"))
        assert out == [(1, "a"), (2, "B"), (3, "c"), (4, "d")]

    def test_pure_delete_by_key(self, ctx):
        self._seed(ctx, "mg2")
        ctx.execute(
            "MERGE INTO mg2 t USING (SELECT * FROM VALUES (1), (3), (9) "
            "AS s(k)) s ON t.k = s.k WHEN MATCHED THEN DELETE"
        )
        out = rows(ctx.execute("SELECT k FROM mg2"))
        assert out == [(2,)]

    def test_upsert_with_delete_flag(self, ctx):
        self._seed(ctx, "mg3")
        ctx.execute(
            "MERGE INTO mg3 t USING (SELECT * FROM VALUES "
            "(1, 'z', false), (2, 'dead', true), (5, 'e', false) "
            "AS s(k, v, gone)) s ON t.k = s.k "
            "WHEN MATCHED AND s.gone THEN DELETE "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT *"
        )
        out = rows(ctx.execute("SELECT k, v FROM mg3 ORDER BY k"))
        assert out == [(1, "z"), (3, "c"), (5, "e")]

    def test_delete_flag_named_update(self, ctx):
        """r4 advice: clause classification must dispatch on the matched
        alternative, not fragment substrings — a delete-flag column named
        `update_flag` (or `insert_x`) is still the flagged-DELETE clause."""
        self._seed(ctx, "mg3b")
        ctx.execute(
            "MERGE INTO mg3b t USING (SELECT * FROM VALUES "
            "(2, 'dead', true), (5, 'e', false) "
            "AS s(k, v, update_flag)) s ON t.k = s.k "
            "WHEN MATCHED AND s.update_flag THEN DELETE "
            "WHEN NOT MATCHED THEN INSERT *"
        )
        out = rows(ctx.execute("SELECT k, v FROM mg3b ORDER BY k"))
        assert out == [(1, "a"), (3, "c"), (5, "e")]

    def test_merge_clause_classification(self):
        from seafowl_spark.engine.parser import _parse_merge_clauses

        got = _parse_merge_clauses(
            "WHEN MATCHED AND s.update_flag THEN DELETE "
            "WHEN NOT MATCHED THEN INSERT *"
        )
        assert got["delete_if"] == "update_flag"
        assert got["insert"] and not got["update"] and not got["delete"]
        got2 = _parse_merge_clauses(
            "WHEN MATCHED AND insert_marker THEN DELETE "
            "WHEN MATCHED THEN UPDATE SET *"
        )
        assert got2["delete_if"] == "insert_marker" and got2["update"]

    def test_using_bare_table(self, ctx):
        self._seed(ctx, "mg4")
        ctx.execute("CREATE TABLE mg4_src (k BIGINT, v STRING)")
        ctx.execute("INSERT INTO mg4_src VALUES (3, 'C'), (6, 'f')")
        ctx.execute(
            "MERGE INTO mg4 t USING mg4_src s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
        )
        out = rows(ctx.execute("SELECT k, v FROM mg4 ORDER BY k"))
        assert out == [(1, "a"), (2, "b"), (3, "C"), (6, "f")]

    def test_unsupported_shapes_fail_loudly(self, ctx):
        import pytest

        from seafowl_spark.engine.context import ExecutionError
        from seafowl_spark.engine.parser import ParseError

        self._seed(ctx, "mg5")
        with pytest.raises(ExecutionError, match="update-only"):
            ctx.execute(
                "MERGE INTO mg5 t USING (SELECT 1 AS k) s ON t.k = s.k "
                "WHEN MATCHED THEN UPDATE SET *"
            )
        with pytest.raises(ExecutionError, match="same-named"):
            ctx.execute(
                "MERGE INTO mg5 t USING (SELECT 1 AS x) s ON t.k = s.x "
                "WHEN MATCHED THEN DELETE"
            )
        with pytest.raises((ParseError, ExecutionError)):
            ctx.execute(
                "MERGE INTO mg5 t USING (SELECT 1 AS k) s ON t.k = s.k "
                "WHEN MATCHED THEN UPDATE SET v = 'x'"
            )


class TestSchemaEvolution:
    """ALTER TABLE ADD/DROP COLUMN (r7, beyond the reference — its
    planner rejects every AlterTableOperation except RenameTable,
    reference src/context/logical.rs:193): metadata-only commits; old
    files null-fill added columns on read; time travel keeps per-version
    schemas; dropped names cannot be resurrected."""

    def _seed(self, ctx, name="ev"):
        ctx.execute(f"CREATE TABLE {name} (k BIGINT, v STRING)")
        ctx.execute(f"INSERT INTO {name} VALUES (1, 'a'), (2, 'b')")
        return name

    def test_add_column_null_fills_old_rows(self, ctx):
        n = self._seed(ctx)
        ctx.execute(f"ALTER TABLE {n} ADD COLUMN score DOUBLE")
        got = rows(ctx.execute(f"SELECT k, v, score FROM {n}"))
        assert got == [(1, "a", None), (2, "b", None)]
        ctx.execute(f"INSERT INTO {n} VALUES (3, 'c', 1.5)")
        got = rows(ctx.execute(f"SELECT k, score FROM {n}"))
        assert got == [(1, None), (2, None), (3, 1.5)]
        # UPDATE can set the new column on pre-ALTER rows
        ctx.execute(f"UPDATE {n} SET score = 9.0 WHERE k = 1")
        got = rows(ctx.execute(f"SELECT k, score FROM {n} WHERE k = 1"))
        assert got == [(1, 9.0)]

    def test_time_travel_sees_per_version_schema(self, ctx):
        n = self._seed(ctx, "ev_tt")
        ctx.execute(f"ALTER TABLE {n} ADD COLUMN score DOUBLE")
        pre = ctx.execute(f"SELECT * FROM {n} FOR VERSION AS OF 1")
        assert pre.columns == ["k", "v"]
        post = ctx.execute(f"SELECT * FROM {n}")
        assert post.columns == ["k", "v", "score"]

    def test_drop_column_hides_and_blocks_resurrection(self, ctx):
        n = self._seed(ctx, "ev_drop")
        ctx.execute(f"ALTER TABLE {n} DROP COLUMN v")
        assert ctx.execute(f"SELECT * FROM {n}").columns == ["k"]
        import pytest as _pt

        from seafowl_spark.engine.context import ExecutionError
        from seafowl_spark.engine.deltalite import DeltaLiteError

        with _pt.raises((ExecutionError, DeltaLiteError), match="resurface|dropped"):
            ctx.execute(f"ALTER TABLE {n} ADD COLUMN v STRING")
        # a fresh name is fine
        ctx.execute(f"ALTER TABLE {n} ADD COLUMN v2 STRING")
        assert ctx.execute(f"SELECT * FROM {n}").columns == ["k", "v2"]

    def test_invalid_alters_rejected(self, ctx):
        import pytest as _pt

        from seafowl_spark.engine.context import ExecutionError
        from seafowl_spark.engine.deltalite import DeltaLiteError

        n = self._seed(ctx, "ev_bad")
        with _pt.raises((ExecutionError, DeltaLiteError), match="already exists"):
            ctx.execute(f"ALTER TABLE {n} ADD COLUMN v STRING")
        with _pt.raises((ExecutionError, DeltaLiteError), match="no such column"):
            ctx.execute(f"ALTER TABLE {n} DROP COLUMN nope")
        with _pt.raises((ExecutionError, DeltaLiteError), match="invalid column type"):
            ctx.execute(f"ALTER TABLE {n} ADD COLUMN w NOTATYPE")
        ctx.execute(f"ALTER TABLE {n} DROP COLUMN v")
        with _pt.raises((ExecutionError, DeltaLiteError), match="last column"):
            ctx.execute(f"ALTER TABLE {n} DROP COLUMN k")

    def test_bucket_column_protected(self, ctx):
        ctx.execute(
            "CREATE TABLE ev_bkt (k BIGINT, v STRING) "
            "WITH ('bucket_by' = 'k', 'buckets' = '4')"
        )
        ctx.execute("INSERT INTO ev_bkt VALUES (1, 'a')")
        import pytest as _pt

        from seafowl_spark.engine.context import ExecutionError
        from seafowl_spark.engine.deltalite import DeltaLiteError

        with _pt.raises((ExecutionError, DeltaLiteError), match="bucket column"):
            ctx.execute("ALTER TABLE ev_bkt DROP COLUMN k")


class TestCheckConstraints:
    """ALTER TABLE ADD/DROP CONSTRAINT ... CHECK (r7, Delta-parity table
    constraints, beyond the reference): existing data validated at ADD,
    every INSERT/UPDATE/MERGE validated after, NULL evaluations pass,
    constraints persist through properties (checkpoints, time travel)."""

    def test_insert_enforced_and_null_passes(self, ctx):
        ctx.execute("CREATE TABLE ck (k BIGINT, v STRING)")
        ctx.execute("INSERT INTO ck VALUES (1, 'a')")
        ctx.execute("ALTER TABLE ck ADD CONSTRAINT pos CHECK (k > 0)")
        import pytest as _pt

        from seafowl_spark.engine.context import ExecutionError
        from seafowl_spark.engine.deltalite import DeltaLiteError

        with _pt.raises((ExecutionError, DeltaLiteError), match="pos.*violated|violated"):
            ctx.execute("INSERT INTO ck VALUES (-1, 'bad')")
        # the failed insert must not have committed anything
        assert rows(ctx.execute("SELECT k FROM ck")) == [(1,)]
        # NULL evaluation passes (SQL CHECK semantics)
        ctx.execute("INSERT INTO ck VALUES (NULL, 'n')")
        assert rows(ctx.execute("SELECT count(*) AS n FROM ck")) == [(2,)]

    def test_add_rejected_when_existing_rows_violate(self, ctx):
        ctx.execute("CREATE TABLE ck2 (k BIGINT)")
        ctx.execute("INSERT INTO ck2 VALUES (1), (-5)")
        import pytest as _pt

        from seafowl_spark.engine.context import ExecutionError
        from seafowl_spark.engine.deltalite import DeltaLiteError

        with _pt.raises((ExecutionError, DeltaLiteError), match="existing row"):
            ctx.execute("ALTER TABLE ck2 ADD CONSTRAINT pos CHECK (k > 0)")

    def test_update_and_merge_enforced(self, ctx):
        ctx.execute("CREATE TABLE ck3 (k BIGINT, v BIGINT)")
        ctx.execute("INSERT INTO ck3 VALUES (1, 10), (2, 20)")
        ctx.execute("ALTER TABLE ck3 ADD CONSTRAINT vcap CHECK (v <= 100)")
        import pytest as _pt

        from seafowl_spark.engine.context import ExecutionError
        from seafowl_spark.engine.deltalite import DeltaLiteError

        with _pt.raises((ExecutionError, DeltaLiteError), match="vcap"):
            ctx.execute("UPDATE ck3 SET v = 500 WHERE k = 1")
        ctx.execute("UPDATE ck3 SET v = 99 WHERE k = 1")
        assert rows(ctx.execute("SELECT v FROM ck3 WHERE k = 1")) == [(99,)]

    def test_drop_constraint_lifts_enforcement(self, ctx):
        ctx.execute("CREATE TABLE ck4 (k BIGINT)")
        ctx.execute("ALTER TABLE ck4 ADD CONSTRAINT pos CHECK (k > 0)")
        ctx.execute("ALTER TABLE ck4 DROP CONSTRAINT pos")
        ctx.execute("INSERT INTO ck4 VALUES (-1)")
        assert rows(ctx.execute("SELECT k FROM ck4")) == [(-1,)]

    def test_invalid_expression_and_names(self, ctx):
        ctx.execute("CREATE TABLE ck5 (k BIGINT)")
        import pytest as _pt

        from seafowl_spark.engine.context import ExecutionError
        from seafowl_spark.engine.deltalite import DeltaLiteError

        with _pt.raises((ExecutionError, DeltaLiteError), match="invalid CHECK"):
            ctx.execute("ALTER TABLE ck5 ADD CONSTRAINT c CHECK (zz > 0)")
        with _pt.raises((ExecutionError, DeltaLiteError), match="no such constraint"):
            ctx.execute("ALTER TABLE ck5 DROP CONSTRAINT nope")
        ctx.execute("ALTER TABLE ck5 ADD CONSTRAINT c CHECK (k > 0)")
        with _pt.raises((ExecutionError, DeltaLiteError), match="already exists"):
            ctx.execute("ALTER TABLE ck5 ADD CONSTRAINT c CHECK (k > 1)")


class TestVersionDiff:
    """deltalite.diff (r7): CDC-style row changes between any two
    versions — inserts/deletes/update pre+post images keyed on a PK,
    working across schema evolution."""

    def _seed(self, ctx, name):
        ctx.execute(f"CREATE TABLE {name} (k BIGINT, v STRING)")
        ctx.execute(f"INSERT INTO {name} VALUES (1, 'a'), (2, 'b'), (3, 'c')")
        return name

    def _t(self, ctx, name):
        from seafowl_spark.engine.deltalite import DeltaLiteTable

        e = next(e for e in ctx.catalog.tables(ctx.database) if e.name == name)
        return DeltaLiteTable(ctx.spark, ctx.table_root(e))

    def test_insert_delete_update_classified(self, ctx):
        n = self._seed(ctx, "dv1")
        v1 = self._t(ctx, n).latest_version()
        ctx.execute(f"INSERT INTO {n} VALUES (4, 'd')")
        ctx.execute(f"DELETE FROM {n} WHERE k = 2")
        ctx.execute(f"UPDATE {n} SET v = 'A' WHERE k = 1")
        t = self._t(ctx, n)
        got = {
            (r._change, r.k): r.v
            for r in t.diff(v1, pk_cols=["k"]).collect()
        }
        assert got == {
            ("insert", 4): "d",
            ("delete", 2): "b",
            ("update_preimage", 1): "a",
            ("update_postimage", 1): "A",
        }

    def test_no_changes_empty(self, ctx):
        n = self._seed(ctx, "dv2")
        t = self._t(ctx, n)
        v = t.latest_version()
        assert t.diff(v, v, pk_cols=["k"]).count() == 0

    def test_across_schema_evolution(self, ctx):
        n = self._seed(ctx, "dv3")
        v1 = self._t(ctx, n).latest_version()
        ctx.execute(f"ALTER TABLE {n} ADD COLUMN score DOUBLE")
        ctx.execute(f"INSERT INTO {n} VALUES (9, 'z', 1.5)")
        t = self._t(ctx, n)
        rows_ = t.diff(v1, pk_cols=["k"]).collect()
        by = {(r._change, r.k): r for r in rows_}
        # old rows are NOT updates: their score reads NULL on both sides
        assert set(by) == {("insert", 9)}
        assert by[("insert", 9)].score == 1.5

    def test_requires_pk(self, ctx):
        import pytest as _pt

        from seafowl_spark.engine.deltalite import DeltaLiteError

        n = self._seed(ctx, "dv4")
        t = self._t(ctx, n)
        with _pt.raises(DeltaLiteError, match="merge_pk"):
            t.diff(0)

    def test_default_pk_from_merge_or_with(self, ctx):
        """diff() without pk_cols uses the recorded merge_pk: set either
        by WITH ('merge_pk' ...) at CREATE or automatically by the first
        MERGE (never overwriting an explicit choice)."""
        ctx.execute(
            "CREATE TABLE dv5 (k BIGINT, v STRING) WITH ('merge_pk' = 'k')"
        )
        ctx.execute("INSERT INTO dv5 VALUES (1, 'a')")
        t = self._t(ctx, "dv5")
        v1 = t.latest_version()
        ctx.execute("INSERT INTO dv5 VALUES (2, 'b')")
        got = {(r._change, r.k) for r in self._t(ctx, "dv5").diff(v1).collect()}
        assert got == {("insert", 2)}
        # auto-record via MERGE
        ctx.execute("CREATE TABLE dv6 (k BIGINT, v STRING)")
        ctx.execute("INSERT INTO dv6 VALUES (1, 'a')")
        ctx.execute(
            "MERGE INTO dv6 USING (SELECT 2 AS k, 'b' AS v) s ON dv6.k = s.k "
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
        )
        t6 = self._t(ctx, "dv6")
        assert t6.snapshot().properties.get("merge_pk") == "k"
        got = {(r._change, r.k) for r in t6.diff(1).collect()}
        assert got == {("insert", 2)}


class TestDescribeAfterEvolution:
    def test_describe_and_history_track_alters(self, ctx):
        """r7 bug fix: the catalog caches schema_ddl and ALTER must
        refresh it, or SHOW COLUMNS / DESCRIBE / information_schema show
        the pre-ALTER schema forever. DESCRIBE HISTORY (new) lists the
        commits incl. the ALTER."""
        ctx.execute("CREATE TABLE dh (k BIGINT, v STRING)")
        ctx.execute("INSERT INTO dh VALUES (1, 'a')")
        ctx.execute("ALTER TABLE dh ADD COLUMN score DOUBLE")
        cols = [r.column_name for r in ctx.execute("DESCRIBE dh").collect()]
        assert cols == ["k", "v", "score"]
        ctx.execute("ALTER TABLE dh DROP COLUMN v")
        cols = [r.column_name for r in ctx.execute("DESCRIBE dh").collect()]
        assert cols == ["k", "score"]
        hist = ctx.execute("DESCRIBE HISTORY dh").collect()
        ops = [r.operation for r in sorted(hist, key=lambda r: r.version)]
        assert ops == ["CREATE TABLE", "INSERT", "ADD COLUMN", "DROP COLUMN"]
        assert all(r.n_adds == 0 for r in hist if "COLUMN" in r.operation)

    def test_information_schema_tracks_alters(self, ctx):
        ctx.execute("CREATE TABLE dh2 (k BIGINT)")
        ctx.execute("ALTER TABLE dh2 ADD COLUMN extra STRING")
        cols = [
            r.column_name
            for r in ctx.execute(
                "SELECT column_name FROM information_schema.columns "
                "WHERE table_name = 'dh2' ORDER BY ordinal_position"
            ).collect()
        ]
        assert cols == ["k", "extra"]

    def test_schema_surfaces_read_the_log(self, ctx):
        """DESCRIBE and information_schema.columns read a table's schema
        from its Delta log, the copy its queries read: a table whose log
        cannot be read is still listed, but describes no columns, and
        DESCRIBE fails as a read of it does."""
        import shutil

        ctx.execute("CREATE TABLE ok (k BIGINT)")
        ctx.execute("CREATE TABLE lost (k BIGINT, v STRING)")
        t = ctx.delta_table("lost")
        shutil.rmtree(t.log_dir)
        listed = rows(ctx.execute("SELECT table_name, table_type FROM information_schema.tables"))
        assert ("lost", "BASE TABLE") in listed and ("ok", "BASE TABLE") in listed
        cols = rows(ctx.execute("SELECT table_name, column_name FROM information_schema.columns"))
        assert cols == [("ok", "k")]
        with pytest.raises(Exception, match="not a deltalite table"):
            ctx.execute("DESCRIBE lost")
        with pytest.raises(Exception, match="not a deltalite table"):
            ctx.execute("SELECT * FROM lost")


class TestScopedOptimize:
    """OPTIMIZE ... WHERE (r7): compaction scoped to files the predicate
    can touch (Delta's partition-scoped OPTIMIZE, generalized to
    footer-stats pruning). Content never changes; out-of-scope files are
    untouched."""

    def _t(self, ctx, name):
        from seafowl_spark.engine.deltalite import DeltaLiteTable

        e = next(e for e in ctx.catalog.tables(ctx.database) if e.name == name)
        return DeltaLiteTable(ctx.spark, ctx.table_root(e))

    def test_scoped_compaction_leaves_other_files(self, ctx):
        ctx.execute("CREATE TABLE so1 (k BIGINT, v STRING)")
        # two stats-disjoint small files per range via separate inserts
        for lo in (0, 0, 1000, 1000):
            ctx.execute(
                f"INSERT INTO so1 SELECT id, CAST(id AS STRING) "
                f"FROM range({lo}, {lo + 50})"
            )
        t = self._t(ctx, "so1")
        before = {f.path for f in t.snapshot().files}
        assert len(before) >= 4
        ctx.execute("OPTIMIZE so1 WHERE k < 500")
        snap = self._t(ctx, "so1").snapshot()
        after = {f.path for f in snap.files}
        # high-range files untouched; low-range files compacted
        high = {
            f.path for f in snap.files
            if f.stats.get("k", {}).get("min", 0) >= 1000
        }
        assert high and high <= before
        assert after != before
        got = rows(ctx.execute("SELECT count(*) AS n, sum(k) AS s FROM so1"))
        assert got == [(200, 2 * sum(range(0, 50)) + 2 * sum(range(1000, 1050)))]

    def test_where_with_zorder_rejected(self, ctx):
        ctx.execute("CREATE TABLE so2 (k BIGINT)")
        import pytest as _pt

        from seafowl_spark.engine.context import ExecutionError
        from seafowl_spark.engine.deltalite import DeltaLiteError

        with _pt.raises((ExecutionError, DeltaLiteError), match="ZORDER"):
            ctx.execute("OPTIMIZE so2 WHERE k < 5 ZORDER BY (k)")


# ------------------------------------------- ANSI quoted-identifier dialect


class TestQuotedIdentifierCase:
    """Double-quoted names are CASE-SENSITIVE identifiers in the reference
    dialect (ddl.rs quoted-schema tests); two special-char tables differing
    only by case must stay distinct through query rewriting."""

    def test_quoted_names_differing_only_by_case(self, ctx):
        ctx.execute('CREATE TABLE "my-Table" (v int)')
        ctx.execute('CREATE TABLE "my-table" (v int)')
        ctx.execute('INSERT INTO "my-Table" VALUES (1)')
        ctx.execute('INSERT INTO "my-table" VALUES (2)')
        assert rows(ctx.execute('SELECT v FROM "my-Table"')) == [(1,)]
        assert rows(ctx.execute('SELECT v FROM "my-table"')) == [(2,)]
        assert rows(
            ctx.execute('SELECT v FROM public."my-Table"')
        ) == [(1,)]
        assert rows(
            ctx.execute('SELECT v FROM public."my-table"')
        ) == [(2,)]

    def test_query_entrypoint_same_dialect(self, ctx):
        """query() routes through the same scoped ANSI conf as execute():
        "c_int" parses as an identifier, not the string literal 'c_int'."""
        seed(ctx)
        out = ctx.query('SELECT "c_int" AS v FROM t ORDER BY "c_int"')
        assert rows(out) == [(1,), (2,), (3,)]
        # and the session default is restored afterwards
        assert (
            ctx.spark.conf.get("spark.sql.ansi.doubleQuotedIdentifiers")
            == "false"
        )


class TestPlainCharsetQuotedCase:
    """Plain-charset names differing only by case ("Foo" vs "foo") are
    distinct quoted identifiers in the dialect, while Spark's temp-view
    namespace is case-insensitive — the mangle hash-tags mixed-case
    names and quoted references resolve case-sensitively (review
    finding, r8 session D)."""

    def test_foo_and_Foo_stay_distinct(self, ctx):
        ctx.execute('CREATE TABLE "Cased" (v int)')
        ctx.execute('CREATE TABLE "cased" (v int)')
        ctx.execute('INSERT INTO "Cased" VALUES (1)')
        ctx.execute('INSERT INTO "cased" VALUES (2)')
        assert rows(ctx.execute('SELECT v FROM "Cased"')) == [(1,)]
        assert rows(ctx.execute('SELECT v FROM "cased"')) == [(2,)]
        assert rows(ctx.execute('SELECT v FROM public."Cased"')) == [(1,)]
        # an UNQUOTED reference folds to lowercase (PG-style): it means
        # the all-lowercase sibling
        assert rows(ctx.execute("SELECT v FROM cased")) == [(2,)]
        assert rows(ctx.execute("SELECT v FROM CASED")) == [(2,)]

    def test_single_mixed_case_table_keeps_bare_access(self, ctx):
        ctx.execute('CREATE TABLE "Solo" (v int)')
        ctx.execute('INSERT INTO "Solo" VALUES (7)')
        # no case-sibling: unquoted references still reach it
        assert rows(ctx.execute("SELECT v FROM solo")) == [(7,)]
        assert rows(ctx.execute('SELECT v FROM "Solo"')) == [(7,)]

    def test_wrong_case_quoted_reference_errors(self, ctx):
        # with only "Solo" in the catalog the quoted variant "solo" used
        # to fall through to Spark's case-INSENSITIVE temp-view lookup
        # and silently resolve to "Solo" — the exact collapse the
        # mangling prevents when both siblings exist (r8 review finding)
        from seafowl_spark.engine.context import ExecutionError

        ctx.execute('CREATE TABLE "Solo" (v int)')
        ctx.execute('INSERT INTO "Solo" VALUES (7)')
        for ref in ('"solo"', '"SOLO"', '"sOlO"'):
            with pytest.raises(ExecutionError, match="case-sensitive"):
                ctx.execute(f"SELECT v FROM {ref}")
        # exact-case quoted and unquoted folding still work
        assert rows(ctx.execute('SELECT v FROM "Solo"')) == [(7,)]
        assert rows(ctx.execute("SELECT v FROM SOLO")) == [(7,)]

    def test_wrong_case_quoted_with_siblings_errors(self, ctx):
        from seafowl_spark.engine.context import ExecutionError

        ctx.execute('CREATE TABLE "Cased" (v int)')
        ctx.execute('CREATE TABLE "cased" (v int)')
        ctx.execute('INSERT INTO "cased" VALUES (2)')
        # a variant matching NEITHER sibling errors instead of silently
        # resolving to whichever owns the bare temp-view name
        with pytest.raises(ExecutionError, match="case-sensitive"):
            ctx.execute('SELECT v FROM "CASED"')
        assert rows(ctx.execute('SELECT v FROM "cased"')) == [(2,)]

    def test_case_variant_recreate_not_clobbered_by_stale_drop(self, ctx):
        # dropTempView resolves case-INSENSITIVELY: after "CaseR" leaves
        # the catalog and caser takes the folded name, the stale-view
        # sweep must not drop the NEW registration (review finding, r9)
        ctx.execute('CREATE TABLE "CaseR" (v int)')
        ctx.execute('INSERT INTO "CaseR" VALUES (1)')
        assert rows(ctx.execute("SELECT v FROM caser")) == [(1,)]
        ctx.execute('ALTER TABLE "CaseR" RENAME TO case_gone')
        ctx.execute("CREATE TABLE caser (v int)")
        ctx.execute("INSERT INTO caser VALUES (2)")
        assert rows(ctx.execute("SELECT v FROM caser")) == [(2,)]
        assert rows(ctx.execute("SELECT v FROM caser")) == [(2,)]  # again

    def test_mixed_quoted_reference_folds_unquoted_schema(self, ctx):
        ctx.execute('CREATE TABLE "my-Table" (v int)')
        ctx.execute('INSERT INTO "my-Table" VALUES (3)')
        # the quoted table part is case-sensitive; the unquoted schema
        # part still folds
        assert rows(ctx.execute('SELECT v FROM PUBLIC."my-Table"')) == [(3,)]
