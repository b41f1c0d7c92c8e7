"""Hash-bucketed table layout (deltalite WITH clause) and Spark-native
bucketed materialization for co-located joins. Not a reference feature
(single-node DataFusion has no shuffle); this is the repo's own scale
path for CDC merge and self-join-heavy dedup/ANN operators."""

import os

import pytest

from seafowl_spark.engine.deltalite import DeltaLiteTable
from tests.conftest import rows


def _table(ctx, name="bt"):
    return DeltaLiteTable(
        ctx.spark, ctx.table_root(ctx.catalog.get_table("default", "public", name))
    )


class TestBucketedLayout:
    def test_create_with_properties_and_write(self, ctx):
        ctx.execute(
            "CREATE TABLE bt (pk bigint, v varchar) "
            "WITH ('bucket_by' = 'pk', 'buckets' = '4')"
        )
        ctx.execute(
            "INSERT INTO bt SELECT id, concat('v', id) FROM range(0, 400)"
        )
        t = _table(ctx)
        snap = t.snapshot()
        assert snap.bucket_spec == (["pk"], 4)
        assert {f.bucket for f in snap.files} == {0, 1, 2, 3}
        # flat layout: no partition dirs survive, files are plain parquet
        for f in snap.files:
            assert "=" not in f.path
            assert os.path.isfile(os.path.join(t.root, f.path))
        # round-trip: all rows, no __sfs_bucket column
        df = t.to_df()
        assert df.columns == ["pk", "v"]
        assert df.count() == 400

    def test_bucket_assignment_consistent_across_writes(self, ctx):
        """The same PK always hashes into the same bucket, whatever the
        writing plan's inferred type was."""
        ctx.execute(
            "CREATE TABLE bt (pk bigint, v varchar) "
            "WITH ('bucket_by' = 'pk', 'buckets' = '8')"
        )
        ctx.execute("INSERT INTO bt SELECT id, 'a' FROM range(0, 100)")
        ctx.execute("INSERT INTO bt SELECT CAST(id AS INT), 'b' FROM range(0, 100)")
        t = _table(ctx)
        by_pk = {}
        schema = t.schema()
        for f in t.snapshot().files:
            pdf = (
                ctx.spark.read.schema(schema)
                .parquet(os.path.join(t.root, f.path))
                .toPandas()
            )
            for pk in pdf["pk"]:
                by_pk.setdefault(int(pk), set()).add(f.bucket)
        assert all(len(bs) == 1 for bs in by_pk.values())

    def test_merge_rewrites_only_hot_buckets(self, ctx):
        ctx.execute(
            "CREATE TABLE bt (pk bigint, v varchar) "
            "WITH ('bucket_by' = 'pk', 'buckets' = '8')"
        )
        ctx.execute(
            "INSERT INTO bt SELECT id, concat('v', id) FROM range(0, 800)"
        )
        t = _table(ctx)
        before = {f.path: f.bucket for f in t.snapshot().files}
        changes = ctx.spark.createDataFrame(
            [(3, "X", False)], "pk bigint, v string, __delete__ boolean"
        )
        commit = t.merge(changes, ["pk"], delete_col="__delete__")
        # only the single hot bucket's files rewrite — min/max pruning
        # alone would keep every file (hashing spreads pk 0..799 evenly)
        hot = {before[p] for p in commit.removes}
        assert len(hot) == 1
        assert len(commit.removes) < len(before)
        out = ctx.execute("SELECT v FROM bt WHERE pk = 3")
        assert rows(out) == [("X",)]
        assert ctx.execute("SELECT count(*) AS n FROM bt").collect()[0]["n"] == 800

    def test_update_delete_point_lookup_prunes_to_one_bucket(self, ctx):
        ctx.execute(
            "CREATE TABLE bt (pk bigint, v varchar) "
            "WITH ('bucket_by' = 'pk', 'buckets' = '8')"
        )
        ctx.execute(
            "INSERT INTO bt SELECT id, concat('v', id) FROM range(0, 800)"
        )
        t = _table(ctx)
        n_files = len(t.snapshot().files)
        c1 = t.update({"v": "'updated'"}, "pk = 17")
        assert 0 < len(c1.removes) < n_files
        assert rows(ctx.execute("SELECT v FROM bt WHERE pk = 17")) == [("updated",)]
        c2 = t.delete("pk = 17 AND v = 'updated'")
        assert 0 < len(c2.removes) < n_files
        assert ctx.execute("SELECT count(*) AS n FROM bt").collect()[0]["n"] == 799

    def test_disjunctive_predicate_stays_conservative(self, ctx):
        ctx.execute(
            "CREATE TABLE bt (pk bigint, v varchar) "
            "WITH ('bucket_by' = 'pk', 'buckets' = '4')"
        )
        ctx.execute("INSERT INTO bt SELECT id, 'x' FROM range(0, 100)")
        t = _table(ctx)
        t.delete("pk = 1 OR v = 'x'")  # OR: bucket pruning must NOT engage
        assert ctx.execute("SELECT count(*) AS n FROM bt").collect()[0]["n"] == 0

    def test_optimize_preserves_bucketing(self, ctx):
        ctx.execute(
            "CREATE TABLE bt (pk bigint, v varchar) "
            "WITH ('bucket_by' = 'pk', 'buckets' = '2')"
        )
        for lo in (0, 50, 100):
            ctx.execute(
                f"INSERT INTO bt SELECT id, 'x' FROM range({lo}, {lo + 50})"
            )
        t = _table(ctx)
        t.optimize()
        snap = t.snapshot()
        assert all(f.bucket is not None for f in snap.files)
        assert t.to_df().count() == 150

    def test_bad_bucket_column_rejected(self, ctx):
        with pytest.raises(Exception, match="bucket_by"):
            ctx.execute(
                "CREATE TABLE bt (pk bigint) WITH ('bucket_by' = 'nope')"
            )

    def test_time_travel_over_bucketed_table(self, ctx):
        ctx.execute(
            "CREATE TABLE bt (pk bigint, v varchar) "
            "WITH ('bucket_by' = 'pk', 'buckets' = '4')"
        )
        ctx.execute("INSERT INTO bt VALUES (1, 'a')")
        t = _table(ctx)
        v1 = t.latest_version()
        ctx.execute("INSERT INTO bt VALUES (2, 'b')")
        assert t.to_df(version=v1).count() == 1
        assert t.snapshot(version=v1).bucket_spec == (["pk"], 4)


# bucket-key DDL, bucket_by, a pool of key values (SQL literals, one tuple
# per key), WHERE spellings pinning the key. Spark compares a string key
# with a number by casting the key ('05' = 5), a literal that does not fit
# an INT key (3000000000) compares widened, and a decimal key compares
# with a string as a double.
_TWIN_KEYS = {
    "int": ("pk int", "pk", [("5",), ("3",), ("-3",), ("50",), ("6",), ("0",)], [
        "pk = 5", "pk = '5'", "pk = '05'", "pk = 5.0", "pk = 5.5", "pk = 5e1",
        "pk = 5 + 1", "pk = -3", "pk = 3000000000", "pk = '3000000000'",
    ]),
    "bigint": ("pk bigint", "pk", [("5",), ("3000000000",), ("-3",), ("50",), ("6",)], [
        "pk = 3000000000", "pk = '3000000000'", "pk = 5e1", "pk = 5 + 1",
        "pk = 5.5", "(pk = -3)", "pk = 30000000000000000000",
    ]),
    "string": ("pk varchar", "pk", [
        ("'05'",), ("'5'",), ("'005'",), ("'6'",), ("'+5'",), ("'07'",), ("'0005'",),
    ], ["pk = 5", "pk = '5'", "pk = '05'", "pk = 7", "pk = 6 + 1", "pk = 5.0"]),
    "date": ("d date", "d", [
        ("DATE'2024-01-05'",), ("DATE'2024-01-06'",), ("DATE'2023-12-31'",),
    ], [
        "d = '2024-01-05'", "d = '2024-1-5'", "d = '2024-01-05 10:00:00'",
        "d = DATE'2024-01-06'", "d = '2023-12-31' AND v >= 0",
    ]),
    "decimal": ("x decimal(10,2)", "x", [("5.00",), ("5.10",), ("12.34",), ("-1.50",)], [
        "x = 5", "x = 5.1", "x = '5.10'", "x = 5.001", "x = '5.1'", "x = 12.34",
        "x = 123456789.5",
    ]),
    "two_columns": ("a int, b varchar", "a,b", [
        ("1", "'5'"), ("1", "'05'"), ("2", "'5'"), ("1", "'6'"),
    ], [
        "a = 1 AND b = '5'", "a = 1 AND b = 5", "b = '05' AND a = '1'",
        "(a = 2) AND (b = '5')", "a = 1 AND b = 5 + 0",
    ]),
}


def _outcome(ctx, sql):
    try:
        out = ctx.execute(sql)
    except Exception:  # noqa: BLE001 — the twins must fail alike
        return "error"
    return rows(out) if out is not None else None


@pytest.mark.parametrize("key", sorted(_TWIN_KEYS))
def test_bucketed_twin_matches_unbucketed(ctx, key):
    """SELECT, UPDATE, DELETE and MERGE by every literal spelling of a
    bucket key give a 16-bucket table the rows its unbucketed twin gets.
    A string key pinned by a number, a literal outside the key's type, a
    literal that is only part of an expression and a number in exponent
    form used to pin a bucket that held none or only some of the
    matching rows."""
    import numpy as np

    ddl, by, pool, preds = _TWIN_KEYS[key]
    cols = by.split(",")
    rng = np.random.default_rng(sum(map(ord, key)))
    values = ", ".join(
        f"({', '.join(pool[j])}, {i})"
        for i, j in enumerate(rng.integers(0, len(pool), 40))
    )
    twins = ("tb", "tu")
    for name, props in zip(twins, (f" WITH ('bucket_by' = '{by}', 'buckets' = '16')", "")):
        ctx.execute(f"CREATE TABLE {name} ({ddl}, v int){props}")
        ctx.execute(f"INSERT INTO {name} VALUES {values}")
    assert _table(ctx, "tb").snapshot().bucket_spec == (cols, 16)

    def same(sql_of):
        got = [_outcome(ctx, sql_of(name)) for name in twins]
        assert got[0] == got[1], sql_of("t")
        return got[0]

    def contents():
        return same(lambda t: f"SELECT * FROM {t}")

    selected = [same(lambda t: f"SELECT * FROM {t} WHERE {p}") for p in preds]
    assert any(s not in ("error", []) for s in selected)
    for i, p in enumerate(preds):
        same(lambda t: f"UPDATE {t} SET v = v + {1000 * (i + 1)} WHERE {p}")
        contents()
    for j in rng.permutation(len(pool))[:2]:
        src = f"({', '.join(pool[j])}, -1), ({', '.join(pool[(j + 1) % len(pool)])}, -2)"
        on = " AND ".join(f"t.{c} = s.{c}" for c in cols)
        same(lambda t: (
            f"MERGE INTO {t} t USING (SELECT * FROM VALUES {src} AS s({by}, v)) s "
            f"ON {on} WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
        ))
        contents()
    for p in preds:
        same(lambda t: f"DELETE FROM {t} WHERE {p}")
        contents()
