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
