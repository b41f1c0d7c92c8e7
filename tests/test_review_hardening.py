"""Regression pins for the r11 full-file review findings on
deltalite.py / matview.py — each test is the exact failure scenario the
review reported, fixed in the same round."""

from __future__ import annotations

import datetime
import os

import pytest

from seafowl_spark.engine.deltalite import DeltaLiteError, DeltaLiteTable
from tests.conftest import rows


class TestBucketHitLiteralMasking:
    def test_literal_text_cannot_pin_the_bucket(self, ctx):
        """DELETE ... WHERE note = 'id = 5' on a table bucketed by id
        used to bucket-prune from the QUOTED text and silently skip
        matching rows in other buckets."""
        ctx.execute(
            "CREATE TABLE bt (id BIGINT, note STRING) "
            "WITH ('bucket_by' = 'id', 'buckets' = '8')"
        )
        vals = ", ".join(f"({i}, 'id = 5')" for i in range(16))
        ctx.execute(f"INSERT INTO bt VALUES {vals}")
        ctx.execute("DELETE FROM bt WHERE note = 'id = 5'")
        assert rows(ctx.execute("SELECT count(*) AS n FROM bt")) == [(0,)]

    def test_real_bucket_equality_still_prunes_and_works(self, ctx):
        ctx.execute(
            "CREATE TABLE bt (id BIGINT, note STRING) "
            "WITH ('bucket_by' = 'id', 'buckets' = '8')"
        )
        vals = ", ".join(f"({i}, 'row {i}')" for i in range(16))
        ctx.execute(f"INSERT INTO bt VALUES {vals}")
        ctx.execute("DELETE FROM bt WHERE id = 5")
        got = {r[0] for r in rows(ctx.execute("SELECT id FROM bt"))}
        assert got == set(range(16)) - {5}

    def test_quoted_identifier_text_cannot_pin_the_bucket(self, ctx):
        """Under the engine's pg dialect "..." is an IDENTIFIER; its
        text must be masked like a literal in the structural scans —
        a column literally named "id = 5" used to pin the id bucket
        from the quoted text (advisor find, r11)."""
        ctx.execute(
            "CREATE TABLE bt (id BIGINT, note STRING) "
            "WITH ('bucket_by' = 'id', 'buckets' = '8')"
        )
        ctx.execute("INSERT INTO bt VALUES (1, 'x')")
        from seafowl_spark.engine.deltalite import DeltaLiteTable

        e = ctx.catalog.get_table("default", "public", "bt")
        t = DeltaLiteTable(ctx.spark, ctx.table_root(e))
        snap = t.snapshot()
        # pathological quoted identifier containing bucket-col equality
        # text: must be unresolvable (None = scan all buckets), never a
        # pin on id=5's bucket
        assert t._bucket_hits(snap, '"id = 5" > 2') is None
        # quoted-identifier RHS is a column reference, not a constant
        assert t._bucket_hits(snap, 'id = "note"') is None
        # unbalanced double quote: conservative None, no crash
        assert t._bucket_hits(snap, 'id = "unclosed') is None

    def test_column_rhs_deletes_across_all_buckets(self, ctx):
        """DELETE ... WHERE id = "other" (column-to-column equality via
        a quoted identifier) must scan every bucket — end-to-end pin of
        the unit check above."""
        ctx.execute(
            "CREATE TABLE bt2 (id BIGINT, other BIGINT) "
            "WITH ('bucket_by' = 'id', 'buckets' = '8')"
        )
        vals = ", ".join(f"({i}, {i})" for i in range(8))
        ctx.execute(f"INSERT INTO bt2 VALUES {vals}, (8, 999)")
        ctx.execute('DELETE FROM bt2 WHERE id = "other"')
        got = {r[0] for r in rows(ctx.execute("SELECT id FROM bt2"))}
        assert got == {8}

    def test_backslash_identifier_cannot_swallow_an_or(self, ctx):
        """An identifier ending in an escaped backslash (`"x\\\\"`, as
        Spark's lexer reads it) ends at its quote: the top-level OR after
        it stays visible to the rejection scan, so the predicate pins no
        bucket — DELETE/UPDATE would otherwise skip matching rows in
        every other bucket."""
        ctx.execute(
            "CREATE TABLE btbs (id BIGINT, x BIGINT) "
            "WITH ('bucket_by' = 'id', 'buckets' = '8')"
        )
        ctx.execute("INSERT INTO btbs VALUES (1, 1)")
        e = ctx.catalog.get_table("default", "public", "btbs")
        t = DeltaLiteTable(ctx.spark, ctx.table_root(e))
        snap = t.snapshot()
        assert t._bucket_hits(snap, '"x\\\\" = 1 OR id = 5') is None
        # an identifier whose closing quote is escaped is unterminated:
        # unresolvable, never a crash
        assert t._bucket_hits(snap, 'id = "x\\"') is None

    def test_escaped_quote_stays_inside_identifier(self, ctx):
        """Spark's lexer reads `\\"` inside a double-quoted identifier as an
        escape (`SELECT 1 AS "a\\"b"` names one column). The mask used to
        end the identifier there, so the `id = 5` Spark reads as part of
        the identifier pinned id=5's bucket, and a DELETE/UPDATE with this
        predicate skipped the bucket of id=7 that holds its rows."""
        ctx.execute(
            "CREATE TABLE btesc (id BIGINT, x BIGINT) "
            "WITH ('bucket_by' = 'id', 'buckets' = '8')"
        )
        ctx.execute("INSERT INTO btesc VALUES (1, 1)")
        e = ctx.catalog.get_table("default", "public", "btesc")
        t = DeltaLiteTable(ctx.spark, ctx.table_root(e))
        snap = t.snapshot()
        five, seven = t._bucket_hits(snap, "id = 5"), t._bucket_hits(snap, "id = 7")
        assert five != seven
        pred = '"a\\" AND id = 5 AND \\"" = \'z\' AND id = 7'
        assert t._bucket_hits(snap, pred) == seven
        # a comment is not code either
        assert t._bucket_hits(snap, "/* id = 5 */ id = 7") == seven

    def test_escaped_quote_literal_does_not_crash(self, ctx):
        ctx.execute(
            "CREATE TABLE bt (id BIGINT, note STRING) "
            "WITH ('bucket_by' = 'id', 'buckets' = '4')"
        )
        ctx.execute("INSERT INTO bt VALUES (1, 'a''b'), (2, 'plain')")
        # '' escaping inside the literal used to mis-terminate the regex
        ctx.execute("DELETE FROM bt WHERE note = 'a''b'")
        got = {r[0] for r in rows(ctx.execute("SELECT id FROM bt"))}
        assert got == {2}


class TestMergeNullPk:
    def test_null_primary_key_rejected(self, ctx, tmp_path):
        from pyspark.sql import types as T

        t = DeltaLiteTable.create(
            ctx.spark,
            str(tmp_path / "m"),
            T.StructType.fromDDL("pk bigint, v string"),
        )
        t.append(
            ctx.spark.createDataFrame([(1, "one")], "pk bigint, v string")
        )
        ch = ctx.spark.createDataFrame(
            [(None, "junk"), (2, "two")], "pk bigint, v string"
        )
        with pytest.raises(DeltaLiteError, match="NULL in primary key"):
            t.merge(ch, ["pk"])
        # nothing landed — the reject happened before any write
        assert {r["pk"] for r in t.to_df().collect()} == {1}


class TestDropColumnConstraintGuard:
    def test_constrained_column_cannot_drop(self, ctx):
        ctx.execute("CREATE TABLE ct (x INT, y INT)")
        ctx.execute("ALTER TABLE ct ADD CONSTRAINT cpos CHECK (x > 0)")
        from seafowl_spark.engine.context import ExecutionError

        with pytest.raises(
            (ExecutionError, DeltaLiteError), match="CHECK constraint"
        ):
            ctx.execute("ALTER TABLE ct DROP COLUMN x")
        # the table stays writable (the old failure mode: drop succeeded
        # and every later INSERT died on the unresolved column)
        ctx.execute("INSERT INTO ct VALUES (1, 2)")
        # dropping the constraint releases the column
        ctx.execute("ALTER TABLE ct DROP CONSTRAINT cpos")
        ctx.execute("ALTER TABLE ct DROP COLUMN x")
        ctx.execute("INSERT INTO ct VALUES (7)")
        assert rows(ctx.execute("SELECT count(*) AS n FROM ct")) == [(2,)]


class TestVacuumOrphanGrace:
    def test_grace_keeps_inflight_files(self, ctx):
        """With the opt-in grace property, a just-written never-committed
        file (a CONCURRENT writer's in-flight data) survives VACUUM; the
        default (reference parity, retention 0) still collects it."""
        ctx.execute(
            "CREATE TABLE vg (k BIGINT) "
            "WITH ('vacuum_orphan_grace_ms' = '3600000')"
        )
        ctx.execute("INSERT INTO vg VALUES (1)")
        e = ctx.catalog.get_table("default", "public", "vg")
        root = ctx.table_root(e)
        inflight = os.path.join(root, "data", "txn-inflight")
        os.makedirs(inflight)
        f = os.path.join(inflight, "part.parquet")
        open(f, "wb").write(b"inflight bytes")
        ctx.execute("VACUUM TABLE vg")
        assert os.path.exists(f)  # younger than the grace: kept
        # default table: same file would be collected immediately
        ctx.execute("CREATE TABLE vg0 (k BIGINT)")
        ctx.execute("INSERT INTO vg0 VALUES (1)")
        root0 = ctx.table_root(
            ctx.catalog.get_table("default", "public", "vg0")
        )
        d0 = os.path.join(root0, "data", "txn-orphan")
        os.makedirs(d0)
        f0 = os.path.join(d0, "stray.parquet")
        open(f0, "wb").write(b"junk")
        ctx.execute("VACUUM TABLE vg0")
        assert not os.path.exists(f0)


class TestFinePruneTemporalPk:
    def test_date_pk_merge_does_not_crash(self, ctx, tmp_path, monkeypatch):
        """Footer stats store date/timestamp bounds as ISO strings; the
        fine-prune bisect used to compare datetime objects against them
        and abort the merge with TypeError."""
        from pyspark.sql import types as T

        t = DeltaLiteTable.create(
            ctx.spark,
            str(tmp_path / "dt"),
            T.StructType.fromDDL("d date, v bigint"),
        )
        base = [
            (datetime.date(2024, 1, 1 + i), i) for i in range(5)
        ]
        t.append(ctx.spark.createDataFrame(base, "d date, v bigint"))
        ch = ctx.spark.createDataFrame(
            [(datetime.date(2024, 1, 2), 200)], "d date, v bigint"
        )
        # a threshold of 0 forces the fine-prune probe
        monkeypatch.setattr("seafowl_spark.engine.deltalite.FINE_GRAINED_PRUNING_ROWS", 0)
        t.merge(ch, ["d"])
        got = {
            (r["d"], r["v"]) for r in t.to_df().collect()
        }
        assert (datetime.date(2024, 1, 2), 200) in got
        assert len(got) == 5  # update in place, nothing dropped


class TestMorKeepsBlooms:
    def test_dv_delete_preserves_bloom_bitmaps(self, ctx, tmp_path):
        from pyspark.sql import types as T

        t = DeltaLiteTable.create(
            ctx.spark,
            str(tmp_path / "bl"),
            T.StructType.fromDDL("id bigint, v string"),
            properties={"bloom_by": "id", "delete_mode": "mor"},
        )
        t.append(
            ctx.spark.createDataFrame(
                [(i, f"v{i}") for i in range(50)], "id bigint, v string"
            )
        )
        assert all(f.blooms for f in t.snapshot().files)
        t.delete("id = 7")
        files = t.snapshot().files
        assert any(f.dv for f in files)  # MoR delete landed
        # the re-added file kept its bitmaps (they are physical stats)
        assert all(f.blooms for f in files)


class TestMatviewLiteralHygiene:
    def test_where_literal_join_is_not_a_dimension(self, ctx):
        ctx.execute("CREATE TABLE mt (g STRING, note STRING, v BIGINT)")
        ctx.execute(
            "INSERT INTO mt VALUES ('a', 'join sales', 1), ('b', 'x', 2)"
        )
        # no table named `sales` exists: a phantom dim would fail CREATE
        ctx.execute(
            "CREATE MATERIALIZED VIEW mvh AS "
            "SELECT g, SUM(v) AS s FROM mt WHERE note = 'join sales' "
            "GROUP BY g"
        )
        assert rows(ctx.execute("SELECT * FROM mvh")) == [("a", 1)]
        ctx.execute("INSERT INTO mt VALUES ('a', 'join sales', 10)")
        ctx.execute("REFRESH MATERIALIZED VIEW mvh")
        assert rows(ctx.execute("SELECT * FROM mvh")) == [("a", 11)]

    def test_quoted_identifier_in_where_is_not_a_dimension(self, ctx):
        """A quoted identifier in the matview WHERE clause (pg dialect:
        "note" is the note column) must be masked out of the structural
        scans — its text must never register as a dim/comma/clause
        boundary — while the view itself works end-to-end."""
        ctx.execute("CREATE TABLE mt2 (g STRING, note STRING, v BIGINT)")
        ctx.execute(
            "INSERT INTO mt2 VALUES ('a', 'join sales', 1), ('b', 'x', 2)"
        )
        ctx.execute(
            "CREATE MATERIALIZED VIEW mvh2 AS "
            "SELECT g, SUM(v) AS s FROM mt2 "
            "WHERE \"note\" = 'join sales' GROUP BY g"
        )
        assert rows(ctx.execute("SELECT * FROM mvh2")) == [("a", 1)]
        ctx.execute("INSERT INTO mt2 VALUES ('a', 'join sales', 10)")
        ctx.execute("REFRESH MATERIALIZED VIEW mvh2")
        assert rows(ctx.execute("SELECT * FROM mvh2")) == [("a", 11)]

    def test_quoted_identifier_in_join_is_rejected(self, ctx):
        """Quoted identifiers in FROM/JOIN can't be dimension-tracked
        (the dim scan matches unquoted names): CREATE must reject them
        instead of silently missing the dim and reporting fresh."""
        from seafowl_spark.engine.matview import MatViewError

        ctx.execute("CREATE TABLE fct (k STRING, v BIGINT)")
        ctx.execute("CREATE TABLE dim (k STRING, grp STRING)")
        with pytest.raises(
            (MatViewError, Exception), match="quoted identifiers"
        ):
            ctx.execute(
                "CREATE MATERIALIZED VIEW mvq AS "
                "SELECT d.grp AS grp, SUM(f.v) AS s FROM fct f "
                'JOIN "dim" d ON f.k = d.k GROUP BY d.grp'
            )

    def test_triple_quote_is_rejected_as_unbalanced(self, ctx):
        """r12 advisor find: masking single-quoted literals to '' let
        ''' (an empty literal + a genuinely unterminated stray quote)
        slip past the lookaround heuristic — every quote in ''' has a
        quote neighbour. Literals now mask to a quote-free sentinel and
        ANY surviving quote rejects at CREATE."""
        from seafowl_spark.engine.matview import MatViewError

        ctx.execute("CREATE TABLE mtq (g STRING, note STRING, v BIGINT)")
        with pytest.raises(
            (MatViewError, Exception), match="unbalanced quote"
        ):
            ctx.execute(
                "CREATE MATERIALIZED VIEW mvtq AS "
                "SELECT g, SUM(v) AS s FROM mtq WHERE note = ''' "
                "GROUP BY g"
            )

    @pytest.mark.parametrize("query, dims", [
        # `\\"` is an escape inside a quoted identifier, as in Spark's
        # lexer; the mask used to end the identifier there and reject the
        # rest as an unbalanced quote
        ('SELECT g, SUM(v) AS s FROM fct WHERE "a\\"" > 0 GROUP BY g', []),
        # a quote in a comment opens nothing
        ("SELECT d.g AS g, SUM(f.v) AS s FROM fct f /* it's */ "
         "JOIN dim d ON f.k = d.k GROUP BY d.g", ["dim"]),
    ])
    def test_from_clause_masks_as_spark_lexes(self, query, dims):
        from seafowl_spark.engine.matview import parse_mv_query

        assert parse_mv_query(query).dims == dims

    def test_binary_group_column_full_refreshes_correctly(self, ctx):
        """A binary group key has no exact SQL literal — the refresh must
        downgrade to the full overwrite, never delete a live group."""
        ctx.execute("CREATE TABLE bt2 (g BINARY, v BIGINT)")
        ctx.execute(
            "INSERT INTO bt2 VALUES (CAST('abc' AS BINARY), 1), "
            "(CAST('def' AS BINARY), 2)"
        )
        ctx.execute(
            "CREATE MATERIALIZED VIEW mvb AS "
            "SELECT g, SUM(v) AS s FROM bt2 GROUP BY g"
        )
        ctx.execute("INSERT INTO bt2 VALUES (CAST('abc' AS BINARY), 10)")
        ctx.execute("REFRESH MATERIALIZED VIEW mvb")
        got = {
            (bytes(r["g"]), r["s"])
            for r in ctx.execute("SELECT * FROM mvb").collect()
        }
        assert got == {(b"abc", 11), (b"def", 2)}


class TestReadPathBucketPruning:
    def test_point_lookup_scans_one_bucket(self, ctx):
        """Reads prune by bucket membership too (review find, r11): on a
        hashed layout min/max stats are powerless, so a point lookup on
        the bucket key used to scan every bucket's files even though
        UPDATE/DELETE already pruned to one."""
        ctx.execute(
            "CREATE TABLE br (id BIGINT, v STRING) "
            "WITH ('bucket_by' = 'id', 'buckets' = '8')"
        )
        vals = ", ".join(f"({i}, 'v{i}')" for i in range(64))
        ctx.execute(f"INSERT INTO br VALUES {vals}")
        all_files = len(
            ctx.execute("SELECT * FROM br").inputFiles()
        )
        out = ctx.execute("SELECT id, v FROM br WHERE id = 5")
        assert rows(out) == [(5, "v5")]
        pruned_files = len(out.inputFiles())
        assert pruned_files < all_files
        assert pruned_files <= max(1, all_files // 8 + 1)
