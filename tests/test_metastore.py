"""Metastore contract (engine/catalog.py): the SQLite catalog's journal,
one catalog commit per committed statement, and `table_versions` as an
exact mirror of the Delta log — every committed version, never a pruned
one."""

import pytest

from seafowl_spark.engine.catalog import Catalog


def versions(ctx, table: str) -> list[int]:
    out = ctx.execute(
        "SELECT version FROM system.table_versions "
        f"WHERE table_name = '{table}' ORDER BY version"
    )
    return [r[0] for r in out.collect()]


class CommitCounter:
    """Counts COMMITs on a catalog's connection (the trace callback sees
    the statement sqlite3's ``commit()`` issues)."""

    def __init__(self, catalog: Catalog):
        self.n = 0
        catalog._conn.set_trace_callback(self._seen)

    def _seen(self, stmt: str) -> None:
        if stmt.strip().upper() == "COMMIT":
            self.n += 1


class TestJournal:
    """Contract, not a fixed fault: a file catalog keeps its commits in a
    write-ahead log that is synced on every commit."""

    def test_file_catalog_is_wal_synchronous_full(self, tmp_path):
        cat = Catalog(str(tmp_path / "c.sqlite"))
        assert cat._conn.execute("PRAGMA journal_mode").fetchone()[0] == "wal"
        assert cat._conn.execute("PRAGMA synchronous").fetchone()[0] == 2  # FULL

    def test_memory_catalog_still_opens(self):
        cat = Catalog(":memory:")
        assert cat._conn.execute("PRAGMA journal_mode").fetchone()[0] == "memory"
        cat.record_versions("u", [(0, 1, "CREATE TABLE")])
        assert cat.table_versions("u") == [("u", 0, 1, "CREATE TABLE")]

    def test_second_catalog_sees_version_at_once_and_after_reopen(self, tmp_path):
        path = str(tmp_path / "c.sqlite")
        writer = Catalog(path)
        reader = Catalog(path)
        writer.record_versions("u", [(0, 10, "CREATE TABLE"), (1, 11, "INSERT")])
        assert reader.recorded_version("u") == 1
        assert [v for (_, v, _, _) in reader.table_versions("u")] == [0, 1]
        writer._conn.close()
        reader._conn.close()
        assert Catalog(path).table_versions("u") == [
            ("u", 0, 10, "CREATE TABLE"), ("u", 1, 11, "INSERT"),
        ]


class TestOneCommitPerStatement:
    """A statement's new Delta versions reach the catalog in one
    transaction. The INSERT and UPDATE cases pin the contract; the CTAS
    case failed before (one commit per version)."""

    def test_insert_one_commit(self, ctx):
        ctx.execute("CREATE TABLE t (id bigint, v int)")
        count = CommitCounter(ctx.catalog)
        ctx.execute("INSERT INTO t VALUES (1, 10)")
        assert count.n == 1
        assert versions(ctx, "t") == [0, 1]

    def test_update_one_commit(self, ctx):
        ctx.execute("CREATE TABLE t (id bigint, v int)")
        ctx.execute("INSERT INTO t VALUES (1, 10), (2, 20)")
        count = CommitCounter(ctx.catalog)
        ctx.execute("UPDATE t SET v = 11 WHERE id = 1")
        assert count.n == 1
        assert versions(ctx, "t") == [0, 1, 2]

    def test_ctas_records_both_versions_in_one_commit(self, ctx):
        count = CommitCounter(ctx.catalog)
        ctx.execute("CREATE TABLE c AS SELECT 1 AS id, 'a' AS s")
        # create_table's own row, then both versions together
        assert count.n == 2
        assert versions(ctx, "c") == [0, 1]


class TestVersionMirror:
    def test_vacuum_pruned_versions_stay_pruned(self, ctx):
        """VACUUM TABLE prunes the catalog to the latest version but keeps
        the commit files; the next write used to re-record every version
        from 0, so system.table_versions listed pruned versions again."""
        ctx.execute("CREATE TABLE t (id bigint)")
        for i in range(3):
            ctx.execute(f"INSERT INTO t VALUES ({i})")
        assert versions(ctx, "t") == [0, 1, 2, 3]
        ctx.execute("VACUUM TABLE t")
        assert versions(ctx, "t") == [3]
        ctx.execute("INSERT INTO t VALUES (9)")
        assert versions(ctx, "t") == [3, 4]

    def test_record_reads_only_commits_above_the_mark(self, ctx, monkeypatch):
        """Contract: a write reads the commit files it adds, not the
        table's whole history."""
        from seafowl_spark.engine.deltalite import DeltaLiteTable

        ctx.execute("CREATE TABLE t (id bigint)")
        for i in range(4):
            ctx.execute(f"INSERT INTO t VALUES ({i})")
        read = []
        orig = DeltaLiteTable.read_commit
        monkeypatch.setattr(
            DeltaLiteTable, "read_commit",
            lambda self, v, *a: read.append(v) or orig(self, v, *a),
        )
        entry = ctx.catalog.get_table("default", "public", "t")
        ctx._record(entry, DeltaLiteTable(ctx.spark, ctx.table_root(entry)))
        assert read == []
        assert versions(ctx, "t") == [0, 1, 2, 3, 4]

    def test_sql_merge_records_its_version(self, ctx):
        """SQL MERGE committed a version that system.table_versions left
        out until the next recorded write."""
        ctx.execute("CREATE TABLE m (k bigint, v string)")
        ctx.execute("INSERT INTO m VALUES (1, 'a'), (2, 'b')")
        ctx.execute(
            "MERGE INTO m t USING (SELECT * FROM VALUES (2, 'B'), (3, 'c') "
            "AS s(k, v)) s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
        )
        assert versions(ctx, "m") == [0, 1, 2]
        ops = ctx.execute(
            "SELECT operation FROM system.table_versions "
            "WHERE table_name = 'm' AND version = 2"
        ).collect()
        assert [r[0] for r in ops] == ["MERGE"]


class TestLostRace:
    """A write statement that loses the commit race re-plans against the
    winner's version and commits on the retry; both versions are
    recorded."""

    @pytest.fixture()
    def race_once(self, monkeypatch):
        """The next commit attempt finds its version taken by another
        writer's (empty) INSERT."""
        from seafowl_spark.engine import deltalite as dl

        real = dl.DeltaLiteTable._write_commit
        armed = {"on": False}

        def racing(self_t, commit):
            if armed["on"]:
                armed["on"] = False
                real(self_t, dl.Commit(commit.version, commit.timestamp_ms, "INSERT"))
            return real(self_t, commit)

        monkeypatch.setattr(dl.DeltaLiteTable, "_write_commit", racing)
        return armed

    @pytest.mark.parametrize("sql, op", [
        ("TRUNCATE r", "TRUNCATE"),
        ("ALTER TABLE r ADD COLUMN w bigint", "ADD COLUMN"),
        ("OPTIMIZE TABLE r", "OPTIMIZE"),
    ])
    def test_statement_commits_on_retry(self, ctx, race_once, sql, op):
        ctx.execute("CREATE TABLE r (k bigint)")
        ctx.execute("INSERT INTO r VALUES (1)")
        ctx.execute("INSERT INTO r VALUES (2)")
        race_once["on"] = True
        ctx.execute(sql)
        assert not race_once["on"]
        t = ctx.delta_table("r")
        assert [c.operation for c in t.history()][3:] == ["INSERT", op]
        assert versions(ctx, "r") == [0, 1, 2, 3, 4]


@pytest.mark.parametrize("n", [0, 1, 3])
def test_record_versions_is_one_transaction(tmp_path, n):
    """Contract: record_versions lands any number of rows in at most one
    commit (none for an empty batch)."""
    cat = Catalog(str(tmp_path / "c.sqlite"))
    count = CommitCounter(cat)
    cat.record_versions("u", [(v, v, "INSERT") for v in range(n)])
    assert count.n == (1 if n else 0)
    assert cat.recorded_version("u") == (n - 1 if n else None)
