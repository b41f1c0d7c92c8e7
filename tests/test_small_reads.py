"""A read of files no bigger than ``deltalite.ONE_PARTITION_MAX_BYTES``
scans as one partition (``DeltaLiteTable.one_partition``): Spark plans no
exchange above it and runs the read as one job. Above the bound the same
reads keep their exchange and multi-partition scan, and both return the
same rows. (Values are DECIMAL: a DOUBLE sum may differ in its last bit
between partitionings, as under any repartition.)"""

import numpy as np
import pytest

from seafowl_spark.engine import deltalite, results
from tests.conftest import rows, spark_jobs

READS = {
    "aggregate": "SELECT count(*) AS n, sum(v) AS s, max(k) AS m FROM {t}",
    "group_by": "SELECT g, count(*) AS n, sum(v) AS s FROM {t} GROUP BY g",
    "whole_view": "SELECT * FROM {t}_v",
    "distinct": "SELECT DISTINCT g FROM {t}",
    "window": "SELECT k, row_number() OVER (PARTITION BY g ORDER BY k) AS r FROM {t}",
}


def _seed(ctx, t: str, seed: int = 0, delete: bool = True) -> None:
    """Four files of seeded rows with NULLs and a view over them; with
    ``delete``, a merge-on-read DELETE that leaves deletion vectors."""
    rng = np.random.default_rng(seed)
    ctx.execute(
        f"CREATE TABLE {t} (k BIGINT, g INT, v DECIMAL(12, 6), s STRING) "
        "WITH ('delete_mode' = 'mor')"
    )
    for f in range(4):
        vals = []
        for i in range(25):
            k = f * 25 + i
            g = "NULL" if rng.random() < 0.1 else str(int(rng.integers(0, 5)))
            v = "NULL" if rng.random() < 0.1 else f"{rng.normal():.6f}BD"
            s = "NULL" if rng.random() < 0.1 else f"'s{int(rng.integers(0, 9))}'"
            vals.append(f"({k}, {g}, {v}, {s})")
        ctx.execute(f"INSERT INTO {t} VALUES {', '.join(vals)}")
    ctx.execute(f"CREATE VIEW {t}_v AS {READS['group_by'].format(t=t)}")
    if delete:
        ctx.execute(f"DELETE FROM {t} WHERE k % 7 = 3")
        assert any(f.dv for f in ctx.delta_table(t).snapshot().files)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("read", sorted(READS))
def test_small_table_read_runs_one_job(ctx, read):
    """Deletion vectors add a broadcast job of their own, so this table
    has none."""
    _seed(ctx, "t", delete=False)
    sql = READS[read].format(t="t")
    assert "Exchange" not in _plan(ctx.execute(sql))
    assert spark_jobs(ctx.spark, lambda: results.fetch(ctx.execute(sql))) == 1


@pytest.mark.parametrize("read", sorted(READS))
def test_without_the_bound_reads_keep_their_exchange(ctx, monkeypatch, read):
    """Bound 0 restores Spark's plan, and the rows do not change. Each
    mode reads its own copy of the table: a binding keeps the frame it
    was built with until its version moves."""
    _seed(ctx, "one")
    monkeypatch.setattr(deltalite, "ONE_PARTITION_MAX_BYTES", 0)
    _seed(ctx, "many")
    many = ctx.execute(READS[read].format(t="many"))
    exchange = "SinglePartition" if read == "aggregate" else "hashpartitioning"
    assert f"Exchange {exchange}" in _plan(many)
    assert ctx.execute("SELECT * FROM many").rdd.getNumPartitions() > 1
    got_many = rows(many)
    monkeypatch.undo()
    one = ctx.execute(READS[read].format(t="one"))
    assert "Exchange" not in _plan(one).replace("BroadcastExchange", "")
    assert rows(one) == got_many


def test_more_files_than_the_bound_keep_their_exchange(ctx, monkeypatch):
    monkeypatch.setattr(deltalite, "ONE_PARTITION_MAX_FILES", 3)
    _seed(ctx, "t", delete=False)
    assert "Exchange hashpartitioning" in _plan(ctx.execute(READS["group_by"].format(t="t")))
    monkeypatch.setattr(deltalite, "ONE_PARTITION_MAX_FILES", 4)
    _seed(ctx, "u", delete=False)
    assert "Exchange" not in _plan(ctx.execute(READS["group_by"].format(t="u")))


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_seeded_rows_match_with_dvs_time_travel_and_nulls(ctx, monkeypatch, seed):
    """The same history read with and without the bound: every read,
    at the head (which carries deletion vectors) and at version 2 (two
    files, before the DELETE), including NULL groups and values."""
    _seed(ctx, "one", seed)
    monkeypatch.setattr(deltalite, "ONE_PARTITION_MAX_BYTES", 0)
    _seed(ctx, "many", seed)
    queries = list(READS.values()) + [
        "SELECT * FROM {t} WHERE v > 0",
        "SELECT g, count(*) AS n, sum(v) AS s FROM {t} FOR VERSION AS OF 2 GROUP BY g",
        "SELECT * FROM {t} FOR VERSION AS OF 2",
    ]
    want = [rows(ctx.execute(q.format(t="many"))) for q in queries]
    monkeypatch.undo()
    got = [rows(ctx.execute(q.format(t="one"))) for q in queries]
    assert got == want
    assert any(None in r for r in want[-1])  # NULLs were read


def test_where_read_on_a_small_table_binds_no_scan_alias(ctx, monkeypatch):
    """A WHERE read of a small multi-file unbucketed table reads the
    table's bound view: no per-statement pruned frame, no temp view."""
    ctx.execute("CREATE TABLE w (k BIGINT, v STRING)")
    for lo in (0, 100, 200):
        ctx.execute(f"INSERT INTO w SELECT id, CAST(id AS STRING) FROM range({lo}, {lo + 10}, 1, 1)")
    assert len(ctx.delta_table("w").snapshot().files) == 3
    ctx.execute("SELECT * FROM w")  # bind the table
    views = []
    orig = type(ctx)._bind_scan_alias

    def spy(sql, m, name, df):
        views.append(name)
        return orig(sql, m, name, df)

    monkeypatch.setattr(type(ctx), "_bind_scan_alias", staticmethod(spy))
    assert rows(ctx.execute("SELECT k FROM w WHERE k >= 200 ORDER BY k")) == [
        (k,) for k in range(200, 210)
    ]
    assert views == []
    monkeypatch.setattr(deltalite, "ONE_PARTITION_MAX_BYTES", 0)
    assert rows(ctx.execute("SELECT k FROM w WHERE k >= 200 ORDER BY k")) == [
        (k,) for k in range(200, 210)
    ]
    assert views == ["w"]  # above the bound the pruned alias still fires
