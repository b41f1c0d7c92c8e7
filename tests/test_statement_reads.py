"""What a statement reads, from Spark's own parse of it
(``parser.parse_query``), and the paths that parse serves: the name
rewrite, time travel, the pruned scan, column lists with nested types,
and the file metadata a driver-held table reports."""

import json
import os
import random

import pytest
from py4j.protocol import Py4JError
from pyspark.errors import AnalysisException

from seafowl_spark.engine import bindings
from seafowl_spark.engine.deltalite import DeltaLiteTable

SEED = 1701

# spellings of the catalog's relations: quoted, qualified, case variants
_SPELLINGS = [
    "a", "A", '"a"', "`a`", "public.a", "PUBLIC.A", '"public"."a"', "default.public.a",
    "b", "c", "public.c", '"MixedCase"', 'public."MixedCase"', "mixedcase",
    '"sp ace"', 'public."sp ace"', "s2.t", '"s2"."t"', "v1", "v2", "public.v2",
    "a FOR VERSION AS OF 1",
]
# text a lexer could misread: a name inside a comment, literal or hint
_NOISE = ["/* don't b */", "/* c /* nested */ */", "-- it's c \n"]
_CONDS = ["'it''s c' <> 'b'", "'it\\'s b' <> 'c'", "r'C:\\' <> 'a'", "1 = 1"]
_TEMPLATES = [
    "SELECT {hint}count(*) FROM {r1} q1 WHERE {cond}",
    "SELECT q1.id FROM {r1} q1 {noise} JOIN {r2} q2 ON q1.id = q2.id",
    "SELECT count(*) FROM {r1} q1 WHERE q1.id IN (SELECT id FROM {r2}) AND {cond}",
    "SELECT count(*) FROM {r1} q1 WHERE EXISTS (SELECT 1 FROM {r2} q2 WHERE q2.id = q1.id)",
    "SELECT (SELECT max(x) FROM {r2} {noise}) AS m FROM {r1} q1",
    "WITH w AS (SELECT id FROM {r1} {noise}) SELECT count(*) FROM w JOIN {r2} q2 ON w.id = q2.id",
    "WITH b AS (SELECT id FROM {r1}) SELECT count(*) FROM b",
    "SELECT count(*) FROM {r1} q1 UNION ALL SELECT count(*) FROM {r2} q2 WHERE {cond}",
]


def _catalog(ctx):
    ctx.execute("CREATE SCHEMA s2")
    for name in ("a", "b", "c", '"MixedCase"', '"sp ace"', "s2.t"):
        ctx.execute(f"CREATE TABLE {name} (id INT, x INT, name STRING)")
        ctx.execute(f"INSERT INTO {name} VALUES (1, 10, 'p'), (2, 20, 'q')")
        ctx.execute(f"INSERT INTO {name} VALUES (3, 30, 'r')")
    ctx.execute("CREATE VIEW v1 AS SELECT id, x, name FROM a WHERE x >= 0")
    ctx.execute(
        "CREATE VIEW v2 AS SELECT v1.id, v1.x, v1.name FROM v1 JOIN b ON v1.id = b.id"
    )


def _analyzed_reads(ctx, df, travels) -> set[str]:
    """The catalog names the analyzed plan of ``df`` resolves: the temp
    views it reads (a logical view and the tables under it alike), and
    the table under each time-travel view by its files."""
    _mapping, named = ctx._name_mapping(ctx.catalog.tables(ctx.database))
    by_view = {n.lower(): e.name for e, *names in named for n in names if n}
    roots = {ctx.table_root(e): e.name for e, *_ in named}
    out = set()

    def walk(v):
        if isinstance(v, dict):
            if v.get("class", "").endswith(".View"):
                view = v["desc"]["identifier"]["table"].lower()
                if view in by_view:
                    out.add(by_view[view])
                for f in travels.get(view, ()):
                    out.update(n for r, n in roots.items() if r in f)
            for x in v.values():
                walk(x)
        elif isinstance(v, list):
            for x in v:
                walk(x)

    walk(json.loads(df._jdf.queryExecution().analyzed().toJSON()))
    return out


def test_reads_match_the_analyzed_plan(ctx, monkeypatch):
    """Seeded statements over quoted, qualified and case-variant names,
    with comments, escaped literals, hints, CTEs, IN/EXISTS/scalar
    subqueries, views over views and FOR VERSION AS OF: ``_reads`` names
    exactly the catalog tables Spark resolves while analyzing the
    executed statement, or in addition a table a CTE of the same name
    shadows."""
    _catalog(ctx)
    travels: dict[str, list[str]] = {}
    bind = ctx._bind_alias

    def record(prefix, df, aliases):
        alias = bind(prefix, df, aliases)
        travels[alias.lower()] = df.inputFiles()
        return alias

    monkeypatch.setattr(ctx, "_bind_alias", record)
    rng = random.Random(SEED)
    checked = 0
    for _ in range(48):
        r1, r2 = rng.choice(_SPELLINGS), rng.choice(_SPELLINGS)
        sql = rng.choice(_TEMPLATES).format(
            r1=r1, r2=r2, cond=rng.choice(_CONDS), noise=rng.choice(_NOISE),
            hint=rng.choice(["", "/*+ BROADCAST(c) */ "]),
        )
        if rng.random() < 0.3:
            sql = f"{sql} {rng.choice(_NOISE[:2])}"
        got = {e.name for e, _snap in ctx._reads(sql).tables.values()}
        travels.clear()
        want = _analyzed_reads(ctx, ctx.execute(sql), travels)
        shadows = set(ctx._parse(sql).ctes)
        assert want <= got and got - want <= shadows, (
            f"seed {SEED}: {sql!r} read {sorted(got)}, Spark resolved {sorted(want)}"
        )
        checked += 1
    assert checked == 48


def test_create_table_nested_column_types(ctx):
    """A column list spells STRUCT and MAP types with several members
    (a comma inside ``<>`` does not end a column) and round-trips them."""
    ctx.execute(
        'CREATE TABLE nested (id BIGINT, st STRUCT<x: INT, y: STRING>, '
        'm MAP<STRING, INT>, "a b" INT)'
    )
    ctx.execute(
        "INSERT INTO nested SELECT 1, named_struct('x', 2, 'y', 'z'), map('k', 3), 4"
    )
    df = ctx.execute("SELECT * FROM nested")
    assert df.schema.simpleString() == (
        "struct<id:bigint,st:struct<x:int,y:string>,m:map<string,int>,a b:int>"
    )
    [row] = df.collect()
    assert (row.id, row.st.x, row.st.y, row.m, row["a b"]) == (1, 2, "z", {"k": 3}, 4)


def test_bucketed_point_read_prunes_once(ctx, monkeypatch):
    """A pruned point read of a bucketed table hashes its pin once: the
    files ``_maybe_prune_scans`` chose are the frame's files."""
    ctx.execute(
        "CREATE TABLE bt (pk bigint, v varchar) WITH ('bucket_by' = 'pk', 'buckets' = '4')"
    )
    ctx.execute("INSERT INTO bt SELECT id, concat('v', id) FROM range(0, 40)")
    calls = []
    hits = DeltaLiteTable._bucket_hits

    def counted(self, snap, predicate_sql):
        calls.append(predicate_sql)
        return hits(self, snap, predicate_sql)

    monkeypatch.setattr(DeltaLiteTable, "_bucket_hits", counted)
    df = ctx.execute("SELECT * FROM bt WHERE pk = 5")
    assert [tuple(r) for r in df.collect()] == [(5, "v5")]
    assert calls == ["pk = 5"]


def test_scan_pruning_falls_back_when_spans_fail(ctx, monkeypatch):
    """Scan pruning is best-effort: when the relation's span cannot be
    read once a pruned frame is built (as for a remote table's pushed
    LIMIT), the statement reads the bound view instead."""
    ctx.execute("CREATE TABLE sp (x INT)")
    ctx.execute("INSERT INTO sp VALUES (1), (2)")
    parse = ctx._parse

    def no_spans(sql, spans=False):
        if spans:
            raise Py4JError("no origin")
        return parse(sql)

    monkeypatch.setattr(ctx, "_parse", no_spans)
    monkeypatch.setattr(type(ctx), "_pruned_frame", lambda self, q, name: self.spark.range(0))
    rows = ctx.execute("SELECT x FROM sp WHERE x > 0 LIMIT 5").collect()
    assert sorted(r.x for r in rows) == [1, 2]


def test_driver_held_file_metadata(ctx):
    """Pins what file metadata reads over a table bound on the driver
    return: it has no files, so ``input_file_name()`` reads '' and the
    ``_metadata`` column does not resolve. A change to either is a
    deliberate one."""
    ctx.execute("CREATE TABLE h (x INT)")
    ctx.execute("INSERT INTO h VALUES (1), (2)")
    rows = ctx.execute("SELECT x, input_file_name() AS f FROM h ORDER BY x").collect()
    t = ctx.delta_table("h")
    key = ("table", os.path.abspath(t.root), t.latest_version())
    assert bindings.for_session(ctx.spark).held(key)
    assert [tuple(r) for r in rows] == [(1, ""), (2, "")]
    with pytest.raises(AnalysisException):
        ctx.execute("SELECT _metadata FROM h")
