"""Statement splitting, classification and parsing for the DDL/DML surface
the engine implements itself (SURVEY.md §2.A; reference src/datafusion/
parser.rs:147-186 does the same dispatch in its sqlparser wrapper).

Queries (SELECT / WITH / VALUES / EXPLAIN / SHOW / DESCRIBE) pass through to
`spark.sql` once the executor (context.py) has spliced the spans
``parse_query`` finds with the session's own Spark parser: relation names
to temp views, time travel (`t('<timestamp>')`, reference
src/version.rs:61-106) and ``search_index()`` calls to per-statement views.
Everything else parses into a Statement the executor interprets.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field
from typing import Any

READ_PREFIXES = ("select", "with", "values", "explain", "show", "describe", "table")


class ParseError(Exception):
    pass


def _parse_merge_clauses(text: str) -> dict:
    """Parse the supported WHEN-clause subset of ANSI MERGE:

    * ``WHEN MATCHED [AND <alias>.<col>] THEN DELETE``
    * ``WHEN MATCHED THEN UPDATE SET *``
    * ``WHEN NOT MATCHED THEN INSERT *``

    Returns {"update": bool, "insert": bool, "delete": bool,
    "delete_if": col-name-or-None}. Anything outside the subset raises —
    partial MERGE semantics must fail loudly, not half-apply.
    """
    out = {"update": False, "insert": False, "delete": False, "delete_if": None}
    rest = text.strip()
    # dispatch on WHICH alternative matched (named groups), never on
    # substrings of the fragment: a delete-flag column named e.g.
    # `update_flag` must still classify as the flagged-DELETE clause
    pat = re.compile(
        r"(?is)^when\s+(?:"
        r"matched\s+and\s+(?:(?P<flagq>\w+)\.)?(?P<flag>\w+)\s+then\s+delete"
        r"|matched\s+then\s+(?P<del>delete)"
        r"|matched\s+then\s+(?P<upd>update)\s+set\s+\*"
        r"|not\s+matched\s+then\s+(?P<ins>insert)\s+\*"
        r")\s*"
    )
    while rest:
        m = pat.match(rest)
        if not m:
            raise ParseError(
                f"unsupported MERGE clause near: {rest[:60]!r} (supported: "
                "WHEN MATCHED [AND <flag>] THEN DELETE, WHEN MATCHED THEN "
                "UPDATE SET *, WHEN NOT MATCHED THEN INSERT *)"
            )
        if m.group("upd"):
            out["update"] = True
        elif m.group("ins"):
            out["insert"] = True
        elif m.group("flag"):
            out["delete_if"] = m.group("flag")
        else:
            out["delete"] = True
        rest = rest[m.end():]
    return out


@dataclass
class Statement:
    kind: str
    text: str
    fields: dict[str, Any] = field(default_factory=dict)

    def __getattr__(self, item):
        try:
            return self.fields[item]
        except KeyError as exc:
            raise AttributeError(item) from exc


# --------------------------------------------------------------------------
# lexing: quotes, comments, statement splitting
# --------------------------------------------------------------------------

def split_statements(sql: str) -> list[str]:
    """Split at the semicolons outside the spans of :func:`scan_quotes`;
    ``--`` comments are dropped."""
    for kind, a, b in reversed(scan_quotes(sql)):
        if kind == "line_comment":
            sql = sql[:a] + sql[b:]
    cuts = [i for i, ch in enumerate(_masked(sql)) if ch == ";"]
    parts = [sql[a + 1:b] for a, b in zip([-1, *cuts], [*cuts, len(sql)])]
    return [p.strip() for p in parts if p.strip()]


def _quoted_end(sql: str, i: int, escapes: bool) -> int:
    """End (exclusive) of the quoted token opening at ``sql[i]``: a
    doubled quote stays inside, and so does a backslash-escaped one where
    ``escapes``. Unterminated, it runs to the end of ``sql``."""
    q, j, n = sql[i], i + 1, len(sql)
    while j < n:
        if escapes and sql[j] == "\\":
            j += 2
        elif sql[j] != q:
            j += 1
        elif j + 1 < n and sql[j + 1] == q:
            j += 2
        else:
            return j + 1
    return n


# where a span of scan_quotes can open; "/*+" opens a hint, which is code
_LEX_START = re.compile(r"['\"`]|--|/\*(?!\+)")


def scan_quotes(sql: str) -> list[tuple[str, int, int]]:
    """The spans of ``sql`` that are not plain code, ended where Spark's
    SQL lexer ends them: (kind, start, end), end exclusive, kind one of
    ``squote`` (string literal: ``\\'`` and ``''`` stay inside, a raw
    ``r'...'`` has no escapes), ``dquote`` (the engine's ANSI identifier,
    escaped alike), ``btick``, ``line_comment`` (``--`` to the end of the
    line; a backslash before the newline continues it) and
    ``block_comment`` (nested ``/* */``; ``/*+`` opens a hint, which is
    code). Statement splitting and the structural scans of
    ``deltalite._bucket_hits`` and matview's ``parse_mv_query`` mask with
    it; what a query reads comes from Spark's own parse
    (``parse_query``). Unterminated spans run to the end of the string."""
    spans: list[tuple[str, int, int]] = []
    i, n = 0, len(sql)
    while (m := _LEX_START.search(sql, i)) is not None:
        i, tok = m.start(), m.group()
        if tok in "'\"":
            # a raw literal's r is not the end of an identifier
            raw = sql[i - 1:i] in ("r", "R") and not re.match(r"\w", sql[i - 2:i - 1])
            end = _quoted_end(sql, i, escapes=not raw)
            spans.append(("squote" if tok == "'" else "dquote", i, end))
        elif tok == "`":
            spans.append(("btick", i, _quoted_end(sql, i, escapes=False)))
        elif tok == "--":
            end = i + 2
            while end < n and sql[end] not in "\r\n":
                end += 2 if sql.startswith("\\\n", end) else 1
            spans.append(("line_comment", i, end))
        else:
            end, depth = i + 2, 1
            while end < n and depth:
                step = sql[end:end + 2]
                depth += (step == "/*" and sql[end + 2:end + 3] != "+") - (step == "*/")
                end += 2 if step in ("*/", "/*") else 1
            spans.append(("block_comment", i, min(end, n)))
        i = spans[-1][2]
    return spans


def mask_spans(sql: str, repl) -> str | None:
    """``sql`` with each span of :func:`scan_quotes` replaced by
    ``repl(kind, text)``, or None when its last quoted span or block
    comment is left open (Spark rejects such text; the scanner would run
    the span to the end of the string)."""
    spans = scan_quotes(sql + "\n")
    if spans and spans[-1][0] != "line_comment" and spans[-1][2] > len(sql):
        return None
    out, i = [], 0
    for kind, a, b in spans:
        b = min(b, len(sql))
        out += [sql[i:a], repl(kind, sql[a:b])]
        i = b
    return "".join(out) + sql[i:]


def _masked(sql: str) -> str:
    """``sql`` with every span of :func:`scan_quotes` blanked, offsets kept."""
    out = list(sql)
    for _k, a, b in scan_quotes(sql):
        out[a:b] = " " * (b - a)
    return "".join(out)


def is_read_only(stmt: str) -> bool:
    """Read-only detection for the multi-statement / cached-GET rules
    (reference src/context/logical.rs:36-58)."""
    return stmt.strip().lower().startswith(READ_PREFIXES)


# --------------------------------------------------------------------------
# helpers
# --------------------------------------------------------------------------

_IDENT = r"[A-Za-z_][A-Za-z0-9_]*"
# a name part: bare identifier, or ANSI double-quoted (reference ddl.rs
# exercises schemas like "new_./-~:schema"; doubled-"" escapes are not
# supported — no reference test needs them)
_QIDENT = rf'(?:"[^"]+"|{_IDENT})'
_QNAME = rf"{_QIDENT}(?:\.{_QIDENT}){{0,2}}"


def _split_top(s: str, sep: str = ",", nest: str = "()") -> list[str]:
    """Split on `sep` outside the bracket pairs of `nest` (a column list
    also nests `<>`: STRUCT<x: INT, y: STRING>) and outside the spans of
    :func:`scan_quotes`."""
    out, depth, start = [], 0, 0
    for i, ch in enumerate(_masked(s)):
        depth += (ch in nest[::2]) - (ch in nest[1::2])
        if ch == sep and depth == 0:
            out.append(s[start:i].strip())
            start = i + 1
    last = s[start:].strip()
    return out + [last] if last else out


def split_name_parts(name: str) -> list[str]:
    """Split a (possibly double-quoted) qualified name on dots OUTSIDE
    quotes, stripping the quotes — `"a.b".c` -> ['a.b', 'c']."""
    parts: list[str] = []
    buf: list[str] = []
    in_q = False
    for ch in name:
        if ch == '"':
            in_q = not in_q
        elif ch == "." and not in_q:
            parts.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
    parts.append("".join(buf))
    return parts


def parse_qualified(name: str) -> tuple[str | None, str | None, str]:
    return qualified(split_name_parts(name))


def qualified(parts) -> tuple[str | None, str | None, str]:
    """(database, schema, table) of a one- to three-part name."""
    if not 1 <= len(parts) <= 3:
        raise ParseError(f"too many name parts: {'.'.join(parts)}")
    return (None,) * (3 - len(parts)) + tuple(parts)


# --------------------------------------------------------------------------
# query reads: what a query names, from one parse by the session's parser
# --------------------------------------------------------------------------

@dataclass(frozen=True)
class Relation:
    """A table a query names: its parts, whether each was quoted, and its
    ``[start, end)`` (None for an unquoted one-part plain name)."""

    parts: tuple[str, ...]
    quoted: tuple[bool, ...]
    span: tuple[int, int] | None


@dataclass(frozen=True)
class TimeTravel:
    """``t FOR VERSION|TIMESTAMP AS OF x`` or ``t('<ts>')``: ``spec`` is
    ``version=<n>`` or the timestamp, ``span`` what a rewrite replaces (an
    alias after it stays), ``aliased`` whether the query aliases it."""

    relation: Relation
    spec: str
    span: tuple[int, int]
    aliased: bool


@dataclass(frozen=True)
class SearchCall:
    """A ``search_index('<table>', '<index>', '<query>', k)`` relation."""

    table: str
    index: str
    query: str
    k: int
    span: tuple[int, int]


@dataclass(frozen=True)
class Scan:
    """A query that is one SELECT over one relation, with no join, set
    operation, CTE or subquery: its alias, whether a WHERE (a Filter)
    sits right above the relation, and ``limit`` when it is only plain
    columns, that WHERE and ``LIMIT n``. ``spans`` (the relation's, the
    WHERE's or None) are read only when asked for (``parse_query``)."""

    relation: Relation
    alias: str | None
    where: bool
    limit: int | None
    spans: tuple | None


@dataclass(frozen=True)
class QueryParse:
    """What one query text names (``parse_query``): every relation (in
    subqueries, CTE bodies and under EXPLAIN too, a CTE's own name where
    the body reads it included), its time travels and ``search_index()``
    calls, CTE names and (lower-cased) function names."""

    sql: str
    relations: tuple[Relation, ...]
    travels: tuple[TimeTravel, ...]
    search_calls: tuple[SearchCall, ...]
    ctes: frozenset[str]
    functions: frozenset[str]
    scan: Scan | None


_PLAIN = re.compile(_IDENT)
_RELATIONS = {"UnresolvedRelation", "UnresolvedTableOrView", "UnresolvedTable", "UnresolvedView"}
# the fields holding a tree that Spark keeps in a Scala Option (toJSON
# writes Some(x) as x): a path steps into them with ("o", name)
_OPTIONS = {("Join", "condition"), ("LateralJoin", "condition"), ("CaseWhen", "elseValue"),
            ("UnresolvedFunction", "filter"), ("Unpivot", "values"), ("Unpivot", "ids"),
            ("RelationTimeTravel", "version"), ("RelationTimeTravel", "timestamp")}
# Origin(line, startPosition, startIndex, stopIndex, sqlText, ...)
_ORIGIN = re.compile(r"Origin\((?:Some\(\d+\)|None),(?:Some\(\d+\)|None),Some\((\d+)\),Some\((\d+)\)")
_NAME_PART = re.compile(r'\s*(?:"((?:[^"\\]|""|\\.)*)"|`((?:[^`]|``)*)`|(\w+))')
_DOT = re.compile(r"\s*\.")


def parse_query(spark, sql: str, spans: bool = False) -> QueryParse:
    """``sql`` parsed by the session's own parser, in the dialect the
    caller has set: ``parsePlan`` and ``toJSON``, plus an origin read for
    each relation, time travel or ``search_index()`` call a rewrite may
    splice and, with ``spans``, for a ``Scan``'s relation and WHERE.
    Raises Spark's ParseException."""
    if (jp := getattr(spark, "_sfs_parser", None)) is None:
        jss = spark._jsparkSession
        jp = spark._sfs_parser = (spark._jvm.SparkSession.setActiveSession, jss,
                                  jss.sessionState().sqlParser())
    activate, jss, jparser = jp
    activate(jss)  # the parser reads the conf of the thread's active session
    plan = jparser.parsePlan(sql)
    return _read_plan(sql, plan, json.loads(plan.toJSON()), spans)


def _read_plan(sql: str, plan, tree: list, spans: bool) -> QueryParse:
    rels, travels, calls, ctes, funcs, top = [], [], [], set(), set(), []
    subqueries = False
    for node, path, parent in _nodes(tree):
        cls = _cls(node)
        if all(k == "c" for k, _ in path):
            top.append((cls, node, path))
        subqueries |= "plan" in node or "logicalPlan" in node
        if cls in _RELATIONS and parent != "RelationTimeTravel":
            rels.append(_relation(sql, plan, node["multipartIdentifier"], path))
        elif cls == "RelationTimeTravel":
            rel = _relation(sql, plan, node["relation"][0]["multipartIdentifier"],
                            (*path, ("f", "relation")), spanned=True)
            rels.append(rel)
            version, ts = str(node.get("version")), _literal(node.get("timestamp"))
            spec = f"version={version}" if version.isdigit() else ts
            if isinstance(spec, str):
                span = (rel.span[0], _span(plan, path)[1])
                travels.append(TimeTravel(rel, spec, span, parent == "SubqueryAlias"))
        elif cls == "UnresolvedTableValuedFunction":
            name, args = _parts(node["name"]), [_literal(a) for a in node["functionArgs"]]
            if name == ["search_index"] and [type(a) for a in args] == [str, str, str, int]:
                calls.append(SearchCall(*args, _call_span(sql, plan, path, 4)))
            elif len(args) == 1 and isinstance(args[0], str):
                span = _call_span(sql, plan, path, 1)
                parts, quoted, end = _name_parts(sql, span[0])
                rel = Relation(tuple(parts), tuple(quoted), (span[0], end))
                rels.append(rel)
                travels.append(TimeTravel(rel, args[0], span, parent == "SubqueryAlias"))
        elif cls == "UnresolvedWith":
            ctes.update(c["_1"].lower() for c in node["cteRelations"])
        elif cls == "UnresolvedFunction":
            funcs.add(_parts(node["nameParts"])[-1].lower())
    one = len(rels) == 1 and not (travels or calls or ctes or subqueries)
    return QueryParse(sql, tuple(rels), tuple(travels), tuple(calls), frozenset(ctes),
                      frozenset(funcs), _scan(rels[0], top, plan if spans else None) if one else None)


def _scan(rel: Relation, top: list, plan) -> Scan | None:
    """The ``Scan`` of a query whose one relation is the only leaf of its
    main plan (``top``, in pre-order: a chain down to the relation)."""
    classes = [c for c, *_ in top]
    if [n["num-children"] for _c, n, _p in top].count(0) != 1 or classes[-1] not in _RELATIONS:
        return None
    i, alias = len(top) - 1, None
    if classes[i - 1:i] == ["SubqueryAlias"]:
        i -= 1
        alias = top[i][1]["identifier"]["name"]
    where = top[i - 1] if i and classes[i - 1] == "Filter" else None
    limit = None
    if classes[:3] == ["GlobalLimit", "LocalLimit", "Project"] and i == 3 + bool(where):
        columns = ([_cls(n) for n in e] for e in top[2][1]["projectList"])
        if all(c in (["UnresolvedAttribute"], ["UnresolvedStar"], ["Alias", "UnresolvedAttribute"])
               for c in columns):
            limit = _literal(top[0][1]["limitExpr"])
    if where is None and type(limit) is not int:
        return None
    spans = plan is not None and (rel.span or _span(plan, top[-1][2]),
                                  where and _span(plan, (*where[2], ("f", "condition"))))
    return Scan(rel, alias, where is not None, limit if type(limit) is int else None, spans or None)


def _cls(node: dict) -> str:
    return node["class"].rsplit(".", 1)[-1]


def _nodes(tree: list, path: tuple = (), owner: str | None = None) -> list:
    """(node, path, parent class) of each node of a ``toJSON`` tree in
    pre-order, and of the trees its fields hold (subqueries, CTE bodies,
    expressions). A path steps to a child ``("c", i)``, a field
    ``("f", name)`` (``"o"`` if an Option) or into a sequence ``("i", i)``."""
    out = []

    def visit(i: int, path: tuple, parent: str | None) -> int:
        node = tree[i]
        out.append((node, path, parent))
        for k, v in node.items():
            step = ("o" if (_cls(node), k) in _OPTIONS else "f", k)
            for sub, p in _trees(v, (*path, step)):
                out.extend(_nodes(sub, p, _cls(node)))
        j = i + 1
        for c in range(node["num-children"]):
            j = visit(j, (*path, ("c", c)), _cls(node))
        return j

    visit(0, path, owner)
    return out


def _trees(value, path: tuple):
    """The ``toJSON`` trees inside one field value, with their paths."""
    if isinstance(value, list) and value and isinstance(value[0], dict) and "class" in value[0]:
        yield value, path
    elif isinstance(value, (list, dict)):
        items = value.items() if isinstance(value, dict) else enumerate(value)
        for k, v in items:
            yield from _trees(v, (*path, ("f" if isinstance(value, dict) else "i", k)))


def _literal(tree):
    """The str, int or float value of a ``toJSON`` tree that is one literal."""
    if not tree or len(tree) != 1 or _cls(tree[0]) != "Literal":
        return None
    v, t = tree[0].get("value"), tree[0].get("dataType")
    if v is None or t == "string":
        return v
    return int(v) if t in ("integer", "long", "short", "byte") else float(v) if t in ("double", "float") else None


def _parts(text: str) -> list[str]:
    """The parts of ``[a, b]``, a name as ``toJSON`` writes it."""
    return text[1:-1].split(", ")


def _relation(sql: str, plan, name: str, path: tuple, spanned: bool = False) -> Relation:
    """Parts and quoting come from the span's text (the JSON form is
    ambiguous for a part holding ", "); a quoted plain name is spelled
    verbatim, so one absent so was unquoted and needs no span."""
    parts = _parts(name)
    if not spanned and len(parts) == 1 and _PLAIN.fullmatch(parts[0]) and not (
        f'"{parts[0]}"' in sql or f"`{parts[0]}`" in sql
    ):
        return Relation(tuple(parts), (False,), None)
    start, end = _span(plan, path)
    got, quoted, stop = _name_parts(sql, start)
    if "[" + ", ".join(got) + "]" != name or stop != end:  # a comment inside
        got, quoted = parts, [not _PLAIN.fullmatch(p) for p in parts]
    return Relation(tuple(got), tuple(quoted), (start, end))


def _name_parts(sql: str, i: int) -> tuple[list[str], list[bool], int]:
    """The dotted name starting at ``sql[i]``: its parts unquoted, whether
    each was quoted (``"..."`` or a backtick), and where it ends."""
    parts, quoted = [], []
    while (m := _NAME_PART.match(sql, i)) is not None:
        dq, bt, bare = m.groups()
        parts.append(dq.replace('""', '"') if dq is not None
                     else bt.replace("``", "`") if bt is not None else bare)
        quoted.append(bare is None)
        i = m.end()
        if (d := _DOT.match(sql, i)) is None:
            break
        i = d.end()
    return parts, quoted, i


def _call_span(sql: str, plan, path: tuple, nargs: int) -> tuple[int, int]:
    """A table-valued call through its ``)`` (its origin spans an alias)."""
    last = _span(plan, (*path, ("f", "functionArgs"), ("i", nargs - 1)))[1]
    return _span(plan, path)[0], sql.index(")", last) + 1


def _span(plan, path: tuple) -> tuple[int, int]:
    """``[start, end)`` of the node at ``path`` (``_nodes``) under
    ``plan``, from its parse origin (whose stop index is inclusive)."""
    obj = plan
    for kind, arg in path:
        obj = (obj.children().apply(arg) if kind == "c" else obj.apply(arg) if kind == "i"
               else getattr(obj, arg)())
        obj = obj.get() if kind == "o" else obj
    if (m := _ORIGIN.match(origin := obj.origin().toString())) is None:
        raise ParseError(f"no source span in {origin}")
    return int(m.group(1)), int(m.group(2)) + 1


def extract_time_travel(q: QueryParse) -> list[TimeTravel]:
    """The time travels of a parsed query (reference src/version.rs:28-106)."""
    return list(q.travels)


def splice(sql: str, edits) -> str:
    """``sql`` with each ``((start, end), text)`` of ``edits`` (which do
    not overlap) in place of its span."""
    out, i = [], 0
    for (a, b), text in sorted(edits):
        out += [sql[i:a], text]
        i = b
    return "".join(out) + sql[i:]


# --------------------------------------------------------------------------
# statement parsing
# --------------------------------------------------------------------------

def parse_statement(sql: str) -> Statement:
    s = sql.strip()
    low = re.sub(r"\s+", " ", s.lower())

    if is_read_only(s):
        return Statement("query", s)

    m = re.match(r"(?i)^create\s+database\s+(if\s+not\s+exists\s+)?(" + _IDENT + r")\s*$", s)
    if m:
        return Statement("create_database", s, {"name": m.group(2), "if_not_exists": bool(m.group(1))})

    m = re.match(r"(?i)^create\s+schema\s+(if\s+not\s+exists\s+)?(" + _QNAME + r")\s*$", s)
    if m:
        return Statement("create_schema", s, {"name": m.group(2), "if_not_exists": bool(m.group(1))})

    m = re.match(
        rf"(?i)^create\s+(unbounded\s+)?external\s+table\s+"
        rf"(if\s+not\s+exists\s+)?({_IDENT})\s*"
        rf"(\((.*?)\))?\s*stored\s+as\s+({_IDENT})\s*"
        rf"(?:partitioned\s+by\s+\(([^)]*)\)\s*)?"
        rf"(?:options\s*\((.*?)\)\s*)?location\s+'([^']+)'\s*$",
        s,
        re.DOTALL,
    )
    if m:
        cols = _parse_columns(m.group(5)) if m.group(5) else None
        part = [c.strip().strip('"') for c in (m.group(7) or "").split(",") if c.strip()]
        return Statement(
            "create_external_table",
            s,
            {
                "if_not_exists": bool(m.group(2)),
                "name": m.group(3),
                "columns": cols,
                "format": m.group(6).lower(),
                # hive partition columns are discovered from the directory
                # layout by Spark; the clause is accepted for reference
                # parity (parser.rs:601-745) and validated post-read
                "partition_by": part,
                "options": _parse_options(m.group(8)),
                "location": m.group(9),
                # the reference parses UNBOUNDED (parser.rs:395-398) though
                # nothing downstream consumes it; accepted and flagged so a
                # streaming source could route on it
                "unbounded": bool(m.group(1)),
            },
        )

    m = re.match(
        rf"(?i)^create\s+(or\s+replace\s+)?function\s+({_IDENT})\s+as\s+'((?:[^']|'')*)'\s*$",
        s,
        re.DOTALL,
    )
    if m:
        return Statement(
            "create_function",
            s,
            {"or_replace": bool(m.group(1)), "name": m.group(2), "spec": m.group(3).replace("''", "'")},
        )

    m = re.match(
        rf"(?i)^drop\s+function\s+(if\s+exists\s+)?({_IDENT}(?:\s*,\s*{_IDENT})*)\s*$", s
    )
    if m:
        names = [n.strip() for n in m.group(2).split(",")]
        return Statement("drop_function", s, {"if_exists": bool(m.group(1)), "names": names})

    m = re.match(
        rf"(?i)^create\s+search\s+index\s+(if\s+not\s+exists\s+)?({_IDENT})\s+"
        rf"on\s+({_QNAME})\s*\(\s*({_IDENT}(?:\s*,\s*{_IDENT})*)\s*\)\s*"
        rf"using\s+([A-Za-z0-9_]+)\s*"
        rf"(?:with\s*\((.*?)\)\s*)?$",
        s,
        re.DOTALL,
    )
    if m:
        cols = [c.strip().strip('"') for c in m.group(4).split(",")]
        return Statement(
            "create_search_index",
            s,
            {
                "if_not_exists": bool(m.group(1)),
                "index": m.group(2).strip('"'),
                "table": m.group(3),
                # the spec's canonical form: comma-joined column list
                # (single-column indexes keep their plain name)
                "column": ",".join(cols),
                "columns": cols,
                "method": m.group(5).upper(),
                "params": _parse_options(m.group(6)),
            },
        )

    m = re.match(
        rf"(?i)^refresh\s+search\s+index\s+({_IDENT})\s+on\s+({_QNAME})\s*$", s
    )
    if m:
        return Statement(
            "refresh_search_index",
            s,
            {"index": m.group(1).strip('"'), "table": m.group(2)},
        )

    m = re.match(
        rf"(?i)^drop\s+search\s+index\s+(if\s+exists\s+)?({_IDENT})\s+"
        rf"on\s+({_QNAME})\s*$",
        s,
    )
    if m:
        return Statement(
            "drop_search_index",
            s,
            {
                "if_exists": bool(m.group(1)),
                "index": m.group(2).strip('"'),
                "table": m.group(3),
            },
        )

    m = re.match(
        rf"(?i)^create\s+materialized\s+view\s+(if\s+not\s+exists\s+)?"
        rf"({_QNAME})\s+as\s+(select\b.*)$",
        s,
        re.DOTALL,
    )
    if m:
        return Statement(
            "create_matview",
            s,
            {
                "if_not_exists": bool(m.group(1)),
                "name": m.group(2),
                "query": m.group(3),
            },
        )

    m = re.match(
        rf"(?i)^refresh\s+materialized\s+view\s+({_QNAME})\s*$", s
    )
    if m:
        return Statement("refresh_matview", s, {"name": m.group(1)})

    m = re.match(
        rf"(?i)^drop\s+materialized\s+view\s+(if\s+exists\s+)?({_QNAME})\s*$", s
    )
    if m:
        # a materialized view IS a table; DROP reuses the table path
        return Statement(
            "drop_table", s, {"if_exists": bool(m.group(1)), "name": m.group(2)}
        )

    m = re.match(
        rf"(?i)^create\s+(or\s+replace\s+)?view\s+({_QNAME})\s+as\s+"
        rf"((?:select|with)\b.*)$",
        s,
        re.DOTALL,
    )
    if m:
        return Statement(
            "create_view",
            s,
            {
                "or_replace": bool(m.group(1)),
                "name": m.group(2),
                "query": m.group(3),
            },
        )

    m = re.match(rf"(?i)^drop\s+view\s+(if\s+exists\s+)?({_QNAME})\s*$", s)
    if m:
        return Statement(
            "drop_view", s, {"if_exists": bool(m.group(1)), "name": m.group(2)}
        )

    m = re.match(
        rf"(?i)^create\s+table\s+(if\s+not\s+exists\s+)?({_QNAME})\s+"
        rf"shallow\s+clone\s+({_QNAME})\s*"
        rf"(?:for\s+version\s+as\s+of\s+(\d+)\s*)?"
        rf"(?:for\s+timestamp\s+as\s+of\s+'([^']+)'\s*)?$",
        s,
    )
    if m:
        return Statement(
            "shallow_clone",
            s,
            {
                "if_not_exists": bool(m.group(1)),
                "name": m.group(2),
                "source": m.group(3),
                "version": int(m.group(4)) if m.group(4) else None,
                "timestamp": m.group(5),
            },
        )

    m = re.match(
        rf"(?i)^create\s+table\s+(if\s+not\s+exists\s+)?({_QNAME})\s+as\s+(.*)$", s, re.DOTALL
    )
    if m:
        return Statement(
            "ctas", s, {"if_not_exists": bool(m.group(1)), "name": m.group(2), "query": m.group(3)}
        )

    m = re.match(
        rf"(?i)^create\s+table\s+(if\s+not\s+exists\s+)?({_QNAME})\s*\((.*?)\)\s*"
        r"(?:with\s*\((.*?)\)\s*)?$",
        s,
        re.DOTALL,
    )
    if m:
        return Statement(
            "create_table",
            s,
            {
                "if_not_exists": bool(m.group(1)),
                "name": m.group(2),
                "columns": _parse_columns(m.group(3)),
                # WITH ('bucket_by' = 'pk', 'buckets' = '16') — storage
                # layout properties (hash-bucketed writes)
                "properties": _parse_options(m.group(4)),
            },
        )

    m = re.match(
        rf"(?i)^insert\s+(into|overwrite(?:\s+table)?)\s+({_QNAME})\s*(\(([^)]*)\))?\s*(values\s*\(.*|select\s+.*|with\s+.*|table\s+.*)$",
        s,
        re.DOTALL,
    )
    if m:
        cols = [c.strip() for c in m.group(4).split(",")] if m.group(4) else None
        return Statement(
            "insert",
            s,
            {
                "name": m.group(2),
                "columns": cols,
                "query": m.group(5),
                "overwrite": m.group(1).lower() != "into",
            },
        )

    m = re.match(
        rf"(?i)^update\s+({_QNAME})\s+set\s+(.*?)(?:\s+where\s+(.*))?$", s, re.DOTALL
    )
    if m:
        sets = {}
        for item in _split_top(m.group(2)):
            k, _, v = item.partition("=")
            if not v:
                raise ParseError(f"bad SET clause: {item}")
            sets[k.strip()] = v.strip()
        return Statement("update", s, {"name": m.group(1), "sets": sets, "where": m.group(3)})

    m = re.match(rf"(?i)^delete\s+from\s+({_QNAME})(?:\s+where\s+(.*))?$", s, re.DOTALL)
    if m:
        return Statement("delete", s, {"name": m.group(1), "where": m.group(2)})

    m = re.match(
        rf"(?is)^merge\s+into\s+({_QNAME})(?:\s+(?:as\s+)?(\w+))?"
        rf"\s+using\s+(?:\((.+)\)|({_QNAME}))(?:\s+(?:as\s+)?(\w+))?"
        rf"\s+on\s+(.+?)\s+(when\s+.+)$",
        s,
    )
    if m:
        return Statement(
            "merge",
            s,
            {
                "name": m.group(1),
                "target_alias": m.group(2),
                "source_query": m.group(3),
                "source_table": m.group(4),
                "source_alias": m.group(5),
                "on": m.group(6).strip(),
                "clauses": _parse_merge_clauses(m.group(7)),
            },
        )

    m = re.match(rf"(?i)^truncate\s+(?:table\s+)?({_QNAME})\s*$", s)
    if m:
        return Statement("truncate", s, {"name": m.group(1)})

    # must precede OPTIMIZE TABLE: its _QNAME would swallow 'search'
    m = re.match(
        rf"(?i)^optimize\s+search\s+index\s+({_IDENT})\s+on\s+({_QNAME})\s*$",
        s,
    )
    if m:
        return Statement(
            "optimize_search_index",
            s,
            {"index": m.group(1).strip('"'), "table": m.group(2)},
        )

    m = re.match(
        rf"(?i)^optimize\s+(?:table\s+)?({_QNAME})"
        r"(?:\s+where\s+(.+?))?"
        r"(?:\s+zorder\s+by\s*\(\s*([^)]+?)\s*\))?\s*$",
        s,
    )
    if m:
        zcols = (
            [c.strip().strip('`"') for c in m.group(3).split(",")]
            if m.group(3)
            else None
        )
        return Statement(
            "optimize",
            s,
            {
                "name": m.group(1),
                "predicate": m.group(2),
                "zorder_by": zcols,
            },
        )

    m = re.match(
        rf"(?i)^restore\s+(?:table\s+)?({_QNAME})\s+(?:to\s+)?"
        r"(?:version\s+as\s+of\s+(\d+)"
        r"|timestamp\s+as\s+of\s+'([^']+)')\s*$",
        s,
    )
    if m:
        return Statement(
            "restore",
            s,
            {
                "name": m.group(1),
                "version": int(m.group(2)) if m.group(2) else None,
                "timestamp": m.group(3),
            },
        )

    m = re.match(rf"(?i)^vacuum\s+table\s+({_QNAME})\s*$", s)
    if m:
        return Statement("vacuum_table", s, {"name": m.group(1)})
    m = re.match(rf"(?i)^vacuum\s+database\s+({_IDENT})\s*$", s)
    if m:
        return Statement("vacuum_database", s, {"name": m.group(1)})

    m = re.match(
        rf"(?i)^alter\s+table\s+({_QNAME})\s+rename\s+to\s+({_QNAME})\s*$", s
    )
    if m:
        return Statement("rename_table", s, {"name": m.group(1), "new_name": m.group(2)})

    m = re.match(
        rf"(?i)^alter\s+table\s+({_QNAME})\s+add\s+column\s+({_IDENT})\s+(.+?)\s*$",
        s,
    )
    if m:
        return Statement(
            "add_column",
            s,
            {"name": m.group(1), "column": m.group(2), "dtype": m.group(3)},
        )

    m = re.match(
        rf"(?i)^alter\s+table\s+({_QNAME})\s+drop\s+column\s+({_IDENT})\s*$", s
    )
    if m:
        return Statement(
            "drop_column", s, {"name": m.group(1), "column": m.group(2)}
        )

    m = re.match(
        rf"(?i)^alter\s+table\s+({_QNAME})\s+add\s+constraint\s+({_IDENT})"
        r"\s+check\s*\((.+)\)\s*$",
        s,
    )
    if m:
        return Statement(
            "add_constraint",
            s,
            {"name": m.group(1), "constraint": m.group(2), "expr": m.group(3)},
        )

    m = re.match(
        rf"(?i)^alter\s+table\s+({_QNAME})\s+drop\s+constraint\s+({_IDENT})\s*$",
        s,
    )
    if m:
        return Statement(
            "drop_constraint", s, {"name": m.group(1), "constraint": m.group(2)}
        )

    m = re.match(rf"(?i)^drop\s+table\s+(if\s+exists\s+)?({_QNAME})\s*$", s)
    if m:
        return Statement("drop_table", s, {"if_exists": bool(m.group(1)), "name": m.group(2)})

    m = re.match(rf"(?i)^drop\s+schema\s+(if\s+exists\s+)?({_QNAME})\s*$", s)
    if m:
        return Statement("drop_schema", s, {"if_exists": bool(m.group(1)), "name": m.group(2)})

    m = re.match(rf"(?i)^drop\s+database\s+(if\s+exists\s+)?({_IDENT})\s*$", s)
    if m:
        return Statement("drop_database", s, {"if_exists": bool(m.group(1)), "name": m.group(2)})

    m = re.match(
        rf"(?i)^copy\s+(\((.*)\)|{_QNAME})\s+to\s+'([^']+)'"
        rf"\s*(?:stored\s+as\s+({_IDENT}))?"
        rf"\s*(?:partitioned\s+by\s+\(([^)]*)\))?"
        rf"\s*(?:options\s*\((.*?)\))?\s*$",
        s,
        re.DOTALL,
    )
    if m:
        part = [c.strip().strip('"') for c in (m.group(5) or "").split(",") if c.strip()]
        return Statement(
            "copy_to",
            s,
            {
                "query": m.group(2),
                "table": None if m.group(2) else m.group(1),
                "path": m.group(3),
                "format": (m.group(4) or "parquet").lower(),
                "partition_by": part,
                "options": _parse_options(m.group(6)),
            },
        )

    m = re.match(rf"(?i)^convert\s+'([^']+)'\s+to\s+delta\s+({_QNAME})\s*$", s)
    if m:
        return Statement("convert_to_delta", s, {"path": m.group(1), "name": m.group(2)})

    raise ParseError(f"unsupported statement: {s[:120]}")


def _parse_columns(body: str) -> list[tuple[str, str]]:
    cols = []
    for item in _split_top(body, nest="()<>"):
        m = re.match(rf"^({_IDENT}|\"[^\"]+\")\s+(.+)$", item.strip(), re.DOTALL)
        if not m:
            raise ParseError(f"bad column definition: {item!r}")
        name = m.group(1).strip('"')
        cols.append((name, m.group(2).strip()))
    return cols


def _parse_options(body: str | None) -> dict[str, str]:
    if not body:
        return {}
    out = {}
    for item in _split_top(body):
        m = re.match(r"^'?([A-Za-z_][A-Za-z0-9_.]*)'?\s*(?:=|\s)\s*'((?:[^']|'')*)'$", item.strip())
        if not m:
            raise ParseError(f"bad option: {item!r}")
        out[m.group(1)] = m.group(2).replace("''", "'")
    return out
