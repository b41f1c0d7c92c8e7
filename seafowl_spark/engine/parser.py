"""Statement splitting, classification and parsing for the DDL/DML surface
the engine implements itself (SURVEY.md §2.A; reference src/datafusion/
parser.rs:147-186 does the same dispatch in its sqlparser wrapper).

Queries (SELECT / WITH / VALUES / EXPLAIN / SHOW / DESCRIBE) pass through to
`spark.sql` untouched except for the time-travel sugar rewrite
(`t('<timestamp>')` -> versioned temp view, reference src/version.rs:61-106).
Everything else parses into a Statement the executor (context.py) interprets.
"""

from __future__ import annotations

import re
import uuid
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
    code). ONE scanner for name rewriting, read detection and the
    ``search_index()`` pre-parse: a quote in a comment or behind a
    backslash read as opening a literal would hide every table named
    after it. Unterminated spans run to the end of the string."""
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


def split_on_string_literals(sql: str) -> list[str]:
    """Split into alternating ``[code, literal, code, ...]`` parts (even
    indexes = code) where the string literals and comments of
    :func:`scan_quotes` count as literals. Double-quoted / backtick
    identifiers stay inside the code parts so identifier rewriting still
    sees them."""
    parts: list[str] = []
    pos = 0
    for kind, a, b in scan_quotes(sql):
        if kind in ("dquote", "btick"):
            continue
        parts.append(sql[pos:a])
        parts.append(sql[a:b])
        pos = b
    parts.append(sql[pos:])
    return parts


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


def _split_top(s: str, sep: str = ",") -> list[str]:
    """Split on `sep` at paren depth 0, outside the spans of
    :func:`scan_quotes`."""
    out, depth, start = [], 0, 0
    for i, ch in enumerate(_masked(s)):
        depth += (ch == "(") - (ch == ")")
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
    parts = split_name_parts(name)
    if len(parts) == 1:
        return None, None, parts[0]
    if len(parts) == 2:
        return None, parts[0], parts[1]
    if len(parts) == 3:
        return parts[0], parts[1], parts[2]
    raise ParseError(f"too many name parts: {name}")


# --------------------------------------------------------------------------
# time-travel sugar:  FROM t('2022-01-01T20:01:01Z')  (A16)
# --------------------------------------------------------------------------

_TT = re.compile(
    rf"(?i)\b(FROM|JOIN)\s+({_QNAME})\s*\(\s*'([^']+)'\s*\)", re.DOTALL
)
# standard syntax: FROM t FOR TIMESTAMP AS OF '<ts>'
_TT_STD = re.compile(
    rf"(?i)\b(FROM|JOIN)\s+({_QNAME})\s+FOR\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)'",
    re.DOTALL,
)
# Delta-standard complement: FROM t FOR VERSION AS OF <n> (the reference is
# timestamp-only; versions are first-class in our commit log, so expose them)
_TT_VER = re.compile(
    rf"(?i)\b(FROM|JOIN)\s+({_QNAME})\s+FOR\s+VERSION\s+AS\s+OF\s+(\d+)",
    re.DOTALL,
)


# tokens that can follow a table reference WITHOUT being its alias —
# used to decide whether a time-travel rewrite must re-expose the
# table's own name as the relation alias (standard SQL keeps `t`
# addressable in `FROM t FOR VERSION AS OF 3 JOIN d ON t.k = d.k`)
_POST_REF_KEYWORDS = {
    "join", "inner", "left", "right", "full", "cross", "natural",
    "anti", "semi", "on", "using", "where", "group", "having",
    "order", "limit", "offset", "union", "intersect", "except",
    "window", "qualify", "tablesample", "pivot", "unpivot", "lateral",
    "fetch", "for",
}


def extract_time_travel(sql: str) -> tuple[str, list[tuple[str, str, str]]]:
    """Rewrite `FROM t('<ts>')` references to sanitized versioned view
    aliases and return [(alias, table_name, timestamp)] so the executor can
    register each snapshot as a temp view (reference src/version.rs:28-106
    registers `name:version` aliases the same way)."""
    found: list[tuple[str, str, str]] = []
    # unique per call: deterministic aliases would let two concurrent
    # time-travel reads of the same table clobber each other's temp view
    tok = uuid.uuid4().hex[:8]

    def make_sub(kind: str):
        def sub(m: re.Match) -> str:
            name, val = m.group(2), m.group(3)
            alias = f"__sfs_tt_{len(found)}_{tok}_{name.replace('.', '_')}"
            # version travels carry a "version=<n>" spec; the executor
            # branches on the prefix (timestamps can't start with it)
            found.append((alias, name, f"version={val}" if kind == "v" else val))
            # standard SQL keeps the table's own name as the relation
            # qualifier — re-expose it as the alias unless the user wrote
            # an explicit alias right after (which then wins, unchanged).
            # Only plain-identifier last segments are re-exposed: quoted
            # names go through the engine's name mangling and would not
            # round-trip as a bare alias.
            tail = m.string[m.end():]
            nxt = re.match(
                r"(?is)\s*(?:as\s+)?([A-Za-z_][A-Za-z0-9_]*)", tail
            )
            has_user_alias = bool(
                nxt and nxt.group(1).lower() not in _POST_REF_KEYWORDS
            )
            last = name.split(".")[-1]
            expose = (
                f" AS {last}"
                if not has_user_alias
                and re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", last)
                else ""
            )
            return f"{m.group(1)} `{alias}`{expose}"

        return sub

    out = _TT.sub(make_sub("t"), sql)
    out = _TT_STD.sub(make_sub("t"), out)
    out = _TT_VER.sub(make_sub("v"), out)
    return out, found


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
    for item in _split_top(body):
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
