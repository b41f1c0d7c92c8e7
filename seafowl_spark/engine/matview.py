"""Incremental materialized views over deltalite tables (beyond the
reference, like MoR DML / RESTORE / CDC diff — the reference has no view
machinery at all).

`CREATE MATERIALIZED VIEW mv AS SELECT g..., <any aggregates> FROM base
GROUP BY g...` materializes the aggregate into a regular deltalite table
and records (base table, group columns, query, base version) in the
table properties. `REFRESH MATERIALIZED VIEW mv` then brings it up to
date INCREMENTALLY:

1. diff the base's file sets between the recorded and latest snapshots
   (Add identity = path + DV descriptor — a deletion-vector change IS a
   content change); commits in between never matter, only endpoints;
2. scan ONLY the changed files (deletion vectors applied, so exactly
   the rows live on each side) for their DISTINCT group values — the
   affected groups, a driver-bounded list capped at
   ``MAX_INCREMENTAL_GROUPS``;
3. re-run the view query at the latest base version restricted to those
   groups (the group predicate is a static IN/OR filter on the OUTER
   query — Catalyst pushes it below the aggregate, and the base scan
   prunes files by stats/blooms/buckets on it);
4. MERGE the recomputed groups into the view (group columns are the
   merge PK) and DELETE groups that vanished;
5. one metadata commit records the new base version.

Because refresh RECOMPUTES affected groups rather than algebraically
patching them, ANY aggregate Spark can express is maintainable —
MIN/MAX/AVG/percentiles included, not just the self-maintainable
SUM/COUNT family. Refresh cost is proportional to changed data plus the
affected groups' partitions, never the base table: the 100 TB shape.

Fallback: too many affected groups, a NULL group value (the merge PK
cannot carry NULLs), or unreadable old files (vacuumed past the
recorded version) downgrade to a FULL refresh (atomic overwrite) —
always correct, never an error.

Since r9 the defining query may JOIN the fact base to DIMENSION tables
(INNER/LEFT only — the q05-shaped rollup: fact joins small dims,
groups by a dim attribute). The incremental diff stays on the single
FACT base; each dimension's version is recorded in the spec, and a
refresh that finds ANY dimension changed downgrades to the
always-correct full overwrite (dimensions are small and change rarely
— the 100 TB shape is "re-aggregate affected fact partitions", never
"re-scan the fact because a dim row moved" unless it actually did).
When only the fact changed, the affected groups are computed by
re-running the view's own FROM/JOIN/WHERE clause with the fact swapped
for the changed-files scan — so group columns may come from a
dimension (changed fact rows join to the UNCHANGED dims to name their
groups).

Restrictions (validated at CREATE): one FACT base table (the first
FROM table) plus INNER/LEFT joined dimension tables; no RIGHT/FULL/
CROSS joins (dim-driven rows have no fact files to diff); no set ops
or subqueries. GROUP BY items may be bare passthrough columns,
expressions repeated verbatim from an aliased select item, or the
alias itself (r10) — the view is keyed on the OUTPUT alias and the
affected-groups scans evaluate the expression; an alias that shadows
a base/dim column is rejected (Spark would resolve GROUP BY to the
column). HAVING is supported and needs no special machinery: the
refresh recomputes affected groups through the full view query, so a
group that newly satisfies HAVING appears (MERGE insert) and one that
stops satisfying it is absent (vanished-group DELETE).
"""

from __future__ import annotations

import datetime as _dt
import json
import re
from dataclasses import dataclass

from . import parser as _parser

MATVIEW_PROP = "matview"
MAX_INCREMENTAL_GROUPS = 10_000


class MatViewError(Exception):
    pass


@dataclass
class MvSpec:
    base: str
    group_cols: list[str]
    query: str
    base_version: int
    # dimension tables (reference as written -> version at create/last
    # refresh); empty for single-table views — absent in pre-r9 specs
    dim_versions: dict[str, int] | None = None
    # r10: the GROUP BY expression behind each output column (equals the
    # column name for plain passthrough columns; differs for aliased
    # expression groups — `substr(g,1,1) AS pfx`). The affected-groups
    # scans evaluate these; the merge PK / group predicate keep using
    # the OUTPUT names. Absent in pre-r10 specs -> defaults to the names.
    group_exprs: list[str] | None = None
    # r10: catalog UUIDs of the base/dimension tables at CREATE time.
    # Views bind by NAME (rename-back heals, like logical views), but
    # the name alone cannot detect drop-and-recreate: a NEW table under
    # the old name would silently feed the refresh with unrelated data
    # (its version history doesn't even line up with base_version).
    # REFRESH and system.matviews cross-check identity against these.
    # Absent in pre-r10 specs -> identity checks are skipped.
    base_uuid: str | None = None
    dim_uuids: dict[str, str] | None = None

    def exprs(self) -> list[str]:
        return self.group_exprs or self.group_cols

    def to_json(self) -> str:
        d = {
            "base": self.base,
            "group": self.group_cols,
            "query": self.query,
            "base_version": self.base_version,
        }
        if self.dim_versions:
            d["dims"] = self.dim_versions
        if self.group_exprs and self.group_exprs != self.group_cols:
            d["group_exprs"] = self.group_exprs
        if self.base_uuid:
            d["base_uuid"] = self.base_uuid
        if self.dim_uuids:
            d["dim_uuids"] = self.dim_uuids
        return json.dumps(d)

    @staticmethod
    def from_json(raw: str) -> "MvSpec":
        d = json.loads(raw)
        return MvSpec(
            d["base"],
            list(d["group"]),
            d["query"],
            int(d["base_version"]),
            {k: int(v) for k, v in d.get("dims", {}).items()} or None,
            list(d["group_exprs"]) if d.get("group_exprs") else None,
            d.get("base_uuid"),
            dict(d["dim_uuids"]) if d.get("dim_uuids") else None,
        )


_IDENT = r'(?:"[^"]+"|[A-Za-z_][A-Za-z0-9_]*)'
_QNAME = rf"{_IDENT}(?:\.{_IDENT})*"
# keywords that may follow a table reference and must not be mistaken
# for its alias
_KEYWORDS = {
    "join", "inner", "left", "right", "full", "cross", "outer",
    "on", "using", "where", "group", "having", "order",
}


@dataclass
class MvShape:
    """Parsed shape of a matview defining query."""

    base: str                 # fact reference as written
    base_alias: str | None    # alias after the fact reference, if any
    dims: list[str]           # joined dimension references as written
    group_cols: list[str]     # OUTPUT column names (merge PK / predicate)
    from_sql: str             # FROM ... [JOIN ...] [WHERE ...] clause text
    base_span: tuple[int, int]  # span of the fact reference WITHIN from_sql
    # r10: expression behind each group output column (== the name for
    # plain passthrough columns) — what the affected-groups scans evaluate
    group_exprs: list[str] = None  # type: ignore[assignment]
    # which group items were BARE NAMES resolved through a select alias
    # (GROUP BY pfx) — CREATE cross-checks those against the base/dim
    # schemas: Spark resolves a bare GROUP BY name to the BASE column
    # first, so an alias shadowing a real column must be rejected
    group_via_alias: list[bool] = None  # type: ignore[assignment]


def parse_mv_query(query: str) -> MvShape:
    """Validate the restricted view shape: one FACT base plus optional
    INNER/LEFT-joined dimensions, single SELECT, GROUP BY bare columns
    that appear unaliased in the select list."""
    q = query.strip().rstrip(";")
    if re.search(r"(?i)\b(union|intersect|except)\b", q):
        raise MatViewError("materialized views do not support set operations")
    if re.search(r"(?i)\b(right|full|cross)\s+(?:outer\s+)?join\b", q):
        raise MatViewError(
            "materialized views support INNER/LEFT joins to dimension "
            "tables only (RIGHT/FULL/CROSS produce rows with no fact "
            "files to diff)"
        )
    if len(re.findall(r"(?i)\bselect\b", q)) != 1:
        raise MatViewError("materialized views support one SELECT (no subqueries)")
    m = re.search(rf"(?i)\bfrom\s+({_QNAME})", q)
    if not m:
        raise MatViewError("could not find the FROM table")
    base = m.group(1)
    alias_m = re.match(
        r"(?i)\s+(?:as\s+)?([A-Za-z_][A-Za-z0-9_]*)", q[m.end():]
    )
    base_alias = None
    if alias_m and alias_m.group(1).lower() not in _KEYWORDS:
        base_alias = alias_m.group(1)
    gb = re.search(
        r"(?i)\bgroup\s+by\s+(.+?)(?:\border\s+by\b|\bhaving\b|$)", q, re.DOTALL
    )
    if not gb:
        raise MatViewError("materialized views require GROUP BY")
    from_sql = q[m.start(): gb.start()].rstrip()
    # every STRUCTURAL scan below runs over a literal-masked copy: the
    # token 'join sales' (or a comma, or 'where') inside a WHERE string
    # literal must never register as a dimension / comma-join / clause
    # boundary (a phantom dim gets uuid-pinned and permanently forces
    # full refreshes — review find, r11). from_sql itself stays verbatim
    # for the FROM-swap machinery.
    # Quoted identifiers ("..." under the engine's pg dialect, and
    # `...`) mask to \x01, string literals to \x02 and comments to a
    # space, with the spans Spark's lexer reads (parser.scan_quotes: a
    # backslash escapes inside either quote), so a quoted 'join x' or
    # comma never registers as a dim / comma-join, and an unterminated
    # quote is rejected outright.
    masked_from = _parser.mask_spans(
        from_sql,
        lambda kind, _text: (
            " " if kind.endswith("comment") else "\x02" if kind == "squote" else "\x01"
        ),
    )
    if masked_from is None:
        raise MatViewError(
            "unbalanced quote in materialized view FROM clause"
        )
    # a comma-form (implicit cross) join would slip past both the
    # CROSS-join rejection and dimension version tracking — the dim
    # would mutate with the view silently reporting fresh. Reject any
    # top-level comma in the FROM clause (commas inside parens — USING
    # lists, function args — are fine).
    where_m = re.search(r"(?i)\bwhere\b", masked_from)
    join_part = masked_from[: where_m.start()] if where_m else masked_from
    if "\x01" in join_part:
        # a quoted identifier in FROM/JOIN/ON cannot be dimension-
        # tracked (the dim scan matches unquoted names only; silently
        # missing a dim would report the view fresh while it drifts) —
        # reject at CREATE. Quoted identifiers in WHERE are fine.
        raise MatViewError(
            "quoted identifiers in the FROM/JOIN clause of a "
            "materialized view are not supported (dimension tracking "
            "matches unquoted names only)"
        )
    depth = 0
    for ch in join_part:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            raise MatViewError(
                "materialized views require explicit JOIN ... ON syntax "
                "(comma-form joins cannot be dimension-tracked)"
            )
    dims = [
        dm.group(1)
        for dm in re.finditer(
            rf"(?i)\b(?:inner\s+|left\s+(?:outer\s+)?)?join\s+({_QNAME})",
            join_part,
        )
    ]
    items = _parser._split_top(gb.group(1))
    head = q[: m.start()]  # the select list
    sel_m = re.search(r"(?i)\bselect\b", head)
    select_items = _parser._split_top(head[sel_m.end():]) if sel_m else []
    # (normalized expr -> alias, alias-lower -> (alias, expr)) over the
    # select list: GROUP BY may repeat an aliased expression verbatim or
    # name its alias (r10 — bare columns only before)
    by_expr: dict[str, tuple[str, str]] = {}
    by_alias: dict[str, tuple[str, str]] = {}
    for it in select_items:
        expr, alias = _split_alias(it)
        if alias is None:
            continue
        by_expr[_norm_expr(expr)] = (alias, expr)
        by_alias[alias.lower()] = (alias, expr)
    cols: list[str] = []
    exprs: list[str] = []
    via_alias: list[bool] = []
    for item in items:
        item = item.strip()
        if not item:
            continue
        if re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", item):
            hit = by_alias.get(item.lower())
            if hit is not None and _norm_expr(hit[1]) != _norm_expr(item):
                # bare name matching a select ALIAS of a different
                # expression: group on the EXPRESSION, key the view on
                # the alias. CREATE re-checks this against the base/dim
                # schemas (Spark resolves GROUP BY to a real column
                # first — a shadowing alias is rejected there).
                cols.append(hit[0])
                exprs.append(hit[1])
                via_alias.append(True)
                continue
            # bare passthrough column: must appear unaliased in the
            # select list (not a longer name, not paren-adjacent) —
            # CREATE re-validates against the actual output schema,
            # this is the early lint
            if not re.search(
                rf"(?i)(?<![A-Za-z0-9_.(]){re.escape(item)}(?![A-Za-z0-9_(])",
                head,
            ):
                raise MatViewError(
                    f"group column {item!r} must appear (unaliased) in "
                    "the select list"
                )
            cols.append(item)
            exprs.append(item)
            via_alias.append(False)
            continue
        hit = by_expr.get(_norm_expr(item))
        if hit is None:
            raise MatViewError(
                f"GROUP BY expression {item!r} must appear in the select "
                "list with an alias (SELECT <expr> AS <name> ... "
                "GROUP BY <expr>)"
            )
        cols.append(hit[0])
        exprs.append(hit[1])
        via_alias.append(False)
    if not cols:
        raise MatViewError("materialized views require GROUP BY")
    if len(set(c.lower() for c in cols)) != len(cols):
        raise MatViewError(f"duplicate group columns: {cols}")
    return MvShape(
        base,
        base_alias,
        dims,
        cols,
        from_sql,
        (m.start(1) - m.start(), m.end(1) - m.start()),
        exprs,
        via_alias,
    )


# words that can legitimately precede a trailing bare identifier
# WITHOUT that identifier being an alias (SELECT DISTINCT region, ...)
_NOT_ALIAS_PREFIX = {
    "distinct", "all", "as", "case", "when", "then", "else", "end",
    "and", "or", "not", "in", "like", "is", "between", "escape",
}


def _split_alias(item: str) -> tuple[str, str | None]:
    """(expression, alias) for one select-list item — the alias is the
    LAST top-level ``AS <name>``, never one inside parens (CAST(x AS
    INT) keeps its AS). The bare trailing-name form (``substr(g,1,1)
    pfx``) is recognized when the preceding token cannot itself be the
    tail of an expression needing the name (conservative: CASE...END
    aliases still want explicit AS)."""
    depth = 0
    last_as = None
    for mm in re.finditer(r"(?i)\(|\)|\bas\b", item):
        tok = mm.group(0)
        if tok == "(":
            depth += 1
        elif tok == ")":
            depth -= 1
        elif depth == 0:
            last_as = mm
    if last_as is not None:
        alias = item[last_as.end():].strip()
        if re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", alias):
            return item[: last_as.start()].strip(), alias
    # bare-alias form: `<expr> <name>` with <name> a plain identifier
    # and the expression ending in `)`/quote/identifier that is not a
    # connective keyword
    m = re.fullmatch(r"(?s)(.*\S)\s+([A-Za-z_][A-Za-z0-9_]*)", item.strip())
    if m and "(" not in m.group(2):
        expr, alias = m.group(1), m.group(2)
        last_tok = re.findall(r"[A-Za-z_][A-Za-z0-9_]*|\S", expr)[-1]
        if (
            last_tok.lower() not in _NOT_ALIAS_PREFIX
            and not re.fullmatch(r"[-+*/%,<>=|&^~]", last_tok)
        ):
            return expr.strip(), alias
    return item.strip(), None


def _norm_expr(e: str) -> str:
    """Whitespace/case-insensitive comparison key for matching a GROUP BY
    expression to a select-list expression (only ever used for equality
    between two normalized forms)."""
    return re.sub(r"\s+", "", e).lower()


def parse_mv_select(query: str) -> tuple[str, list[str]]:
    """Back-compat wrapper: (base table reference, group columns)."""
    shape = parse_mv_query(query)
    return shape.base, shape.group_cols


def query_at_version(query: str, base: str, version: int) -> str:
    """The view query pinned to one base snapshot via FOR VERSION AS OF."""
    return re.sub(
        rf"(?i)(\bfrom\s+{re.escape(base)})(?![A-Za-z0-9_.])",
        rf"\1 FOR VERSION AS OF {version}",
        query.strip().rstrip(";"),
        count=1,
    )


def _sql_literal(v) -> str:
    if v is None:
        raise MatViewError("NULL group value")  # callers pre-check
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, float) and (v != v or v in (float("inf"), float("-inf"))):
        # repr() would emit invalid SQL ('nan'/'inf'); the caller
        # downgrades to a full refresh, same as the NULL-group path
        raise MatViewError("non-finite group value")
    if isinstance(v, (int, float)):
        return repr(v)
    if isinstance(v, _dt.datetime):
        return f"TIMESTAMP '{v.isoformat(sep=' ')}'"
    if isinstance(v, _dt.date):
        return f"DATE '{v.isoformat()}'"
    if not isinstance(v, str):
        # bytes/binary, Decimal, and anything else str() would mangle:
        # str(b'x') emits Python repr text ("b'x'") that NEVER matches
        # the column, so the vanished-group anti-join would DELETE a
        # live group from the view (review find, r11); a Decimal literal
        # round-trips through float/double in ways that can miss exact
        # groups. Raising routes the caller to the always-correct full
        # refresh, same as NULL/non-finite groups.
        raise MatViewError(
            f"group value type {type(v).__name__} has no exact SQL literal"
        )
    # Spark SQL string literals process backslash escapes by default
    # (spark.sql.parser.escapedStringLiterals=false), so a bare backslash
    # in a group value (e.g. 'C:\new') would denote a DIFFERENT string and
    # the refresh would silently miss/delete that group. Escape backslashes
    # first, then double quotes.
    s = v.replace("\\", "\\\\").replace("'", "''")
    return f"'{s}'"


def group_predicate(group_cols: list[str], values: list[tuple]) -> str:
    """Static SQL predicate selecting exactly ``values`` — an IN list for
    one group column, an OR of conjunctions otherwise. Static literals,
    so the filter pushes into the base scan and prunes files."""
    if len(group_cols) == 1:
        lits = ", ".join(_sql_literal(v[0]) for v in values)
        return f"{group_cols[0]} IN ({lits})"
    parts = []
    for tup in values:
        conj = " AND ".join(
            f"{c} = {_sql_literal(v)}" for c, v in zip(group_cols, tup)
        )
        parts.append(f"({conj})")
    return " OR ".join(parts)


def changed_files(base_t, v_from: int, v_to: int):
    """(files only live at v_from, files only live at v_to) — Add
    identity includes the deletion-vector descriptor, so MoR deletes
    register as changes."""
    s_old = base_t.snapshot(version=v_from)
    s_new = base_t.snapshot(version=v_to)

    def key(f):
        dv = f.dv or {}
        return (f.path, dv.get("path"), dv.get("cardinality"))

    old = {key(f): f for f in s_old.files}
    new = {key(f): f for f in s_new.files}
    only_old = [f for k, f in old.items() if k not in new]
    only_new = [f for k, f in new.items() if k not in old]
    return s_old, only_old, s_new, only_new


def _bare_alias(ref: str) -> str:
    """Alias to stand in for an unaliased fact reference after the swap:
    the last path component, unquoted (qualified column refs in the view
    query can only use this form — the qualified original never resolves
    against a temp view anyway)."""
    last = re.split(r"\.(?=(?:[^\"]*\"[^\"]*\")*[^\"]*$)", ref)[-1]
    return last.strip('"')


def affected_groups_via_query(
    spark, base_t, v_from: int, v_to: int, shape: MvShape, exec_query
) -> list[tuple] | None:
    """Affected groups for a JOIN view: re-run the view's own FROM/JOIN/
    WHERE clause with the FACT reference swapped for the changed-files
    scan (registered as a temp view), so group columns may come from the
    (unchanged) dimensions — changed fact rows join to the dims to name
    their groups. Same contract as affected_group_values: [] when
    nothing changed, None when incremental is not possible (too many
    groups, NULL group values — e.g. a LEFT-join miss — or unreadable
    old files)."""
    import uuid as _uuid

    s_old, only_old, s_new, only_new = changed_files(base_t, v_from, v_to)
    if not only_old and not only_new:
        return []
    view = f"__mv_changed_{_uuid.uuid4().hex[:8]}"
    try:
        frames = []
        for files, snap in ((only_old, s_old), (only_new, s_new)):
            if files:
                frames.append(base_t._scan_files(files, snap.schema))
        df = frames[0]
        for f in frames[1:]:
            df = df.unionByName(f)
        df.createOrReplaceTempView(view)
        a, b = shape.base_span
        swap = f"`{view}`"
        if shape.base_alias is None:
            swap += f" AS `{_bare_alias(shape.base)}`"
        swapped = shape.from_sql[:a] + swap + shape.from_sql[b:]
        select = ", ".join(
            c if e == c else f"{e} AS {c}"
            for c, e in zip(shape.group_cols, shape.group_exprs)
        )
        sql = f"SELECT DISTINCT {select} {swapped}"
        rows = exec_query(sql).limit(MAX_INCREMENTAL_GROUPS + 1).collect()
    except Exception:  # noqa: BLE001 — vacuumed old files etc.: full refresh
        return None
    finally:
        try:
            spark.catalog.dropTempView(view)
        except Exception:  # noqa: BLE001
            pass
    if len(rows) > MAX_INCREMENTAL_GROUPS:
        return None
    vals = [tuple(r[c] for c in shape.group_cols) for r in rows]
    if any(v is None for tup in vals for v in tup):
        return None  # merge PK cannot carry NULL group keys
    return vals


def affected_group_values(
    spark, base_t, v_from: int, v_to: int, group_cols: list[str],
    group_exprs: list[str] | None = None,
) -> list[tuple] | None:
    """Distinct group values touched between the two snapshots, or None
    when an incremental refresh is not worthwhile/possible (too many
    groups, NULL group values, old files no longer readable). When the
    view groups by aliased EXPRESSIONS (r10), ``group_exprs`` carries
    what to evaluate over the changed rows — the scan stays one
    column-pruned pass either way."""
    exprs = group_exprs or group_cols
    sel = [
        c if e == c else f"{e} AS {c}" for c, e in zip(group_cols, exprs)
    ]
    _s_old, only_old, _s_new, only_new = changed_files(base_t, v_from, v_to)
    if not only_old and not only_new:
        return []
    frames = []
    try:
        for files, snap in ((only_old, _s_old), (only_new, _s_new)):
            if files:
                frames.append(
                    base_t._scan_files(files, snap.schema).selectExpr(*sel)
                )
        df = frames[0]
        for f in frames[1:]:
            df = df.unionByName(f)
        rows = df.distinct().limit(MAX_INCREMENTAL_GROUPS + 1).collect()
    except Exception:  # noqa: BLE001 — vacuumed old files etc.: full refresh
        return None
    if len(rows) > MAX_INCREMENTAL_GROUPS:
        return None
    vals = [tuple(r[c] for c in group_cols) for r in rows]
    if any(v is None for tup in vals for v in tup):
        return None  # merge PK cannot carry NULL group keys
    return vals
