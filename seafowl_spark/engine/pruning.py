"""File-level pruning of deltalite tables by parquet footer stats.

Mirrors the reference's use of DataFusion's PruningPredicate over Delta Add
stats for UPDATE/DELETE/sync (reference src/context/physical.rs:274-299,
385-446; src/sync/planner.rs:552-628). Conservative by construction: a file
is only skipped when the predicate PROVABLY matches no row given the
column's [min, max] and null count; anything unparseable or incomparable
keeps the file (correctness never depends on pruning — rewrites re-apply
the full predicate).

Supported predicate grammar (parsed from the SQL WHERE text the statement
router hands us): comparisons `col <op> literal` / `literal <op> col`,
IS [NOT] NULL, AND / OR / NOT, parentheses. Literals: numbers, 'strings',
TIMESTAMP/DATE 'x', TRUE/FALSE.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Any

# ---------------------------------------------------------------- AST


@dataclass
class Cmp:
    col: str
    op: str  # = < <= > >= <>
    value: Any


@dataclass
class IsNull:
    col: str
    negated: bool


@dataclass
class BoolOp:
    op: str  # and | or
    args: list


@dataclass
class Not:
    arg: Any


_TOKEN = re.compile(
    r"""\s*(?:
        (?P<lpar>\()|(?P<rpar>\))|
        (?P<op><=|>=|<>|!=|=|<|>)|
        (?P<kw>(?i:AND|OR|NOT|IS|NULL|TRUE|FALSE|TIMESTAMP|DATE|BETWEEN|IN|LIKE))\b|
        (?P<num>-?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)|
        (?P<str>'(?:[^']|'')*')|
        (?P<comma>,)|
        (?P<ident>[A-Za-z_][A-Za-z0-9_.]*)
    )""",
    re.VERBOSE,
)


def _tokenize(s: str) -> list[tuple[str, str]] | None:
    out, pos = [], 0
    while pos < len(s):
        m = _TOKEN.match(s, pos)
        if not m:
            if s[pos:].strip() == "":
                break
            return None  # unknown syntax -> no pruning
        pos = m.end()
        for kind in ("lpar", "rpar", "op", "kw", "num", "str", "comma", "ident"):
            v = m.group(kind)
            if v is not None:
                out.append((kind, v.upper() if kind == "kw" else v))
                break
    return out


class _Parser:
    def __init__(self, toks: list[tuple[str, str]]):
        self.toks = toks
        self.i = 0

    def peek(self):
        return self.toks[self.i] if self.i < len(self.toks) else (None, None)

    def next(self):
        t = self.peek()
        self.i += 1
        return t

    def expect(self, kind, val=None):
        k, v = self.next()
        if k != kind or (val is not None and v != val):
            raise ValueError(f"expected {kind} {val}, got {k} {v}")
        return v

    def parse_unary(self):
        if self.peek() == ("kw", "NOT"):
            self.next()
            return Not(self.parse_unary())
        if self.peek()[0] == "lpar":
            self.next()
            e = self.parse_expr()
            self.expect("rpar")
            return e
        return self.parse_cmp()

    def parse_expr(self):
        left = self.parse_and_chain()
        while self.peek() == ("kw", "OR"):
            self.next()
            left = BoolOp("or", [left, self.parse_and_chain()])
        return left

    def parse_and_chain(self):
        left = self.parse_unary()
        while self.peek() == ("kw", "AND"):
            self.next()
            left = BoolOp("and", [left, self.parse_unary()])
        return left

    def parse_literal(self):
        k, v = self.next()
        if k == "num":
            return float(v) if ("." in v or "e" in v.lower()) else int(v)
        if k == "str":
            return v[1:-1].replace("''", "'")
        if k == "kw" and v in ("TIMESTAMP", "DATE"):
            k2, v2 = self.next()
            if k2 != "str":
                raise ValueError("expected string after TIMESTAMP/DATE")
            return v2[1:-1]
        if k == "kw" and v in ("TRUE", "FALSE"):
            return v == "TRUE"
        raise ValueError(f"not a literal: {k} {v}")

    def parse_cmp(self):
        k, v = self.next()
        if k == "ident":
            col = v
            nk, nv = self.peek()
            if (nk, nv) == ("kw", "IS"):
                self.next()
                negated = False
                if self.peek() == ("kw", "NOT"):
                    self.next()
                    negated = True
                self.expect("kw", "NULL")
                return IsNull(col, negated)
            if (nk, nv) == ("kw", "IN"):
                self.next()
                self.expect("lpar")
                vals = [self.parse_literal()]
                while self.peek()[0] != "rpar":
                    if self.peek()[0] == "comma":
                        self.next()
                    vals.append(self.parse_literal())
                self.expect("rpar")
                return BoolOp("or", [Cmp(col, "=", x) for x in vals])
            if (nk, nv) == ("kw", "BETWEEN"):
                self.next()
                lo = self.parse_literal()
                self.expect("kw", "AND")
                hi = self.parse_literal()
                return BoolOp("and", [Cmp(col, ">=", lo), Cmp(col, "<=", hi)])
            op = self.expect("op")
            val = self.parse_literal()
            return Cmp(col, "<>" if op == "!=" else op, val)
        # literal <op> col
        self.i -= 1
        val = self.parse_literal()
        op = self.expect("op")
        col = self.expect("ident")
        flip = {"<": ">", ">": "<", "<=": ">=", ">=": "<=", "=": "=", "<>": "<>", "!=": "<>"}
        return Cmp(col, flip[op], val)


def parse_predicate(sql: str):
    """Parse a WHERE expression into the pruning AST; None if unsupported."""
    toks = _tokenize(sql)
    if toks is None:
        return None
    try:
        p = _Parser(toks)
        ast = p.parse_expr()
        if p.i != len(p.toks):
            return None
        return ast
    except (ValueError, IndexError):
        return None


# ---------------------------------------------------------------- evaluation

_ISO_DAY = re.compile(r"^\d{4}-\d{2}-\d{2}")
_ISO_LITERAL = re.compile(r"^\d{4}-\d{2}-\d{2}([ T]\d{2}:\d{2}:\d{2}(\.\d+)?)?$")


def _coerce(stat_val: Any, lit: Any):
    """Best-effort comparable pair; raises on incomparable types."""
    if isinstance(stat_val, bool) or isinstance(lit, bool):
        if isinstance(stat_val, bool) and isinstance(lit, bool):
            return stat_val, lit
        raise TypeError
    if isinstance(stat_val, (int, float)) and isinstance(lit, (int, float)):
        return float(stat_val), float(lit)
    if isinstance(stat_val, str) and isinstance(lit, str):
        if _ISO_DAY.match(stat_val) and not (
            _ISO_LITERAL.match(lit) and (len(stat_val) > 10 or len(lit) == 10)
        ):
            # a DATE or TIMESTAMP column (its stats are ISO strings) casts
            # a string literal: '2024-1-5' and '2024-01-05 10:00:00' both
            # equal DATE'2024-01-05', which string order cannot see. Only a
            # canonical literal, with no time against a day, compares.
            raise TypeError
        # timestamps surface as isoformat strings; normalize the separator
        # so 'YYYY-MM-DDTHH:..' and 'YYYY-MM-DD HH:..' compare correctly
        def norm(s: str) -> str:
            return s.replace("T", " ") if re.match(r"^\d{4}-\d{2}-\d{2}T", s) else s

        a, b = norm(stat_val), norm(lit)
        if re.match(r"^\d{4}-\d{2}-\d{2}$", b) and re.match(r"^\d{4}-\d{2}-\d{2} ", a):
            b = b + " 00:00:00"
        return a, b
    raise TypeError


def _may_match(node, stats: dict[str, dict], rows: int) -> bool:
    """True unless the file provably contains no matching row."""
    if isinstance(node, BoolOp):
        if node.op == "and":
            return all(_may_match(a, stats, rows) for a in node.args)
        return any(_may_match(a, stats, rows) for a in node.args)
    if isinstance(node, Not):
        inner = node.arg
        # only invert plain comparisons precisely; else conservative
        if isinstance(inner, Cmp):
            flip = {"=": "<>", "<>": "=", "<": ">=", ">": "<=", "<=": ">", ">=": "<"}
            return _may_match(Cmp(inner.col, flip[inner.op], inner.value), stats, rows)
        return True
    if isinstance(node, IsNull):
        st = stats.get(node.col)
        if st is None:
            return True
        nulls = st.get("nulls")
        if nulls is None:
            return True
        if node.negated:  # IS NOT NULL: false only if all values null
            return not (rows > 0 and nulls >= rows)
        return nulls > 0
    if isinstance(node, Cmp):
        st = stats.get(node.col)
        if st is None:
            return True
        nulls = st.get("nulls")
        if nulls is not None and rows > 0 and nulls >= rows:
            # every value is NULL: no comparison can evaluate true
            # (SQL three-valued logic — NULL <op> literal is never TRUE)
            return False
        if st.get("min") is None:
            return True
        try:
            mn, lit = _coerce(st["min"], node.value)
            mx, _ = _coerce(st["max"], node.value)
        except (TypeError, ValueError):
            return True
        if isinstance(mn, float) and (mn != mn or mx != mx):
            # NaN bounds (logs written before the writers suppressed
            # them): unorderable — keep the file, never prune on them
            return True
        if node.op == "=":
            return mn <= lit <= mx
        if node.op == "<":
            return mn < lit
        if node.op == "<=":
            return mn <= lit
        if node.op == ">":
            return mx > lit
        if node.op == ">=":
            return mx >= lit
        if node.op == "<>":
            return not (mn == lit == mx)
    return True


def prune_files(files, predicate_sql: str | None):
    """Return the subset of AddFile entries that may contain matching rows."""
    if not predicate_sql:
        return list(files)
    ast = parse_predicate(predicate_sql)
    if ast is None:
        return list(files)
    return [f for f in files if _may_match(ast, f.stats, f.rows)]


def equality_conjuncts(predicate_sql: str | None) -> list[tuple[str, Any]]:
    """Top-level AND-ed equality comparisons (col, literal) from a WHERE
    expression — the conjuncts that MUST hold for any matching row, so a
    per-file membership structure (bloom bitmap, bucket id) may veto the
    file on any one of them. Children under OR/NOT are never extracted
    (they are not obligations)."""
    if not predicate_sql:
        return []
    ast = parse_predicate(predicate_sql)
    out: list[tuple[str, Any]] = []

    def walk(node):
        if isinstance(node, Cmp) and node.op == "=":
            out.append((node.col, node.value))
        elif isinstance(node, BoolOp) and node.op == "and":
            for a in node.args:
                walk(a)

    if ast is not None:
        walk(ast)
    return out
