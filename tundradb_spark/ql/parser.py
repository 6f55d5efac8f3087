"""TundraQL tokenizer + recursive-descent parser.

Implements the grammar of antlr/TundraQL.g4 (spec, not generated code):
statements end with ``;``, ``//`` comments are skipped, keywords are
case-sensitive upper-case (as in the reference grammar), identifiers are
``[a-zA-Z_][a-zA-Z_0-9]*``.

Extensions over the reference grammar (documented, deliberate):
- boolean literals ``true`` / ``false`` (the reference shell coerces them
  per-schema at apps/tundra_shell.cpp:205-377; we accept them as literals)
- negative numeric literals
- single-quoted strings in addition to double-quoted
- MATCH tail clauses the reference's own clause enum anticipated but never
  grew productions for (include/query/query.hpp:168 lists ORDER_BY/LIMIT):
  ``AS OF <vt> [TX <tt>]`` (bitemporal read), ``SELECT DISTINCT``,
  ``GROUP BY p, ...``, ``AGG fn(p|*) [AS name], ...``,
  ``ORDER BY p [ASC|DESC], ...``,
  ``LIMIT n`` — each maps 1:1 onto the engine's Query builder
  (query.py:246-323), so text and fluent queries share one execution path.
- the analytics statements ``KEYWORD ON table [WITH table] clause ...``
  (FUNNEL ... QUALITY): one generic production, ``extension_statement``,
  reads each from its declaration in ql/ast.py; a clause is given at most
  once, in any order.
"""

from __future__ import annotations

import re
from dataclasses import MISSING, Field
from typing import Any

from tundradb_spark.errors import QueryError
from tundradb_spark.ql import ast
from tundradb_spark.query import Compare, CompareOp, Expr, FieldRef, Logical

_TOKEN_RE = re.compile(
    r"""
      (?P<ws>\s+|//[^\n]*)
    | (?P<float>-?\d+\.\d+)
    | (?P<int>-?\d+)
    | (?P<string>"(?:[^"\\\r\n]|\\.)*"|'(?:[^'\\\r\n]|\\.)*')
    | (?P<ident>[a-zA-Z_][a-zA-Z_0-9]*)
    | (?P<op><=|>=|!=|<>|<-|->|[()\[\]{};,:=<>.\-*])
    """,
    re.VERBOSE,
)

KEYWORDS = {
    "CREATE", "SCHEMA", "NODE", "EDGE", "FROM", "TO", "WITH", "MATCH",
    "DELETE", "WHERE", "SELECT", "RETURN", "AS", "INNER", "LEFT", "RIGHT",
    "FULL", "AND", "OR", "UPDATE", "SET", "COMMIT", "UNIQUE", "SHOW",
    "EDGES", "TYPES", "EXPLAIN",
    # extension-surface keywords (see module docstring)
    "OF", "TX", "GROUP", "BY", "AGG", "ORDER", "ASC", "DESC", "LIMIT",
    "DISTINCT",
}

TYPE_NAMES = {
    "STRING": "string",
    "INT32": "int",
    "INT64": "long",
    "FLOAT": "float",
    "FLOAT64": "double",
    "BOOL": "boolean",
    "MAP": "map",
}


class Token:
    __slots__ = ("kind", "text", "pos")

    def __init__(self, kind: str, text: str, pos: int):
        self.kind = kind
        self.text = text
        self.pos = pos

    def __repr__(self) -> str:  # pragma: no cover
        return f"Token({self.kind}, {self.text!r})"


def tokenize(text: str) -> list[Token]:
    out: list[Token] = []
    i = 0
    while i < len(text):
        m = _TOKEN_RE.match(text, i)
        if not m:
            raise QueryError(f"TundraQL: bad character {text[i]!r} at {i}")
        i = m.end()
        kind = m.lastgroup
        if kind == "ws":
            continue
        out.append(Token(kind, m.group(), m.start()))
    out.append(Token("eof", "", len(text)))
    return out


def split_statements(script: str) -> list[str]:
    """Split a script into ``;``-terminated statements, respecting string
    literals and comments (reference executeStatement splits one at a time,
    apps/tundra_shell.cpp:1955-1987)."""
    parts: list[str] = []
    buf: list[str] = []
    i, n = 0, len(script)
    while i < n:
        c = script[i]
        if c in "\"'":
            q = c
            buf.append(c)
            i += 1
            while i < n:
                buf.append(script[i])
                if script[i] == "\\":
                    i += 1
                    if i < n:
                        buf.append(script[i])
                elif script[i] == q:
                    i += 1
                    break
                i += 1
            continue
        if c == "/" and script[i : i + 2] == "//":
            while i < n and script[i] != "\n":
                i += 1
            continue
        if c == ";":
            stmt = "".join(buf).strip()
            if stmt:
                parts.append(stmt + ";")
            buf = []
            i += 1
            continue
        buf.append(c)
        i += 1
    tail = "".join(buf).strip()
    if tail:
        parts.append(tail + ";")
    return parts


class Parser:
    def __init__(self, text: str):
        self.text = text
        self.toks = tokenize(text)
        self.i = 0

    # ------------------------------------------------------------- helpers
    def peek(self, ahead: int = 0) -> Token:
        return self.toks[min(self.i + ahead, len(self.toks) - 1)]

    def next(self) -> Token:
        t = self.toks[self.i]
        self.i += 1
        return t

    def at(self, text: str) -> bool:
        return self.peek().text == text

    def at_kw(self, kw: str) -> bool:
        t = self.peek()
        return t.kind == "ident" and t.text == kw

    def accept(self, text: str) -> bool:
        if self.at(text):
            self.i += 1
            return True
        return False

    def expect(self, text: str) -> Token:
        t = self.next()
        if t.text != text:
            raise QueryError(
                f"TundraQL: expected {text!r} but got {t.text!r} at {t.pos} "
                f"in: {self.text}"
            )
        return t

    def ident(self) -> str:
        t = self.next()
        if t.kind != "ident":
            raise QueryError(f"TundraQL: expected identifier, got {t.text!r}")
        return t.text

    # ----------------------------------------------------------- literals
    def value(self) -> Any:
        t = self.peek()
        if t.kind == "string":
            self.i += 1
            body = t.text[1:-1]
            return re.sub(r"\\(.)", r"\1", body)
        if t.kind == "float":
            self.i += 1
            return float(t.text)
        if t.kind == "int":
            self.i += 1
            return int(t.text)
        if t.text == "{":
            return self.map_literal()
        if t.kind == "ident" and t.text in ("true", "false"):
            self.i += 1
            return t.text == "true"
        if t.kind == "ident" and t.text in ("null", "NULL"):
            self.i += 1
            return None
        raise QueryError(f"TundraQL: expected literal, got {t.text!r} at {t.pos}")

    def map_literal(self) -> dict[str, Any]:
        self.expect("{")
        out: dict[str, Any] = {}
        if not self.at("}"):
            while True:
                k = self.ident()
                if not self.accept("="):
                    self.expect(":")
                out[k] = self.value()
                if not self.accept(","):
                    break
        self.expect("}")
        return out

    def property_list(self) -> dict[str, Any]:
        out: dict[str, Any] = {}
        while True:
            k = self.ident()
            if not self.accept("="):
                self.expect(":")
            out[k] = self.value()
            if not self.accept(","):
                break
        return out

    # ----------------------------------------------------------- statement
    def parse(self) -> ast.Statement:
        t = self.peek()
        if t.kind != "ident":
            raise QueryError(f"TundraQL: unexpected {t.text!r}")
        kw = t.text
        stmt: ast.Statement
        if kw == "CREATE":
            stmt = self.create_statement()
        elif kw == "MATCH":
            stmt = self.match_statement()
        elif kw == "UPDATE":
            stmt = self.update_statement()
        elif kw == "DELETE":
            stmt = self.delete_statement()
        elif kw == "SHOW":
            stmt = self.show_statement()
        elif kw == "COMMIT":
            self.next()
            stmt = ast.Commit()
        elif kw == "EXPLAIN":
            self.next()
            if not self.at_kw("MATCH"):
                raise QueryError("TundraQL: EXPLAIN expects a MATCH statement")
            stmt = ast.Explain(self.match_statement())
        elif kw in ast.EXTENSIONS:
            stmt = self.extension_statement(ast.EXTENSIONS[kw])
        else:
            raise QueryError(f"TundraQL: unknown statement {kw!r}")
        self.accept(";")
        t = self.peek()
        if t.kind != "eof":
            raise QueryError(f"TundraQL: trailing input at {t.pos}: {t.text!r}")
        return stmt

    # ------------------------------------------------------------- CREATE
    def create_statement(self) -> ast.Statement:
        self.expect("CREATE")
        if self.at_kw("SCHEMA"):
            self.next()
            return self._create_schema(is_edge=False)
        if self.at_kw("EDGE") and self.peek(1).text == "SCHEMA":
            self.next()
            self.next()
            return self._create_schema(is_edge=True)
        if self.at_kw("NODE"):
            self.next()
            return self._create_node()
        unique = False
        if self.at_kw("UNIQUE"):
            self.next()
            unique = True
        if self.at_kw("EDGE"):
            self.next()
            return self._create_edge(unique)
        raise QueryError(f"TundraQL: bad CREATE at {self.peek().pos}")

    def _create_schema(self, is_edge: bool) -> ast.CreateSchema:
        name = self.ident()
        self.expect("(")
        fields: dict[str, str] = {}
        while True:
            f = self.ident()
            self.expect(":")
            tname = self.ident()
            if tname not in TYPE_NAMES:
                raise QueryError(
                    f"TundraQL: unknown type {tname!r} (expected one of "
                    f"{sorted(TYPE_NAMES)})"
                )
            fields[f] = TYPE_NAMES[tname]
            if not self.accept(","):
                break
        self.expect(")")
        return ast.CreateSchema(name=name, fields=fields, is_edge=is_edge)

    def _create_node(self) -> ast.CreateNode:
        schema = self.ident()
        self.expect("(")
        props = self.property_list()
        self.expect(")")
        return_id = False
        if self.at_kw("RETURN"):
            self.next()
            if self.next().text != "id":
                raise QueryError("TundraQL: only RETURN id is supported")
            return_id = True
        return ast.CreateNode(schema=schema, props=props, return_id=return_id)

    def node_selector(self) -> ast.Selector:
        """``User(123)`` or ``(User{name="Alice"})``
        (TundraQL.g4:24-30)."""
        if self.accept("("):
            schema = self.ident()
            props = None
            if self.at("{"):
                self.expect("{")
                props = self.property_list()
                self.expect("}")
            self.expect(")")
            if props is None:
                raise QueryError("TundraQL: property selector needs {props}")
            return (schema, props)
        schema = self.ident()
        self.expect("(")
        t = self.next()
        if t.kind != "int":
            raise QueryError(f"TundraQL: selector id must be integer, got {t.text!r}")
        self.expect(")")
        return (schema, int(t.text))

    def _create_edge(self, unique: bool) -> ast.CreateEdge:
        etype = self.ident()
        self.expect("FROM")
        src = self.node_selector()
        self.expect("TO")
        tgt = self.node_selector()
        props: dict[str, Any] = {}
        if self.at_kw("WITH"):
            self.next()
            self.expect("(")
            props = self.property_list()
            self.expect(")")
        return ast.CreateEdge(
            edge_type=etype, source=src, target=tgt, props=props, unique=unique
        )

    # -------------------------------------------------------------- MATCH
    def node_pattern(self) -> ast.NodeRef:
        self.expect("(")
        alias = self.ident()
        schema = None
        if self.accept(":"):
            schema = self.ident()
        self.expect(")")
        return ast.NodeRef(alias=alias, schema=schema)

    def _edge_body(self) -> tuple[str | None, str | None, str]:
        """Inside ``[...]``: ``[:TYPE JOIN]`` / ``[e:TYPE JOIN]`` / ``[]``."""
        self.expect("[")
        edge_alias = None
        edge_type = None
        if self.accept(":"):
            edge_type = self.ident()
        elif self.peek().kind == "ident" and self.peek().text not in (
            "INNER", "LEFT", "RIGHT", "FULL", "SEMI", "ANTI",
        ):
            edge_alias = self.ident()
            self.expect(":")
            edge_type = self.ident()
        join = "inner"
        # SEMI/ANTI are engine extensions beyond the reference grammar
        # (TundraQL.g4:88 has only the four SQL join keywords)
        if self.peek().kind == "ident" and self.peek().text in (
            "INNER", "LEFT", "RIGHT", "FULL", "SEMI", "ANTI",
        ):
            join = self.next().text.lower()
        self.expect("]")
        return edge_alias, edge_type, join

    def path_pattern(self) -> tuple[list[ast.Hop], ast.NodeRef]:
        """One pathPattern; returns (hops, first node)."""
        first = self.node_pattern()
        hops: list[ast.Hop] = []
        cur = first
        while self.at("-") or self.at("<-"):
            if self.accept("<-"):
                edge_alias, edge_type, join = self._edge_body()
                self.expect("-")
                nxt = self.node_pattern()
                # <-[...]- : edge direction nxt -> cur (swap at parse time,
                # apps/tundra_shell.cpp:570-577)
                hops.append(
                    ast.Hop(
                        source=cur,
                        target=nxt,
                        edge_type=edge_type,
                        edge_alias=edge_alias,
                        join_type=join,
                        reversed=True,
                    )
                )
            else:
                self.expect("-")
                edge_alias, edge_type, join = self._edge_body()
                self.expect("->")
                nxt = self.node_pattern()
                hops.append(
                    ast.Hop(
                        source=cur,
                        target=nxt,
                        edge_type=edge_type,
                        edge_alias=edge_alias,
                        join_type=join,
                        reversed=False,
                    )
                )
            cur = nxt
        return hops, first

    def pattern_list(self) -> tuple[list[ast.Hop], list[ast.NodeRef]]:
        hops: list[ast.Hop] = []
        roots: list[ast.NodeRef] = []
        while True:
            h, first = self.path_pattern()
            if h:
                hops.extend(h)
            else:
                roots.append(first)
            if not self.accept(","):
                break
        return hops, roots

    def match_statement(self) -> ast.Match:
        self.expect("MATCH")
        hops, roots = self.pattern_list()
        as_of_vt = as_of_tt = None
        # AS OF <vt> [TX <tt>] — bitemporal read point for every scan in
        # the pattern (engine: Query.as_of_valid_time/as_of_tx_time)
        if self.at_kw("AS") and self.peek(1).text == "OF":
            self.next()
            self.next()
            t = self.next()
            if t.kind != "int":
                raise QueryError(
                    f"TundraQL: AS OF expects an integer timestamp, got {t.text!r}"
                )
            as_of_vt = int(t.text)
            if self.at_kw("TX"):
                self.next()
                t = self.next()
                if t.kind != "int":
                    raise QueryError(
                        f"TundraQL: TX expects an integer timestamp, got {t.text!r}"
                    )
                as_of_tt = int(t.text)
        where = None
        if self.at_kw("WHERE"):
            self.next()
            where = self.expression()
        select: list[tuple[str, str | None]] = []
        distinct = False
        if self.at_kw("SELECT"):
            self.next()
            if self.at_kw("DISTINCT"):
                self.next()
                distinct = True
            while True:
                path = self.dotted_path()
                as_name = None
                if self.at_kw("AS"):
                    self.next()
                    as_name = self.ident()
                select.append((path, as_name))
                if not self.accept(","):
                    break
        group_by: list[str] = []
        if self.at_kw("GROUP"):
            self.next()
            if not self.at_kw("BY"):
                raise QueryError("TundraQL: GROUP must be followed by BY")
            self.next()
            while True:
                group_by.append(self.dotted_path())
                if not self.accept(","):
                    break
        aggs: list[tuple[str, str, str | None]] = []
        if self.at_kw("AGG"):
            self.next()
            while True:
                fn = self.ident()
                self.expect("(")
                if self.accept("*"):
                    fld = "*"
                else:
                    fld = self.dotted_path()
                self.expect(")")
                as_name = None
                if self.at_kw("AS"):
                    self.next()
                    as_name = self.ident()
                aggs.append((fn.lower(), fld, as_name))
                if not self.accept(","):
                    break
        if group_by and not aggs:
            raise QueryError("TundraQL: GROUP BY requires an AGG clause")
        order_by: list[tuple[str, bool]] = []
        if self.at_kw("ORDER"):
            self.next()
            if not self.at_kw("BY"):
                raise QueryError("TundraQL: ORDER must be followed by BY")
            self.next()
            while True:
                path = self.dotted_path()
                asc = True
                if self.at_kw("ASC"):
                    self.next()
                elif self.at_kw("DESC"):
                    self.next()
                    asc = False
                order_by.append((path, asc))
                if not self.accept(","):
                    break
        limit = None
        if self.at_kw("LIMIT"):
            self.next()
            t = self.next()
            if t.kind != "int" or int(t.text) < 0:
                raise QueryError(
                    f"TundraQL: LIMIT expects a non-negative integer, got {t.text!r}"
                )
            limit = int(t.text)
        return ast.Match(
            hops=hops,
            roots=roots,
            where=where,
            select=select,
            distinct=distinct,
            group_by=group_by,
            aggs=aggs,
            order_by=order_by,
            limit=limit,
            as_of_vt=as_of_vt,
            as_of_tt=as_of_tt,
        )

    def dotted_path(self) -> str:
        parts = [self.ident()]
        while self.accept("."):
            parts.append(self.ident())
        return ".".join(parts)

    # -------------------------------------------------- WHERE expressions
    def expression(self) -> Expr:
        return self.or_expression()

    def or_expression(self) -> Expr:
        left = self.and_expression()
        while self.at_kw("OR"):
            self.next()
            right = self.and_expression()
            left = Logical(left=left, op="OR", right=right)
        return left

    def and_expression(self) -> Expr:
        left = self.primary_expression()
        while self.at_kw("AND"):
            self.next()
            right = self.primary_expression()
            left = Logical(left=left, op="AND", right=right)
        return left

    def primary_expression(self) -> Expr:
        # '(' starts a parenthesized expression only if it isn't a literal
        # comparison — the grammar has no '(' in term position, so any '('
        # here is grouping.
        if self.accept("("):
            e = self.expression()
            self.expect(")")
            return e
        return self.term()

    _OPS = {"=": "=", "!=": "!=", "<>": "!=", ">": ">", "<": "<", ">=": ">=", "<=": "<="}

    def term(self) -> Expr:
        left_is_field = self.peek().kind == "ident" and self.peek().text not in (
            "true", "false", "null", "NULL",
        )
        if left_is_field:
            left: Any = self.dotted_path()
        else:
            left = self.value()
        op_t = self.next()
        if op_t.text not in self._OPS:
            raise QueryError(f"TundraQL: expected comparison op, got {op_t.text!r}")
        op = CompareOp.parse(self._OPS[op_t.text])
        right_is_field = self.peek().kind == "ident" and self.peek().text not in (
            "true", "false", "null", "NULL",
        )
        if right_is_field:
            right: Any = self.dotted_path()
        else:
            right = self.value()
        if left_is_field and right_is_field:
            raise QueryError(
                "TundraQL: field-to-field comparison is not supported "
                "(the reference evaluates literals only, src/query/query.cpp:81-201)"
            )
        if not left_is_field and not right_is_field:
            raise QueryError("TundraQL: comparison needs a field reference")
        if left_is_field:
            return Compare(ref=FieldRef.parse(left), op=op, value=right)
        swapped = {"<": ">", ">": "<", "<=": ">=", ">=": "<="}.get(op.value, op.value)
        return Compare(
            ref=FieldRef.parse(right), op=CompareOp.parse(swapped), value=left
        )

    # -------------------------------------------------------------- UPDATE
    def update_statement(self) -> ast.Update:
        self.expect("UPDATE")
        locator = None
        pattern = None
        match = None
        if self.at_kw("MATCH"):
            self.next()
            hops, roots = self.pattern_list()
            match = ast.Match(hops=hops, roots=roots, where=None, select=[])
        elif self.at("("):
            pattern = self.node_pattern()
        else:
            schema = self.ident()
            self.expect("(")
            t = self.next()
            if t.kind != "int":
                raise QueryError("TundraQL: UPDATE locator id must be integer")
            self.expect(")")
            locator = (schema, int(t.text))
        self.expect("SET")
        assignments: dict[str, Any] = {}
        while True:
            path = self.dotted_path()
            self.expect("=")
            assignments[path] = self.value()
            if not self.accept(","):
                break
        where = None
        if self.at_kw("WHERE"):
            self.next()
            where = self.expression()
        return ast.Update(
            locator=locator,
            pattern=pattern,
            match=match,
            assignments=assignments,
            where=where,
        )

    # -------------------------------------------------------------- DELETE
    def delete_statement(self) -> ast.Delete:
        self.expect("DELETE")
        if self.at_kw("EDGE"):
            self.next()
            etype = self.ident()
            efrom = eto = None
            if self.at_kw("FROM"):
                self.next()
                efrom = self.node_selector()
            if self.at_kw("TO"):
                self.next()
                eto = self.node_selector()
            return ast.Delete(edge_type=etype, edge_from=efrom, edge_to=eto)
        if self.at("("):
            hops, roots = self.pattern_list()
            where = None
            if self.at_kw("WHERE"):
                self.next()
                where = self.expression()
            if hops:
                return ast.Delete(
                    path=ast.Match(hops=hops, roots=roots, where=where, select=[]),
                    where=where,
                )
            return ast.Delete(pattern=roots[0], where=where)
        schema = self.ident()
        self.expect("(")
        t = self.next()
        if t.kind != "int":
            raise QueryError("TundraQL: DELETE locator id must be integer")
        self.expect(")")
        return ast.Delete(locator=(schema, int(t.text)))

    # -------------------------------------------------- extension statements
    def _int_clause(self, kw: str) -> int:
        t = self.next()
        if t.kind != "int" or int(t.text) < 0:
            raise QueryError(
                f"TundraQL: {kw} expects a non-negative integer, "
                f"got {t.text!r}"
            )
        return int(t.text)

    def _num_clause(self, kw: str) -> float:
        t = self.next()
        if t.kind not in ("int", "float"):
            raise QueryError(
                f"TundraQL: {kw} expects a number, got {t.text!r}"
            )
        return float(t.text)

    def _at_clause(self, kw: str) -> bool:
        return all(
            self.peek(i).kind == "ident" and self.peek(i).text == word
            for i, word in enumerate(kw.split())
        )

    def _clause_value(self, kw: str, f: Field) -> Any:
        """The value after clause ``kw``, parsed by ``f``'s type (see
        ast.clause)."""
        kind = ast.kind(f)
        if kind == "bool":
            return not f.default
        if kind == "str":
            return self.ident()
        if kind == "int":
            return self._int_clause(kw)
        if kind == "float":
            return self._num_clause(kw)
        items = []  # tuple[str, ...]: names or quoted strings, comma-separated
        while True:
            string = self.peek().kind == "string"
            items.append(self.value() if string else self.ident())
            if not self.accept(","):
                return tuple(items)

    def extension_statement(self, cls: type[ast.Extension]) -> ast.Extension:
        """``KEYWORD ON table [WITH table] clause ...`` for the extension
        statement ``cls`` declares (ast.Extension)."""
        kw = self.next().text
        clauses = cls.clauses()
        values: dict[str, Any] = {}
        seen: set[str] = set()

        def take(ck: str) -> None:
            if ck in seen:
                raise QueryError(f"TundraQL: {kw} repeats {ck}")
            seen.add(ck)
            self.i += len(ck.split())
            values[clauses[ck].name] = self._clause_value(ck, clauses[ck])

        before = cls.BEFORE_TABLE
        for lead, f in zip(("ON", "WITH"), cls.tables()):
            self.expect(lead)
            if lead == "ON" and before and self._at_clause(before):
                take(before)
            values[f.name] = self.ident()
        trailing = [c for c in clauses if c != before]
        while ck := next((c for c in trailing if self._at_clause(c)), None):
            take(ck)
        for ck, f in clauses.items():
            if f.name not in values and f.default is MISSING:
                raise QueryError(f"TundraQL: {kw} requires {ck}")
        stmt = cls(**values)
        stmt.check(seen)
        return stmt

    def show_statement(self) -> ast.Show:
        self.expect("SHOW")
        if self.at_kw("EDGES"):
            self.next()
            return ast.Show(target="edges", edge_type=self.ident())
        if self.at_kw("EDGE"):
            self.next()
            if self.at_kw("TYPES"):
                self.next()
                return ast.Show(target="edge_types")
        raise QueryError("TundraQL: SHOW expects 'EDGES <type>' or 'EDGE TYPES'")


def parse_statement(text: str) -> ast.Statement:
    return Parser(text).parse()
