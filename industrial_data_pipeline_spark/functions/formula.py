"""Formula DSL: ``$N`` attribute references, numeric literals, ``+ - * / ( )``.

The reference's derived-attribute formula language
(/root/reference/README.md:180-187, :521-522). The reference validates
only that referenced ids exist (/root/reference/database/database.py:567-577)
and then *string-substitutes into SQL* (:579-583) — injectable by
design. We parse properly: a whitelist tokenizer + precedence-climbing
parser to an AST, then emit either a Spark Column or ANSI SQL. Any
token outside the grammar is rejected (SURVEY.md §2.9).

Semantic notes:
- NULL propagation matches PostgreSQL: any NULL operand → NULL result
  (Spark and DuckDB agree).
- Division by zero: PostgreSQL raises; we define ``x / 0 → NULL``
  (emitted as ``NULLIF`` on the divisor) and document the divergence
  (FIXTURES.md §F8). This is deliberate: at scale a single bad row
  must not kill a backfill over years of history.
"""

from __future__ import annotations

import re
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, functions as F

_TOKEN_RE = re.compile(
    r"\s*(?:(?P<ref>\$\d+)|(?P<num>\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)"
    r"|(?P<op>[+\-*/()]))")


class FormulaError(ValueError):
    pass


@dataclass
class _Tok:
    kind: str  # ref | num | op
    text: str


def tokenize(formula: str) -> list[_Tok]:
    toks, pos = [], 0
    while pos < len(formula):
        m = _TOKEN_RE.match(formula, pos)
        if not m or m.end() == pos:
            rest = formula[pos:].strip()
            if not rest:
                break
            raise FormulaError(
                f"Invalid formula: unexpected token at {formula[pos:]!r} "
                f"(allowed: $N references, numbers, + - * / parentheses)")
        for kind in ("ref", "num", "op"):
            if m.group(kind) is not None:
                toks.append(_Tok(kind, m.group(kind)))
                break
        pos = m.end()
    return toks


def _ids_from_toks(toks: list[_Tok]) -> list[int]:
    """Distinct $N ids in first-appearance order — THE ref-id
    extraction, shared by referenced_ids and validate so the two can
    never drift."""
    seen: dict[int, None] = {}
    for t in toks:
        if t.kind == "ref":
            seen.setdefault(int(t.text[1:]), None)
    return list(seen)


def referenced_ids(formula: str) -> list[int]:
    """Distinct attribute ids referenced, in first-appearance order.
    Reference: re.findall(r'\\$(\\d+)') (database.py:560)."""
    return _ids_from_toks(tokenize(formula))


# ------------------------------------------------------------------ AST

@dataclass
class _Node:
    op: str | None = None       # + - * / 'neg', or None for leaf
    left: "_Node | None" = None
    right: "_Node | None" = None
    leaf: _Tok | None = None


class _Parser:
    """Precedence climbing: expr := term (('+'|'-') term)*,
    term := unary (('*'|'/') unary)*, unary := '-'* atom,
    atom := ref | num | '(' expr ')'."""

    def __init__(self, toks: list[_Tok]):
        self.toks, self.i = toks, 0

    def peek(self) -> _Tok | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def next(self) -> _Tok:
        t = self.peek()
        if t is None:
            raise FormulaError("Invalid formula: unexpected end")
        self.i += 1
        return t

    def parse(self) -> _Node:
        node = self.expr()
        if self.peek() is not None:
            raise FormulaError(
                f"Invalid formula: trailing input at {self.peek().text!r}")
        return node

    def expr(self) -> _Node:
        node = self.term()
        while (t := self.peek()) and t.kind == "op" and t.text in "+-":
            self.next()
            node = _Node(op=t.text, left=node, right=self.term())
        return node

    def term(self) -> _Node:
        node = self.unary()
        while (t := self.peek()) and t.kind == "op" and t.text in "*/":
            self.next()
            node = _Node(op=t.text, left=node, right=self.unary())
        return node

    def unary(self) -> _Node:
        neg = False
        while (t := self.peek()) and t.kind == "op" and t.text == "-":
            self.next()
            neg = not neg
        node = self.atom()
        if neg:
            node = _Node(op="neg", left=node)
        return node

    def atom(self) -> _Node:
        t = self.next()
        if t.kind in ("ref", "num"):
            return _Node(leaf=t)
        if t.kind == "op" and t.text == "(":
            node = self.expr()
            close = self.next()
            if close.kind != "op" or close.text != ")":
                raise FormulaError("Invalid formula: unbalanced parentheses")
            return node
        raise FormulaError(f"Invalid formula: unexpected {t.text!r}")


def parse(formula: str) -> _Node:
    toks = tokenize(formula)
    if not toks:
        raise FormulaError("Invalid formula: empty")
    return _Parser(toks).parse()


def validate(formula: str, known_ids: set[int] | None = None) -> list[int]:
    """Parse + optional existence check of $N references.
    Reference behavior: unknown ids → ValueError (database.py:575-577)."""
    toks = tokenize(formula)  # one tokenize serves both passes
    if not toks:
        raise FormulaError("Invalid formula: empty")
    ids = _ids_from_toks(toks)
    _Parser(toks).parse()
    if known_ids is not None:
        missing = [i for i in ids if i not in known_ids]
        if missing:
            raise FormulaError(
                f"Formula references non-existent attribute ids: {missing}")
    return ids


def dependency_order(formulas: dict[int, str]) -> list[int]:
    """Derived ids ordered so each comes after every derived id its
    formula reads: each round appends, in the mapping's order, every
    id whose derived sources are all placed. A cycle (a self-reference
    included) raises."""
    deps = {d: set(referenced_ids(f)) & formulas.keys()
            for d, f in formulas.items()}
    order: list[int] = []
    while len(order) < len(deps):
        done = set(order)
        ready = [d for d, ds in deps.items() if d not in done and ds <= done]
        if not ready:
            raise FormulaError(
                "Derived formulas form a cycle among attribute ids "
                f"{sorted(deps.keys() - done)}")
        order += ready
    return order


def emit_sql(formula: str, col_for_id: Callable[[int], str],
             null_safe_div: bool = True) -> str:
    """Emit ANSI SQL (valid in both Spark SQL and DuckDB).
    ``col_for_id`` maps attribute id → column identifier."""

    def walk(n: _Node) -> str:
        if n.leaf is not None:
            if n.leaf.kind == "ref":
                return col_for_id(int(n.leaf.text[1:]))
            return f"CAST({n.leaf.text} AS DOUBLE)"
        if n.op == "neg":
            return f"(- {walk(n.left)})"
        left, right = walk(n.left), walk(n.right)
        if n.op == "/" and null_safe_div:
            return f"({left} / NULLIF({right}, 0.0))"
        return f"({left} {n.op} {right})"

    return walk(parse(formula))


def compile_formula(formula: str, col_for_id: Callable[[int], str],
                    null_safe_div: bool = True) -> Column:
    """Formula → Spark Column (F6). JVM-side expression — stays inside
    whole-stage codegen; no Python in the hot path."""
    return F.expr(emit_sql(formula, col_for_id, null_safe_div))
