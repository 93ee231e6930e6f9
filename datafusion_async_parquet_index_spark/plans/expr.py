"""Predicate expression AST for the index-pruning planner.

The engine needs its own (tiny) expression representation because the
pruning rewrite (``plans/pruning.py``) must walk the predicate *before*
Spark ever sees it, compile it into stats-space SQL for the external
catalog, and keep the original form as the residual Spark filter.

Mirrors the expression surface the reference supports
(``/root/reference/sqlx-sqlite/src/conversions.rs:10-85``): comparisons,
arithmetic, AND/OR/NOT, LIKE, bit shifts, CASE WHEN, IS [NOT] NULL and
typed literals — with the same conservative rule that anything
untranslatable degrades to "scan it" (constant TRUE), never to wrong
results (``conversions.rs:32,71,83``).

Each node renders three ways:
- ``to_spark()``  -> ``pyspark.sql.Column``   (residual executor-side filter)
- ``to_sql()``    -> ANSI SQL string           (debug / oracle parity)
- pruning rewrite -> stats-space ``Expr``      (see plans/pruning.py)
"""

from __future__ import annotations

import datetime as _dt
import decimal as _decimal
from typing import Any, Iterable, Iterator, Optional, Sequence, Tuple

__all__ = [
    "Expr", "Col", "Lit", "BinOp", "Not", "IsNull", "Like", "InList",
    "Case", "ContainsToken", "col", "lit", "and_all", "conjuncts",
    "COMPARISONS", "ARITHMETIC", "BOOLEAN_OPS",
]

COMPARISONS = {"=", "!=", "<", "<=", ">", ">="}
ARITHMETIC = {"+", "-", "*", "/", "%", "<<", ">>"}
BOOLEAN_OPS = {"AND", "OR"}

_FLIP = {"=": "=", "!=": "!=", "<": ">", "<=": ">=", ">": "<", ">=": "<="}
_NEGATE = {"=": "!=", "!=": "=", "<": ">=", "<=": ">", ">": "<=", ">=": "<"}


def _wrap(v: Any) -> "Expr":
    return v if isinstance(v, Expr) else Lit(v)


class Expr:
    """Base node. Supports Python operator overloading like pyspark Columns."""

    # -- comparisons ---------------------------------------------------
    def __eq__(self, other):  # type: ignore[override]
        return BinOp("=", self, _wrap(other))

    def __ne__(self, other):  # type: ignore[override]
        return BinOp("!=", self, _wrap(other))

    def __lt__(self, other):
        return BinOp("<", self, _wrap(other))

    def __le__(self, other):
        return BinOp("<=", self, _wrap(other))

    def __gt__(self, other):
        return BinOp(">", self, _wrap(other))

    def __ge__(self, other):
        return BinOp(">=", self, _wrap(other))

    # -- boolean -------------------------------------------------------
    def __and__(self, other):
        return BinOp("AND", self, _wrap(other))

    def __or__(self, other):
        return BinOp("OR", self, _wrap(other))

    def __invert__(self):
        return Not(self)

    # -- arithmetic ----------------------------------------------------
    def __add__(self, other):
        return BinOp("+", self, _wrap(other))

    def __sub__(self, other):
        return BinOp("-", self, _wrap(other))

    def __mul__(self, other):
        return BinOp("*", self, _wrap(other))

    def __radd__(self, other):
        return BinOp("+", _wrap(other), self)

    def __rsub__(self, other):
        return BinOp("-", _wrap(other), self)

    def __rmul__(self, other):
        return BinOp("*", _wrap(other), self)

    def __truediv__(self, other):
        return BinOp("/", self, _wrap(other))

    def __mod__(self, other):
        return BinOp("%", self, _wrap(other))

    def __lshift__(self, other):
        return BinOp("<<", self, _wrap(other))

    def __rshift__(self, other):
        return BinOp(">>", self, _wrap(other))

    # -- predicates ----------------------------------------------------
    def is_null(self):
        return IsNull(self, negated=False)

    def is_not_null(self):
        return IsNull(self, negated=True)

    def like(self, pattern: str):
        return Like(self, pattern, negated=False)

    def not_like(self, pattern: str):
        return Like(self, pattern, negated=True)

    def isin(self, *values):
        vals = values[0] if len(values) == 1 and isinstance(values[0], (list, tuple)) else values
        return InList(self, [_wrap(v) for v in vals])

    def contains_token(self, token: str):
        """Word-membership predicate over a text column (the shared
        lowercase-alphanumeric tokenizer): TRUE iff `token` appears as a
        whole token. Unlike LIKE '%w%' (substring — not refutable by a
        token index), token semantics make the token Bloom filter a
        SOUND pruner: a row group whose token bloom lacks the word
        cannot contain it as a token."""
        return ContainsToken(self, token)

    def __hash__(self):
        return hash(repr(self))

    # -- renderers (overridden) ---------------------------------------
    def to_spark(self):
        raise NotImplementedError

    def to_sql(self) -> str:
        raise NotImplementedError

    def columns(self) -> set:
        """Set of referenced column names."""
        return set()

    def __repr__(self):
        return self.to_sql()


class Col(Expr):
    def __init__(self, name: str):
        self.name = name

    def to_spark(self):
        from pyspark.sql import functions as F
        return F.col(self.name)

    def to_sql(self) -> str:
        return self.name

    def columns(self) -> set:
        return {self.name}


def _sql_literal(v: Any) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, float)):
        return repr(v)
    if isinstance(v, _decimal.Decimal):
        return str(v)
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, (bytes, bytearray)):
        return "X'" + bytes(v).hex() + "'"
    if isinstance(v, _dt.datetime):
        return "TIMESTAMP '" + v.isoformat(sep=" ") + "'"
    if isinstance(v, _dt.date):
        return "DATE '" + v.isoformat() + "'"
    raise TypeError(f"unsupported literal {type(v)!r}")


class Lit(Expr):
    def __init__(self, value: Any):
        self.value = value

    def to_spark(self):
        from pyspark.sql import functions as F
        return F.lit(self.value)

    def to_sql(self) -> str:
        return _sql_literal(self.value)


class BinOp(Expr):
    def __init__(self, op: str, left: Expr, right: Expr):
        assert op in COMPARISONS | ARITHMETIC | BOOLEAN_OPS, op
        self.op, self.left, self.right = op, left, right

    def to_spark(self):
        from pyspark.sql import functions as F
        l, r = self.left.to_spark(), self.right.to_spark()
        op = self.op
        if op == "=":
            return l == r
        if op == "!=":
            return l != r
        if op == "<":
            return l < r
        if op == "<=":
            return l <= r
        if op == ">":
            return l > r
        if op == ">=":
            return l >= r
        if op == "AND":
            return l & r
        if op == "OR":
            return l | r
        if op == "+":
            return l + r
        if op == "-":
            return l - r
        if op == "*":
            return l * r
        if op == "/":
            return l / r
        if op == "%":
            return l % r
        if op == "<<":
            return F.shiftleft(l, self.right.value)
        if op == ">>":
            return F.shiftright(l, self.right.value)
        raise AssertionError(op)

    def to_sql(self) -> str:
        op = "<>" if self.op == "!=" else self.op
        return f"({self.left.to_sql()} {op} {self.right.to_sql()})"

    def columns(self) -> set:
        return self.left.columns() | self.right.columns()

    def flipped(self) -> "BinOp":
        """lit OP col  ->  col OP' lit (comparisons only)."""
        return BinOp(_FLIP[self.op], self.right, self.left)

    def negated_op(self) -> str:
        return _NEGATE[self.op]


class Not(Expr):
    def __init__(self, child: Expr):
        self.child = child

    def to_spark(self):
        return ~self.child.to_spark()

    def to_sql(self) -> str:
        return f"(NOT {self.child.to_sql()})"

    def columns(self) -> set:
        return self.child.columns()


class IsNull(Expr):
    def __init__(self, child: Expr, negated: bool):
        self.child, self.negated = child, negated

    def to_spark(self):
        c = self.child.to_spark()
        return c.isNotNull() if self.negated else c.isNull()

    def to_sql(self) -> str:
        suffix = "IS NOT NULL" if self.negated else "IS NULL"
        return f"({self.child.to_sql()} {suffix})"

    def columns(self) -> set:
        return self.child.columns()


class ContainsToken(Expr):
    """Whole-token membership in a text column under the shared
    tokenizer (functions.TOKEN_SPLIT_RE). Residual evaluation is
    JVM-side (split + array_contains); the pruning layer can refute
    row groups via a token Bloom filter (sources/bloom.py) because
    token semantics — unlike LIKE substring semantics — cannot match
    across token boundaries."""

    def __init__(self, child: Expr, token: str):
        self.child, self.token = child, token

    def to_spark(self):
        from pyspark.sql import functions as F

        from ..functions import tokens
        return F.array_contains(tokens(self.child.to_spark()),
                                self.token)

    def to_sql(self) -> str:
        return (f"contains_token({self.child.to_sql()}, "
                f"{_sql_literal(self.token)})")

    def columns(self) -> set:
        return self.child.columns()


class Like(Expr):
    def __init__(self, child: Expr, pattern: str, negated: bool = False):
        self.child, self.pattern, self.negated = child, pattern, negated

    def to_spark(self):
        c = self.child.to_spark().like(self.pattern)
        return ~c if self.negated else c

    def to_sql(self) -> str:
        kw = "NOT LIKE" if self.negated else "LIKE"
        return f"({self.child.to_sql()} {kw} {_sql_literal(self.pattern)})"

    def columns(self) -> set:
        return self.child.columns()

    def literal_prefix(self) -> str:
        """Longest literal prefix before the first LIKE wildcard."""
        out = []
        i = 0
        while i < len(self.pattern):
            ch = self.pattern[i]
            if ch in ("%", "_"):
                break
            if ch == "\\" and i + 1 < len(self.pattern):
                out.append(self.pattern[i + 1])
                i += 2
                continue
            out.append(ch)
            i += 1
        return "".join(out)

    def is_exact(self) -> bool:
        return len(self.literal_prefix()) == len(self.pattern)


class InList(Expr):
    def __init__(self, child: Expr, values: Sequence[Expr]):
        self.child = child
        self.values = list(values)

    def to_spark(self):
        return self.child.to_spark().isin([v.value for v in self.values])

    def to_sql(self) -> str:
        vals = ", ".join(v.to_sql() for v in self.values)
        return f"({self.child.to_sql()} IN ({vals}))"

    def columns(self) -> set:
        return self.child.columns()


class Case(Expr):
    """CASE WHEN cond THEN val [...] ELSE val END
    (reference: conversions.rs:73-81)."""

    def __init__(self, branches: Iterable[Tuple[Expr, Expr]], else_: Optional[Expr] = None):
        self.branches = [(c, v) for c, v in branches]
        self.else_ = else_

    def to_spark(self):
        from pyspark.sql import functions as F
        out = None
        for cond, val in self.branches:
            out = F.when(cond.to_spark(), val.to_spark()) if out is None \
                else out.when(cond.to_spark(), val.to_spark())
        if self.else_ is not None:
            out = out.otherwise(self.else_.to_spark())
        return out

    def to_sql(self) -> str:
        parts = ["CASE"]
        for cond, val in self.branches:
            parts.append(f"WHEN {cond.to_sql()} THEN {val.to_sql()}")
        if self.else_ is not None:
            parts.append(f"ELSE {self.else_.to_sql()}")
        parts.append("END")
        return "(" + " ".join(parts) + ")"

    def columns(self) -> set:
        out = set()
        for cond, val in self.branches:
            out |= cond.columns() | val.columns()
        if self.else_ is not None:
            out |= self.else_.columns()
        return out


def col(name: str) -> Col:
    return Col(name)


def lit(value: Any) -> Lit:
    return Lit(value)


def and_all(exprs: Sequence[Expr]) -> Expr:
    """Conjoin pushed-filter list; empty list -> TRUE
    (reference: main.rs:265-272)."""
    if not exprs:
        return Lit(True)
    out = exprs[0]
    for e in exprs[1:]:
        out = BinOp("AND", out, e)
    return out


def conjuncts(e: Expr) -> Iterator[Expr]:
    """The top-level AND conjuncts of ``e``, left to right (``e`` itself
    when it is not an AND)."""
    if isinstance(e, BinOp) and e.op == "AND":
        yield from conjuncts(e.left)
        yield from conjuncts(e.right)
    else:
        yield e
