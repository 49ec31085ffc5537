"""Partition-predicate expression AST (reference: types/expr_*.go).

Eleven node types: Literal, Column, EqualTo, GreaterThan(OrEq),
LessThan(OrEq), And, Or, Not, IsNull, IsNotNull — evaluated over one
file's partitionValues (strings, parsed per the Delta serialization rules
of record.go), and convertible to a Spark Column for data-plane residual
filtering.

Null semantics: binary comparison nodes are null-propagating like the
reference (expr_binary.go:20-32).  For And/Or we implement SQL 3-valued
logic — the reference's null-propagating And/Or is a documented deviation
from SQL (SURVEY §2.A.1); 3-valued matches Spark, and for pruning a NULL
verdict is treated as "keep" (false negatives are impossible, residual
filters correct false keeps).
"""

from __future__ import annotations

import datetime as _dt
from dataclasses import dataclass
from decimal import Decimal
from typing import Any

from pyspark.sql import Column as SparkColumn
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    ByteType,
    DataType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    TimestampType,
)


class ExpressionError(ValueError):
    pass


def parse_partition_value(raw: str | None, dtype: DataType) -> Any:
    """Delta partition-value string parsing (reference: record.go:34-159).

    Empty string and None are NULL; timestamps use 'YYYY-MM-DD HH:MM:SS'
    with an optional fraction of up to six digits, dates 'YYYY-MM-DD';
    complex types are unsupported as partition values.
    """
    if raw is None or raw == "":
        return None
    if isinstance(dtype, StringType):
        return raw
    if isinstance(dtype, (IntegerType, LongType, ByteType, ShortType)):
        return int(raw)
    if isinstance(dtype, (FloatType, DoubleType)):
        return float(raw)
    if isinstance(dtype, BooleanType):
        return raw.lower() == "true"
    if isinstance(dtype, DecimalType):
        return Decimal(raw)
    if isinstance(dtype, DateType):
        return _dt.date.fromisoformat(raw)
    if isinstance(dtype, TimestampType):
        fmt = "%Y-%m-%d %H:%M:%S.%f" if "." in raw else "%Y-%m-%d %H:%M:%S"
        return _dt.datetime.strptime(raw, fmt)
    if isinstance(dtype, BinaryType):
        return raw.encode("utf-8")
    raise ExpressionError(f"unsupported partition value type: {dtype.simpleString()}")


class Expression:
    def eval(self, record: dict[str, Any]) -> Any:
        raise NotImplementedError

    def references(self) -> set[str]:
        """Free column names, lowercased (reference: interfaces.go:53-62)."""
        out: set[str] = set()
        for c in self.children():
            out |= c.references()
        return out

    def children(self) -> list["Expression"]:
        return []

    def to_spark(self) -> SparkColumn:
        raise NotImplementedError

    # sugar
    def __and__(self, other: "Expression") -> "And":
        return And(self, other)

    def __or__(self, other: "Expression") -> "Or":
        return Or(self, other)

    def __invert__(self) -> "Not":
        return Not(self)


@dataclass(frozen=True)
class Literal(Expression):
    """reference: types/expr_literal.go:10-89."""

    value: Any
    dtype: DataType | None = None

    def eval(self, record: dict[str, Any]) -> Any:
        return self.value

    def to_spark(self) -> SparkColumn:
        return F.lit(self.value)

    def __str__(self) -> str:
        return repr(self.value)


TRUE = Literal(True, BooleanType())
FALSE = Literal(False, BooleanType())


@dataclass(frozen=True)
class Column(Expression):
    """Name-indexed field reference (reference: types/expr_column.go:7-81)."""

    name: str
    dtype: DataType = StringType()

    def eval(self, record: dict[str, Any]) -> Any:
        # record maps lowercase column name -> raw partition-value string
        if self.name.lower() not in record:
            raise ExpressionError(f"column {self.name} not found in record")
        return parse_partition_value(record[self.name.lower()], self.dtype)

    def references(self) -> set[str]:
        return {self.name.lower()}

    def to_spark(self) -> SparkColumn:
        return F.col(self.name)

    def __str__(self) -> str:
        return f"Column({self.name})"


def _compare(left: Any, right: Any) -> int:
    """Type-dispatched ordering (reference: expr_binary.go:56-133):
    bool false<true, numerics/str/date/timestamp natural, binary
    lexicographic."""
    if isinstance(left, bool) and isinstance(right, bool):
        return (left > right) - (left < right)
    return (left > right) - (left < right)


@dataclass(frozen=True)
class _BinaryComparison(Expression):
    left: Expression
    right: Expression

    op = "?"

    def children(self) -> list[Expression]:
        return [self.left, self.right]

    def eval(self, record: dict[str, Any]) -> Any:
        lv = self.left.eval(record)
        rv = self.right.eval(record)
        if lv is None or rv is None:
            return None  # null-propagating (expr_binary.go:20-32)
        return self._apply(_compare(lv, rv))

    def _apply(self, cmp: int) -> bool:
        raise NotImplementedError

    def __str__(self) -> str:
        return f"({self.left} {self.op} {self.right})"


class EqualTo(_BinaryComparison):
    op = "="

    def _apply(self, cmp: int) -> bool:
        return cmp == 0

    def to_spark(self) -> SparkColumn:
        return self.left.to_spark() == self.right.to_spark()


class GreaterThan(_BinaryComparison):
    op = ">"

    def _apply(self, cmp: int) -> bool:
        return cmp > 0

    def to_spark(self) -> SparkColumn:
        return self.left.to_spark() > self.right.to_spark()


class GreaterThanOrEq(_BinaryComparison):
    op = ">="

    def _apply(self, cmp: int) -> bool:
        return cmp >= 0

    def to_spark(self) -> SparkColumn:
        return self.left.to_spark() >= self.right.to_spark()


class LessThan(_BinaryComparison):
    op = "<"

    def _apply(self, cmp: int) -> bool:
        return cmp < 0

    def to_spark(self) -> SparkColumn:
        return self.left.to_spark() < self.right.to_spark()


class LessThanOrEq(_BinaryComparison):
    op = "<="

    def _apply(self, cmp: int) -> bool:
        return cmp <= 0

    def to_spark(self) -> SparkColumn:
        return self.left.to_spark() <= self.right.to_spark()


@dataclass(frozen=True)
class And(Expression):
    """SQL 3-valued AND (see module docstring for the deviation note)."""

    left: Expression
    right: Expression

    def children(self) -> list[Expression]:
        return [self.left, self.right]

    def eval(self, record: dict[str, Any]) -> Any:
        lv = self.left.eval(record)
        rv = self.right.eval(record)
        if lv is False or rv is False:
            return False
        if lv is None or rv is None:
            return None
        return True

    def to_spark(self) -> SparkColumn:
        return self.left.to_spark() & self.right.to_spark()

    def __str__(self) -> str:
        return f"({self.left} AND {self.right})"


@dataclass(frozen=True)
class Or(Expression):
    left: Expression
    right: Expression

    def children(self) -> list[Expression]:
        return [self.left, self.right]

    def eval(self, record: dict[str, Any]) -> Any:
        lv = self.left.eval(record)
        rv = self.right.eval(record)
        if lv is True or rv is True:
            return True
        if lv is None or rv is None:
            return None
        return False

    def to_spark(self) -> SparkColumn:
        return self.left.to_spark() | self.right.to_spark()

    def __str__(self) -> str:
        return f"({self.left} OR {self.right})"


@dataclass(frozen=True)
class Not(Expression):
    """reference: types/expr_unary.go:60-76 (null-propagating)."""

    child: Expression

    def children(self) -> list[Expression]:
        return [self.child]

    def eval(self, record: dict[str, Any]) -> Any:
        v = self.child.eval(record)
        if v is None:
            return None
        return not v

    def to_spark(self) -> SparkColumn:
        return ~self.child.to_spark()

    def __str__(self) -> str:
        return f"(NOT {self.child})"


@dataclass(frozen=True)
class IsNull(Expression):
    """reference: types/expr_unary.go:40-58 (never returns NULL)."""

    child: Expression

    def children(self) -> list[Expression]:
        return [self.child]

    def eval(self, record: dict[str, Any]) -> Any:
        return self.child.eval(record) is None

    def to_spark(self) -> SparkColumn:
        return self.child.to_spark().isNull()

    def __str__(self) -> str:
        return f"({self.child} IS NULL)"


@dataclass(frozen=True)
class IsNotNull(Expression):
    """reference: types/expr_unary.go:78-99."""

    child: Expression

    def children(self) -> list[Expression]:
        return [self.child]

    def eval(self, record: dict[str, Any]) -> Any:
        return self.child.eval(record) is not None

    def to_spark(self) -> SparkColumn:
        return self.child.to_spark().isNotNull()

    def __str__(self) -> str:
        return f"({self.child} IS NOT NULL)"


@dataclass(frozen=True)
class In(Expression):
    """value IN (list) — EXCEEDS the reference's AST (delta-standalone has
    it; the Go port stops at comparisons, SURVEY §2.A.1).  Null semantics
    follow SQL: NULL operand -> NULL; no match with a NULL in the list ->
    NULL."""

    child: Expression
    values: tuple

    def children(self) -> list[Expression]:
        return [self.child]

    def references(self) -> set[str]:
        return self.child.references()

    def eval(self, record: dict[str, Any]) -> Any:
        v = self.child.eval(record)
        if v is None:
            return None
        vals = [x.eval(record) if isinstance(x, Expression) else x for x in self.values]
        if any(x is not None and _compare(v, x) == 0 for x in vals):
            return True
        return None if any(x is None for x in vals) else False

    def to_spark(self) -> SparkColumn:
        vals = [x.value if isinstance(x, Literal) else x for x in self.values]
        return self.child.to_spark().isin(vals)

    def __str__(self) -> str:
        return f"({self.child} IN {tuple(self.values)})"


@dataclass(frozen=True)
class Like(Expression):
    """value LIKE pattern (%, _ wildcards) — EXCEEDS the reference's AST.
    Pattern is a plain string; null-propagating."""

    child: Expression
    pattern: str

    def children(self) -> list[Expression]:
        return [self.child]

    def references(self) -> set[str]:
        return self.child.references()

    def eval(self, record: dict[str, Any]) -> Any:
        import re

        v = self.child.eval(record)
        if v is None:
            return None
        rx = re.escape(self.pattern).replace("%", ".*").replace("_", ".")
        return re.fullmatch(rx, str(v), flags=re.DOTALL) is not None

    def to_spark(self) -> SparkColumn:
        return self.child.to_spark().like(self.pattern)

    def __str__(self) -> str:
        return f"({self.child} LIKE {self.pattern!r})"


@dataclass(frozen=True)
class StartsWith(Expression):
    """value STARTS WITH prefix — EXCEEDS the reference's AST.  Unlike the
    general Like, a prefix constrains the string ORDER, so min/max footer
    stats can prune files: every matching value v satisfies
    prefix <= v < next_prefix (see scan.stats_may_match)."""

    child: Expression
    prefix: str

    def children(self) -> list[Expression]:
        return [self.child]

    def references(self) -> set[str]:
        return self.child.references()

    def eval(self, record: dict[str, Any]) -> Any:
        v = self.child.eval(record)
        if v is None:
            return None
        return str(v).startswith(self.prefix)

    def to_spark(self) -> SparkColumn:
        return self.child.to_spark().startswith(self.prefix)

    def __str__(self) -> str:
        return f"({self.child} STARTSWITH {self.prefix!r})"


def prefix_upper_bound(prefix: str) -> str | None:
    """Smallest string p' with p' > every string that starts with `prefix`
    (code-point increment of the last incrementable char); None when no
    such bound exists (prefix is all U+10FFFF)."""
    for i in range(len(prefix) - 1, -1, -1):
        cp = ord(prefix[i])
        if cp < 0x10FFFF:
            return prefix[:i] + chr(cp + 1)
    return None


def split_conjuncts(expr: Expression) -> list[Expression]:
    """Flatten an AND tree (reference: partition_utils.go:56-63)."""
    if isinstance(expr, And):
        return split_conjuncts(expr.left) + split_conjuncts(expr.right)
    return [expr]


def and_all(exprs: list[Expression]) -> Expression | None:
    if not exprs:
        return None
    out = exprs[0]
    for e in exprs[1:]:
        out = And(out, e)
    return out


def split_metadata_and_data_predicates(
    expr: Expression | None, partition_cols: list[str]
) -> tuple[Expression | None, Expression | None]:
    """(pushed, residual): conjuncts referencing ONLY partition columns
    (case-insensitive) are pushed; the rest are residual
    (reference: partition_utils.go:12-71)."""
    if expr is None:
        return None, None
    pcols = {c.lower() for c in partition_cols}
    pushed, residual = [], []
    for c in split_conjuncts(expr):
        if c.references() and c.references() <= pcols:
            pushed.append(c)
        else:
            residual.append(c)
    return and_all(pushed), and_all(residual)
