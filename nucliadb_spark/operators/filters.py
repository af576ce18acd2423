"""FilterExpression → Column compiler (and a mirrored SQL compiler).

Re-expresses the reference's filter DSL
(ref: nucliadb_models/src/nucliadb_models/filters.py:33-562, proto
nidx_protos/nodereader.proto:287-331, tantivy compile
nidx/nidx_text/src/search_query.rs:156-217 `filter_to_query`) as a
small expression tree that compiles to:

- a pyspark ``Column`` (Catalyst pushes the resulting predicate into
  the parquet scan — verified via PushedFilters in .explain), and
- an equivalent ANSI/DuckDB SQL string, used for oracle parity and to
  prove the compiler's semantics are engine-independent.

Facet semantics: a facet filter ``/l/type`` matches any label equal
to it OR any label underneath it (``/l/type/economy``) — tantivy
facet-path semantics (ref: nidx_text/src/schema.rs facets field).

Scale: all of these are row-local predicates — no shuffle; they push
down to the scan and prune row groups via parquet min/max stats.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime

from pyspark.sql import Column
from pyspark.sql import functions as F

from nucliadb_spark.functions.text import tokenize, tokenize_sql


def _sql_quote(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


class Expr:
    """Base filter expression node."""

    def to_column(self) -> Column:
        raise NotImplementedError

    def to_sql(self) -> str:
        raise NotImplementedError

    def __and__(self, other: "Expr") -> "And":
        return And([self, other])

    def __or__(self, other: "Expr") -> "Or":
        return Or([self, other])

    def __invert__(self) -> "Not":
        return Not(self)


@dataclass
class And(Expr):
    operands: list

    def to_column(self) -> Column:
        col = self.operands[0].to_column()
        for op in self.operands[1:]:
            col = col & op.to_column()
        return col

    def to_sql(self) -> str:
        return "(" + " AND ".join(op.to_sql() for op in self.operands) + ")"


@dataclass
class Or(Expr):
    operands: list

    def to_column(self) -> Column:
        col = self.operands[0].to_column()
        for op in self.operands[1:]:
            col = col | op.to_column()
        return col

    def to_sql(self) -> str:
        return "(" + " OR ".join(op.to_sql() for op in self.operands) + ")"


@dataclass
class Not(Expr):
    operand: Expr

    def to_column(self) -> Column:
        return ~self.operand.to_column()

    def to_sql(self) -> str:
        return f"(NOT {self.operand.to_sql()})"


@dataclass
class Present(Expr):
    """``operand`` over a row whose ``column`` is non-null, false over
    one whose ``column`` is null.

    Guards a leaf over a LEFT-joined plane: the join leaves ``column``
    (a membership flag) null exactly where the plane has no row, and
    there the leaf is false, so a ``Not`` over it is true. A null
    value in a row the plane does have keeps the leaf's own three-
    valued result."""

    operand: Expr
    column: str

    def to_column(self) -> Column:
        return F.when(
            F.col(self.column).isNotNull(), self.operand.to_column()
        ).otherwise(F.lit(False))

    def to_sql(self) -> str:
        return (
            f"(CASE WHEN {self.column} IS NOT NULL "
            f"THEN {self.operand.to_sql()} ELSE FALSE END)"
        )


@dataclass
class Facet(Expr):
    """Label/facet path filter with hierarchical prefix semantics.

    Accepts either system paths ("/l/...") or query aliases
    ("/classification.labels/...") — aliases translate at compile time
    (functions/labels.py, ref nucliadb_models/labels.py:61-67).

    ref: filters.py `Label`, search_query.rs facet term queries.
    """

    facet: str
    column: str = "labels"

    def _system(self) -> str:
        from nucliadb_spark.functions.labels import translate_alias_to_system_label

        return translate_alias_to_system_label(self.facet)

    def to_column(self) -> Column:
        f_ = self._system()
        return F.exists(
            F.col(self.column),
            lambda l: (l == F.lit(f_)) | l.startswith(f_ + "/"),
        )

    def to_sql(self) -> str:
        f_ = self._system()
        q = _sql_quote(f_)
        qp = _sql_quote(f_ + "/")
        return (
            f"len(list_filter({self.column}, "
            f"l -> l = {q} OR starts_with(l, {qp}))) > 0"
        )


@dataclass
class DateRange(Expr):
    """Inclusive created/modified range, open bounds allowed.

    ref: nidx/nidx_text/src/search_query.rs:30-49.
    """

    column: str
    since: datetime | str | None = None
    until: datetime | str | None = None

    def to_column(self) -> Column:
        c = F.col(self.column)
        conds = []
        if self.since is not None:
            conds.append(c >= F.lit(str(self.since)).cast("timestamp"))
        if self.until is not None:
            conds.append(c <= F.lit(str(self.until)).cast("timestamp"))
        out = conds[0]
        for cond in conds[1:]:
            out = out & cond
        return out

    def to_sql(self) -> str:
        parts = []
        if self.since is not None:
            parts.append(f"{self.column} >= TIMESTAMP {_sql_quote(str(self.since))}")
        if self.until is not None:
            parts.append(f"{self.column} <= TIMESTAMP {_sql_quote(str(self.until))}")
        return "(" + " AND ".join(parts) + ")"


@dataclass
class Keyword(Expr):
    """Keyword must appear (tokenized) in the text column.

    ref: nidx/nidx_text/src/query_io.rs:1-42.
    """

    word: str
    column: str = "text"

    def to_column(self) -> Column:
        return F.array_contains(tokenize(self.column), self.word.lower())

    def to_sql(self) -> str:
        return (
            f"list_contains({tokenize_sql(self.column)}, "
            f"{_sql_quote(self.word.lower())})"
        )


@dataclass
class ResourceIs(Expr):
    """Match a specific resource id. ref: filters.py `Resource`."""

    rid: object
    column: str = "rid"

    def to_column(self) -> Column:
        return F.col(self.column) == F.lit(self.rid)

    def to_sql(self) -> str:
        v = self.rid if isinstance(self.rid, (int, float)) else _sql_quote(str(self.rid))
        return f"{self.column} = {v}"


@dataclass
class FieldEquals(Expr):
    """Generic column equality (status, language, origin...)."""

    column: str
    value: object

    def to_column(self) -> Column:
        return F.col(self.column) == F.lit(self.value)

    def to_sql(self) -> str:
        v = (
            self.value
            if isinstance(self.value, (int, float))
            else _sql_quote(str(self.value))
        )
        return f"{self.column} = {v}"


@dataclass
class PrefixMatch(Expr):
    """String prefix (resource-field prefix / origin path filters)."""

    column: str
    prefix: str

    def to_column(self) -> Column:
        return F.col(self.column).startswith(self.prefix)

    def to_sql(self) -> str:
        return f"starts_with({self.column}, {_sql_quote(self.prefix)})"


@dataclass
class NumericRange(Expr):
    """Numeric range, inclusive, open bounds allowed (JSON-KV ranges)."""

    column: str
    gte: float | None = None
    lte: float | None = None

    def to_column(self) -> Column:
        c = F.col(self.column)
        conds = []
        if self.gte is not None:
            conds.append(c >= F.lit(self.gte))
        if self.lte is not None:
            conds.append(c <= F.lit(self.lte))
        out = conds[0]
        for cond in conds[1:]:
            out = out & cond
        return out

    def to_sql(self) -> str:
        parts = []
        if self.gte is not None:
            parts.append(f"{self.column} >= {self.gte}")
        if self.lte is not None:
            parts.append(f"{self.column} <= {self.lte}")
        return "(" + " AND ".join(parts) + ")"


@dataclass
class SecurityFilter(Expr):
    """Visible if public OR any requested group matches.

    ref: nidx/nidx_text/src/search_query.rs:66-90 `security_query`.
    """

    groups: list
    public_column: str = "security_public"
    groups_column: str = "security_groups"

    def to_column(self) -> Column:
        lit_groups = F.array(*[F.lit(g) for g in self.groups])
        return F.col(self.public_column) | F.arrays_overlap(
            F.col(self.groups_column), lit_groups
        )

    def to_sql(self) -> str:
        arr = "[" + ", ".join(_sql_quote(g) for g in self.groups) + "]"
        return (
            f"({self.public_column} OR len(list_intersect({self.groups_column}, "
            f"{arr})) > 0)"
        )


@dataclass
class NotHidden(Expr):
    """Default hidden-resource exclusion (label /q/h).

    ref: search/search/utils.py filter_hidden_resources;
    nidx_vector/src/indexer.rs:27 SEGMENT_TAGS.
    """

    column: str = "hidden"

    def to_column(self) -> Column:
        return ~F.col(self.column)

    def to_sql(self) -> str:
        return f"(NOT {self.column})"


@dataclass
class JsonPath(Expr):
    """Typed predicate on a JSON string column path.

    ref: nidx/nidx_json/src/search.rs:60-200 build_leaf_query — the
    full leaf surface: Text/Boolean eq, Int/Float eq + inclusive
    ranges, Date eq + inclusive ranges (DateRange), at arbitrary
    nested paths (tantivy_path joins field.json_path). Ranges with
    one unbounded end = a single gte/lte leaf; bounded ranges = And
    of two leaves (the Expr tree mirrors the reference's
    And/Or/Not composition at search.rs:163-188).

    op: 'eq' | 'gte' | 'lte'
    kind: 'string' | 'number' (float) | 'int' | 'bool' | 'date'
    path: dotted for nested objects, e.g. "audit.created" — both
    engines resolve it as the JSONPath '$.audit.created'.
    'date' values are 'YYYY-MM-DD HH:MM:SS' strings compared as
    timestamps (tantivy's DateTime fast value).
    """

    column: str
    path: str  # top-level key or dotted nested path
    op: str
    value: object
    kind: str = "number"

    def _spark_value(self) -> Column:
        raw = F.get_json_object(F.col(self.column), f"$.{self.path}")
        if self.kind == "number":
            return raw.cast("double")
        if self.kind == "int":
            return raw.cast("long")
        if self.kind == "bool":
            return raw.cast("boolean")
        if self.kind == "date":
            return raw.cast("timestamp")
        return raw

    def to_column(self) -> Column:
        v = self._spark_value()
        lit = F.lit(self.value)
        if self.kind == "date":
            lit = lit.cast("timestamp")
        if self.op == "eq":
            return v == lit
        if self.op == "gte":
            return v >= lit
        if self.op == "lte":
            return v <= lit
        raise ValueError(f"unsupported op {self.op}")

    def to_sql(self) -> str:
        raw = f"json_extract_string({self.column}, '$.{self.path}')"
        if self.kind == "number":
            raw = f"CAST({raw} AS DOUBLE)"
        elif self.kind == "int":
            raw = f"CAST({raw} AS BIGINT)"
        elif self.kind == "bool":
            raw = f"CAST({raw} AS BOOLEAN)"
        elif self.kind == "date":
            raw = f"CAST({raw} AS TIMESTAMP)"
        if self.kind == "date":
            v = f"TIMESTAMP {_sql_quote(str(self.value))}"
        elif isinstance(self.value, bool):
            v = "TRUE" if self.value else "FALSE"
        elif isinstance(self.value, (int, float)):
            v = repr(self.value)
        else:
            v = _sql_quote(str(self.value))
        op = {"eq": "=", "gte": ">=", "lte": "<="}[self.op]
        return f"{raw} {op} {v}"
