"""Composable keep/drop rule DSL compiled to Spark SQL boolean expressions.

This is the graft core: the reference's ``ColumnValidationBuilder``
(``api/src/main/scala/.../validation/ValidationBuilder.scala:200-355``)
emits Spark SQL expression strings for every predicate; the execution kernel
is ``df.where(s"!($expression)")`` (``ValidationOperations.scala:13``).  We
keep the same compile-to-SQL-string design — it stays entirely inside
Catalyst (codegen-able, pushdown-able) and is trivially serializable — but
expose an idiomatic Python builder and add per-row semantics: a rule is a
*keep* predicate and a row's ``rule_hits`` accumulates the ids of rules it
fails (``ValidationOperations.scala`` evaluates per-dataset; per-row is the
target's reframing, SURVEY.md §2.2).

Every builder method is pinned by an exact-expression unit test
(tests/test_rules.py), mirroring the reference's
``ValidationConfigurationBuilderTest.scala:37-311``.
"""

from __future__ import annotations

from dataclasses import dataclass, replace
from datetime import date, datetime
from typing import Any, Iterable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SEVERITY_DROP = "drop"  # failing the rule drops the row
SEVERITY_FLAG = "flag"  # failing the rule only records a hit


def lit_sql(value: Any) -> str:
    """Render a Python literal as a Spark SQL literal.

    Mirrors the reference's ``colValueToString``
    (``ValidationBuilder.scala:348-355``): strings quoted, dates wrapped in
    ``DATE(...)``, timestamps in ``TIMESTAMP(...)``, numbers raw.
    """
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, datetime):
        return f"TIMESTAMP('{value.strftime('%Y-%m-%d %H:%M:%S')}')"
    if isinstance(value, date):
        return f"DATE('{value.isoformat()}')"
    if isinstance(value, str):
        escaped = value.replace("\\", "\\\\").replace("'", "\\'")
        return f"'{escaped}'"
    if value is None:
        return "NULL"
    return repr(value)


def with_sql_columns(
    df: DataFrame, exprs: Sequence[str], temporaries: Sequence[str] = ()
) -> DataFrame:
    """Add the ``<sql> AS <name>`` select-list ``exprs`` in one projection
    (a name may be a lateral alias of the ones before it), replacing input
    columns of the same names as ``withColumns`` does, then drop
    ``temporaries``."""
    names = {e.rpartition(" AS ")[2] for e in exprs}
    clash = [c for c in df.columns if c in names]
    return df.drop(*clash).selectExpr("*", *exprs).drop(*temporaries)


@dataclass(frozen=True)
class Rule:
    """One keep predicate.  ``expr`` is boolean Spark SQL; True ⇒ row passes.

    ``error_threshold`` carries the reference's dataset-level QA semantics
    (``ValidationOperations.scala:18-29``): when ≥1 it is an absolute error
    budget, when <1 a fraction of the dataset; None ⇒ any error fails the
    dataset-level check.  Per-row keep/drop ignores it (rules decide,
    thresholds report — SURVEY.md §7).
    """

    rule_id: str
    expr: str
    description: str = ""
    severity: str = SEVERITY_DROP
    error_threshold: float | None = None

    @property
    def column(self) -> Column:
        return F.expr(self.expr)

    # -- fluent modifiers -------------------------------------------------
    def with_id(self, rule_id: str) -> "Rule":
        return replace(self, rule_id=rule_id)

    def describe(self, description: str) -> "Rule":
        return replace(self, description=description)

    def threshold(self, error_threshold: float) -> "Rule":
        return replace(self, error_threshold=error_threshold)

    def flag_only(self) -> "Rule":
        return replace(self, severity=SEVERITY_FLAG)

    # -- boolean algebra ---------------------------------------------------
    def __and__(self, other: "Rule") -> "Rule":
        return Rule(
            rule_id=f"{self.rule_id}_and_{other.rule_id}",
            expr=f"({self.expr}) AND ({other.expr})",
        )

    def __or__(self, other: "Rule") -> "Rule":
        return Rule(
            rule_id=f"{self.rule_id}_or_{other.rule_id}",
            expr=f"({self.expr}) OR ({other.expr})",
        )

    def __invert__(self) -> "Rule":
        return Rule(rule_id=f"not_{self.rule_id}", expr=f"!({self.expr})")


class FieldRules:
    """Builder for rules over one column, mirroring the reference DSL surface
    (``ValidationBuilder.scala:200-346``).  ``field("amount").less_than(100)``.
    """

    def __init__(self, name: str):
        self.name = name

    def _rule(self, suffix: str, expr: str) -> Rule:
        return Rule(rule_id=f"{self.name}_{suffix}", expr=expr)

    # equality / null ------------------------------------------------------
    def is_equal(self, value: Any) -> Rule:
        return self._rule("is_equal", f"{self.name} == {lit_sql(value)}")

    def is_equal_col(self, other: str) -> Rule:
        return self._rule("is_equal_col", f"{self.name} == {other}")

    def is_not_equal(self, value: Any) -> Rule:
        return self._rule("is_not_equal", f"{self.name} != {lit_sql(value)}")

    def is_not_equal_col(self, other: str) -> Rule:
        return self._rule("is_not_equal_col", f"{self.name} != {other}")

    def is_null(self) -> Rule:
        return self._rule("is_null", f"ISNULL({self.name})")

    def is_not_null(self) -> Rule:
        return self._rule("is_not_null", f"ISNOTNULL({self.name})")

    # string ---------------------------------------------------------------
    def contains(self, value: str) -> Rule:
        return self._rule("contains", f"CONTAINS({self.name}, {lit_sql(value)})")

    def not_contains(self, value: str) -> Rule:
        return self._rule("not_contains", f"!CONTAINS({self.name}, {lit_sql(value)})")

    def matches(self, regex: str) -> Rule:
        return self._rule("matches", f"REGEXP({self.name}, {lit_sql(regex)})")

    def not_matches(self, regex: str) -> Rule:
        return self._rule("not_matches", f"!REGEXP({self.name}, {lit_sql(regex)})")

    def starts_with(self, value: str) -> Rule:
        return self._rule("starts_with", f"STARTSWITH({self.name}, {lit_sql(value)})")

    def not_starts_with(self, value: str) -> Rule:
        return self._rule(
            "not_starts_with", f"!STARTSWITH({self.name}, {lit_sql(value)})"
        )

    def ends_with(self, value: str) -> Rule:
        return self._rule("ends_with", f"ENDSWITH({self.name}, {lit_sql(value)})")

    def not_ends_with(self, value: str) -> Rule:
        return self._rule("not_ends_with", f"!ENDSWITH({self.name}, {lit_sql(value)})")

    def luhn_check(self) -> Rule:
        # Spark 3.5+ built-in, cf. reference ``ValidationBuilder.scala:336-338``
        return self._rule("luhn_check", f"LUHN_CHECK({self.name})")

    def has_type(self, type_name: str) -> Rule:
        return self._rule("has_type", f"TYPEOF({self.name}) == '{type_name}'")

    # comparisons ------------------------------------------------------------
    def less_than(self, value: Any) -> Rule:
        return self._rule("less_than", f"{self.name} < {lit_sql(value)}")

    def less_than_col(self, other: str) -> Rule:
        return self._rule("less_than_col", f"{self.name} < {other}")

    def less_than_or_equal(self, value: Any) -> Rule:
        return self._rule("less_than_or_equal", f"{self.name} <= {lit_sql(value)}")

    def less_than_or_equal_col(self, other: str) -> Rule:
        return self._rule("less_than_or_equal_col", f"{self.name} <= {other}")

    def greater_than(self, value: Any) -> Rule:
        return self._rule("greater_than", f"{self.name} > {lit_sql(value)}")

    def greater_than_col(self, other: str) -> Rule:
        return self._rule("greater_than_col", f"{self.name} > {other}")

    def greater_than_or_equal(self, value: Any) -> Rule:
        return self._rule("greater_than_or_equal", f"{self.name} >= {lit_sql(value)}")

    def greater_than_or_equal_col(self, other: str) -> Rule:
        return self._rule("greater_than_or_equal_col", f"{self.name} >= {other}")

    def between(self, low: Any, high: Any) -> Rule:
        return self._rule(
            "between", f"{self.name} BETWEEN {lit_sql(low)} AND {lit_sql(high)}"
        )

    def not_between(self, low: Any, high: Any) -> Rule:
        return self._rule(
            "not_between",
            f"{self.name} NOT BETWEEN {lit_sql(low)} AND {lit_sql(high)}",
        )

    def between_col(self, low: str, high: str) -> Rule:
        return self._rule("between_col", f"{self.name} BETWEEN {low} AND {high}")

    def is_in(self, values: Iterable[Any]) -> Rule:
        rendered = ", ".join(lit_sql(v) for v in values)
        return self._rule("in", f"{self.name} IN ({rendered})")

    def not_in(self, values: Iterable[Any]) -> Rule:
        rendered = ", ".join(lit_sql(v) for v in values)
        return self._rule("not_in", f"{self.name} NOT IN ({rendered})")

    # size / length ----------------------------------------------------------
    def size(self, n: int) -> Rule:
        return self._rule("size", f"SIZE({self.name}) == {n}")

    def not_size(self, n: int) -> Rule:
        return self._rule("not_size", f"SIZE({self.name}) != {n}")

    def less_than_size(self, n: int) -> Rule:
        return self._rule("less_than_size", f"SIZE({self.name}) < {n}")

    def less_than_or_equal_size(self, n: int) -> Rule:
        return self._rule("less_than_or_equal_size", f"SIZE({self.name}) <= {n}")

    def greater_than_size(self, n: int) -> Rule:
        return self._rule("greater_than_size", f"SIZE({self.name}) > {n}")

    def greater_than_or_equal_size(self, n: int) -> Rule:
        return self._rule("greater_than_or_equal_size", f"SIZE({self.name}) >= {n}")

    def length_between(self, low: int, high: int) -> Rule:
        return self._rule(
            "length_between", f"LENGTH({self.name}) BETWEEN {low} AND {high}"
        )

    # escape hatch -------------------------------------------------------------
    def expr(self, sql: str) -> Rule:
        return self._rule("expr", sql)


def field(name: str) -> FieldRules:
    return FieldRules(name)


def expr_rule(rule_id: str, sql: str, **kwargs: Any) -> Rule:
    """Arbitrary boolean-SQL rule (reference ``ValidationBuilder.scala:125-138``)."""
    return Rule(rule_id=rule_id, expr=sql, **kwargs)


class RuleSet:
    """An ordered collection of rules compiled into one staged ``select``.

    Compilation emits, in one Catalyst-only projection:
      * ``rule_hits : array<string>`` — ids of all failed rules (drop + flag),
        in ruleset order (a total, documented order — required for
        reproducibility, SURVEY.md §7 "hard parts");
      * ``keep : boolean`` — true iff no *drop*-severity rule failed.

    NULL semantics follow the reference kernel ``where(!(expr))``
    (``ValidationOperations.scala:13``): an expression evaluating to NULL is
    *not* counted as a failure there (WHERE drops NULLs).  Per-row we make
    that explicit: a rule fails iff its expression is exactly false.
    """

    def __init__(self, rules: Sequence[Rule]):
        ids = [r.rule_id for r in rules]
        if len(set(ids)) != len(ids):
            raise ValueError(f"duplicate rule ids: {ids}")
        self.rules = list(rules)

    def __iter__(self):
        return iter(self.rules)

    def __len__(self) -> int:
        return len(self.rules)

    def hits_sql(self) -> str:
        """``rule_hits`` as Spark SQL."""
        if not self.rules:
            return "CAST(array() AS ARRAY<STRING>)"
        hits = ", ".join(
            f"CASE WHEN ({r.expr}) = false THEN {lit_sql(r.rule_id)} END"
            for r in self.rules
        )
        return f"array_compact(array({hits}))"

    def keep_sql(self, hits: str | None = None) -> str:
        """``keep`` as Spark SQL over ``hits`` (default: :meth:`hits_sql`)."""
        if not self._drop_ids():
            return "true"
        hits = hits or self.hits_sql()
        return f"size(array_intersect({hits}, {self._drop_ids()})) = 0"

    def _drop_ids(self) -> str:
        ids = [lit_sql(r.rule_id) for r in self.rules if r.severity == SEVERITY_DROP]
        return f"array({', '.join(ids)})" if ids else ""

    def hits_column(self) -> Column:
        return F.expr(self.hits_sql())

    def keep_column(self, hits_col: Column | None = None) -> Column:
        # a Column cannot be spliced into SQL text
        if hits_col is None or not self._drop_ids():
            return F.expr(self.keep_sql())
        return F.size(F.array_intersect(hits_col, F.expr(self._drop_ids()))) == 0

    def apply(
        self,
        df: DataFrame,
        hits_col: str = "rule_hits",
        keep_col: str = "keep",
    ) -> DataFrame:
        """Single-projection application: no shuffle, fully codegen-able."""
        df = df.withColumn(hits_col, self.hits_column())
        return df.withColumn(keep_col, self.keep_column(F.col(hits_col)))
