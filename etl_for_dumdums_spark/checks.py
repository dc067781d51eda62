"""Data-quality checks: the reference's dbt schema tests as Spark queries.

unique / not_null / accepted_values / relationships / expression_is_true /
accepted_range — each check compiles to one aggregate query returning the
violation count (dbt generates the same SQL shape; see SURVEY.md §5.1).

The four row-filter checks (not_null, accepted_values, expression_is_true,
accepted_range) are a violation predicate each; `CheckSuite.run` counts all
of a suite's predicates in one aggregate, one `count_if` per check, so they
cost one Spark action together. `unique` and `relationships` need a group-by
or a join and keep one query each.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass
class CheckResult:
    check: str
    column: str
    violations: int
    passed: bool
    detail: str = ""


@dataclass
class _RowCheck:
    """A row-filter check: it fails on every row where ``violation`` is true."""

    check: str
    column: str
    violation: Column
    detail: str = ""


def _count_violations(df: DataFrame, row_checks: list[_RowCheck]) -> list[CheckResult]:
    counts = df.agg(*[F.count_if(rc.violation) for rc in row_checks]).collect()[0]
    return [
        CheckResult(rc.check, rc.column, n, n == 0, rc.detail) for rc, n in zip(row_checks, counts)
    ]


def unique(df: DataFrame, column: str) -> CheckResult:
    dupes = (
        df.groupBy(column).count().filter(F.col("count") > 1).agg(F.count("*")).collect()[0][0]
    )
    return CheckResult("unique", column, dupes, dupes == 0)


def _not_null(column: str) -> _RowCheck:
    return _RowCheck("not_null", column, F.col(column).isNull())


def not_null(df: DataFrame, column: str) -> CheckResult:
    return _count_violations(df, [_not_null(column)])[0]


def _accepted_values(column: str, values: list) -> _RowCheck:
    c = F.col(column)
    return _RowCheck("accepted_values", column, ~c.isin(values) & c.isNotNull(), str(values))


def accepted_values(df: DataFrame, column: str, values: list) -> CheckResult:
    return _count_violations(df, [_accepted_values(column, values)])[0]


def relationships(df: DataFrame, column: str, parent: DataFrame, parent_key: str) -> CheckResult:
    """Referential integrity: every non-null child key exists in the parent."""
    orphans = (
        df.filter(F.col(column).isNotNull())
        .join(parent.select(F.col(parent_key).alias(column)).distinct(), column, "left_anti")
        .count()
    )
    return CheckResult("relationships", column, orphans, orphans == 0, detail=parent_key)


def _expression_is_true(expression: str | Column) -> _RowCheck:
    cond = F.expr(expression) if isinstance(expression, str) else expression
    return _RowCheck("expression_is_true", str(expression), ~F.coalesce(cond, F.lit(False)))


def expression_is_true(df: DataFrame, expression: str | Column) -> CheckResult:
    return _count_violations(df, [_expression_is_true(expression)])[0]


def _accepted_range(column: str, min_value=None, max_value=None, inclusive: bool = True) -> _RowCheck:
    c = F.col(column)
    viol = F.lit(False)
    if min_value is not None:
        viol = viol | ((c < min_value) if inclusive else (c <= min_value))
    if max_value is not None:
        viol = viol | ((c > max_value) if inclusive else (c >= max_value))
    return _RowCheck("accepted_range", column, c.isNotNull() & viol, f"[{min_value}, {max_value}]")


def accepted_range(
    df: DataFrame, column: str, min_value=None, max_value=None, inclusive: bool = True
) -> CheckResult:
    return _count_violations(df, [_accepted_range(column, min_value, max_value, inclusive)])[0]


# public check -> its violation predicate; CheckSuite.run batches these
_ROW_CHECKS = {
    not_null: _not_null,
    accepted_values: _accepted_values,
    expression_is_true: _expression_is_true,
    accepted_range: _accepted_range,
}


@dataclass
class CheckSuite:
    """Declarative check set for one table (mirror of a dbt models .yml)."""

    checks: list = field(default_factory=list)

    def add(self, fn, *args, **kwargs) -> "CheckSuite":
        self.checks.append((fn, args, kwargs))
        return self

    def run(self, df: DataFrame) -> list[CheckResult]:
        """Every check's result in the order added; the row-filter checks
        share one aggregate, the others run one query each."""
        batched = {
            i: _ROW_CHECKS[fn](*args, **kwargs)
            for i, (fn, args, kwargs) in enumerate(self.checks)
            if fn in _ROW_CHECKS
        }
        results = dict(zip(batched, _count_violations(df, list(batched.values())))) if batched else {}
        return [
            results[i] if i in results else fn(df, *args, **kwargs)
            for i, (fn, args, kwargs) in enumerate(self.checks)
        ]


def profile_table(df: DataFrame, reprs: dict[str, "callable"] | None = None) -> DataFrame:
    """Per-column profile: (col_name, n_rows, n_null, n_distinct, min_repr,
    max_repr) — the dbt-style table summary. min/max are taken on the
    NATIVE column and converted to string afterwards by `reprs[col]` (must
    be monotone; default CAST AS STRING) — never min/max of the string
    form, which would order "10" < "9".

    Plan shape: one plain stats aggregate (counts/min/max, partial-agg
    before the 1-row exchange) crossJoined with one 2-stage hash-distinct
    aggregate per column. The previous single-aggregate form packed every
    count_distinct into one agg, which Catalyst plans as an Expand(×cols):
    every row replicated once per distinct column into a fat
    multi-group-domain hash aggregate — measured 4.1 s vs 1.0 s for this
    shape at sf0.1 (the same Expand pathology agg_global_summary shed this
    round). On columnar storage the per-column scans read exactly the same
    bytes as one all-column scan (ReadSchema prunes to the one column), the
    branches run as independent stages of ONE job, and no Expand row
    multiplication reaches any exchange (guide §2.3/§2.4).
    """
    cols = df.columns
    aggs = [F.count("*").alias("_n")]
    for c in cols:
        aggs += [
            F.count(F.col(c)).alias(f"{c}__nv"),
            F.min(F.col(c)).alias(f"{c}__mn"),
            F.max(F.col(c)).alias(f"{c}__mx"),
        ]
    row = df.agg(*aggs)
    for c in cols:
        # exact distinct as groupBy-then-count: two clean hash aggregates
        # (map-side partial dedup, tiny exchange), no Expand; count(col)
        # over the group keys drops the null group exactly like
        # count_distinct
        nd = df.select(c).distinct().agg(F.count(F.col(c)).alias(f"{c}__nd"))
        row = row.crossJoin(F.broadcast(nd))
    to_repr = lambda c, x: (reprs or {}).get(c, lambda y: y.cast("string"))(x)  # noqa: E731
    stacked = []
    for c in cols:
        stacked.append(
            F.struct(
                F.lit(c).alias("col_name"),
                F.col("_n").alias("n_rows"),
                (F.col("_n") - F.col(f"{c}__nv")).alias("n_null"),
                F.col(f"{c}__nd").alias("n_distinct"),
                to_repr(c, F.col(f"{c}__mn")).alias("min_repr"),
                to_repr(c, F.col(f"{c}__mx")).alias("max_repr"),
            )
        )
    return (
        row.select(F.explode(F.array(*stacked)).alias("p"))
        .select("p.*")
        .orderBy("col_name")
    )
