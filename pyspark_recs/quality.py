"""dbt-style data tests as first-class engine checks (SURVEY §5.3).

The reference declares its only formal tests in dbt schema.yml —
`unique` + `not_null` on `articles_staging.ARTICLE_ID` and
`customers_staging.CUSTOMER_ID` (src/dbt/models/metaflow/schema.yml:
4-18). Here those contracts are engine operators: every check for a
table is folded into ONE aggregation pass (a single job over the data,
no per-check scans), returning a violations report the caller can
assert on or route to monitoring.

Scale: `schema_report` is one hash-aggregate over the table —
count/countDistinct/null-counts all share the scan. Nothing collects
more than one row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class DataQualityError(AssertionError):
    """Raised by assert_schema when a declared contract is violated."""


def schema_report(
    df: DataFrame,
    unique: list[str] | None = None,
    not_null: list[str] | None = None,
    accepted_values: dict[str, list] | None = None,
) -> dict:
    """Compute all declared checks in one aggregation pass.

    Returns {check_name: violation_count}; 0 everywhere means the table
    honors its contract. Check names follow dbt: ``unique_<col>``,
    ``not_null_<col>``, ``accepted_values_<col>``.

    Note dbt `unique` semantics: NULLs don't count as duplicates, so
    uniqueness compares non-null row count to distinct count.
    """
    aggs = []
    for col in unique or []:
        aggs.append(
            (
                F.count(F.col(col)) - F.countDistinct(F.col(col))
            ).alias(f"unique_{col}")
        )
    for col in not_null or []:
        aggs.append(
            F.count(F.when(F.col(col).isNull(), 1)).alias(f"not_null_{col}")
        )
    for col, values in (accepted_values or {}).items():
        aggs.append(
            F.count(
                F.when(
                    F.col(col).isNotNull() & ~F.col(col).isin(values), 1
                )
            ).alias(f"accepted_values_{col}")
        )
    if not aggs:
        return {}
    row = df.agg(*aggs).first()
    return {k: int(v) for k, v in row.asDict().items()}


def assert_schema(
    df: DataFrame,
    unique: list[str] | None = None,
    not_null: list[str] | None = None,
    accepted_values: dict[str, list] | None = None,
) -> None:
    """Raise DataQualityError listing every violated check (fail-fast
    pipeline gate, the engine form of `dbt test`)."""
    report = schema_report(df, unique, not_null, accepted_values)
    violated = {k: v for k, v in report.items() if v > 0}
    if violated:
        raise DataQualityError(f"data-quality violations: {violated}")
