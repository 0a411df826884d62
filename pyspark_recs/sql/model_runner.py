"""dbt-style SQL model runner: execute a DAG of SQL SELECT models with
``{{ ref('other_model') }}`` dependencies on Spark.

The reference's transformation layer IS a dbt project — 8 Snowflake SQL
models wired by ``ref()`` and materialized as tables per model
(/root/reference/src/dbt/models/metaflow/*.sql, dbt_project.yml:18-22).
``pyspark_recs.sql.staging`` re-expresses those models as composable
DataFrame functions; THIS module is the migration path for users who
bring their SQL text as-is: compile the ref graph, topo-sort it, and
register every model as a TEMP VIEW over ``spark.sql``.

The Spark-first twist vs dbt-on-warehouse: temp views are lazily
INLINED, so Catalyst sees the whole DAG as one fused plan and optimizes
ACROSS model boundaries (predicate pushdown through three models deep,
column pruning of staging columns the final model never reads) — the
warehouse version materializes every intermediate to storage and
re-parses each model in isolation.

Scale: the runner only builds logical plans — execution stays whatever
the fused plan is.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

_REF = re.compile(r"\{\{\s*ref\(\s*['\"]([A-Za-z0-9_]+)['\"]\s*\)\s*\}\}")


def model_refs(sql: str) -> set[str]:
    """The set of model names a SQL text depends on via ``ref()``."""
    return set(_REF.findall(sql))


def topo_order(models: dict[str, str]) -> list[str]:
    """Kahn topological order of the ref graph; deterministic (name
    tiebreak) so runs are reproducible. Raises on unknown refs (a ref
    to neither a model nor a pre-registered source is a typo worth
    failing loudly on is left to run time) and on cycles, naming the
    offenders."""
    deps = {
        name: {r for r in model_refs(sql) if r in models}
        for name, sql in models.items()
    }
    order: list[str] = []
    ready = sorted(n for n, d in deps.items() if not d)
    pending = {n: set(d) for n, d in deps.items() if d}
    while ready:
        n = ready.pop(0)
        order.append(n)
        newly = sorted(
            m for m, d in pending.items() if n in d and len(d) == 1
        )
        for m in list(pending):
            pending[m].discard(n)
        for m in newly:
            del pending[m]
        ready = sorted(set(ready) | set(newly))
    if pending:
        raise ValueError(
            f"cycle among SQL models: {sorted(pending)} "
            f"(remaining deps: { {k: sorted(v) for k, v in pending.items()} })"
        )
    return order


def run_models(
    spark: SparkSession,
    models: dict[str, str],
    sources: dict[str, DataFrame] | None = None,
) -> dict[str, DataFrame]:
    """Compile and register every model; return name → DataFrame.

    ``sources`` are input DataFrames registered as temp views first (the
    RAW layer)."""
    for name, df in (sources or {}).items():
        df.createOrReplaceTempView(name)
    out: dict[str, DataFrame] = {}
    for name in topo_order(models):
        compiled = _REF.sub(lambda m: m.group(1), models[name])
        df = spark.sql(compiled)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
