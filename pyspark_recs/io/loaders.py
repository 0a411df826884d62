"""Parquet loaders for the driver testdata tables.

Handles the physical-format warts in the testdata's timestamp columns,
which have varied across driver rounds:

* ``TIMESTAMP(NANOS, isAdjustedToUTC=false)`` — a type Spark's vectorized
  reader refuses. We read nanos as LongType
  (``spark.sql.legacy.parquet.nanosAsLong``) and floor-divide to micros —
  bit-identical to DuckDB's nanos→micros truncation, verified by the
  oracle harness.
* ``TIMESTAMP(MICROS, isAdjustedToUTC=false)`` — Spark ≥3.4 infers this as
  TIMESTAMP_NTZ, which breaks ``unix_micros`` and timestamp arithmetic.
  We disable ``spark.sql.parquet.inferTimestampNTZ.enabled`` in the
  session confs so it maps to plain TimestampType (the session TZ is
  pinned to UTC, so wall-clock values are identical), and additionally
  cast any residual NTZ column after read in case the conf could not be
  applied to a harness-owned session.

At 100 TB these loaders are still the right shape: schema discovery via
parquet footers is O(files) metadata work, and both conversions are single
projected expressions inside whole-stage codegen (no shuffle, no Python).
"""

from __future__ import annotations

import os
from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampNTZType

from pyspark_recs.session import apply_runtime_confs

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@lru_cache(maxsize=256)
def _nanos_timestamp_cols(path: str) -> tuple[str, ...]:
    """Column names stored as parquet timestamp[ns] (footer metadata only)."""
    import pyarrow.parquet as pq

    try:
        schema = pq.read_schema(path)
    except Exception:
        return ()
    return tuple(
        f.name for f in schema if str(f.type).startswith("timestamp[ns")
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table with timestamps normalized to TimestampType."""
    apply_runtime_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    for col in _nanos_timestamp_cols(path):
        # Integer floor-div nanos -> micros, matching DuckDB/Arrow
        # truncation. (`/` would go through double and lose precision on
        # epoch-nanos magnitudes > 2^53.)
        df = df.withColumn(
            col, F.timestamp_micros(F.expr(f"`{col}` div 1000"))
        )
    # Normalize any TIMESTAMP_NTZ survivors (conf not applied, or a future
    # Spark default change). Session TZ is UTC so the cast is value-identical.
    for field in df.schema.fields:
        if isinstance(field.dataType, TimestampNTZType):
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df


def spread_partitions(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Round-robin repartition IFF the plan currently yields fewer
    partitions than cores — the guard for compute-heavy projections
    over small single-row-group files, where one scan task would
    serialize per-row work (minhash, simhash, gram hashing) that the
    cluster could do in parallel.

    At real scale this is a no-op branch: a 100 TB corpus scans as
    ~million splits ≫ cores, and the guard refuses to inject a shuffle
    of document bodies. It only fires where the shuffle is cheaper than
    the serialization it removes (small corpus, heavy per-row CPU).
    """
    sc = df.sparkSession.sparkContext
    target = min_parts or sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
