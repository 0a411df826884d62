"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the 100 TB design point (AQE on, skew-join handling,
partition coalescing) while remaining correct on local[N] test runs.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime SQL confs we want on every session, including sessions handed to
# us by an external harness (see ``apply_runtime_confs``). All of these are
# settable after session creation.
RUNTIME_CONFS: dict[str, str] = {
    # Adaptive execution: runtime re-planning, partition coalescing and
    # skew-join splitting — essential at 100 TB where static plans misjudge.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Keep Spark's default: cached-plan output partitioning stays
    # PINNED (false). Round 7 set this true to let AQE coalesce
    # shared_plan builders in vanilla 200-partition sessions, but the
    # round-8 A/B (commit 034f925, 3 runs each, fresh sessions, bench
    # protocol) measured `true` as a pure regression in
    # the bench session: l43 1.23->1.93s warm (+57%), rs11 2.55->3.44s
    # (+35%), and the full 133-query bench 125.5s (true) -> 121.7s
    # (false) with the l02/l04/l10 driver-bench anomalies reverting
    # (l10 3.41->0.50s, l04 cold 15.0->2.4s). Re-planning cached
    # output costs an extra AQE shuffle on every consumer of a shared
    # frame — worse than the 200-tiny-task reads it was meant to fix.
    # The vanilla-session cost this conf targeted is covered instead by
    # the artifact_plan checkpoints (heavy fits load from parquet) and
    # by each trainer pinning its own input layout.
    # The driver-generated testdata has stored `events.ts` as parquet
    # TIMESTAMP(NANOS) in some rounds and TIMESTAMP(MICROS,
    # isAdjustedToUTC=false) in others. Handle both: read nanos as LongType
    # and convert explicitly (see pyspark_recs.io.loaders), and disable
    # TIMESTAMP_NTZ inference so non-UTC-adjusted micros map to plain
    # TimestampType (session TZ is pinned to UTC, so values are identical).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Arrow for pandas interchange — the only sanctioned Python boundary.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Python DataSource connectors (io.pysource) declare pushFilters;
    # the capability is opt-in.
    "spark.sql.python.filterPushdown.enabled": "true",
}


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an existing session (idempotent)."""
    for key, value in RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            # A conf may be static in some deployments; never fail a query
            # over a tuning knob.
            pass
    return spark


def get_spark(
    app_name: str = "pyspark-recs",
    shuffle_partitions: int | None = None,
    master: str | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``shuffle_partitions`` defaults to $SPARK_GRAFT_CPUS (32 in the test
    rig). On a real cluster you would size this to ~2-3x total cores and
    let AQE coalesce; the conf here is the local-mode stand-in.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or cpus),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    spark = builder.getOrCreate()
    return apply_runtime_confs(spark)
