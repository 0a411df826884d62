"""Serving-side sinks (SURVEY §2.1 S8-S10).

The reference batch-writes top-k predictions to DynamoDB
(my_merlin_flow.py:620-630) and serves point lookups via Lambda
(serverless/handler.py:38-73). The engine's job is the keyed table; the
KV write is a ``foreachPartition`` with a pluggable putter (DynamoDB
batch_writer in production, a local dict/parquet stand-in in tests).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def predictions_table(recs: DataFrame, k: int = 10) -> DataFrame:
    """(user_id, item_id, rank) → one row per user with the top-k item
    list, JSON-encoded — the DynamoDB item shape
    ``{userId, recs: json.dumps([...])}`` (my_merlin_flow.py:624-630)."""
    return (
        recs.filter(F.col("rank") <= k)
        .groupBy("user_id")
        .agg(
            F.to_json(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("rank", "item_id"))
                    ),
                    lambda s: s["item_id"].cast("string"),
                )
            ).alias("recs")
        )
        .select(F.col("user_id").cast("string").alias("userId"), "recs")
    )


def kv_export(
    predictions: DataFrame,
    put_batch,
    sentinel_user: str = "no_user",
    sentinel_recs: list | None = None,
) -> None:
    """Batch-write the keyed predictions via ``put_batch(items)`` per
    partition (S8). Adds the reference's ``no_user`` sentinel row
    (my_merlin_flow.py:625-626) so serving can default unknown users.

    ``put_batch`` runs on executors — it must be picklable and own its
    client (e.g. construct the DynamoDB resource inside)."""
    sent = predictions.sparkSession.createDataFrame(
        [(sentinel_user, json.dumps(sentinel_recs or []))],
        predictions.schema,
    )
    full = predictions.unionByName(sent)

    def _write(rows) -> None:
        batch = [{"userId": r["userId"], "recs": r["recs"]} for r in rows]
        if batch:
            put_batch(batch)

    full.foreachPartition(_write)


def kv_export_parquet(predictions: DataFrame, path: str) -> None:
    """Local keyed-table stand-in for the KV store (tests / offline
    serving): parquet keyed by userId."""
    predictions.write.mode("overwrite").parquet(path)


def point_lookup(spark: SparkSession, path: str, user_id: str) -> list:
    """Serving GET semantics (S9, serverless/handler.py:38-73): missing
    user → the ``no_user`` sentinel's recs, or an empty list when the
    table holds no sentinel. One predicate-pushdown scan reads both
    keys, so a miss costs the same jobs as a hit."""
    found = dict(
        spark.read.parquet(path)
        .filter(F.col("userId").isin(user_id, "no_user"))
        .select("userId", "recs")
        .collect()
    )
    recs = found.get(user_id, found.get("no_user"))
    return json.loads(recs) if recs is not None else []


def write_date_partitioned(
    df: DataFrame,
    path: str,
    date_col: str,
    partition_col: str = "p_date",
    mode: str = "overwrite",
) -> None:
    """Date-partition a fact table at rest (SURVEY §7.8): one
    ``p_date=yyyy-MM-dd`` directory per day, so the time-range
    predicates of the train/valid/test splits (P7) become partition
    PRUNING — excluded dates are never opened, turning a full scan into
    O(days-selected). At 100 TB this is the difference between reading
    2 years and reading 2 weeks for the test split."""
    (
        df.withColumn(partition_col, F.to_date(F.col(date_col)))
        .write.partitionBy(partition_col)
        .mode(mode)
        .parquet(path)
    )


def write_bucketed(
    df: DataFrame,
    table_name: str,
    path: str,
    bucket_col: str,
    n_buckets: int = 8,
    mode: str = "overwrite",
) -> None:
    """Bucket a fact table on its join key (hash-partitioned files +
    per-bucket sort). Two tables bucketed the same way co-locate their
    join: Spark plans a sort-merge join with ZERO Exchange on either
    side — the shuffle was paid once at write time and amortized over
    every subsequent join. This is the 100 TB answer for the recurring
    fact⋈fact joins (lineitem⋈orders on orderkey; SURVEY §2.3 J3)."""
    (
        df.write.bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .option("path", path)
        .mode(mode)
        .saveAsTable(table_name)
    )


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    out_path: str | None = None,
) -> int:
    """Small-file compaction: rewrite a parquet dataset into files of
    roughly ``target_file_bytes`` each. Streaming sinks and incremental
    batch appends accumulate tiny files; at 100 TB a scan's task count
    (and the NameNode/list cost) is driven by file count, so periodic
    compaction is part of the table's lifecycle, not an afterthought.

    File count is sized from the dataset's actual on-disk bytes; the
    rewrite is one round-robin repartition (no key skew). Returns the
    number of files written. Writes to ``out_path`` if given (swap-in
    pattern), else rewrites in place via an overwrite (the in-place
    form is NOT atomic on plain parquet — use the out_path + rename
    pattern, or a table format, when readers are live).
    """
    import glob as _glob

    current = _glob.glob(os.path.join(path, "*.parquet")) + _glob.glob(
        os.path.join(path, "**", "*.parquet"), recursive=True
    )
    total_bytes = sum(os.path.getsize(f) for f in set(current))
    n_files = max(1, round(total_bytes / target_file_bytes))
    df = spark.read.parquet(path)
    if out_path:
        df.repartition(n_files).write.mode("overwrite").parquet(out_path)
    else:
        # Plain parquet cannot overwrite its own input in one job, and
        # caching the input is not safe (an evicted partition would
        # recompute from the already-overwritten path). Write to a
        # sibling temp dir and swap.
        import shutil

        tmp = path.rstrip("/") + ".compact-tmp"
        df.repartition(n_files).write.mode("overwrite").parquet(tmp)
        shutil.rmtree(path)
        os.rename(tmp, path)
    return n_files


def propagate_deletes(
    df: DataFrame,
    doomed_keys: DataFrame,
    on,
    path: str | None = None,
) -> DataFrame:
    """Right-to-erasure rewrite step: drop every row matching the
    (request-volume-sized, broadcast) doomed-key set via LEFT ANTI join
    and optionally rewrite the table. The audit-plan twin is
    workloads r73 (per-table pre-flight counts); compose per FK edge
    to cascade (customers → orders → lineitems). On a partitioned
    table, pair with dynamic partition overwrite so only partitions
    holding matches rewrite — the 100 TB erasure discipline.
    """
    kept = df.join(F.broadcast(doomed_keys), on=on, how="left_anti")
    if path is not None:
        kept.write.mode("overwrite").parquet(path)
    return kept


def write_columnar(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    **options,
) -> None:
    """Format-agnostic columnar sink (S6 generalized): parquet by
    default, ORC for ecosystems standardized on Hive/ORC. Both formats
    keep the two scan properties every query here relies on — column
    pruning (ReadSchema) and min/max + filter PUSHDOWN into the reader
    (PushedFilters) — so swapping the at-rest format never changes a
    plan's shape, only its codec (asserted in tests/test_layout.py).
    """
    df.write.format(fmt).mode(mode).options(**options).save(path)


def read_columnar(
    spark: SparkSession, path: str, fmt: str = "parquet"
) -> DataFrame:
    """Source twin of :func:`write_columnar`."""
    return spark.read.format(fmt).load(path)


def predictions_json_log(predictions: DataFrame, path: str) -> None:
    """Experiment-tracking asset (S10, my_merlin_flow.py:376-411): the
    predictions log as JSON lines."""
    predictions.write.mode("overwrite").json(os.path.join(path, "predictions"))
