"""Serving-side sinks (SURVEY §2.1 S8-S9).

The reference batch-writes top-k predictions to DynamoDB
(my_merlin_flow.py:620-630) and serves point lookups via Lambda
(serverless/handler.py:38-73). The engine's job is the keyed table; the
KV write is a ``foreachPartition`` with a pluggable putter (DynamoDB
batch_writer in production, a local dict/parquet stand-in in tests).
"""

from __future__ import annotations

import json

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
    keys, so a miss costs the same jobs as a hit; the schema is the one
    ``predictions_table`` writes, so no inference job runs first."""
    found = dict(
        spark.read.schema("userId string, recs string")
        .parquet(path)
        .filter(F.col("userId").isin(user_id, "no_user"))
        .select("userId", "recs")
        .collect()
    )
    recs = found.get(user_id, found.get("no_user"))
    return json.loads(recs) if recs is not None else []

