"""Structured Streaming operators that the s18-s23 queries run
(workloads/streaming.py), each checked against its batch twin's oracle:

- ``read_event_stream``: file-source ingest over a directory of parquet
  drops (S2 as readStream)
- ``streaming_hopping_agg``: watermarked hopping-window count+sum (s18)
- ``streaming_dedup``: dropDuplicates within the watermark (s19)
- ``stream_to_kv_sink``: foreachBatch KV sink, streaming S8 (s20)
- ``streaming_sessionize``: gap sessionization carried across
  micro-batches with applyInPandasWithState (s21)
- ``streaming_stream_join``: watermarked, time-bounded stream-stream
  join (s23)

The reference is batch-only ("offline training, cached predictions",
README.md:12). Scale: state stores are keyed by (window, key) / dedup
key; watermarks bound state size. Shuffle partitions size the
state-store parallelism — set spark.sql.shuffle.partitions before the
first trigger.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def read_event_stream(
    spark: SparkSession, path: str, schema: StructType, **options
) -> DataFrame:
    """Streaming ingest twin of the batch envelope reader (S2 as
    readStream): file-source stream over a directory of parquet drops.

    ``options`` pass through to the file source — e.g.
    ``maxFilesPerTrigger=1`` to rate-limit a backfill into multiple
    micro-batches (s22's forced cross-batch state-carry replay)."""
    reader = spark.readStream.schema(schema)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.parquet(path)


def streaming_hopping_agg(
    events: DataFrame,
    ts_col: str = "ts",
    window: str = "1 day",
    slide: str = "12 hours",
    watermark: str = "2 days",
    exact_sum: bool = False,
) -> DataFrame:
    """Watermarked hopping (sliding) window count+sum — each event lands
    in window/slide overlapping windows; the incremental form of
    workloads/streaming.s07_hopping_windows. State per key ×
    (window/slide) overlap factor, bounded by the watermark.

    ``exact_sum=True`` swaps the float sum for the repo's fixed-point
    ``dsum`` (order-independent, engine-agreed) — required when the
    result is hash-compared against a batch/oracle twin (s18), since a
    float sum's value depends on state-update order."""
    if exact_sum:
        from pyspark_recs.workloads.common import dsum

        total = dsum("value")
    else:
        total = F.sum("value")
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window, slide).start.alias("win_start"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            total.alias("total_value"),
        )
    )


def streaming_dedup(
    events: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "1 day",
) -> DataFrame:
    """Streaming keep-one dedup: dropDuplicates within the watermark
    horizon (streaming A2; state bounded by watermark)."""
    return events.withWatermark(ts_col, watermark).dropDuplicates(
        [*keys, ts_col]
    )


def streaming_sessionize(
    events: DataFrame,
    gap_us: int = 1800 * 1_000_000,
    ts_col: str = "ts",
    user_col: str = "user_id",
    id_col: str = "event_id",
) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    gap-based sessionization, the incremental twin of
    workloads/streaming.s02_sessionize (30-min inactivity gap).

    Per-user state = (last event time, session count, event count),
    carried across micro-batches in the state store and emitted as a
    running total after every batch (output mode ``update``). Events are
    ordered within each micro-batch; cross-batch order relies on
    in-order arrival (file drops appended in event-time order) — the
    standard caveat for gap sessionization without a reorder buffer.

    Scale: state is one fixed-width row per user, partitioned by the
    groupBy key across spark.sql.shuffle.partitions state stores; Arrow
    batches keep the Python boundary vectorized. Add a timeout
    (GroupStateTimeout.EventTimeTimeout + watermark) to evict idle users
    when the key space is unbounded.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = "user_id long, n_sessions long, n_events long"
    state_schema = "last_ts_us long, n_sessions long, n_events long"

    with_us = events.select(
        F.col(user_col).alias("user_id"),
        F.col(id_col).alias("event_id"),
        F.unix_micros(F.col(ts_col)).alias("ts_us"),
    )

    def update(key, pdfs, state):
        import numpy as np

        last_ts, n_sessions, n_events = (
            state.get if state.exists else (None, 0, 0)
        )
        # A key's batch rows can arrive as SEVERAL Arrow chunks whose
        # order depends on upstream partitioning — sorting per chunk
        # folded chunks in arrival order and broke partition
        # invariance at 10 M rows (caught by the 100x pressure row).
        # Concatenate the whole group FIRST, then one global
        # (ts, event_id) lexsort; the gap fold vectorizes from there.
        parts = [pdf for pdf in pdfs if len(pdf)]
        if parts:
            allpdf = pd.concat(parts) if len(parts) > 1 else parts[0]
            order = np.lexsort(
                (
                    allpdf["event_id"].to_numpy(),
                    allpdf["ts_us"].to_numpy(),
                )
            )
            ts_arr = allpdf["ts_us"].to_numpy()[order]
            n_sessions += int((np.diff(ts_arr) > gap_us).sum())
            if last_ts is None or int(ts_arr[0]) - last_ts > gap_us:
                n_sessions += 1
            n_events += len(ts_arr)
            last_ts = int(ts_arr[-1])
        state.update((last_ts, n_sessions, n_events))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_sessions": [n_sessions],
                "n_events": [n_events],
            }
        )

    return with_us.groupBy("user_id").applyInPandasWithState(
        update,
        out_schema,
        state_schema,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def streaming_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    within: str = "1 hour",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream join with an event-time bound — the
    attribution join (impression ⋈ click within the window
    ``[left_ts, left_ts + within]``). Column names other than ``key``
    must be disjoint between the two streams; the right key column is
    dropped from the output.

    ``how='left_outer'`` additionally emits each unmatched left row
    (right columns NULL) once the watermark passes its join window —
    the "impression with no click" record a training pipeline labels as
    a negative. Outer results are inherently late by ``watermark``:
    they exist only because the engine can prove no future match can
    arrive.

    Scale: Spark keeps both sides in the state store keyed by ``key``;
    the time-bound condition plus the watermarks let it evict state
    older than ``watermark + within`` instead of buffering the streams
    forever — unbounded state is the failure mode of an unconstrained
    stream-stream join, so the time bound is mandatory here (and a hard
    requirement of the outer variant), not an optimization.
    """
    if how not in ("inner", "left_outer"):
        raise ValueError(f"unsupported stream-stream join type: {how}")
    l = left.withWatermark(left_ts, watermark).alias("l")
    r = right.withWatermark(right_ts, watermark).alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col(f"r.{right_ts}") >= F.col(f"l.{left_ts}"))
        & (
            F.col(f"r.{right_ts}")
            <= F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {within}")
        )
    )
    return l.join(r, cond, how).drop(F.col(f"r.{key}"))


def stream_to_kv_sink(
    stream: DataFrame,
    put_batch,
    checkpoint_dir: str,
    trigger_once: bool = True,
):
    """foreachBatch KV sink (streaming S8): each micro-batch is written
    through the same pluggable putter as the batch kv_export."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        # Executor-side writes, mirroring the batch kv_export
        # (io/sinks.py): each partition pushes its own rows through the
        # pluggable putter, so a large micro-batch never funnels through
        # the driver.
        def _put_partition(rows) -> None:
            batch = [r.asDict() for r in rows]
            if batch:
                put_batch(batch)

        batch_df.foreachPartition(_put_partition)

    writer = (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
