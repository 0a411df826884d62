"""Structured Streaming twins of the batch operators (SURVEY §2.9).

The reference is explicitly batch-only ("offline training, cached
predictions", README.md:12); these are the north-star streaming
additions, 1:1 with the batch workloads in workloads/streaming.py so
batch results serve as the streaming oracle in tests:

- ingest twin of S2 (readStream over the raw envelope layout)
- tumbling-window aggregation with watermarked late-data handling
- streaming dedup (dropDuplicates within watermark) — streaming A2
- foreachBatch KV sink — streaming S8

Scale: state stores are keyed by (window, key) / dedup key; watermarks
bound state size. Shuffle partitions size the state-store parallelism —
set spark.sql.shuffle.partitions before the first trigger.
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


def streaming_tumbling_agg(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "1 day",
    watermark: str = "2 days",
) -> DataFrame:
    """Watermarked tumbling-window count+sum — the incremental form of
    workloads/streaming.s01_tumbling_daily."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).start.alias("day"), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
    )


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


def streaming_static_anti_join(
    stream: DataFrame, static_keys: DataFrame, on: list[str] | str
) -> DataFrame:
    """Stream-static LEFT ANTI join: pass through only stream rows whose
    key is absent from a static reference table — the incremental form
    of the corpus novelty gate (workloads s08 / llmops l35): events from
    never-before-seen keys, dedup-against-history, blocklist filtering.

    Scale: the static side is re-read per micro-batch and broadcast when
    small; for a 100 TB "seen" index, persist it bucketed on the key so
    the per-batch join is a co-located lookup instead of a shuffle."""
    return stream.join(static_keys, on, "left_anti")


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


def streaming_session_agg(
    events: DataFrame,
    gap: str = "30 minutes",
    ts_col: str = "ts",
    key_col: str = "user_id",
    watermark: str = "1 day",
) -> DataFrame:
    """Native session-window aggregation (incremental twin of
    workloads/streaming.s05_session_windows): watermarked merging
    session state per key, built into the state store — prefer this
    over the custom applyInPandasWithState sessionizer when the needed
    output is per-session aggregates (it handles out-of-order events
    within the watermark, which the custom operator does not)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.col(key_col), F.session_window(ts_col, gap))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            key_col,
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "total_value",
        )
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


def streaming_ewma(
    events: DataFrame,
    alpha: float = 0.5,
    ts_col: str = "ts",
    user_col: str = "user_id",
    id_col: str = "event_id",
    value_col: str = "value",
) -> DataFrame:
    """Incremental recursive EWMA per user via ``applyInPandasWithState``
    — the streaming twin of workloads/streaming.s10_recursive_ewma.
    State is ONE double per user (the running smoothed value) plus the
    event count: r ← α·x + (1-α)·r, folded over each micro-batch's rows
    in (ts, event_id) order. Because the recursion only ever needs the
    previous state, the operator is O(1) memory per key no matter how
    long the history — the canonical example of a fold that streaming
    state makes cheap while the batch form must collect-and-sort.

    Cross-batch order relies on in-order arrival per key (same caveat
    as streaming_sessionize). With α = 0.5 every update is binary-exact
    double arithmetic, so the running value equals the batch fold bit
    for bit.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = "user_id long, n_events long, ewma double"
    state_schema = "ewma double, n_events long"

    rows = events.select(
        F.col(user_col).alias("user_id"),
        F.col(id_col).alias("event_id"),
        F.unix_micros(F.col(ts_col)).alias("ts_us"),
        F.col(value_col).alias("value"),
    )

    def update(key, pdfs, state):
        ewma, n = state.get if state.exists else (None, 0)
        # Concat the whole group before the single global sort: a
        # per-chunk sort folds chunks in arrival order, which depends
        # on upstream partitioning (the s21 100x lesson).
        parts = [pdf for pdf in pdfs if len(pdf)]
        if parts:
            allpdf = pd.concat(parts) if len(parts) > 1 else parts[0]
            ordered = allpdf.sort_values(["ts_us", "event_id"])["value"]
            for x in ordered:
                x = float(x)
                ewma = x if ewma is None else alpha * x + (1.0 - alpha) * ewma
                n += 1
        state.update((ewma, n))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "ewma": [ewma]}
        )

    return rows.groupBy("user_id").applyInPandasWithState(
        update,
        out_schema,
        state_schema,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def streaming_holt(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    id_col: str = "event_id",
    value_col: str = "value",
) -> DataFrame:
    """Incremental Holt linear-trend smoothing per user — the streaming
    twin of workloads/streaming.s17_holt_forecast, and the 2-state
    upgrade of :func:`streaming_ewma`: state is (level, trend, count);
    each value applies ``level' = ½x + ½(level + trend)`` then
    ``trend' = ½(level' − level) + ½trend`` in (ts, event_id) order.
    O(1) memory per key for unbounded histories; with α = β = ½ every
    update is the identical IEEE double sequence the batch fold runs,
    so the running (level, trend, forecast) equals the batch result
    bit for bit (real-table parity test). Same in-order-arrival caveat
    as streaming_ewma.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = (
        "user_id long, n_events long, level double, trend double,"
        " forecast1 double"
    )
    state_schema = "level double, trend double, n_events long"

    rows = events.select(
        F.col(user_col).alias("user_id"),
        F.col(id_col).alias("event_id"),
        F.unix_micros(F.col(ts_col)).alias("ts_us"),
        F.col(value_col).alias("value"),
    )

    def update(key, pdfs, state):
        level, trend, n = state.get if state.exists else (None, 0.0, 0)
        # Concat-before-sort (the s21 100x lesson): per-chunk sorting
        # folds chunks in partitioning-dependent arrival order.
        parts = [pdf for pdf in pdfs if len(pdf)]
        if parts:
            allpdf = pd.concat(parts) if len(parts) > 1 else parts[0]
            ordered = allpdf.sort_values(["ts_us", "event_id"])["value"]
            for x in ordered:
                x = float(x)
                if level is None:
                    level, trend = x, 0.0
                else:
                    new_l = 0.5 * x + 0.5 * (level + trend)
                    trend = 0.5 * (new_l - level) + 0.5 * trend
                    level = new_l
                n += 1
        state.update((level, trend, n))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "level": [level],
                "trend": [trend],
                "forecast1": [level + trend],
            }
        )

    return rows.groupBy("user_id").applyInPandasWithState(
        update,
        out_schema,
        state_schema,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def streaming_attribution(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    id_col: str = "event_id",
    type_col: str = "event_type",
) -> DataFrame:
    """Incremental U-shaped multi-touch attribution — the streaming twin
    of workloads/streaming.s14_utouch_attribution. Per-user state is the
    OPEN journey (touches since the last purchase, as parallel arrays);
    a purchase closes the journey, emits one exactly-allocated credit
    row per touch (same integer-ppm 40/40/20 split, remainder to the
    last interior touch — bit-identical to the batch windows), and
    resets the buffer. Touches after a user's final purchase stay
    buffered, matching the batch inner join that drops unconverted
    tails. Output mode ``append``: credits are final the moment the
    conversion arrives.

    Scale: state per user is one open journey (bounded by touch volume
    between purchases — cap the arrays in production), partitioned by
    user across the state stores; cross-batch correctness relies on
    in-order arrival per user, the s02 caveat.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = (
        "user_id long, conv_event_id long, touch_event_id long, "
        "touch_type string, pos long, n_touches long, credit_ppm long"
    )
    state_schema = "ids array<long>, types array<string>"

    rows = events.select(
        F.col(user_col).alias("user_id"),
        F.col(id_col).alias("event_id"),
        F.col(type_col).alias("event_type"),
        F.unix_micros(F.col(ts_col)).alias("ts_us"),
    ).filter(F.col("event_type").isin("click", "view", "purchase"))

    def credits(n: int, pos: int) -> int:
        if n == 1:
            return 1_000_000
        if n == 2:
            return 500_000
        if pos == 1 or pos == n:
            return 400_000
        each = 200_000 // (n - 2)
        if pos == n - 1:
            return 200_000 - (n - 3) * each
        return each

    def update(key, pdfs, state):
        ids, types = state.get if state.exists else ([], [])
        ids, types = list(ids), list(types)
        out = {c: [] for c in (
            "user_id", "conv_event_id", "touch_event_id",
            "touch_type", "pos", "n_touches", "credit_ppm",
        )}
        # Concat-before-sort (the s21 100x lesson): per-chunk sorting
        # folds chunks in partitioning-dependent arrival order.
        parts = [pdf for pdf in pdfs if len(pdf)]
        if parts:
            big = pd.concat(parts) if len(parts) > 1 else parts[0]
            ordered = big.sort_values(["ts_us", "event_id"])
            for eid, etype in zip(ordered["event_id"], ordered["event_type"]):
                if etype == "purchase":
                    n = len(ids)
                    for pos, (tid, ttype) in enumerate(
                        zip(ids, types), start=1
                    ):
                        out["user_id"].append(key[0])
                        out["conv_event_id"].append(int(eid))
                        out["touch_event_id"].append(int(tid))
                        out["touch_type"].append(ttype)
                        out["pos"].append(pos)
                        out["n_touches"].append(n)
                        out["credit_ppm"].append(credits(n, pos))
                    ids, types = [], []
                else:
                    ids.append(int(eid))
                    types.append(etype)
        state.update((ids, types))
        yield pd.DataFrame(out)

    return rows.groupBy("user_id").applyInPandasWithState(
        update,
        out_schema,
        state_schema,
        "append",
        GroupStateTimeout.NoTimeout,
    )


def streaming_heavy_hitters(
    tokens: DataFrame,
    token_col: str = "token",
    k: int = 8,
    n_buckets: int = 16,
) -> DataFrame:
    """Streaming Misra-Gries heavy hitters — the incremental twin of
    textstats.heavy_hitters (l37's two-phase batch form). Tokens hash
    into ``n_buckets`` state groups; each group's state is an MG
    summary of ≤ k (token, lower-bound count) pairs, folded over every
    micro-batch. Memory is O(n_buckets·k) TOTAL no matter how many
    distinct tokens stream past — the whole point versus exact
    per-token counting state, whose key space is unbounded.

    Guarantee (per bucket, N = tokens seen by that bucket): any token
    with true frequency > N/(k+1) is guaranteed present in the
    summary, and every reported count is a lower bound within N/(k+1)
    of truth — the standard MG bound, asserted by the parity test.
    Output (update mode): one row per surviving (bucket, token) with
    its lower-bound count after each batch.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = "bucket integer, token string, lb_count long"
    state_schema = "toks array<string>, cnts array<long>"

    keyed = tokens.select(
        F.col(token_col).alias("token"),
        F.pmod(F.xxhash64(F.col(token_col)), F.lit(n_buckets))
        .cast("int")
        .alias("bucket"),
    )

    def update(key, pdfs, state):
        if state.exists:
            toks, cnts = state.get
            summary = dict(zip(toks, cnts))
        else:
            summary = {}
        for pdf in pdfs:
            for tok in pdf["token"]:
                tok = str(tok)
                if tok in summary:
                    summary[tok] += 1
                elif len(summary) < k:
                    summary[tok] = 1
                else:
                    summary = {
                        t: c - 1 for t, c in summary.items() if c > 1
                    }
        items = sorted(summary.items())
        state.update(([t for t, _ in items], [c for _, c in items]))
        yield pd.DataFrame(
            {
                "bucket": [key[0]] * len(items),
                "token": [t for t, _ in items],
                "lb_count": [c for _, c in items],
            }
        )

    return keyed.groupBy("bucket").applyInPandasWithState(
        update,
        out_schema,
        state_schema,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def streaming_enrich(
    stream: DataFrame,
    dim: DataFrame,
    key: str,
    defaults: dict | None = None,
) -> DataFrame:
    """Stream-static enrichment join (streaming J2/J6): each micro-batch
    left-joins the static dimension, unmatched keys get defaults — the
    incremental form of sql.transforms.left_enrich.

    Scale: Spark re-plans the static side per micro-batch, so a
    broadcast-sized dim costs one broadcast per trigger; for big dims
    pre-bucket the static table on the key so the per-batch join
    co-locates without a full shuffle of the dim.
    """
    out = stream.join(F.broadcast(dim), key, "left")
    for col, default in (defaults or {}).items():
        out = out.withColumn(col, F.coalesce(F.col(col), F.lit(default)))
    return out


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


def streaming_quarantine(
    stream: DataFrame,
    good_path: str,
    dead_path: str,
    checkpoint_dir: str,
    payload_col: str = "props",
    trigger_once: bool = True,
):
    """Streaming malformed-JSON quarantine (the incremental twin of the
    batch r42/s06 routing): each micro-batch splits on JSON validity —
    parseable rows append to the good table, unparseable raw rows to a
    dead-letter table — so one bad producer never fails the stream.

    ``get_json_object(payload, '$')`` is NULL iff the payload is not
    valid JSON, the same verdict the batch form and the DuckDB oracle
    (``json_valid``) compute.

    Scale: the verdict is a scan-time expression; the micro-batch is
    persisted once so the two filtered writes don't recompute the
    source, then unpersisted. Both sinks are append-mode parquet —
    partition the dead-letter table by ingest date in production so
    replays prune."""
    valid = F.get_json_object(F.col(payload_col), "$").isNotNull()

    from pyspark_recs.workloads.common import held

    def _route(batch_df: DataFrame, batch_id: int) -> None:
        with held(batch_df.withColumn("_valid", valid)) as (flagged,):
            flagged.filter(F.col("_valid")).drop("_valid").write.mode(
                "append"
            ).parquet(good_path)
            flagged.filter(~F.col("_valid")).drop("_valid").write.mode(
                "append"
            ).parquet(dead_path)

    writer = (
        stream.writeStream.foreachBatch(_route)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


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


def streaming_user_profile(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Running per-user profile via ``applyInPandasWithState``: the
    state per user is (event count, fixed-point value cents, sorted
    distinct event types seen), the running-profile shape a feature
    store maintains incrementally instead of rescanning history. Emits
    the updated profile for every user touched by the micro-batch
    (output mode ``update``).

    Scale: state is O(1) per user (the type set is bounded by the
    event-type vocabulary); keys partition across the state stores of
    ``spark.sql.shuffle.partitions`` tasks; value math is integer cents
    so the running total is order-independent and matches the batch
    twin bit-exactly. A ``GroupStateTimeout`` would evict idle users
    when the key space is unbounded.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    prepared = events.select(
        F.col(user_col).alias("user_id"),
        F.col(type_col).alias("event_type"),
        F.floor(F.col(value_col) * 100 + F.lit(0.5))
        .cast("long")
        .alias("value_cents"),
    )

    def update(key, pdfs, state):
        if state.exists:
            n_events, cents, types = state.get
            seen = set(types)
        else:
            n_events, cents, seen = 0, 0, set()
        for pdf in pdfs:
            n_events += int(len(pdf))
            cents += int(pdf["value_cents"].sum())
            seen.update(str(t) for t in pdf["event_type"].unique())
        state.update((n_events, cents, sorted(seen)))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n_events],
                "total_value": [cents / 100.0],
                "n_event_types": [len(seen)],
            }
        )

    return prepared.groupBy("user_id").applyInPandasWithState(
        update,
        "user_id long, n_events long, total_value double, n_event_types long",
        "n_events long, value_cents long, types array<string>",
        "update",
        GroupStateTimeout.NoTimeout,
    )


def streaming_funnel(
    events: DataFrame,
    stages: tuple[str, str, str] = ("view", "click", "purchase"),
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """Incremental ordered-funnel tracking, the streaming twin of
    features/sequences.py:funnel_stages: per-user state is the first
    qualifying timestamp of each stage (stage k only sets after stage
    k-1, strictly later), carried across micro-batches; emits each
    user's deepest stage reached after every batch (mode ``update``).

    The batch form recomputes three shrinking join-aggregates over all
    history; this form touches only the delta — at 100 TB of events the
    history rescan is the cost you cannot pay per refresh, and the
    state here is three longs per user.

    Scale: one groupBy(user) stateful shuffle; state O(1) per user;
    within-batch ordering applied per Arrow batch, cross-batch order by
    arrival (the same caveat as the sessionizer — add a watermark
    reorder buffer for out-of-order production streams).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    s1, s2, s3 = stages
    prepared = events.select(
        F.col(user_col).alias("user_id"),
        F.col("event_type"),
        F.unix_micros(F.col(ts_col)).alias("ts_us"),
    )
    out_schema = "user_id long, stage_idx int"
    state_schema = "t1 long, t2 long, t3 long"

    def update(key, pdfs, state):
        t1, t2, t3 = state.get if state.exists else (None, None, None)
        # Concat-before-sort (the s21 100x lesson): per-chunk sorting
        # folds chunks in partitioning-dependent arrival order.
        parts = [pdf for pdf in pdfs if len(pdf)]
        if parts:
            big = pd.concat(parts) if len(parts) > 1 else parts[0]
            for _, row in big.sort_values("ts_us").iterrows():
                ts, et = int(row["ts_us"]), row["event_type"]
                if et == s1 and t1 is None:
                    t1 = ts
                elif et == s2 and t2 is None and t1 is not None and ts > t1:
                    t2 = ts
                elif et == s3 and t3 is None and t2 is not None and ts > t2:
                    t3 = ts
        state.update((t1, t2, t3))
        stage_idx = (t1 is not None) + (t2 is not None) + (t3 is not None)
        yield pd.DataFrame(
            {"user_id": [key[0]], "stage_idx": [stage_idx]}
        )

    return prepared.groupBy("user_id").applyInPandasWithState(
        update,
        out_schema,
        state_schema,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def streaming_histogram_quantiles(
    events: DataFrame,
    n_bins: int = 64,
    bin_width: float = 8.0,
    type_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Incremental quantile sketch per event type — the streaming twin
    of workloads/streaming.s15_histogram_quantiles. State is ONE fixed
    vector of ``n_bins`` bin counts per key (t-digest/DDSketch's
    fixed-bucket cousin): each micro-batch bumps counts, and the
    emitted p50/p90/p99 are the lower edge of the bin whose cumulative
    count first reaches ceil(q·n/100) — the identical integer rule as
    the batch form, so after the final batch the two agree exactly.

    Memory is O(n_bins) per key regardless of stream length, and two
    sketches merge by vector addition (shard by salted key, then sum —
    the property that makes this the 100 TB quantile path where exact
    per-key sorts are not).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = (
        f"{type_col} string, n_events long, "
        "p50_est double, p90_est double, p99_est double"
    )
    state_schema = "counts array<long>, n long"

    rows = events.select(
        F.col(type_col).alias("k"), F.col(value_col).alias("value")
    )

    def update(key, pdfs, state):
        import math

        if state.exists:
            counts, n = list(state.get[0]), int(state.get[1])
        else:
            counts, n = [0] * n_bins, 0
        for pdf in pdfs:
            for v in pdf["value"]:
                # Two-sided clamp: without max(0, ...) a negative value
                # would be a negative list index that silently wraps to
                # a top bin; batch twin s15 applies the same clamp.
                b = min(
                    n_bins - 1,
                    max(0, int(math.floor(float(v) / bin_width))),
                )
                counts[b] += 1
                n += 1
        state.update((counts, n))

        def est(q: int) -> float:
            rank = (q * n + 99) // 100
            cum = 0
            for b, c in enumerate(counts):
                cum += c
                if cum >= rank:
                    return b * bin_width
            return (n_bins - 1) * bin_width

        yield pd.DataFrame(
            {
                type_col: [key[0]],
                "n_events": [n],
                "p50_est": [est(50)],
                "p90_est": [est(90)],
                "p99_est": [est(99)],
            }
        )

    return rows.groupBy("k").applyInPandasWithState(
        update,
        out_schema,
        state_schema,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def streaming_ordered_ewma(
    events: DataFrame,
    alpha: float = 0.5,
    lateness_us: int = 3_600_000_000,
    ts_col: str = "ts",
    user_col: str = "user_id",
    id_col: str = "event_id",
    value_col: str = "value",
) -> DataFrame:
    """OUT-OF-ORDER-SAFE recursive EWMA — the ordered-fold upgrade of
    ``streaming_ewma`` (which, like any naive stateful fold, assumes
    per-key in-order arrival). Per-key state is the finalized running
    value plus a reorder buffer: each batch's rows join the buffer, a
    per-key frontier advances to (max event time seen − allowed
    lateness), and only rows at or before the frontier are folded — in
    exact (ts, event_id) order — into the finalized state. Rows inside
    the lateness horizon stay buffered until later data (or a heartbeat
    row) advances the frontier, so shuffled arrival yields the same
    fold as sorted arrival, bit for bit (α = ½ keeps every step
    binary-exact).

    This is the mechanism Structured Streaming's built-in windowed
    operators get from the GLOBAL watermark, applied to a fold no
    window expresses; the per-KEY frontier used here is the
    conservative per-partition form (a key's frontier never outruns
    its own data). State is O(events inside the lateness horizon) per
    key — bounded by rate × lateness, not history length.

    Emits (user_id, n_finalized, n_buffered, ewma) per key per batch
    (update mode); ``ewma`` covers finalized rows only.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = "user_id long, n_finalized long, n_buffered long, ewma double"
    state_schema = (
        "ewma double, n long, max_ts long, "
        "buf_ts array<long>, buf_id array<long>, buf_val array<double>"
    )

    rows = events.select(
        F.col(user_col).alias("user_id"),
        F.col(id_col).alias("event_id"),
        F.unix_micros(F.col(ts_col)).alias("ts_us"),
        F.col(value_col).alias("value"),
    )

    def update(key, pdfs, state):
        if state.exists:
            ewma, n, max_ts, bts, bid, bval = state.get
            buf = list(zip(bts, bid, bval))
            ewma = None if n == 0 else ewma
        else:
            ewma, n, max_ts, buf = None, 0, -(1 << 62), []
        for pdf in pdfs:
            for t, i, v in zip(pdf["ts_us"], pdf["event_id"], pdf["value"]):
                t = int(t)
                buf.append((t, int(i), float(v)))
                if t > max_ts:
                    max_ts = t
        frontier = max_ts - lateness_us
        buf.sort()
        keep = []
        for t, i, v in buf:
            if t <= frontier:
                ewma = v if ewma is None else alpha * v + (1.0 - alpha) * ewma
                n += 1
            else:
                keep.append((t, i, v))
        state.update(
            (
                0.0 if ewma is None else ewma,
                n,
                max_ts,
                [t for t, _, _ in keep],
                [i for _, i, _ in keep],
                [v for _, _, v in keep],
            )
        )
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_finalized": [n],
                "n_buffered": [len(keep)],
                "ewma": [ewma],
            }
        )

    return rows.groupBy("user_id").applyInPandasWithState(
        update,
        out_schema,
        state_schema,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def streaming_pit_enrich(
    history: DataFrame,
    key: str,
    event_ts: str,
    history_ts: str,
    value_cols: "list[str]",
    sink,
):
    """Streaming POINT-IN-TIME enrichment: each arriving micro-batch
    picks up the feature/dimension version that was valid AT its event
    time (greatest ``history_ts`` <= event ts) — the online half of
    rs25's point-in-time training matrix, and the guard against
    serving features from the FUTURE that a plain stream-static
    equality join (streaming_enrich) cannot give once the dimension is
    versioned (SCD2 history, feature snapshots).

    The as-of join is a window over the union-sorted stream, which
    Structured Streaming cannot run incrementally — so this is a
    ``foreachBatch`` operator: returns a callable for
    ``writeStream.foreachBatch`` that runs the one-shuffle batch
    as-of join (sql.transforms.asof_join) on each micro-batch (a
    STATIC frame inside foreachBatch) and hands the enriched rows to
    ``sink(df, batch_id)``.

    Scale: per micro-batch the union-sort shuffles (batch ∪ history)
    on the key once; for large histories, pre-bucket the history table
    on the key so only the batch side shuffles. Exactly-once depends on
    the sink being idempotent per batch_id.
    """
    from pyspark_recs.sql.transforms import asof_join

    def process(batch_df: DataFrame, batch_id: int) -> None:
        enriched = asof_join(
            batch_df,
            history,
            key=key,
            left_ts=event_ts,
            right_ts=history_ts,
            value_cols=value_cols,
        )
        sink(enriched, batch_id)

    return process


def streaming_drift_monitor(
    events: DataFrame,
    reference: "dict[str, list[int]]",
    n_bins: int = 64,
    bin_width: float = 8.0,
    type_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Incremental distribution-drift monitor — the streaming twin of
    workloads/streaming.s16_value_drift. ``reference`` maps each key to
    its frozen ``n_bins`` histogram (e.g. last week's profile, the
    batch-side first-half histogram); per-key state is ONE running
    histogram of the live stream, and each micro-batch emits the exact
    total-variation distance between the two in ppm — the same
    cross-multiplied integer numerators as the batch twin, so when the
    stream has drained the two agree exactly. State is O(n_bins) per
    key forever; this is the alert rule production data-quality gates
    (feature-drift monitors) evaluate continuously.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = (
        f"{type_col} string, n_ref long, n_cur long, tv_ppm long"
    )
    state_schema = "counts array<long>, n long"

    rows = events.select(
        F.col(type_col).alias("k"), F.col(value_col).alias("value")
    )

    def update(key, pdfs, state):
        import math

        if state.exists:
            counts, n = list(state.get[0]), int(state.get[1])
        else:
            counts, n = [0] * n_bins, 0
        for pdf in pdfs:
            for v in pdf["value"]:
                # Same two-sided clamp as the quantile sketch above
                # (negative index would wrap); batch twin s16 matches.
                b = min(
                    n_bins - 1,
                    max(0, int(math.floor(float(v) / bin_width))),
                )
                counts[b] += 1
                n += 1
        state.update((counts, n))
        ref = reference.get(key[0], [0] * n_bins)
        n_ref = sum(ref)
        sum_abs = sum(
            abs(r * n - c * n_ref) for r, c in zip(ref, counts)
        )
        tv_ppm = (
            int(math.floor(sum_abs / (2.0 * n_ref * n) * 1e6))
            if n_ref and n
            else None
        )
        yield pd.DataFrame(
            {
                type_col: [key[0]],
                "n_ref": [n_ref],
                "n_cur": [n],
                "tv_ppm": [tv_ppm],
            }
        )

    return rows.groupBy("k").applyInPandasWithState(
        update,
        out_schema,
        state_schema,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def streaming_corpus_admission(
    index_dir: str,
    corpus_dir: str,
    admit_threshold: float = 0.5,
    shingle_n: int = 3,
):
    """Streaming CORPUS ADMISSION — the incremental crawl-ingest loop:
    each arriving micro-batch of documents is novelty-gated against the
    corpus's persisted GRAM INDEX (llmops/scrub.py:novelty_gate — the
    anti-join primitive), admitted documents are appended to the corpus
    sink AND their grams to the index, so later batches are deduped
    against everything admitted so far. This is the end-to-end form of
    l35: at 100 TB you never re-dedup the corpus against itself — the
    index IS the dedup state, persisted as a bucketable parquet table
    rather than executor memory, and it grows only by admitted-novel
    grams.

    Returns a ``foreachBatch`` callable. Batch-order determinism: for a
    FIXED arrival order the admitted set is deterministic (the gate and
    the index evolution are pure functions of prior batches) — the
    property the planted-order test asserts.

    Replay safety: both sinks are partitioned by ``batch_id`` and
    written with DYNAMIC partition overwrite, and the gate reads an
    index SNAPSHOT that excludes the current batch_id's rows — so a
    foreachBatch retry after a mid-batch failure overwrites its own
    (possibly partial) partitions and never gates the batch against
    grams its failed attempt already wrote (which would silently and
    permanently drop the batch from the corpus). The index stays a SET:
    only grams NOT already present (anti-join against the snapshot) are
    appended, so a gram shared by admitted docs across batches is
    stored once and the left-join gate cannot fan out batch rows.
    """
    import os
    from contextlib import ExitStack

    from pyspark.sql import functions as F

    from pyspark_recs.llmops.dedup import shingle_hashes
    from pyspark_recs.llmops.scrub import novelty_gate
    from pyspark_recs.llmops.textstats import tokens
    from pyspark_recs.workloads.common import (
        held,
        release_snapshot,
        snapshot_plan,
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        with ExitStack() as scope:
            (batch,) = scope.enter_context(held(batch_df))
            _admit(batch, batch_id, scope)

    def _admit(batch_df: DataFrame, batch_id: int, scope: ExitStack) -> None:
        spark = batch_df.sparkSession
        long_enough = F.size(tokens(F.col("text"))) >= shingle_n
        if os.path.exists(index_dir):
            # Snapshot of every PRIOR batch's grams. Excluding the
            # current batch_id makes a retry re-gate against exactly
            # the state the failed attempt saw; .distinct() keeps the
            # gate join fan-out-free even if older on-disk state has
            # duplicates.
            index_grams = (
                spark.read.parquet(index_dir)
                .filter(F.col("batch_id") != F.lit(batch_id))
                .select("gram")
                .distinct()
            )
        else:
            index_grams = None
        if index_grams is not None:
            seen = index_grams.withColumn("seen", F.lit(1))
            batch_grams = batch_df.filter(long_enough).select(
                "doc_id",
                F.explode(shingle_hashes(F.col("text"), shingle_n)).alias(
                    "gram"
                ),
            )
            frac = F.col("n_novel").cast("double") / F.col("n_grams").cast(
                "double"
            )
            gated = (
                batch_grams.join(seen, "gram", "left")
                .groupBy("doc_id")
                .agg(
                    F.count(F.lit(1)).alias("n_grams"),
                    F.sum(F.col("seen").isNull().cast("long")).alias(
                        "n_novel"
                    ),
                )
                .filter(frac >= F.lit(admit_threshold))
                .select("doc_id")
            )
        else:
            gated = batch_df.filter(long_enough).select("doc_id")
        # MATERIALIZE the admitted set before either write: the gate's
        # plan reads the index directory, so a lazy re-evaluation during
        # the second write would see the index rows the FIRST write just
        # appended and re-gate the batch against itself (a real
        # read-your-own-write bug caught by the two-batch test — cache()
        # alone does not guarantee the second action hits the cache).
        # Both snapshots are released when the batch ends.
        admitted = snapshot_plan(batch_df.join(gated, "doc_id", "left_semi"))
        scope.callback(release_snapshot, admitted)
        admitted_grams = (
            admitted.select(
                F.explode(shingle_hashes(F.col("text"), shingle_n)).alias(
                    "gram"
                )
            )
            .distinct()
        )
        if index_grams is not None:
            # Append ONLY novel grams: anti-join keeps the index a set.
            admitted_grams = admitted_grams.join(
                index_grams, "gram", "left_anti"
            )
        # Checkpoint before writing: the novel-gram plan reads
        # index_dir, and Spark refuses to overwrite a path a plan is
        # reading from.
        admitted_grams = snapshot_plan(admitted_grams)
        scope.callback(release_snapshot, admitted_grams)
        (
            admitted_grams.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(index_dir)
        )
        (
            admitted.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(corpus_dir)
        )

    return process


def streaming_vad(
    windows: DataFrame,
    threshold: int = 32000,
    doc_col: str = "doc_id",
) -> DataFrame:
    """Streaming energy-gate VAD via ``applyInPandasWithState`` — the
    stateful twin of ``llmops.multimodal.vad_segments``: per-window
    energies arrive as a stream and each doc's segment accounting is
    maintained in O(1) state (last active index, current run length,
    totals) instead of re-windowing history. Where the batch form
    merges islands with a window function over ALL windows, the
    streaming fold needs only the PREVIOUS active index to decide
    "extends the run" vs "opens a segment" — the property that makes
    run-length semantics streamable at all.

    Emits the cumulative per-doc stats each micro-batch (update mode);
    once a doc's windows have all arrived the latest row equals the
    batch operator's output exactly (integer arithmetic end-to-end).
    Cross-batch order relies on in-order arrival per key, the
    streaming_sessionize caveat; out-of-order windows within one
    micro-batch are sorted before folding.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = (
        "doc_id long, n_windows long, n_active long, n_segments long, "
        "longest_run long, active_abs_sum long"
    )
    state_schema = (
        "last_active int, cur_run long, n_windows long, n_active long, "
        "n_segments long, longest_run long, active_abs_sum long"
    )

    rows = windows.filter(F.col("status") == "ok").select(
        F.col(doc_col).alias("doc_id"), "win_idx", "win_abs"
    )

    def update(key, pdfs, state):
        if state.exists:
            (last_active, cur_run, n_windows, n_active,
             n_segments, longest_run, active_abs) = state.get
        else:
            # -2 sentinel: "no active window yet" (idx are >= 0, so
            # idx == -2 + 1 can never fire)
            last_active, cur_run = -2, 0
            n_windows = n_active = n_segments = longest_run = 0
            active_abs = 0
        # concat ALL of the micro-batch's Arrow chunks before sorting:
        # a group's rows can arrive as multiple chunks (split at
        # arrow.maxRecordsPerBatch), and per-chunk sorting would fold
        # high indices before low ones across a chunk boundary
        chunks = list(pdfs)
        batch = pd.concat(chunks) if chunks else None
        if batch is not None and len(batch):
            ordered = batch.sort_values("win_idx")
            for idx, e in zip(ordered["win_idx"], ordered["win_abs"]):
                idx, e = int(idx), int(e)
                n_windows += 1
                if e >= threshold:
                    if idx == last_active + 1:
                        cur_run += 1
                    else:
                        n_segments += 1
                        cur_run = 1
                    last_active = idx
                    n_active += 1
                    active_abs += e
                    if cur_run > longest_run:
                        longest_run = cur_run
        state.update(
            (last_active, cur_run, n_windows, n_active,
             n_segments, longest_run, active_abs)
        )
        yield pd.DataFrame(
            {
                "doc_id": [key[0]],
                "n_windows": [n_windows],
                "n_active": [n_active],
                "n_segments": [n_segments],
                "longest_run": [longest_run],
                "active_abs_sum": [active_abs],
            }
        )

    return rows.groupBy("doc_id").applyInPandasWithState(
        update,
        out_schema,
        state_schema,
        "update",
        GroupStateTimeout.NoTimeout,
    )
