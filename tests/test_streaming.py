"""Structured Streaming twins (SURVEY §2.9): the streaming operators
must reproduce their batch-workload results (the batch form is the
oracle), exercised through real readStream/writeStream with
availableNow triggers.
"""

from __future__ import annotations

import json
import os
import shutil
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from pyspark_recs.streaming import (
    read_event_stream,
    streaming_dedup,
    streaming_hopping_agg,
    streaming_sessionize,
    stream_to_kv_sink,
)


@pytest.fixture(scope="module")
def event_dir(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("events"))
    df = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:05", "click", 1.0, 7),
            (2, "2024-01-01 10:00:00", "click", 2.0, 7),
            (3, "2024-01-01 11:00:00", "view", 3.0, 8),
            (4, "2024-01-02 00:30:00", "click", 4.0, 7),
            (5, "2024-01-02 00:30:00", "click", 4.0, 7),  # dup event
        ],
        "event_id long, ts_s string, event_type string, value double, user_id long",
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    df.write.parquet(path, mode="overwrite")
    return path, df.schema


def _run_stream(stream, tmp_path, mode="complete"):
    q = (
        stream.writeStream.format("memory")
        .queryName("t_out")
        .outputMode(mode)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return stream.sparkSession.sql("SELECT * FROM t_out")


def test_streaming_hopping_agg_matches_batch(spark, event_dir, tmp_path):
    path, schema = event_dir
    stream = read_event_stream(spark, path, schema)
    out = _run_stream(
        streaming_hopping_agg(
            stream, window="1 day", slide="12 hours", watermark="2 days"
        ),
        tmp_path,
    )
    got = {str(r.win_start): (r.n_events, r.total_value) for r in out.collect()}
    # Each event lands in exactly the 2 windows covering its timestamp:
    # the Jan 1 morning trio (values 1+2+3) in the Dec31-12:00 and
    # Jan1-00:00 windows, the Jan 2 00:30 pair (4.0 each) in the
    # Jan1-12:00 and Jan2-00:00 windows.
    assert got["2023-12-31 12:00:00"] == (3, 6.0)
    assert got["2024-01-01 00:00:00"] == (3, 6.0)
    assert got["2024-01-01 12:00:00"] == (2, 8.0)
    assert got["2024-01-02 00:00:00"] == (2, 8.0)
    assert len(got) == 4


def test_streaming_dedup(spark, event_dir, tmp_path):
    path, schema = event_dir
    stream = read_event_stream(spark, path, schema)
    out = _run_stream(
        streaming_dedup(stream, keys=["user_id", "event_type", "value"]),
        tmp_path,
        mode="append",
    )
    # the two identical (user 7, click, 4.0, same ts) events collapse
    assert out.count() == 4


def test_stream_to_kv_sink(spark, event_dir, tmp_path):
    path, schema = event_dir
    stream = read_event_stream(spark, path, schema)
    agg = streaming_hopping_agg(
        stream, window="1 day", slide="12 hours", watermark="2 days"
    )

    # put_batch runs on executors (foreachPartition inside foreachBatch),
    # so capture via the filesystem — same pattern as the batch kv_export
    # test and a real KV client.
    out_dir = tmp_path / "kv_puts"
    out_dir.mkdir()

    def put_batch(items):
        import os
        import uuid

        p = out_dir / f"{os.getpid()}-{uuid.uuid4().hex}.jsonl"
        with open(p, "w") as f:
            for item in items:
                f.write(json.dumps(item) + "\n")

    q = stream_to_kv_sink(
        agg.select(
            F.col("win_start").cast("string").alias("userId"),
            F.col("n_events").cast("string").alias("recs"),
        ),
        put_batch,
        checkpoint_dir=str(tmp_path / "kv_ckpt"),
    )
    q.awaitTermination(120)
    captured = [
        json.loads(line)
        for p in out_dir.glob("*.jsonl")
        for line in p.read_text().splitlines()
    ]
    # one row per hopping window reaching the sink, keyed by its start
    assert {r["userId"]: r["recs"] for r in captured} == {
        "2023-12-31 12:00:00": "3",
        "2024-01-01 00:00:00": "3",
        "2024-01-01 12:00:00": "2",
        "2024-01-02 00:00:00": "2",
    }


def test_streaming_sessionize_stateful(spark, event_dir, tmp_path):
    path, schema = event_dir
    stream = read_event_stream(spark, path, schema)
    out = _run_stream(streaming_sessionize(stream), tmp_path, mode="update")
    # update mode may emit per micro-batch; the final running total per
    # user is the row with the highest event count.
    final = {
        r.user_id: (r.n_sessions, r.n_events)
        for r in out.orderBy("n_events").collect()
    }
    # user 7: 00:00:05 / 10:00 / 00:30(+dup) -> 3 sessions, 4 events
    # (matches the batch lag+cumulative-flag form, s02_sessionize)
    assert final[7] == (3, 4)
    assert final[8] == (1, 1)


def test_streaming_stream_stream_join(spark, event_dir, tmp_path_factory, tmp_path):
    """Attribution join: each action matches impressions of the same
    user within the following hour — the streaming twin of the batch
    interval join (r30)."""
    from pyspark_recs.streaming import streaming_stream_join

    path, schema = event_dir
    action_dir = str(tmp_path_factory.mktemp("actions"))
    actions = spark.createDataFrame(
        [
            (101, "2024-01-01 00:20:00", 7),   # within 1h of event 1
            (102, "2024-01-01 10:30:00", 7),   # within 1h of event 2
            (103, "2024-01-01 12:30:00", 8),   # 11:00 + 1h < 12:30 -> no match
        ],
        "action_id long, ats_s string, user_id long",
    ).withColumn("action_ts", F.to_timestamp("ats_s")).drop("ats_s")
    actions.write.parquet(action_dir, mode="overwrite")

    impressions = read_event_stream(spark, path, schema).select(
        "event_id", "ts", "user_id"
    )
    action_stream = read_event_stream(spark, action_dir, actions.schema)
    out = _run_stream(
        streaming_stream_join(
            impressions, action_stream,
            key="user_id", left_ts="ts", right_ts="action_ts",
            within="1 hour",
        ),
        tmp_path,
        mode="append",
    )
    pairs = {(r.event_id, r.action_id) for r in out.collect()}
    assert pairs == {(1, 101), (2, 102)}
    # batch oracle: the same join condition over the static frames
    imp_b = spark.read.schema(schema).parquet(path).select("event_id", "ts", "user_id")
    exp = {
        (r.event_id, r.action_id)
        for r in imp_b.alias("l")
        .join(
            actions.alias("r"),
            (F.col("l.user_id") == F.col("r.user_id"))
            & (F.col("r.action_ts") >= F.col("l.ts"))
            & (F.col("r.action_ts") <= F.col("l.ts") + F.expr("INTERVAL 1 hour")),
        )
        .collect()
    }
    assert pairs == exp


def test_streaming_stream_join_left_outer(spark, tmp_path_factory, tmp_path):
    """Left-outer attribution: impressions with no action within the
    window emit with NULL action columns once the watermark passes —
    the negative-label record. Flush rows in BOTH streams advance the
    min-watermark; the join's outer emissions need it."""
    from pyspark_recs.streaming import streaming_stream_join

    imp_dir = str(tmp_path_factory.mktemp("imp_lo"))
    act_dir = str(tmp_path_factory.mktemp("act_lo"))
    imp = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 7), (2, "2024-01-01 05:00:00", 8)],
        "event_id long, ts_s string, user_id long",
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    imp_flush = spark.createDataFrame(
        [(99, "2024-03-01 00:00:00", 99)],
        "event_id long, ts_s string, user_id long",
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    act = spark.createDataFrame(
        [(101, "2024-01-01 00:30:00", 7)],   # matches impression 1
        "action_id long, ats_s string, user_id long",
    ).withColumn("action_ts", F.to_timestamp("ats_s")).drop("ats_s")
    act_flush = spark.createDataFrame(
        [(198, "2024-03-01 00:00:00", 98)],
        "action_id long, ats_s string, user_id long",
    ).withColumn("action_ts", F.to_timestamp("ats_s")).drop("ats_s")
    imp.write.parquet(imp_dir + "/b0")
    imp_flush.write.parquet(imp_dir + "/b1")
    act.write.parquet(act_dir + "/b0")
    act_flush.write.parquet(act_dir + "/b1")

    imp_stream = (
        spark.readStream.schema(imp.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(imp_dir + "/b*")
    )
    act_stream = (
        spark.readStream.schema(act.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(act_dir + "/b*")
    )
    out = _run_stream(
        streaming_stream_join(
            imp_stream, act_stream,
            key="user_id", left_ts="ts", right_ts="action_ts",
            within="1 hour", watermark="1 hour", how="left_outer",
        ),
        tmp_path,
        mode="append",
    )
    got = {r.event_id: r.action_id for r in out.collect() if r.event_id != 99}
    assert got[1] == 101     # matched within the window
    assert got[2] is None    # no action -> outer row with NULL action


def test_streaming_restart_from_checkpoint_processes_only_new_data(
    spark, tmp_path_factory, tmp_path
):
    """Kill-and-restart semantics: a second availableNow run against the
    SAME checkpoint must pick up only files added after the first run —
    state (the running per-user totals) survives the restart instead of
    double-counting history. This is the recovery contract a 100 TB
    incremental pipeline leans on after every deploy/crash."""
    from pyspark_recs.streaming import streaming_sessionize

    src = str(tmp_path_factory.mktemp("restart_events"))
    schema = "event_id long, ts timestamp, event_type string, value double, user_id long"

    def write_batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    write_batch([(1, t0, "click", 1.0, 7), (2, t0 + dt.timedelta(hours=10), "click", 1.0, 7)])

    ckpt = str(tmp_path / "ckpt")
    out_dir = tmp_path / "out"
    out_dir.mkdir()

    def run_once(tag):
        # memory sink does not support checkpoint recovery; foreachBatch
        # (the production exactly-once pattern) does.
        def sink(batch_df, batch_id):
            rows = batch_df.collect()
            p = out_dir / f"{tag}-{batch_id}.txt"
            with open(p, "w") as f:
                for r in rows:
                    f.write(f"{r.user_id},{r.n_sessions},{r.n_events}\n")

        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            streaming_sessionize(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        final = {}
        for p in sorted(out_dir.glob(f"{tag}-*.txt")):
            for line in p.read_text().splitlines():
                u, s, e = (int(x) for x in line.split(","))
                if u not in final or e > final[u][1]:
                    final[u] = (s, e)
        return final

    first = run_once("restart_a")
    assert first[7] == (2, 2)  # two sessions (10h gap)

    # new file lands while the stream is "down"; within 30 min of the
    # last event -> same session, so a from-scratch rerun would give 3
    # sessions only if history were double-counted with fresh state.
    write_batch([(3, t0 + dt.timedelta(hours=10, minutes=10), "click", 1.0, 7)])
    second = run_once("restart_b")
    # state carried: event 3 joins session 2 -> (2 sessions, 3 events)
    assert second[7] == (2, 3)


def test_debounce_batch_fold_hand_computed(spark):
    from pyspark_recs.workloads.streaming import s12_debounce
    import pyspark_recs.io.loaders as L

    df = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", 7),
            (2, "2024-01-01 00:30:00", 7),   # dropped: 30 min after kept #1
            (3, "2024-01-01 01:00:00", 7),   # kept: exactly 1 h after #1
            (4, "2024-01-01 01:59:00", 7),   # dropped: 59 min after #3
            (5, "2024-01-01 03:00:00", 7),   # kept: 2 h after #3
        ],
        "event_id long, ts_s string, user_id long",
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    orig = L.load_table
    try:
        L.load_table = lambda spark, sf, name: df
        import pyspark_recs.workloads.streaming as ws

        orig_ws = ws.load_table
        ws.load_table = L.load_table
        try:
            row = s12_debounce(spark, "ignored").collect()[0]
        finally:
            ws.load_table = orig_ws
    finally:
        L.load_table = orig
    assert (row.n_events, row.n_kept) == (5, 3)


def test_attribution_credit_conserved_per_conversion(spark):
    # Every conversion's credits must sum to exactly 1,000,000 ppm for
    # every journey length (the integer-division remainder rule).
    import pyspark.sql.functions as F
    from pyspark_recs.workloads.streaming import s14_utouch_attribution
    import pyspark_recs.workloads.streaming as ws

    rows, eid = [], 0
    for user, n_touches in [(1, 1), (2, 2), (3, 3), (4, 5), (5, 9)]:
        for i in range(n_touches):
            eid += 1
            rows.append((eid, f"2024-01-01 00:{i:02d}:00", "click", user))
        eid += 1
        rows.append((eid, f"2024-01-01 01:00:00", "purchase", user))
    df = spark.createDataFrame(
        rows, "event_id long, ts_s string, event_type string, user_id long"
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")

    orig = ws.load_table
    ws.load_table = lambda spark, sf, name: df
    try:
        out = s14_utouch_attribution(spark, "ignored")
        sums = {
            r.conv_event_id: r.s
            for r in out.groupBy("conv_event_id")
            .agg(F.sum("credit_ppm").alias("s"))
            .collect()
        }
    finally:
        ws.load_table = orig
    assert len(sums) == 5
    assert set(sums.values()) == {1_000_000}


def test_progress_listener_records_batches(spark, event_dir, tmp_path):
    import json as _json
    import time as _time

    from pyspark_recs.streaming.metrics import attach_progress_log

    path, schema = event_dir
    log_path = str(tmp_path / "progress.jsonl")
    listener = attach_progress_log(spark, log_path)
    try:
        stream = read_event_stream(spark, path, schema)
        out = _run_stream(
            streaming_hopping_agg(
                stream, window="1 day", slide="12 hours", watermark="2 days"
            ),
            tmp_path,
        )
        assert out.count() > 0
        # listener events are delivered asynchronously
        deadline = _time.time() + 30
        rows = []
        while _time.time() < deadline:
            try:
                with open(log_path) as f:
                    rows = [_json.loads(l) for l in f if l.strip()]
            except FileNotFoundError:
                rows = []
            if rows:
                break
            _time.sleep(0.5)
        assert rows, "no progress events recorded"
        assert sum(r["num_input_rows"] for r in rows) >= 5  # the 5 events
        assert all("batch_id" in r and "duration_ms" in r for r in rows)
    finally:
        spark.streams.removeListener(listener)


def test_streaming_sessionize_parity_on_real_events_table(spark, tmp_path):
    from pyspark_recs.io import load_table
    from pyspark_recs.workloads.streaming import s02_sessionize

    sf = "/root/testdata/sf0.001"
    src = str(tmp_path / "events_src2")
    ev = load_table(spark, sf, "events").select(
        "event_id", "ts", "event_type", "value", "user_id"
    )
    ev.write.parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    out = _run_stream(streaming_sessionize(stream), tmp_path, mode="update")
    streamed = {}
    for r in out.collect():
        cur = streamed.get(r.user_id)
        if cur is None or r.n_events > cur[1]:
            streamed[r.user_id] = (r.n_sessions, r.n_events)
    batch = {
        r.user_id: (r.n_sessions, r.n_events)
        for r in s02_sessionize(spark, sf).collect()
    }
    assert streamed == batch


def test_stateful_midstream_crash_same_checkpoint_exactly_once(
    spark, tmp_path_factory, tmp_path
):
    """MID-STREAM kill + SAME-checkpoint resume for the stateful
    sessionizer — the exactly-once claim under FAILURE, not just the
    clean-restart case above: run 1 commits its first micro-batch, then
    the sink raises AFTER the stateful work of the second batch already
    executed (state-store writes exist but the batch never commits).
    The resume from the same checkpoint must replay exactly that batch
    against the last COMMITTED state — final per-user session/event
    counts equal the single-pass fold over all events, with nothing
    lost and nothing double-counted."""
    import datetime as dt

    from pyspark.errors.exceptions.captured import StreamingQueryException

    from pyspark_recs.streaming import streaming_sessionize

    src = str(tmp_path_factory.mktemp("crash_events"))
    schema = (
        "event_id long, ts timestamp, event_type string,"
        " value double, user_id long"
    )

    def write_batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    m = dt.timedelta(minutes=1)
    # file 1: u7 two events 10 min apart (1 session) + a second session
    #         50 min later; u8 one event.
    write_batch(
        [
            (1, t0, "click", 1.0, 7),
            (2, t0 + 10 * m, "click", 1.0, 7),
            (3, t0 + 60 * m, "click", 1.0, 7),
            (4, t0, "view", 1.0, 8),
        ]
    )
    # file 2: u7 continues session 2 (+5 min) then opens session 3
    #         (2 h later); u8 opens session 2.
    write_batch(
        [
            (5, t0 + 65 * m, "click", 1.0, 7),
            (6, t0 + 180 * m, "click", 1.0, 7),
            (7, t0 + 120 * m, "view", 1.0, 8),
        ]
    )

    ckpt = str(tmp_path / "crash_ckpt")
    emitted: dict = {}

    def run(crash_from_batch):
        def sink(batch_df, batch_id):
            rows = batch_df.collect()  # stateful work RUNS before the crash
            if batch_id >= crash_from_batch:
                raise RuntimeError("injected mid-stream crash")
            for r in rows:
                emitted[r.user_id] = (r.n_sessions, r.n_events)

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)  # force 2 micro-batches
            .parquet(src)
        )
        q = (
            streaming_sessionize(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    import pytest as _pytest

    with _pytest.raises(StreamingQueryException, match="injected"):
        run(crash_from_batch=1)
    # batch 0 committed before the crash: partial totals visible
    assert emitted[7] == (2, 3) and emitted[8] == (1, 1)

    run(crash_from_batch=99)  # resume, no crash this time
    # exactly-once after replay: the failed batch's state writes were
    # not committed, so its replay must not double-count sessions.
    assert emitted[7] == (3, 5)
    assert emitted[8] == (2, 2)


def test_holt_forecast_hand_computed(spark, tmp_path):
    """s17 Holt recurrence on a 3-step sequence, checked against the
    by-hand halvings (every intermediate is a dyadic rational, so the
    doubles are exact): x = [4, 8, 2] ->
      t1: l=4, b=0
      t2: l = .5*8 + .5*4 = 6;  b = .5*(6-4) + 0 = 1
      t3: l = .5*2 + .5*7 = 4.5; b = .5*(4.5-6) + .5*1 = -0.25
    forecast1 = 4.25. A single-event user stays (x, 0, x)."""
    from pyspark_recs.workloads.streaming import s17_holt_forecast

    src = str(tmp_path / "holt_events")
    rows = [
        (1, "2024-01-01 00:00:00", 7, "click", 4.0, '{}'),
        (2, "2024-01-01 00:00:01", 7, "click", 8.0, '{}'),
        (3, "2024-01-01 00:00:02", 7, "click", 2.0, '{}'),
        (4, "2024-01-01 00:00:03", 9, "view", 5.0, '{}'),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    df.write.parquet(src + "/events.parquet")
    got = {r.user_id: r for r in s17_holt_forecast(spark, src).collect()}
    assert (got[7].level, got[7].trend, got[7].forecast1) == (4.5, -0.25, 4.25)
    assert got[7].n_events == 3
    assert (got[9].level, got[9].trend, got[9].forecast1) == (5.0, 0.0, 5.0)


def test_stream_stream_join_boundaries_planted(spark, tmp_path):
    """streaming_stream_join emits exactly the pairs whose right event
    falls in [left_ts, left_ts + horizon] for the same key — planted:
    a pair exactly AT the horizon is kept (inclusive), 1 us past is
    dropped, earlier-than-left is dropped, and keys never cross."""
    from pyspark_recs.streaming import streaming_stream_join

    t0 = 1_700_000_000_000_000
    hour = 3600 * 1_000_000
    clicks = [(1, 10, t0), (2, 11, t0)]
    purchases = [
        (1, 20, t0 + hour),        # exactly at horizon -> kept
        (1, 21, t0 + hour + 1),    # 1 us past -> dropped
        (1, 22, t0 - 1),           # before the click -> dropped
        (2, 23, t0 + 5),           # kept (key 2)
        (3, 24, t0 + 5),           # wrong key -> dropped
    ]

    def _stage(rows, cols, sub):
        df = spark.createDataFrame(
            rows, f"user_id long, {cols[0]} long, us long"
        ).select(
            "user_id", cols[0], F.timestamp_micros("us").alias(cols[1])
        )
        p = str(tmp_path / sub)
        df.write.parquet(p)
        return spark.readStream.schema(
            spark.read.parquet(p).schema
        ).parquet(p)

    joined = streaming_stream_join(
        _stage(clicks, ("click_id", "click_ts"), "c"),
        _stage(purchases, ("purchase_id", "purchase_ts"), "p"),
        "user_id",
        "click_ts",
        "purchase_ts",
    ).select("user_id", "click_id", "purchase_id")
    got = {
        (r.user_id, r.click_id, r.purchase_id)
        for r in _run_stream(joined, tmp_path, mode="append").collect()
    }
    assert got == {(1, 10, 20), (2, 11, 23)}


def test_stateful_folds_survive_multi_chunk_groups(spark, tmp_path):
    """Round-12 100x regression: a key's micro-batch rows can arrive as
    SEVERAL Arrow chunks whose order depends on upstream partitioning;
    sorting per chunk folded chunks in arrival order (caught by s21's
    checksum mismatch between shuffle-partition settings at 10 M rows).
    Force tiny Arrow chunks + shuffled multi-partition input and demand
    the sessionizer still matches the in-order batch fold."""
    import random

    rows = [(1, i, 1_700_000_000_000_000 + i * 10_000_000, float(i % 7))
            for i in range(200)]  # 10 s apart -> gaps < 30 min: 1 session
    rows += [(1, 999, 1_700_000_000_000_000 + 200 * 10_000_000
              + 3_600_000_000, 5.0)]  # 1 h later -> second session
    random.Random(7).shuffle(rows)
    df = (
        spark.createDataFrame(
            rows, "user_id long, event_id long, ts_us long, value double"
        )
        .select(
            "user_id",
            "event_id",
            F.timestamp_micros("ts_us").alias("ts"),
            "value",
        )
        .repartition(13)
    )
    drop = str(tmp_path / "drops")
    df.write.parquet(drop)
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "5")
    try:
        stream = read_event_stream(
            spark, drop, spark.read.parquet(drop).schema
        )
        got = {
            r.user_id: (r.n_sessions, r.n_events)
            for r in _run_stream(
                streaming_sessionize(stream, gap_us=1800 * 1_000_000),
                tmp_path / "s",
                mode="update",
            ).collect()
        }
        assert got == {1: (2, 201)}
    finally:
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", old
        )


def test_staged_events_dir_memoizes_per_session(spark):
    """The streaming-executed rows' drop-dir staging is once per
    (session, sf, columns, doubled): repeated calls return the SAME
    path+schema; a different column set or the doubled replay variant
    stages its own dir with the right row count."""
    import pyspark_recs.workloads.streaming as ws

    sf = "/root/testdata/sf0.001"
    d1, s1 = ws._staged_events_dir(spark, sf, ("ts", "value"))
    d2, s2 = ws._staged_events_dir(spark, sf, ("ts", "value"))
    assert d1 == d2 and s1 == s2  # memo hit, no re-stage
    d3, _ = ws._staged_events_dir(spark, sf, ("user_id", "event_id", "ts"))
    assert d3 != d1
    n = spark.read.parquet(d1).count()
    d4, _ = ws._staged_events_dir(spark, sf, ("ts", "value"), doubled=True)
    assert d4 not in (d1, d3)
    assert spark.read.parquet(d4).count() == 2 * n
    # files=N (s22's forced multi-batch replay) is its own memo key
    # and writes exactly N data files for maxFilesPerTrigger to split.
    d5, _ = ws._staged_events_dir(spark, sf, ("ts", "value"), files=6)
    assert d5 not in (d1, d3, d4)
    import glob

    assert len(glob.glob(os.path.join(d5, "part-*.parquet"))) == 6


def test_stream_tmpdirs_are_tracked_and_cleaned(spark):
    """ADVICE r11 #4: every dir the streaming rows mint (staged drops,
    checkpoints, sink outputs) registers for cleanup — the atexit hook
    removes them all, and staging under a new applicationId evicts the
    dead session's staged dirs immediately."""
    import pyspark_recs.workloads.streaming as ws

    sf = "/root/testdata/sf0.001"
    d, _ = ws._staged_events_dir(spark, sf, ("ts", "value"))
    c = ws._stream_tmpdir("test_ckpt_")
    assert d in ws._STREAM_TMPDIRS and c in ws._STREAM_TMPDIRS
    # A stale entry from a dead session (different applicationId) is
    # rmtree'd and dropped from both registries on the next staging.
    stale_dir = ws._stream_tmpdir("stream_drops_stale_")
    ws._STAGED_DROPS[("dead-app-id", sf, ("ts",), False, None)] = (
        stale_dir,
        None,
    )
    ws._staged_events_dir(spark, sf, ("ts", "value"))
    assert not os.path.exists(stale_dir)
    assert stale_dir not in ws._STREAM_TMPDIRS
    assert all(k[0] != "dead-app-id" for k in ws._STAGED_DROPS)
    # The atexit hook clears everything (current session's dirs too —
    # run it last; the memo re-stages on next use).
    ws._cleanup_stream_tmpdirs()
    assert not os.path.exists(d) and not os.path.exists(c)
    assert ws._STREAM_TMPDIRS == [] and ws._STAGED_DROPS == {}


def test_stream_scratch_root_policy(monkeypatch, tmp_path):
    """r12-opt: throwaway stream dirs land on the RAM-backed scratch
    (/dev/shm) by default — profiling showed state-store commit +
    WAL fsyncs on disk-backed /tmp dominated the executed rows — and
    $SPARK_GRAFT_STREAM_TMPDIR overrides the placement (production
    durable-checkpoint deployments, A/B runs)."""
    import pyspark_recs.workloads.streaming as ws

    monkeypatch.setenv("SPARK_GRAFT_STREAM_TMPDIR", str(tmp_path))
    d = ws._stream_tmpdir("test_scratch_")
    try:
        assert os.path.dirname(d) == str(tmp_path)
    finally:
        shutil.rmtree(d, ignore_errors=True)
        ws._STREAM_TMPDIRS.remove(d)
    monkeypatch.delenv("SPARK_GRAFT_STREAM_TMPDIR")
    expected = (
        "/dev/shm"
        if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK)
        else None
    )
    assert ws._stream_scratch_root() == expected


def test_stream_exec_conf_scopes_state_partitions(spark):
    """r12-opt: the streaming-executed rows pin their state-store
    parallelism (spark.sql.shuffle.partitions at stream start) to
    _stream_state_partitions(spark) — sized by the session's
    parallelism, NOT its batch shuffle width — and restore the session
    conf afterwards, even on error."""
    import pyspark_recs.workloads.streaming as ws

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    with ws._stream_exec_conf(spark):
        assert spark.conf.get(key) == str(ws._stream_state_partitions(spark))
    assert spark.conf.get(key) == before

    try:
        with ws._stream_exec_conf(spark):
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert spark.conf.get(key) == before  # restored on error too

    # Sized from the session, capped at 8 instead of a local[32]-tuned
    # constant (the fixture session runs local[4]).
    parallelism = spark.sparkContext.defaultParallelism
    assert ws._stream_state_partitions(spark) == min(parallelism, 8)
    wide = SimpleNamespace(sparkContext=SimpleNamespace(defaultParallelism=64))
    assert ws._stream_state_partitions(wide) == 8
