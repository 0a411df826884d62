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
    streaming_static_anti_join,
    streaming_tumbling_agg,
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


def test_streaming_tumbling_agg_matches_batch(spark, event_dir, tmp_path):
    path, schema = event_dir
    stream = read_event_stream(spark, path, schema)
    out = _run_stream(
        streaming_tumbling_agg(stream, window="1 day", watermark="2 days"),
        tmp_path,
    )
    got = {
        (str(r.day), r.event_type): (r.n_events, r.total_value)
        for r in out.collect()
    }
    assert got[("2024-01-01 00:00:00", "click")] == (2, 3.0)
    assert got[("2024-01-01 00:00:00", "view")] == (1, 3.0)
    assert got[("2024-01-02 00:00:00", "click")] == (2, 8.0)


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


def test_streaming_static_anti_join_filters_seen_keys(spark, event_dir, tmp_path):
    path, schema = event_dir
    stream = read_event_stream(spark, path, schema)
    seen = spark.createDataFrame([(7,)], "user_id long")
    out = _run_stream(
        streaming_static_anti_join(stream, seen, "user_id"),
        tmp_path,
        mode="append",
    )
    rows = out.collect()
    # user 7's four events are filtered; only user 8's view survives
    assert {r.user_id for r in rows} == {8}
    assert len(rows) == 1


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
    agg = streaming_tumbling_agg(stream, window="1 day", watermark="2 days")

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
            F.col("event_type").alias("userId"),
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
    assert len(captured) >= 2  # one row per (day, type) reaching the sink
    assert {r["userId"] for r in captured} == {"click", "view"}


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


def test_streaming_ewma_matches_batch_fold(spark, event_dir, tmp_path):
    from pyspark_recs.streaming import streaming_ewma

    path, schema = event_dir
    stream = read_event_stream(spark, path, schema)
    out = _run_stream(streaming_ewma(stream), tmp_path, mode="update")
    final = {}
    for r in out.orderBy("n_events").collect():
        final[r.user_id] = (r.n_events, r.ewma)
    # user 7 values in ts order: 1.0, 2.0, 4.0, 4.0 (dup kept)
    acc = 1.0
    for x in (2.0, 4.0, 4.0):
        acc = 0.5 * x + 0.5 * acc
    assert final[7] == (4, acc)
    assert final[8] == (1, 3.0)


def test_streaming_enrich_stream_static_join(spark, event_dir, tmp_path):
    from pyspark_recs.streaming import streaming_enrich

    path, schema = event_dir
    dim = spark.createDataFrame(
        [(7, "gold")], "user_id long, segment string"
    )
    stream = read_event_stream(spark, path, schema)
    out = _run_stream(
        streaming_enrich(stream, dim, "user_id", defaults={"segment": "none"}),
        tmp_path,
        mode="append",
    )
    seg = {r.user_id: r.segment for r in out.collect()}
    assert seg == {7: "gold", 8: "none"}  # unmatched user defaulted


def test_streaming_session_window_agg(spark, event_dir, tmp_path):
    from pyspark_recs.streaming import streaming_session_agg

    path, schema = event_dir
    stream = read_event_stream(spark, path, schema)
    out = _run_stream(
        streaming_session_agg(stream, gap="30 minutes"), tmp_path,
        mode="complete",
    )
    got = {
        (r.user_id, str(r.session_start)): (r.n_events, r.total_value)
        for r in out.collect()
    }
    # user 7: three sessions (00:00:05; 10:00; 00:30 next day with dup)
    assert got[(7, "2024-01-01 00:00:05")] == (1, 1.0)
    assert got[(7, "2024-01-01 10:00:00")] == (1, 2.0)
    assert got[(7, "2024-01-02 00:30:00")] == (2, 8.0)
    assert got[(8, "2024-01-01 11:00:00")] == (1, 3.0)


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


def test_streaming_quarantine_routes_dead_letters(spark, tmp_path_factory, tmp_path):
    """Parity with the batch s06 routing: malformed-JSON rows land in
    the dead-letter table, parseable ones in the good table, and the
    union reconstructs the input."""
    from pyspark_recs.streaming import streaming_quarantine

    src_dir = str(tmp_path_factory.mktemp("quarantine_src"))
    df = spark.createDataFrame(
        [
            (1, '{"k": 1}'),
            (2, '{"k": 2'),      # truncated -> dead letter
            (3, 'not json'),     # -> dead letter
            (4, '{"k": 4}'),
        ],
        "event_id long, props string",
    )
    df.write.parquet(src_dir, mode="overwrite")

    good = str(tmp_path / "good")
    dead = str(tmp_path / "dead")
    stream = spark.readStream.schema(df.schema).parquet(src_dir)
    q = streaming_quarantine(
        stream, good, dead, checkpoint_dir=str(tmp_path / "q_ckpt")
    )
    q.awaitTermination(120)

    good_ids = {r.event_id for r in spark.read.parquet(good).collect()}
    dead_ids = {r.event_id for r in spark.read.parquet(dead).collect()}
    assert good_ids == {1, 4}
    assert dead_ids == {2, 3}

    # batch-form verdict (the s06 expression) agrees row for row
    batch_dead = {
        r.event_id
        for r in df.filter(
            F.get_json_object(F.col("props"), "$").isNull()
        ).collect()
    }
    assert batch_dead == dead_ids


def test_streaming_user_profile_stateful(spark, event_dir, tmp_path):
    # The applyInPandasWithState fold keeps each user's running profile.
    from pyspark_recs.streaming import streaming_user_profile

    path, schema = event_dir
    stream = read_event_stream(spark, path, schema)
    out = _run_stream(streaming_user_profile(stream), tmp_path, mode="update")
    # update mode may emit once per micro-batch; keep the last (largest
    # n_events) row per user — the running profile.
    final = {}
    for r in out.orderBy("n_events").collect():
        final[r.user_id] = (r.n_events, r.total_value, r.n_event_types)
    # user 7: 4 click events (incl. dup), values 1+2+4+4; one type
    assert final[7] == (4, 11.0, 1)
    # user 8: single view event
    assert final[8] == (1, 3.0, 1)


def test_streaming_funnel_matches_batch(spark, tmp_path_factory, tmp_path):
    from pyspark_recs.features.sequences import funnel_stages
    from pyspark_recs.streaming import streaming_funnel

    rows = [
        (1, 1, "2024-01-01 00:00:00", "view"),
        (2, 1, "2024-01-01 00:01:00", "click"),
        (3, 1, "2024-01-01 00:02:00", "purchase"),
        (4, 2, "2024-01-01 00:00:00", "view"),
        (5, 2, "2024-01-01 00:00:30", "purchase"),  # before click: no s3
        (6, 2, "2024-01-01 00:01:00", "click"),
        (7, 3, "2024-01-01 00:00:00", "click"),     # never views
    ]
    df = (
        spark.createDataFrame(
            rows, "event_id long, user_id long, ts_s string, event_type string"
        )
        .withColumn("ts", F.to_timestamp("ts_s"))
        .withColumn("props", F.lit("{}"))
        .drop("ts_s")
    )
    src = str(tmp_path_factory.mktemp("funnel_events"))
    df.write.parquet(src, mode="overwrite")

    stream = spark.readStream.schema(df.schema).parquet(src)
    out = _run_stream(streaming_funnel(stream), tmp_path, mode="update")
    deepest = {}
    for r in out.orderBy("stage_idx").collect():
        deepest[r.user_id] = r.stage_idx

    batch = {r.stage_idx: r.n_users for r in funnel_stages(df).collect()}
    # streaming deepest-stage counts must reproduce the batch funnel
    for idx in (1, 2, 3):
        n_streaming = sum(1 for s in deepest.values() if s >= idx)
        assert n_streaming == batch[idx]
    assert deepest == {1: 3, 2: 2, 3: 0}


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


def test_streaming_heavy_hitters_mg_guarantee(spark, tmp_path, tmp_path_factory):
    """Every token whose true frequency exceeds N_bucket/(k+1) must
    survive in its bucket's Misra-Gries summary, streamed over two
    separate micro-batch files."""
    from pyspark_recs.streaming import streaming_heavy_hitters

    path = str(tmp_path_factory.mktemp("tokens"))
    # heavy: 30x "alpha", 20x "beta"; tail: 40 singletons
    rows1 = [("alpha",)] * 18 + [("beta",)] * 8 + [(f"t{i}",) for i in range(20)]
    rows2 = [("alpha",)] * 12 + [("beta",)] * 12 + [(f"u{i}",) for i in range(20)]
    spark.createDataFrame(rows1, "token string").write.parquet(path + "/b1")
    spark.createDataFrame(rows2, "token string").write.parquet(path + "/b2")
    stream = spark.readStream.schema("token string").parquet(path + "/*")
    out = _run_stream(
        streaming_heavy_hitters(stream, k=8, n_buckets=4), tmp_path, mode="update"
    )
    # latest state per (bucket, token) = the row with the max lb_count
    final = {}
    for r in out.orderBy("lb_count").collect():
        final[(r.bucket, r.token)] = r.lb_count
    survivors = {t for (_, t) in final}
    assert "alpha" in survivors and "beta" in survivors
    # lower-bound property: reported count never exceeds truth
    alpha_lb = max(v for (b, t), v in final.items() if t == "alpha")
    assert alpha_lb <= 30


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


def test_streaming_attribution_matches_batch(spark, tmp_path_factory, tmp_path):
    # The stateful journey operator must allocate the exact same
    # integer-ppm credits as the batch window form (s14) over the real
    # sf0.001 events table, streamed as one file drop.
    from pyspark_recs.io import load_table
    from pyspark_recs.streaming import streaming_attribution
    from pyspark_recs.workloads.streaming import s14_utouch_attribution

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, sf, "events")
    src = str(tmp_path_factory.mktemp("attr_events"))
    ev.write.parquet(src, mode="overwrite")

    stream = read_event_stream(spark, src, ev.schema)
    out = _run_stream(streaming_attribution(stream), tmp_path, mode="append")
    got = {
        (r.user_id, r.conv_event_id, r.touch_event_id, r.touch_type,
         r.pos, r.n_touches, r.credit_ppm)
        for r in out.collect()
    }
    want = {
        (r.user_id, r.conv_event_id, r.touch_event_id, r.touch_type,
         r.pos, r.n_touches, r.credit_ppm)
        for r in s14_utouch_attribution(spark, sf).collect()
    }
    assert got == want and want


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


def test_streaming_histogram_quantiles_matches_batch_rule(
    spark, tmp_path, tmp_path_factory
):
    from pyspark_recs.streaming import streaming_histogram_quantiles

    # Values spread across several bins (width 8): exact bin edges.
    vals = [1.0, 9.0, 9.5, 17.0, 25.0, 33.0, 41.0, 49.0, 57.0, 500.0]
    path = str(tmp_path_factory.mktemp("hq"))
    df = spark.createDataFrame(
        [("click", v) for v in vals] + [("view", 3.0), ("view", 100.0)],
        "event_type string, value double",
    )
    df.write.parquet(path, mode="overwrite")
    stream = spark.readStream.schema(df.schema).parquet(path)
    out = _run_stream(
        streaming_histogram_quantiles(stream), tmp_path, mode="update"
    )
    got = {
        r.event_type: (r.n_events, r.p50_est, r.p90_est, r.p99_est)
        for r in out.collect()
    }

    # Hand-applied batch rule: bin = min(63, floor(v/8)); estimate =
    # 8 * first bin where cumcount >= ceil(q*n/100).
    def expect(values):
        bins = sorted(min(63, int(v // 8)) for v in values)
        n = len(bins)

        def est(q):
            rank = (q * n + 99) // 100
            return bins[rank - 1] * 8.0

        return (n, est(50), est(90), est(99))

    assert got["click"] == expect(vals)
    assert got["view"] == expect([3.0, 100.0])


def test_streaming_ordered_ewma_tolerates_out_of_order(
    spark, tmp_path, tmp_path_factory
):
    """Shuffled arrival across micro-batches must produce the same fold
    as sorted arrival: the reorder buffer + per-key frontier is what
    the naive streaming_ewma lacks."""
    import math

    from pyspark_recs.streaming import streaming_ordered_ewma

    base = str(tmp_path_factory.mktemp("ooo"))
    schema = "event_id long, ts_s string, value double, user_id long"
    # True (ts-sorted) order of values for user 7: 1.0, 2.0, 3.0, 4.0.
    # Batch 1 delivers the LATER events first; batch 2 the earlier ones
    # plus a heartbeat that advances the frontier past all real events.
    batch1 = [(3, "2024-01-01 00:30:00", 3.0, 7), (4, "2024-01-01 00:45:00", 4.0, 7)]
    batch2 = [
        (1, "2024-01-01 00:00:00", 1.0, 7),
        (2, "2024-01-01 00:15:00", 2.0, 7),
        (99, "2024-01-01 02:00:01", 0.0, 7),  # heartbeat, stays buffered
    ]
    for i, rows in enumerate((batch1, batch2)):
        df = (
            spark.createDataFrame(rows, schema)
            .withColumn("ts", F.to_timestamp("ts_s"))
            .drop("ts_s")
        )
        df.coalesce(1).write.parquet(f"{base}/b{i}", mode="overwrite")
    stream = (
        spark.readStream.schema(
            "event_id long, value double, user_id long, ts timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(base + "/b*")
    )
    out = _run_stream(
        streaming_ordered_ewma(stream, lateness_us=3_600_000_000),
        tmp_path,
        mode="update",
    )
    # Last update row per key wins (memory sink keeps all updates).
    rows = out.collect()
    final = max(
        (r for r in rows if r.user_id == 7), key=lambda r: r.n_finalized
    )
    acc = 1.0
    for x in (2.0, 3.0, 4.0):
        acc = 0.5 * x + 0.5 * acc
    assert final.n_finalized == 4
    assert final.n_buffered == 1  # the heartbeat itself
    assert final.ewma == acc  # bit-exact despite shuffled arrival


def test_streaming_pit_enrich_matches_batch_asof(spark, event_dir, tmp_path):
    """foreachBatch point-in-time enrichment must equal the batch as-of
    join on the same data: each event sees the history version valid
    at its own timestamp, never a future one."""
    from pyspark_recs.sql.transforms import asof_join
    from pyspark_recs.streaming import read_event_stream, streaming_pit_enrich

    path, schema = event_dir
    history = spark.createDataFrame(
        [
            (7, "2023-12-31 00:00:00", "bronze"),
            (7, "2024-01-01 06:00:00", "gold"),   # future for event 1
            (8, "2024-01-01 10:00:00", "silver"),
        ],
        "user_id long, hts_s string, tier string",
    ).withColumn("hts", F.to_timestamp("hts_s")).drop("hts_s")

    collected = []
    process = streaming_pit_enrich(
        history, key="user_id", event_ts="ts", history_ts="hts",
        value_cols=["tier"], sink=lambda df, bid: collected.extend(df.collect()),
    )
    stream = read_event_stream(spark, path, schema)
    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    batch = asof_join(
        spark.read.schema(schema).parquet(path),
        history,
        key="user_id", left_ts="ts", right_ts="hts", value_cols=["tier"],
    ).collect()
    got = {(r.event_id, r.tier) for r in collected}
    want = {(r.event_id, r.tier) for r in batch}
    assert got == want
    by_event = dict(got)
    assert by_event[1] == "bronze"   # 00:00:05 — gold not yet valid
    assert by_event[2] == "gold"     # 10:00 — after the 06:00 version
    assert by_event[3] == "silver"   # user 8 event 11:00 — valid from 10:00
    assert by_event[4] == "gold" and by_event[5] == "gold"


def test_streaming_drift_monitor_matches_batch_tv(
    spark, tmp_path, tmp_path_factory
):
    from pyspark_recs.streaming import streaming_drift_monitor

    # Reference profile: values concentrated in bin 0; live stream
    # shifted into bins 1-2 -> high TV. A second key stays identical
    # to its reference -> TV 0.
    reference = {
        "shifted": [8, 2] + [0] * 62,
        "stable": [0, 4, 0, 4] + [0] * 60,
    }
    live = [("shifted", 9.0)] * 6 + [("shifted", 17.0)] * 4 + [
        ("stable", 9.0)
    ] * 4 + [("stable", 25.0)] * 4
    path = str(tmp_path_factory.mktemp("drift"))
    df = spark.createDataFrame(live, "event_type string, value double")
    df.write.parquet(path, mode="overwrite")
    stream = spark.readStream.schema(df.schema).parquet(path)
    out = _run_stream(
        streaming_drift_monitor(stream, reference), tmp_path, mode="update"
    )
    got = {r.event_type: (r.n_ref, r.n_cur, r.tv_ppm) for r in out.collect()}

    def tv_ppm(ref, counts):
        import math

        n_ref, n = sum(ref), sum(counts)
        sum_abs = sum(abs(r * n - c * n_ref) for r, c in zip(ref, counts))
        return int(math.floor(sum_abs / (2.0 * n_ref * n) * 1e6))

    cur_shift = [0, 6, 4] + [0] * 61
    cur_stable = [0, 4, 0, 4] + [0] * 60
    assert got["shifted"] == (10, 10, tv_ppm(reference["shifted"], cur_shift))
    assert got["stable"] == (8, 8, 0)
    assert got["shifted"][2] >= 800000  # the shift is detected


def test_streaming_corpus_admission_dedups_across_batches(
    spark, tmp_path, tmp_path_factory
):
    """Batch 2's near-copy of a batch-1 document must be rejected by
    the persisted gram index; its novel document must be admitted."""
    from pyspark_recs.streaming import streaming_corpus_admission

    d1 = "the quick brown fox jumps over the lazy dog by the river"
    d2 = "completely different content about spark shuffles and joins"
    # near-copy of d1 (one word changed -> low novelty), plus a truly
    # novel doc
    d3 = d1.replace("lazy", "sleepy")
    d4 = "yet another unrelated document describing parquet footers"
    src = str(tmp_path_factory.mktemp("adm"))
    schema = "doc_id long, text string"
    spark.createDataFrame([(1, d1), (2, d2)], schema).coalesce(1).write.parquet(
        f"{src}/b0"
    )
    spark.createDataFrame([(3, d3), (4, d4)], schema).coalesce(1).write.parquet(
        f"{src}/b1"
    )
    index_dir = str(tmp_path / "gram_index")
    corpus_dir = str(tmp_path / "corpus")
    process = streaming_corpus_admission(index_dir, corpus_dir)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/b*")
    )
    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    admitted = {r.doc_id for r in spark.read.parquet(corpus_dir).collect()}
    assert admitted == {1, 2, 4}  # d3 rejected as a near-copy of d1


def test_corpus_admission_index_stays_a_set(spark, tmp_path):
    """Admitted docs across batches that SHARE grams must not inflate
    the index: each gram is stored exactly once, so a later
    partially-novel document is judged on true novelty (the old
    append-all behavior fanned out the gate join and depressed
    novelty_frac)."""
    from pyspark_recs.streaming import streaming_corpus_admission

    schema = "doc_id long, text string"
    index_dir = str(tmp_path / "idx")
    corpus_dir = str(tmp_path / "corp")
    process = streaming_corpus_admission(index_dir, corpus_dir)
    # batch 0: one doc
    d1 = "alpha beta gamma delta epsilon zeta eta theta"
    process(spark.createDataFrame([(1, d1)], schema), 0)
    # batch 1: a doc sharing a 5-token prefix with d1 (some shared
    # grams) but mostly novel -> must still be admitted
    d2 = "alpha beta gamma delta epsilon omega psi chi phi upsilon tau"
    process(spark.createDataFrame([(2, d2)], schema), 1)
    # batch 2: another doc sharing the same prefix -> its shared grams
    # now appear in the index from BOTH d1 and d2's admission; with a
    # set index it is still >50% novel and admitted
    d3 = "alpha beta gamma delta epsilon one two three four five six"
    process(spark.createDataFrame([(3, d3)], schema), 2)
    idx = spark.read.parquet(index_dir)
    assert idx.count() == idx.select("gram").distinct().count()
    admitted = {r.doc_id for r in spark.read.parquet(corpus_dir).collect()}
    assert admitted == {1, 2, 3}


def test_corpus_admission_releases_each_batch(spark, tmp_path):
    """Each batch's cache and its two snapshots are released before
    ``process`` returns: three batches leave the persisted RDDs and the
    CacheManager exactly as they found them."""
    from pyspark_recs.streaming import streaming_corpus_admission
    from pyspark_recs.workloads.common import persisted_ids, unpersist_shared

    schema = "doc_id long, text string"
    process = streaming_corpus_admission(
        str(tmp_path / "idx"), str(tmp_path / "corp")
    )
    batches = [
        spark.createDataFrame([(i, text)], schema)
        for i, text in enumerate(
            [
                "the quick brown fox jumps over the lazy dog",
                "completely different content about spark shuffles",
                "yet another unrelated document describing parquet footers",
            ]
        )
    ]
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    unpersist_shared(spark)
    assert cache_manager.isEmpty()
    before = persisted_ids(spark)
    for batch_id, batch in enumerate(batches):
        process(batch, batch_id)
    assert persisted_ids(spark) == before
    assert cache_manager.isEmpty()
    corpus = spark.read.parquet(str(tmp_path / "corp"))
    assert {r.doc_id for r in corpus.collect()} == {0, 1, 2}


def test_corpus_admission_replay_is_idempotent(spark, tmp_path):
    """A foreachBatch retry (same batch_id) must leave the corpus and
    index exactly as the first attempt did — the batch's documents are
    NOT re-gated against their own grams and dropped."""
    from pyspark_recs.streaming import streaming_corpus_admission

    schema = "doc_id long, text string"
    index_dir = str(tmp_path / "idx")
    corpus_dir = str(tmp_path / "corp")
    process = streaming_corpus_admission(index_dir, corpus_dir)
    b0 = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")], schema
    )
    b1 = spark.createDataFrame(
        [(2, "completely different content about spark shuffles")], schema
    )
    process(b0, 0)
    process(b1, 1)
    before_corpus = sorted(
        (r.doc_id, r.text) for r in spark.read.parquet(corpus_dir).collect()
    )
    before_idx = sorted(r.gram for r in spark.read.parquet(index_dir).collect())
    # simulate the retry of batch 1 after a mid-batch failure
    process(b1, 1)
    after_corpus = sorted(
        (r.doc_id, r.text) for r in spark.read.parquet(corpus_dir).collect()
    )
    after_idx = sorted(r.gram for r in spark.read.parquet(index_dir).collect())
    assert after_corpus == before_corpus == [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "completely different content about spark shuffles"),
    ]
    assert after_idx == before_idx


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
            streaming_tumbling_agg(stream, window="1 day", watermark="2 days"),
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


def test_streaming_ewma_parity_on_real_events_table(spark, tmp_path):
    """Streaming-vs-batch parity on the REAL driver testdata (not a
    hand-made fixture): the stateful fold over sf0.001's ~1k events
    must reproduce s10's batch array-fold bit for bit for every user."""
    from pyspark_recs.io import load_table
    from pyspark_recs.streaming import streaming_ewma
    from pyspark_recs.workloads.streaming import s10_recursive_ewma

    sf = "/root/testdata/sf0.001"
    src = str(tmp_path / "events_src")
    # materialize through load_table so the stream source sees plain
    # TIMESTAMP (the raw parquet may be nanos/NTZ)
    ev = load_table(spark, sf, "events").select(
        "event_id", "ts", "event_type", "value", "user_id"
    )
    ev.write.parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    out = _run_stream(streaming_ewma(stream), tmp_path, mode="update")
    streamed = {}
    for r in out.collect():  # keep the row with the max n_events per user
        cur = streamed.get(r.user_id)
        if cur is None or r.n_events > cur[0]:
            streamed[r.user_id] = (r.n_events, r.ewma)
    batch = {
        r.user_id: (r.n_events, r.ewma)
        for r in s10_recursive_ewma(spark, sf).collect()
    }
    assert streamed == batch  # bit-exact, every user


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


def test_streaming_quantiles_parity_on_real_events_table(spark, tmp_path):
    from pyspark_recs.io import load_table
    from pyspark_recs.streaming import streaming_histogram_quantiles
    from pyspark_recs.workloads.streaming import s15_histogram_quantiles

    sf = "/root/testdata/sf0.001"
    src = str(tmp_path / "events_src3")
    ev = load_table(spark, sf, "events").select("event_type", "value")
    ev.write.parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    out = _run_stream(
        streaming_histogram_quantiles(stream), tmp_path, mode="update"
    )
    streamed = {}
    for r in out.collect():
        cur = streamed.get(r.event_type)
        if cur is None or r.n_events > cur[0]:
            streamed[r.event_type] = (r.n_events, r.p50_est, r.p90_est, r.p99_est)
    batch = {
        r.event_type: (r.n_events, r.p50_est, r.p90_est, r.p99_est)
        for r in s15_histogram_quantiles(spark, sf).collect()
    }
    assert streamed == batch


def test_histogram_negative_values_clamp_batch_stream_identical(
    spark, tmp_path, tmp_path_factory
):
    """Negative values must land in bin 0 on BOTH sides (the streaming
    side's unclamped floor once produced a negative Python list index
    that silently wrapped to a top bin — the clamp keeps batch and
    stream bit-identical on any real feed)."""
    from pyspark.sql import Window

    from pyspark_recs.streaming import streaming_histogram_quantiles

    vals = [-50.0, -8.0, -0.5, 1.0, 9.0, 17.0, 600.0]
    path = str(tmp_path_factory.mktemp("hqneg"))
    df = spark.createDataFrame(
        [("click", v) for v in vals], "event_type string, value double"
    )
    df.write.parquet(path, mode="overwrite")
    stream = spark.readStream.schema(df.schema).parquet(path)
    out = _run_stream(
        streaming_histogram_quantiles(stream), tmp_path, mode="update"
    )
    got = {
        r.event_type: (r.n_events, r.p50_est, r.p90_est, r.p99_est)
        for r in out.collect()
    }
    # batch twin rule, clamped both ends (s15's expression)
    b = F.least(
        F.lit(63), F.greatest(F.lit(0), F.floor(F.col("value") / F.lit(8.0)))
    ).cast("int")
    hist = df.groupBy("event_type", b.alias("bin")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    wc = Window.partitionBy("event_type").orderBy("bin")
    wt = Window.partitionBy("event_type")
    cum = hist.withColumn("cum", F.sum("cnt").over(wc)).withColumn(
        "n", F.sum("cnt").over(wt)
    )

    def est(q):
        hit = F.col("cum") >= F.expr(f"({q}L * n + 99) div 100")
        return F.min(F.when(hit, F.col("bin"))) * F.lit(8.0)

    batch = {
        r.event_type: (r.n, r.p50, r.p90, r.p99)
        for r in cum.groupBy("event_type")
        .agg(
            F.max("n").alias("n"),
            est(50).alias("p50"),
            est(90).alias("p90"),
            est(99).alias("p99"),
        )
        .collect()
    }
    assert got == batch
    # the three negatives clamp into bin 0 → p50 of 7 values = bin 0
    assert got["click"][1] == 0.0


def test_streaming_drift_monitor_parity_on_real_events_table(
    spark, tmp_path
):
    """Real-table parity for the drift monitor: freeze the FIRST time
    half of sf0.001's events as the reference histograms, stream the
    SECOND half, and the final per-type total-variation ppm must equal
    s16's batch computation bit for bit (same clamped bins, same
    cross-multiplied integer numerators)."""
    import math

    from pyspark_recs.io import load_table
    from pyspark_recs.streaming import streaming_drift_monitor
    from pyspark_recs.workloads.streaming import s16_value_drift

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, sf, "events").select(
        "event_type", "value", F.unix_micros("ts").alias("ts_us")
    )
    lo, hi = ev.agg(F.min("ts_us"), F.max("ts_us")).collect()[0]
    # reference: first-half histograms with the two-sided clamp
    ref_rows = (
        ev.filter(F.col("ts_us") * 2 < lo + hi)
        .select("event_type", "value")
        .collect()
    )
    reference = {}
    for r in ref_rows:
        counts = reference.setdefault(r.event_type, [0] * 64)
        counts[min(63, max(0, int(math.floor(r.value / 8.0))))] += 1
    cur = ev.filter(F.col("ts_us") * 2 >= lo + hi).select(
        "event_type", "value"
    )
    src = str(tmp_path / "events_cur")
    cur.write.parquet(src)
    stream = spark.readStream.schema(cur.schema).parquet(src)
    out = _run_stream(
        streaming_drift_monitor(stream, reference), tmp_path, mode="update"
    )
    streamed = {}
    for r in out.collect():
        prev = streamed.get(r.event_type)
        if prev is None or r.n_cur > prev[1]:
            streamed[r.event_type] = (r.n_ref, r.n_cur, r.tv_ppm)
    batch = {
        r.event_type: (r.n_ref, r.n_cur, r.tv_ppm)
        for r in s16_value_drift(spark, sf).collect()
    }
    assert streamed == batch  # bit-exact, every event type


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


def test_streaming_vad_parity_on_real_wav_windows(spark, tmp_path):
    """Streaming-vs-batch parity for the energy-gate VAD: the stateful
    run-length fold over sf0.001's decoded WAV window energies must
    reproduce vad_segments' gaps-and-islands output exactly for every
    doc (integer arithmetic end-to-end)."""
    import pandas as pd

    from pyspark_recs.io import load_table
    from pyspark_recs.llmops.multimodal import (
        audio_window_energies,
        vad_segments,
    )
    from pyspark_recs.llmops.wav import encode_wav, synth_pcm
    from pyspark_recs.streaming import streaming_vad

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents").select("doc_id").limit(64)

    def make_payloads(batches):
        for pdf in batches:
            payloads = [
                encode_wav(8000, 1, synth_pcm(int(d))) for d in pdf["doc_id"]
            ]
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].values, "payload": payloads}
            )

    payloads = docs.mapInPandas(
        make_payloads, schema="doc_id bigint, payload binary"
    )
    windows = audio_window_energies(payloads, window=32)
    src = str(tmp_path / "vad_windows")
    windows.write.parquet(src)

    batch = {
        r.doc_id: (r.n_windows, r.n_active, r.n_segments, r.longest_run,
                   r.active_abs_sum)
        for r in vad_segments(
            spark.read.parquet(src), threshold=32000
        ).collect()
    }
    stream = spark.readStream.schema(windows.schema).parquet(src)
    out = _run_stream(
        streaming_vad(stream, threshold=32000), tmp_path, mode="update"
    )
    streamed = {}
    for r in out.collect():  # keep the most-complete row per doc
        cur = streamed.get(r.doc_id)
        if cur is None or r.n_windows > cur[0]:
            streamed[r.doc_id] = (r.n_windows, r.n_active, r.n_segments,
                                  r.longest_run, r.active_abs_sum)
    assert streamed == batch  # exact, every doc


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


def test_streaming_holt_parity_on_real_events_table(spark, tmp_path):
    """Streaming-vs-batch parity for the Holt fold on the REAL driver
    testdata: the O(1)-state (level, trend) recurrence must reproduce
    s17's batch array-fold bit for bit for every user."""
    from pyspark_recs.io import load_table
    from pyspark_recs.streaming import streaming_holt
    from pyspark_recs.workloads.streaming import s17_holt_forecast

    sf = "/root/testdata/sf0.001"
    src = str(tmp_path / "events_src_holt")
    ev = load_table(spark, sf, "events").select(
        "event_id", "ts", "event_type", "value", "user_id"
    )
    ev.write.parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    out = _run_stream(streaming_holt(stream), tmp_path, mode="update")
    streamed = {}
    for r in out.collect():  # keep the row with the max n_events per user
        cur = streamed.get(r.user_id)
        if cur is None or r.n_events > cur[0]:
            streamed[r.user_id] = (r.n_events, r.level, r.trend, r.forecast1)
    batch = {
        r.user_id: (r.n_events, r.level, r.trend, r.forecast1)
        for r in s17_holt_forecast(spark, sf).collect()
    }
    assert streamed == batch  # bit-exact, every user


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
    the sessionizer and EWMA still match the in-order batch fold."""
    import random

    from pyspark_recs.streaming import (
        read_event_stream,
        streaming_ewma,
        streaming_sessionize,
    )

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
        # EWMA: exact half-decay fold must equal the in-order python fold
        expect = None
        for _, _, _, v in sorted(rows, key=lambda r: (r[2], r[1])):
            expect = v if expect is None else 0.5 * v + 0.5 * expect
        ew = {
            r.user_id: (r.n_events, r.ewma)
            for r in _run_stream(
                streaming_ewma(stream), tmp_path / "e", mode="update"
            ).collect()
        }
        assert ew == {1: (201, expect)}
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
