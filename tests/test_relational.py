"""Unit tests for the core relational operators (SURVEY §2.2-2.6),
including the W1 frame-semantics trap with hand-computed expectations.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pyspark_recs.sql import (
    argmax_per_group,
    bucketize_fixed_width,
    categorify_dictionary,
    dedup_last_value,
    frequency_filter,
    latest_batch,
    left_enrich,
    top_k_per_group,
)


def test_latest_batch_keeps_only_newest(spark):
    df = spark.createDataFrame(
        [(1, "b1", "x"), (1, "b1", "y"), (2, "b2", "z")],
        "etl_timestamp long, etl_id string, v string",
    )
    out = latest_batch(df, "etl_id", "etl_timestamp")
    assert {r.v for r in out.collect()} == {"z"}


def test_dedup_last_value_whole_partition_frame(spark):
    """The Snowflake last_value default frame is the ENTIRE partition.
    A naive Spark port (default frame = cumulative) would return each
    row's own value — this asserts every row gets the LAST value."""
    df = spark.createDataFrame(
        [("a", "c", 10.0, 1), ("a", "c", 12.0, 3), ("a", "c", 11.0, 2)],
        "article string, customer string, price double, d int",
    )
    out = dedup_last_value(
        df, group_keys=["article", "customer"], order_cols=["d"],
        value_cols=["price"],
    )
    rows = out.collect()
    assert len(rows) == 3  # W2 wart: residual rows preserved, no extra dedup
    assert all(r.price == 12.0 for r in rows)  # all overwritten by last


def test_dedup_last_value_dedups_exact_duplicates_first(spark):
    df = spark.createDataFrame(
        [("a", "c", 10.0, 1)] * 3, "article string, customer string, price double, d int"
    )
    out = dedup_last_value(df, ["article", "customer"], ["d"], ["price"])
    assert out.count() == 1


def test_frequency_filter_semi_join(spark):
    df = spark.createDataFrame(
        [("u1", i) for i in range(5)] + [("u2", 0)], "k string, v int"
    )
    kept = frequency_filter(df, key="k", min_count=5)
    assert {r.k for r in kept.collect()} == {"u1"}
    assert kept.columns == ["k", "v"]  # semi join keeps fact schema


def test_frequency_filter_with_predicate(spark):
    df = spark.createDataFrame(
        [("u1", i) for i in range(5)] + [("u2", i) for i in range(5)],
        "k string, v int",
    )
    kept = frequency_filter(df, key="k", min_count=3, pred=F.col("v") < 3)
    assert {r.k for r in kept.collect()} == {"u1", "u2"}
    kept2 = frequency_filter(df, key="k", min_count=4, pred=F.col("v") < 3)
    assert kept2.count() == 0


def test_left_enrich_defaults(spark):
    facts = spark.createDataFrame([(1,), (2,)], "k int")
    dim = spark.createDataFrame([(1, "seg")], "k int, seg string")
    out = left_enrich(facts, dim, "k", defaults={"seg": "NO_GROUP"})
    got = {r.k: r.seg for r in out.collect()}
    assert got == {1: "seg", 2: "NO_GROUP"}


def test_top_k_per_group_deterministic(spark):
    df = spark.createDataFrame(
        [("g", 5, 1), ("g", 5, 2), ("g", 3, 3)], "g string, score int, id int"
    )
    out = top_k_per_group(
        df, ["g"], [F.desc("score"), F.asc("id")], k=2
    ).orderBy("rn")
    rows = out.collect()
    assert [(r.id, r.rn) for r in rows] == [(1, 1), (2, 2)]


def test_argmax_per_group_tiebreak(spark):
    df = spark.createDataFrame(
        [("g", 5.0, 10), ("g", 5.0, 20), ("h", 1.0, 30)],
        "g string, score double, id int",
    )
    out = argmax_per_group(df, ["g"], "id", "score", "id")
    got = {r.g: r.id for r in out.collect()}
    assert got == {"g": 20, "h": 30}  # max score, tie -> max id


def test_categorify_dictionary_sorted_stable(spark):
    df = spark.createDataFrame(
        [("b",), ("a",), ("c",), ("a",), (None,)], "v string"
    )
    d1 = {r.v: r.code for r in categorify_dictionary(df, "v").collect()}
    d2 = {r.v: r.code for r in categorify_dictionary(df, "v").collect()}
    assert d1 == {"a": 1, "b": 2, "c": 3}  # sorted, codes from 1, no null
    assert d1 == d2  # refit-stable


def test_bucketize_fixed_width(spark):
    df = spark.createDataFrame([(0.0,), (4.9,), (5.0,), (-0.1,)], "x double")
    out = bucketize_fixed_width(df, "x", 5.0, alias="b")
    got = sorted(r.b for r in out.collect())
    assert got == [-1, 0, 0, 1]


def test_salted_join_row_identical_to_plain(spark):
    from pyspark_recs.io import load_table
    from pyspark_recs.sql import salted_join

    sf = "/root/testdata/sf0.001"
    li = load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    orders = load_table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    plain = li.join(orders, li.l_orderkey == orders.o_orderkey)
    salted = salted_join(li, orders, "l_orderkey", "o_orderkey", n_salts=4)
    assert sorted(map(tuple, salted.collect())) == sorted(
        map(tuple, plain.collect())
    )
    # left rows with no match survive a salted LEFT join exactly once
    left = salted_join(li, orders.limit(0), "l_orderkey", "o_orderkey",
                       n_salts=4, how="left")
    assert left.count() == li.count()


def test_asof_join_backward_inclusive(spark):
    from pyspark_recs.sql import asof_join

    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 25, "b"), (2, 5, "c")], "k int, ts int, tag string"
    )
    right = spark.createDataFrame(
        [(1, 8, 100.0), (1, 20, 200.0), (1, 25, 250.0), (2, 9, 900.0)],
        "k int, rts int, val double",
    )
    out = sorted(
        (r.k, r.ts, r.tag, r.val)
        for r in asof_join(left, right, "k", "ts", "rts", ["val"]).collect()
    )
    # (1,25) takes the tied right row (inclusive); (2,5) has no prior row
    assert out == [(1, 10, "a", 100.0), (1, 25, "b", 250.0), (2, 5, "c", None)]
    inner = asof_join(left, right, "k", "ts", "rts", ["val"], how="inner")
    assert inner.count() == 2


def test_interval_join_half_open_bins(spark):
    from pyspark_recs.sql import interval_join

    pts = spark.createDataFrame(
        [(1, 3.0), (2, 10.0), (3, 25.0)], "id int, x double"
    )
    ivs = spark.createDataFrame(
        [("low", 0.0, 10.0), ("mid", 10.0, 20.0)],
        "tier string, lo double, hi double",
    )
    out = {
        r.id: r.tier
        for r in interval_join(pts, ivs, "x", "lo", "hi", 7.0).collect()
    }
    # x=10.0 is excluded from [0,10) but included in [10,20); 25 matches none
    assert out == {1: "low", 2: "mid"}


def test_trailing_window_range_frame(spark, tmp_path):
    """r35: RANGE frame includes same-day peers and exactly 30 days."""
    import datetime as dt

    from pyspark_recs.workloads.relational import r35_trailing_window

    base = dt.datetime(2000, 1, 1)
    rows = [
        # (orderkey, custkey, day offset, price)
        (1, 1, 0, 10.0),
        (2, 1, 10, 20.0),
        (3, 1, 40, 40.0),   # day 10 is 30d earlier -> OUTSIDE 29-day frame
        (4, 2, 5, 1.0),     # same-day peers: both see both
        (5, 2, 5, 2.0),
    ]
    df = spark.createDataFrame(
        [
            (k, c, base + dt.timedelta(days=d), p, "O", "1-URGENT")
            for (k, c, d, p) in rows
        ],
        "o_orderkey long, o_custkey long, o_orderdate timestamp, "
        "o_totalprice double, o_orderstatus string, o_orderpriority string",
    )
    df.write.parquet(str(tmp_path / "orders.parquet"))
    got = {
        r.o_orderkey: r
        for r in r35_trailing_window(spark, str(tmp_path)).collect()
    }
    assert got[1].trailing_spend_30d == 10.0
    assert got[2].trailing_spend_30d == 30.0   # day 0 within 29 days of 10
    assert got[3].trailing_spend_30d == 40.0   # day 10 fell out
    assert got[4].trailing_spend_30d == 3.0    # RANGE includes the peer
    assert got[5].trailing_spend_30d == 3.0
    assert got[4].trailing_orders_30d == 2


def test_spend_deciles_deterministic_ranks(spark, tmp_path):
    """r36: ntile/percent_rank/cume_dist with a total tiebreak order."""
    import datetime as dt

    from pyspark_recs.workloads.relational import r36_spend_deciles

    df = spark.createDataFrame(
        [
            (k, k % 5, dt.datetime(2000, 1, 1), 100.0 * (k % 5 + 1),
             "O", "1-URGENT")
            for k in range(10)
        ],
        "o_orderkey long, o_custkey long, o_orderdate timestamp, "
        "o_totalprice double, o_orderstatus string, o_orderpriority string",
    )
    df.write.parquet(str(tmp_path / "orders.parquet"))
    got = sorted(
        r36_spend_deciles(spark, str(tmp_path)).collect(),
        key=lambda r: r.o_custkey,
    )
    # 5 customers, 2 orders each, spends 200/400/600/800/1000
    assert [r.spend for r in got] == [200.0, 400.0, 600.0, 800.0, 1000.0]
    assert [r.pct_rank for r in got] == [0.0, 0.25, 0.5, 0.75, 1.0]
    assert [r.cume for r in got] == [0.2, 0.4, 0.6, 0.8, 1.0]
    assert all(r.n_orders == 2 for r in got)


def test_leave_one_out_split(spark, tmp_path):
    """rs07: exactly one test row per user, and it is the newest order."""
    import datetime as dt

    from pyspark_recs.workloads.recsys import rs07_leave_one_out

    df = spark.createDataFrame(
        [
            (1, 1, dt.datetime(2000, 1, 5), 1.0, "O", "x"),
            (2, 1, dt.datetime(2000, 1, 9), 1.0, "O", "x"),
            (3, 2, dt.datetime(2000, 1, 1), 1.0, "O", "x"),
            # user 3: two orders same date -> higher orderkey wins
            (4, 3, dt.datetime(2000, 1, 2), 1.0, "O", "x"),
            (5, 3, dt.datetime(2000, 1, 2), 1.0, "O", "x"),
        ],
        "o_orderkey long, o_custkey long, o_orderdate timestamp, "
        "o_totalprice double, o_orderstatus string, o_orderpriority string",
    )
    df.write.parquet(str(tmp_path / "orders.parquet"))
    got = rs07_leave_one_out(spark, str(tmp_path)).collect()
    test_keys = {r.o_orderkey for r in got if r.split == "test"}
    assert test_keys == {2, 3, 5}
    assert sum(r.split == "train" for r in got) == 2


def test_incremental_rollup_matches_full_recompute(spark):
    """r37: merging stored+delta partial aggregates is lossless."""
    from pyspark_recs.workloads.relational import (
        r37_incremental_rollup,
        r01_pricing_summary,  # noqa: F401  (same table, sanity anchor)
    )
    from pyspark_recs.io import load_table
    from pyspark_recs.workloads.common import dsum

    sf = "/root/testdata/sf0.001"
    got = {
        r.l_returnflag: (r.sum_qty, r.n_rows)
        for r in r37_incremental_rollup(spark, sf).collect()
    }
    full = {
        r.l_returnflag: (r.sum_qty, r.n_rows)
        for r in load_table(spark, sf, "lineitem")
        .groupBy("l_returnflag")
        .agg(dsum("l_quantity").alias("sum_qty"),
             F.count(F.lit(1)).alias("n_rows"))
        .collect()
    }
    assert got == full


def test_scalable_prefix_sum_matches_single_task_window(spark):
    """The two-phase range-partitioned prefix sum is row-identical to
    the single-task global window, including across partition
    boundaries (offsets must absorb whatever boundaries the range
    sampler picked)."""
    from pyspark.sql import Window
    from pyspark_recs.sql import scalable_prefix_sum

    df = spark.createDataFrame(
        [(t, (t * 7919) % 13 - 6) for t in range(1, 501)], "t long, v long"
    )
    got = {
        r.t: r.running
        for r in scalable_prefix_sum(df, "t", "v", num_ranges=8).collect()
    }
    w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    want = {
        r.t: r.running
        for r in df.withColumn("running", F.sum("v").over(w)).collect()
    }
    assert got == want


def test_gap_fill_carries_closing_value_across_silent_days(spark):
    from pyspark_recs.workloads.relational import r59_gap_fill  # noqa: F401

    # Inline miniature of the r59 shape: user with events on day 1 and
    # day 4 -> grid has 4 days, days 2-3 carry day 1's closing value.
    df = spark.createDataFrame(
        [
            (1, "2024-01-01 09:00:00", 5.0),
            (2, "2024-01-01 18:00:00", 7.0),   # closing value of day 1
            (3, "2024-01-04 12:00:00", 9.0),
        ],
        "event_id long, ts_s string, value double",
    ).selectExpr(
        "CAST(1 AS BIGINT) AS user_id",
        "to_timestamp(ts_s) AS ts",
        "event_id",
        "value",
    )
    daily = df.groupBy(
        "user_id", F.date_trunc("DAY", F.col("ts")).alias("day")
    ).agg(F.max(F.struct(F.unix_micros("ts").alias("u"), "event_id", "value"))["value"].alias("value"))
    grid = df.groupBy("user_id").agg(
        F.min(F.date_trunc("DAY", "ts")).alias("mn"),
        F.max(F.date_trunc("DAY", "ts")).alias("mx"),
    ).select("user_id", F.explode(F.sequence("mn", "mx", F.expr("INTERVAL 1 DAY"))).alias("day"))
    from pyspark.sql import Window
    w = Window.partitionBy("user_id").orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    out = (
        grid.join(daily, ["user_id", "day"], "left_outer")
        .select("day", F.last("value", ignorenulls=True).over(w).alias("filled"),
                F.col("value").isNotNull().alias("obs"))
        .orderBy("day")
        .collect()
    )
    assert [r.filled for r in out] == [7.0, 7.0, 7.0, 9.0]
    assert [r.obs for r in out] == [True, False, False, True]


def test_ks_drift_zero_for_identical_and_one_for_disjoint(spark):
    from pyspark_recs.workloads.relational import r60_ks_drift  # noqa: F401

    # Inline the KS math shape on planted groups: identical -> 0 curve,
    # disjoint supports -> the max component reaches 1.
    def ks(rows):
        df = spark.createDataFrame(rows, "v double, is_early int")
        nets = df.groupBy("v").agg(
            F.sum("is_early").alias("c_e"),
            F.sum(1 - F.col("is_early")).alias("c_l"),
        )
        from pyspark.sql import Window
        w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
        tot = df.agg(F.sum("is_early").alias("n_e"),
                     F.sum(1 - F.col("is_early")).alias("n_l"))
        cums = nets.withColumn("ce", F.sum("c_e").over(w)).withColumn(
            "cl", F.sum("c_l").over(w))
        out = cums.crossJoin(tot).select(
            (F.abs(F.col("ce") * F.col("n_l") - F.col("cl") * F.col("n_e"))
             .cast("double") / (F.col("n_e") * F.col("n_l")).cast("double")
             ).alias("k")).collect()
        return max(r.k for r in out)

    same = [(float(v), g) for v in (1, 2, 3) for g in (0, 1)]
    assert ks(same) == 0.0
    disjoint = [(1.0, 1), (2.0, 1), (10.0, 0), (11.0, 0)]
    assert ks(disjoint) == 1.0


def test_grouped_exact_median_matches_window_rank(spark):
    # Property: the bucketed two-phase selection equals the naive
    # whole-group window rank for several group shapes (odd/even sizes,
    # duplicated values, values straddling bucket boundaries).
    from pyspark.sql import Window
    from pyspark_recs.sql.transforms import grouped_exact_median

    rows = []
    vals = {
        "odd": [5, 1, 9, 3, 7],
        "even": [10, 20, 30, 40],
        "dups": [2, 2, 2, 8, 8],
        "straddle": [16383, 16384, 16385, 32768, 32769],
        "single": [42],
    }
    for g, vs in vals.items():
        rows += [(g, v) for v in vs]
    df = spark.createDataFrame(rows, "g string, v long")
    got = {
        r.g: r.median
        for r in grouped_exact_median(df, "g", "v").collect()
    }
    w = Window.partitionBy("g").orderBy("v")
    naive = {
        r.g: r.v
        for r in df.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "n", F.count(F.lit(1)).over(Window.partitionBy("g"))
        )
        .filter(F.col("rn") == F.floor((F.col("n") - 1) / 2) + 1)
        .collect()
    }
    assert got == naive


def test_bitmap_distinct_equals_count_distinct(spark):
    # The 62-bit chunk bitmap must reproduce COUNT(DISTINCT) exactly,
    # including keys that collide into the same chunk.
    import pyspark.sql.functions as F
    from pyspark_recs.workloads.relational import BITMAP_BASE

    keys = [0, 1, 61, 62, 63, 124, 500, 500, 500, 7]  # dups + chunk edges
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    chunks = df.select(
        (F.col("k") / BITMAP_BASE).cast("long").alias("chunk"),
        F.expr(f"shiftleft(1L, CAST(k % {BITMAP_BASE} AS INT))").alias("bit"),
    ).groupBy("chunk").agg(F.bit_or("bit").alias("bitmap"))
    n = chunks.agg(F.sum(F.bit_count("bitmap"))).collect()[0][0]
    assert n == len(set(keys))


def test_mann_whitney_identical_halves_are_balanced(spark):
    # Two identical samples: U_early == U_late == n*n (doubled), the
    # no-shift null.
    import pyspark.sql.functions as F
    from pyspark_recs.sql.transforms import scalable_prefix_sum

    vals = [(float(v), e) for v in range(50) for e in (1, 0)]
    df = spark.createDataFrame(vals, "v double, is_early int")
    per_v = df.groupBy("v").agg(
        F.sum("is_early").alias("c_e"),
        F.sum(1 - F.col("is_early")).alias("c_l"),
    )
    cum = scalable_prefix_sum(
        per_v.withColumn("n_v", F.col("c_e") + F.col("c_l")),
        "v", "n_v", out_col="cum",
    )
    row = cum.agg(
        F.sum("c_e").alias("n_e"),
        F.sum("c_l").alias("n_l"),
        F.sum(F.col("c_e") * (2 * F.col("cum") - F.col("n_v") + 1)).alias("r2_e"),
    ).collect()[0]
    u2_early = row.r2_e - row.n_e * (row.n_e + 1)
    assert (row.n_e, row.n_l) == (50, 50)
    assert u2_early == row.n_e * row.n_l  # 2*U = 2*(n*n/2) under identity


def test_scalable_prefix_max_matches_single_task_window(spark):
    """Max-monoid sibling of the prefix-sum equivalence, on values
    engineered so the running max changes mid-partition and across
    bucket boundaries."""
    from pyspark.sql import Window
    from pyspark_recs.sql.transforms import scalable_prefix_max

    df = spark.createDataFrame(
        [(t, ((t * 2654435761) % 997) - (t % 3) * 100) for t in range(1, 501)],
        "t long, v long",
    )
    got = {
        r.t: r.running_max
        for r in scalable_prefix_max(df, "t", "v", num_ranges=8).collect()
    }
    w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    want = {
        r.t: r.m
        for r in df.withColumn("m", F.max("v").over(w)).collect()
    }
    assert got == want


def test_shared_plan_memoizes_per_session_and_sf(spark):
    """The session-scoped materialization memo must (1) build once per
    (session, sf, key) and return the SAME persisted frame after, (2)
    keep different sf dirs separate, (3) produce results identical to
    a fresh build."""
    from pyspark.sql import functions as F

    from pyspark_recs.workloads.common import _SHARED, shared_plan

    calls = {"n": 0}

    def builder():
        calls["n"] += 1
        return spark.range(5).select(F.col("id"), (F.col("id") * 2).alias("y"))

    a = shared_plan(spark, "sfA", "t_memo", builder)
    b = shared_plan(spark, "sfA", "t_memo", builder)
    assert a is b and calls["n"] == 1
    c = shared_plan(spark, "sfB", "t_memo", builder)
    assert calls["n"] == 2 and c is not a
    assert sorted(tuple(r) for r in a.collect()) == [
        (i, 2 * i) for i in range(5)
    ]
    assert a.storageLevel.useMemory  # persisted, spill-safe
    # cleanup so other tests' cache-clearing assertions stay valid
    for k in [k for k in _SHARED if k[2] == "t_memo"]:
        _SHARED.pop(k).unpersist()


def test_shared_plan_concurrent_distinct_keys_overlap(spark):
    """Per-key locking: two threads first-building DIFFERENT keys must
    run their builders concurrently (the old global lock serialized
    them), while two threads racing the SAME key build it exactly
    once. unpersist_shared() then releases every cached entry."""
    import threading
    import time

    from pyspark.sql import functions as F

    from pyspark_recs.workloads.common import (
        _SHARED,
        shared_plan,
        unpersist_shared,
    )

    inside = {"now": 0, "max": 0, "builds": 0}
    gate = threading.Lock()

    def slow_builder():
        with gate:
            inside["now"] += 1
            inside["builds"] += 1
            inside["max"] = max(inside["max"], inside["now"])
        time.sleep(0.4)  # hold the build open so overlap is observable
        with gate:
            inside["now"] -= 1
        return spark.range(3).select(F.col("id"))

    threads = [
        threading.Thread(
            target=lambda k=k: shared_plan(spark, "sfC", k, slow_builder)
        )
        for k in ("t_conc_a", "t_conc_b")
    ] + [
        threading.Thread(
            target=lambda: shared_plan(spark, "sfC", "t_conc_a", slow_builder)
        )
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert inside["max"] >= 2, "distinct keys serialized behind one lock"
    assert inside["builds"] == 2, "same key must build exactly once"

    assert any(k[2].startswith("t_conc_") for k in _SHARED)
    released = unpersist_shared(spark)
    assert released >= 2
    assert not any(k[2].startswith("t_conc_") for k in _SHARED)


def test_rs05_family_rides_shared_candidate_subplans(spark):
    """rs21/rs26 must consume the SAME session-cached candidate tables
    rs05 materializes (cf_top5 / brand_candidates) — the round-5
    sharing that took the family from ~2.5 s each to sub-0.5 s at
    sf0.1. Regression: a refactor that re-derives candidates per query
    would repopulate neither key nor show the cache in the plan."""
    from pyspark_recs.workloads import common
    from pyspark_recs.workloads.recsys import (
        rs05_item_cooccurrence,
        rs21_coldstart_fallback,
        rs26_rrf_fusion,
    )

    sfd = "/root/testdata/sf0.001"
    before = {k[2] for k in common._SHARED}
    r05 = rs05_item_cooccurrence(spark, sfd)
    r05.count()
    keys = {k[2] for k in common._SHARED}
    # cf_top5 is artifact_plan-backed since round 9: its memo key is
    # the fingerprinted stem (cf_top5_v<ARTIFACT_V>-<fp>)
    assert any(k.startswith("cf_top5_v") for k in keys), keys
    r21 = rs21_coldstart_fallback(spark, sfd)
    r21.count()
    r26 = rs26_rrf_fusion(spark, sfd)
    r26.count()
    keys = {k[2] for k in common._SHARED}
    assert "brand_candidates" in keys
    # both consumers read the cached table, not a rebuilt subtree
    for df in (r21, r26):
        assert "InMemoryTableScan" in df._jdf.queryExecution().executedPlan().toString()
    # release what this test materialized (other tests assert on cache state)
    for k in [
        k
        for k in common._SHARED
        if k[2] not in before and k[1].endswith("sf0.001")
    ]:
        common._SHARED.pop(k).unpersist()
