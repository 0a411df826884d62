"""End-to-end flow test (SURVEY §3.3): ingest fixtures → relational
chain → splits → Categorify → ALS grid → metrics → keyed export →
point-lookup serving semantics.
"""

from __future__ import annotations

import json

import pytest

from pyspark_recs.io.sinks import (
    kv_export,
    kv_export_parquet,
    point_lookup,
    predictions_table,
)
from pyspark_recs.pipeline import FlowConfig, run_flow, validate_config


def test_validate_config_fail_fast():
    with pytest.raises(ValueError):
        validate_config(
            FlowConfig(training_end_date="2020-09-15", validation_end_date="2020-09-08")
        )
    with pytest.raises(ValueError):
        validate_config(FlowConfig(sample_fraction=1.5))
    # before any Spark work: an empty grid used to fail only after the
    # training matrix and validation truth were cached and counted
    with pytest.raises(ValueError, match="param_grid"):
        validate_config(FlowConfig(param_grid=[]))
    with pytest.raises(ValueError, match="top_k"):
        validate_config(FlowConfig(top_k=0))


def test_run_flow_end_to_end(
    spark, raw_articles, raw_customers, raw_transactions, raw_images, tmp_path
):
    cfg = FlowConfig(
        training_end_date="2020-09-08",
        validation_end_date="2020-09-15",
        min_purchases=4,  # c1's post-dedup training rows (see staging tests)
        top_k=3,
        param_grid=[{"rank": 4, "max_iter": 5}],
    )
    export = str(tmp_path / "kv")
    result = run_flow(
        spark,
        raw_articles,
        raw_customers,
        raw_transactions,
        raw_images,
        cfg,
        export_path=export,
    )
    assert result.best_params == {"rank": 4, "max_iter": 5}
    assert "recall_at_3" in result.valid_metrics
    assert "recall_at_3" in result.test_metrics
    preds = result.predictions.collect()
    assert len(preds) >= 1  # c1 has test-window truth
    recs = json.loads(preds[0].recs)
    assert 1 <= len(recs) <= 3

    # S9 serving semantics: known user, unknown user -> sentinel default
    kv_export_parquet(result.predictions, export)
    known = point_lookup(spark, export, preds[0].userId)
    assert known == recs
    # no sentinel written by run_flow's parquet path -> empty default
    assert point_lookup(spark, export, "missing-user") == []


def test_run_flow_releases_what_it_caches(
    spark, raw_articles, raw_customers, raw_transactions, raw_images
):
    # The cache-lint teardown invariant, applied to the flow: every frame
    # run_flow or its (two-config, concurrent) grid caches is released
    # before it returns, so no later identical plan can be served from
    # this run's blocks; the ALS factor RDDs go with unpersist_shared.
    from pyspark_recs.workloads.common import (
        persistent_rdd_snapshot,
        unpersist_shared,
    )

    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    unpersist_shared(spark)
    assert cache_manager.isEmpty()  # precondition: nothing cached yet
    before = persistent_rdd_snapshot(spark)
    cfg = FlowConfig(
        min_purchases=4,
        top_k=3,
        param_grid=[{"rank": 4, "max_iter": 5}, {"rank": 2, "max_iter": 2}],
    )
    run_flow(spark, raw_articles, raw_customers, raw_transactions, raw_images, cfg)
    assert cache_manager.isEmpty()
    unpersist_shared(spark)
    assert persistent_rdd_snapshot(spark) == before


def test_predictions_table_shape_and_order(spark):
    recs = spark.createDataFrame(
        [(1, 30, 0.5, 2), (1, 10, 0.9, 1), (2, 20, 0.8, 1)],
        "user_id int, item_id int, score double, rank int",
    )
    table = {r.userId: json.loads(r.recs) for r in predictions_table(recs, k=2).collect()}
    assert table == {"1": ["10", "30"], "2": ["20"]}  # rank-ordered


def test_kv_export_sentinel(spark, tmp_path):
    preds = spark.createDataFrame(
        [("1", json.dumps(["10"]))], "userId string, recs string"
    )
    # put_batch runs on executors (separate Python workers), so capture
    # via the filesystem — exactly how a real KV client would be used.
    out_dir = tmp_path / "kv_puts"
    out_dir.mkdir()

    def put_batch(items):
        import os
        import uuid

        p = out_dir / f"{os.getpid()}-{uuid.uuid4().hex}.jsonl"
        with open(p, "w") as f:
            for item in items:
                f.write(json.dumps(item) + "\n")

    kv_export(preds, put_batch)
    store = {}
    for p in out_dir.glob("*.jsonl"):
        for line in p.read_text().splitlines():
            item = json.loads(line)
            store[item["userId"]] = item["recs"]
    assert json.loads(store["1"]) == ["10"]
    assert json.loads(store["no_user"]) == []  # serving smoke sentinel


def _kv_table_with_sentinel(spark, tmp_path):
    path = str(tmp_path / "kv")
    spark.createDataFrame(
        [("u1", json.dumps(["10", "30"])), ("no_user", json.dumps(["99"]))],
        "userId string, recs string",
    ).repartition(2).write.parquet(path)
    return path


def test_point_lookup_prefers_the_user_over_the_sentinel(spark, tmp_path):
    path = _kv_table_with_sentinel(spark, tmp_path)
    assert point_lookup(spark, path, "u1") == ["10", "30"]
    assert point_lookup(spark, path, "missing-user") == ["99"]


def test_point_lookup_miss_runs_as_many_jobs_as_a_hit(spark, tmp_path):
    path = _kv_table_with_sentinel(spark, tmp_path)
    sc = spark.sparkContext
    point_lookup(spark, path, "u1")  # warm-up

    def jobs(user_id, group):
        sc.setJobGroup(group, group)
        try:
            point_lookup(spark, path, user_id)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    # One scan job; the explicit schema leaves no inference job before it.
    hit = jobs("u1", "point-lookup-hit")
    assert hit == 1
    assert jobs("missing-user", "point-lookup-miss") == hit


def test_rs37_kv_export_table_is_valid_serving_json(spark):
    # S8's driver row (VERDICT r9 #3): every keyed-table value must be
    # the JSON the Lambda-side GET would json.loads — a list of ≤10
    # item-id strings — and the no_user sentinel must serve [].
    from pyspark_recs.workloads.recsys import rs37_kv_export_table

    rows = rs37_kv_export_table(spark, "/root/testdata/sf0.001").collect()
    by_user = {r.userId: json.loads(r.recs) for r in rows}
    assert by_user["no_user"] == []
    served = {u: v for u, v in by_user.items() if u != "no_user"}
    assert served  # at least one real user
    for recs in served.values():
        assert 1 <= len(recs) <= 10
        assert all(isinstance(x, str) for x in recs)
        assert len(set(recs)) == len(recs)  # neighbor lists are distinct


def test_rs38_log_line_roundtrips_the_keyed_row(spark):
    # S10's log line must json.loads back to exactly the keyed row —
    # field order, escaping and all (what df.write.json emits).
    from pyspark_recs.workloads.recsys import rs38_predictions_log

    from pyspark_recs.workloads.recsys import rs37_kv_export_table

    keyed = {
        r.userId: r.recs
        for r in rs37_kv_export_table(spark, "/root/testdata/sf0.001").collect()
    }
    rows = rs38_predictions_log(spark, "/root/testdata/sf0.001").collect()
    assert rows and len(rows) == len(keyed)
    for r in rows:
        assert json.loads(r.log_line) == {
            "userId": r.userId,
            "recs": keyed[r.userId],
        }
    # and one exact hand-check on the sentinel
    sent = [r for r in rows if r.userId == "no_user"]
    assert len(sent) == 1 and sent[0].log_line == (
        '{"userId":"no_user","recs":"[]"}'
    )


def test_rs39_pipeline_brackets_and_diversity_cap(spark):
    # The flagship lineage's bracket counts must equal independently
    # computed fact counts (ingest + latest-batch semantics), and every
    # serving list must respect the ≤2-per-brand diversity cap and the
    # top-5 size bound.
    from pyspark.sql import functions as F

    from pyspark_recs.io import load_table
    from pyspark_recs.workloads.recsys import rs39_e2e_pipeline

    sf = "/root/testdata/sf0.001"
    rows = rs39_e2e_pipeline(spark, sf).collect()
    li = load_table(spark, sf, "lineitem").select("l_orderkey")
    orders = load_table(spark, sf, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    facts = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
    n_all = facts.count()
    n_v1 = facts.filter(F.year("o_orderdate") < 1996).count()
    assert rows[0].n_raw == n_all + n_v1
    assert rows[0].n_latest == n_all

    part = {
        r.p_partkey: r.p_brand
        for r in load_table(spark, sf, "part")
        .select("p_partkey", "p_brand")
        .collect()
    }
    served = [r for r in rows if r.userId != "no_user"]
    assert served and any(r.userId == "no_user" for r in rows)
    for r in served:
        items = [int(x) for x in json.loads(r.recs)]
        assert 1 <= len(items) <= 5 and len(set(items)) == len(items)
        brands = [part[i] for i in items]
        assert all(brands.count(b) <= 2 for b in brands)  # slate cap


def test_rs40_selects_the_knee_point(spark):
    # M2's driver row: grid fan-out + exact argmax. At sf0.001 the
    # recall grid is {1: 33333, 3: 53333, 5: 66666, 10: 166666} ppm —
    # only N=10 keeps >=95% of the ceiling, so it must be the winner,
    # and exactly one config may carry the flag.
    from pyspark_recs.workloads.recsys import rs40_serving_config_selection

    rows = {
        r.n: r
        for r in rs40_serving_config_selection(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert set(rows) == {1, 3, 5, 10}
    assert [n for n, r in rows.items() if r.is_selected] == [10]
    ceiling = max(r.recall_ppm for r in rows.values())
    for n, r in rows.items():
        assert r.is_selected == (100 * r.recall_ppm >= 95 * ceiling and
                                 n == min(m for m, q in rows.items()
                                          if 100 * q.recall_ppm >= 95 * ceiling))
