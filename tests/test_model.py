"""ML sanity gates (SURVEY §5.4): seeded planted-structure dataset with
a deterministic recall floor, hand-computed ranking metrics, grid-search
argmax selection.
"""

from __future__ import annotations

import pytest

from pyspark_recs.model import (
    grid_search,
    ranking_metrics,
    recommend_topk,
    train_als,
)


@pytest.fixture(scope="module")
def planted(spark):
    """Two disjoint clusters: users 0-19 buy items 0-9, users 20-39 buy
    items 10-19. Heldout = one in-cluster item per user."""
    rows, truth = [], []
    for u in range(40):
        lo, hi = (0, 10) if u < 20 else (10, 20)
        items = list(range(lo, hi))
        held = items[u % 10]
        for i in items:
            if i != held:
                rows.append((u, i, 3.0))
        truth.append((u, held))
    train = spark.createDataFrame(
        rows, "user_id int, item_id int, n_purchases double"
    )
    heldout = spark.createDataFrame(truth, "user_id int, item_id int")
    return train, heldout


def test_als_learns_cluster_structure(spark, planted):
    train, heldout = planted
    model = train_als(train, rank=8, max_iter=10, seed=42)
    users = heldout.select("user_id").distinct()
    preds = recommend_topk(model, users, k=10)
    m = ranking_metrics(preds, heldout, k=10)
    # The held-out item is the only unseen in-cluster item; implicit ALS
    # must place it in the top-10 for nearly all users.
    assert m["recall_at_10"] > 0.8
    assert m["ndcg_at_10"] > 0.3
    assert m["n_users"] == 40


def test_ranking_metrics_hand_computed(spark):
    # user 1: truth {a}, predicted rank1=a -> recall 1, ndcg 1
    # user 2: truth {a, b}, predicted rank1=x, rank2=a -> recall 1/2,
    #   dcg = 1/log2(3), idcg = 1 + 1/log2(3) (2 ideal hits)
    preds = spark.createDataFrame(
        [(1, "a", 1), (1, "x", 2), (2, "x", 1), (2, "a", 2)],
        "user_id int, item_id string, rank int",
    )
    truth = spark.createDataFrame(
        [(1, "a"), (2, "a"), (2, "b")], "user_id int, item_id string"
    )
    m = ranking_metrics(preds, truth, k=2)
    import math

    dcg2 = 1.0 / math.log2(3)
    idcg2 = 1.0 + dcg2
    assert m["recall_at_2"] == pytest.approx((1.0 + 0.5) / 2)
    assert m["ndcg_at_2"] == pytest.approx((1.0 + dcg2 / idcg2) / 2)


def test_ranking_metrics_user_without_hits(spark):
    preds = spark.createDataFrame([(1, "x", 1)], "user_id int, item_id string, rank int")
    truth = spark.createDataFrame(
        [(1, "a"), (2, "b")], "user_id int, item_id string"
    )
    m = ranking_metrics(preds, truth, k=5)
    assert m["recall_at_5"] == 0.0
    assert m["n_users"] == 2  # truth users with no preds still count


def test_grid_search_selects_best(spark, planted):
    train, heldout = planted
    results = grid_search(
        train,
        heldout,
        param_grid=[
            {"rank": 8, "max_iter": 10},
            {"rank": 2, "max_iter": 1},
        ],
        k=10,
    )
    assert len(results) == 2
    # best-first ordering (A4 argmax)
    assert (
        results[0].metrics["recall_at_10"] >= results[1].metrics["recall_at_10"]
    )
    assert results[0].params["rank"] == 8


def test_rerank_with_features_moves_feature_favored_item(spark):
    """Hand-computed: candidate C trails on retrieval score but its
    feature blend lifts it to rank 1; missing features default to 0."""
    from pyspark.sql import functions as F

    from pyspark_recs.model import rerank_with_features

    cands = spark.createDataFrame(
        [(1, 10, 3.0), (1, 20, 2.9), (1, 30, 2.8)],
        "user_id int, item_id int, score double",
    )
    feats = spark.createDataFrame(
        [(30, 5.0), (10, 0.0)],  # item 20 has no feature row -> 0
        "item_id int, boost double",
    )
    out = rerank_with_features(
        cands, feats, feature_weights={"boost": 0.1}, k=3
    ).orderBy("rank")
    rows = [(r.item_id, r.final_score, r.rank) for r in out.collect()]
    # 30: 2.8 + 0.5 = 3.3 ; 10: 3.0 ; 20: 2.9
    assert [r[0] for r in rows] == [30, 10, 20]
    assert abs(rows[0][1] - 3.3) < 1e-12


def test_rerank_zero_weights_preserves_retrieval_order(spark):
    from pyspark_recs.model import rerank_with_features

    cands = spark.createDataFrame(
        [(1, 10, 3.0), (1, 20, 2.0), (2, 10, 1.0), (2, 30, 5.0)],
        "user_id int, item_id int, score double",
    )
    feats = spark.createDataFrame([(10, 99.0)], "item_id int, boost double")
    out = rerank_with_features(
        cands, feats, feature_weights={"boost": 0.0}, k=2
    )
    got = {(r.user_id, r.rank): r.item_id for r in out.collect()}
    assert got == {(1, 1): 10, (1, 2): 20, (2, 1): 30, (2, 2): 10}


def test_rerank_on_als_candidates_keeps_recall_floor(spark, planted):
    """Two-stage ALS retrieve -> content re-rank: with a mild in-cluster
    feature boost the held-out item stays in the top-10 (recall floor
    holds through the second stage)."""
    from pyspark_recs.model import (
        ranking_metrics,
        recommend_topk,
        rerank_with_features,
        train_als,
    )

    train, heldout = planted
    model = train_als(train, rank=8, max_iter=10, seed=42)
    users = heldout.select("user_id").distinct()
    cands = recommend_topk(model, users, k=20)
    # feature: cluster-0 items get a small boost — orthogonal enough not
    # to evict true in-cluster candidates from anyone's top-10
    feats = spark.createDataFrame(
        [(i, 0.05 if i < 10 else 0.0) for i in range(20)],
        "item_id int, cluster0_affinity double",
    )
    reranked = rerank_with_features(
        cands, feats, feature_weights={"cluster0_affinity": 0.1}, k=10
    ).withColumnRenamed("final_score", "score")
    m = ranking_metrics(reranked, heldout, k=10)
    assert m["recall_at_10"] > 0.8


def test_grid_search_parallel_matches_sequential(spark, planted):
    """grid_search submits its fits concurrently (distinct threads
    observed) over inputs it caches once, and every result equals a
    plain sequential loop over the uncached inputs, exactly."""
    import threading

    train, heldout = planted
    grid = [
        {"rank": 8, "max_iter": 10},
        {"rank": 2, "max_iter": 1},
    ]
    seen_threads = []

    def instrumented(df, seed=42, **params):
        seen_threads.append(threading.current_thread().name)
        return train_als(df, seed=seed, **params)

    results = grid_search(train, heldout, grid, k=10, train_fn=instrumented)
    assert len(set(seen_threads)) == 2  # genuinely fanned out

    users = heldout.select("user_id").distinct()
    seq = []
    for params in grid:
        model = train_als(train, seed=42, **params)
        preds = recommend_topk(model, users, k=10)
        seq.append((params, ranking_metrics(preds, heldout, k=10)))
    seq.sort(key=lambda pm: pm[1]["recall_at_10"], reverse=True)
    assert [(r.params, r.metrics) for r in results] == seq
    assert results[0].params["rank"] == 8


def _planted_content_data(spark):
    """Planted CONTENT preference: every user prefers CHEAP items —
    price_bucket fully determines the label, ids carry no signal. A
    trained content model must learn the negative price weight; an
    id-only model (ALS) cannot express this for unseen items."""
    from pyspark.sql import functions as F

    from pyspark_recs.model.content import FEATURE_COLS, ContentTrainingData

    def featurize(df):
        out = df
        for c in FEATURE_COLS:
            if c == "price_bucket":
                continue
            out = out.withColumn(c, F.lit(0.0))
        return out

    rows = []
    for u in range(30):
        for j in range(10):
            cheap_item = 1000 + j          # price bucket 1..3
            costly_item = 2000 + j         # price bucket 15..18
            rows.append((u, cheap_item, 1.0, float(1 + j % 3)))
            rows.append((u, costly_item, 0.0, float(15 + j % 4)))
    train = featurize(
        spark.createDataFrame(
            rows, "user_id long, item_id long, label double, price_bucket double"
        )
    )
    # eval: UNSEEN items, same content rule — 5 cheap (truth) + 15
    # costly per user
    cand_rows, truth_rows = [], []
    for u in range(30):
        for j in range(5):
            cand_rows.append((u, 5000 + j, float(2 + j % 2)))
            truth_rows.append((u, 5000 + j))
        for j in range(15):
            cand_rows.append((u, 6000 + j, float(16 + j % 3)))
    cands = featurize(
        spark.createDataFrame(
            cand_rows, "user_id long, item_id long, price_bucket double"
        )
    )
    truth = spark.createDataFrame(truth_rows, "user_id long, item_id long")
    return ContentTrainingData(train=train, eval_candidates=cands, truth=truth)


def test_content_model_learns_planted_preference(spark):
    """Deterministic floor for the trained content ranker (M1 parity):
    with a planted price-only preference, the model must rank every
    user's 5 unseen cheap items above the 15 unseen costly ones —
    recall@10 ≈ 1.0 (floor 0.9), which an id-only recommender cannot
    achieve on unseen items."""
    from pyspark_recs.model.content import (
        score_candidates,
        train_content_model,
    )

    data = _planted_content_data(spark)
    assembler, model = train_content_model(data.train, max_iter=20)
    preds = score_candidates(assembler, model, data.eval_candidates, k=10)
    m = ranking_metrics(preds, data.truth, k=10)
    assert m["n_users"] == 30
    assert m["recall_at_10"] > 0.9
    assert m["ndcg_at_10"] > 0.6
    # the learned weight is genuinely content-driven: price coefficient
    # is negative (cheap preferred)
    from pyspark_recs.model.content import FEATURE_COLS

    w = dict(zip(FEATURE_COLS, model.coefficients.toArray()))
    assert w["price_bucket"] < 0


def test_rs30_ensemble_bracket_flags_hold(spark):
    """End-to-end serving-stack ensemble (rs30): at sf0.001 the bracket
    row's protocol counts are positive and every quality flag holds —
    the fused top-10 matches or beats both sources and each user got
    exactly least(10, n_candidates) fused rows. This is the full
    retrieve -> rank -> fuse -> top-k -> metric DAG in one query."""
    from pyspark_recs.workloads.recsys import rs30_ensemble_eval

    row = rs30_ensemble_eval(spark, "/root/testdata/sf0.001").collect()[0]
    assert row.n_eval_users > 100
    assert row.n_candidates > row.n_eval_users * 50  # ~99 negs + holdout
    assert row.k_per_user_ok
    assert row.ens_hit_ge_als
    assert row.ens_hit_ge_content


def test_rs32_joint_model_protocol(spark):
    """Joint id+content model (rs32): protocol facts and the serving
    contract hold at sf0.001. The quality flag is NOT asserted here —
    at ~82 eval users the cross features are below their data
    requirement (rs32 docstring); test_rs32_joint_beats_content
    asserts it at the driver-contract scale."""
    from pyspark_recs.workloads.recsys import rs32_joint_feature_eval

    row = rs32_joint_feature_eval(spark, "/root/testdata/sf0.001").collect()[0]
    assert row.n_eval_users > 50
    assert row.n_candidates > row.n_eval_users * 50
    assert row.k_per_user_ok
    # below the 500-eval-user data requirement the flag holds trivially
    assert row.n_eval_users < 500 and row.joint_hit_ge_content


def test_rs32_joint_beats_content(spark):
    """At sf0.01 (the driver-contract scale) the hashed user×content
    cross features must buy real personalization: joint hit@10 ≥
    content-only hit@10 (measured +0.0225, ~33 users of margin — see
    the rs32 docstring; re-baseline via tools/rebaseline_floors.py)."""
    from pyspark_recs.workloads.recsys import rs32_joint_feature_eval

    row = rs32_joint_feature_eval(spark, "/root/testdata/sf0.01").collect()[0]
    assert row.k_per_user_ok
    assert row.joint_hit_ge_content
