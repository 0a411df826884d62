"""Retrieval model: ALS implicit-feedback as the Spark-native analog of
the reference's Two-Tower model (SURVEY §2.7 M1-M5).

The reference trains a TF Two-Tower (user tower ⊕ item tower, in-batch
negatives, my_merlin_flow.py:307-323) and serves brute-force top-k
(:333-345). Capability parity — "learn user & item vectors, retrieve
top-k by inner product" — maps to MLlib ``ALS(implicitPrefs=True)``:
the towers degenerate to id embeddings, and
``recommendForUserSubset`` is the blocked-GEMM top-k (no crossJoin).

Grid-search fan-out (M2, my_merlin_flow.py:248-263) runs explicit
time-split evaluation — NOT random CV — and runs the configs
concurrently, matching the reference's parallel foreach over
hyperparameter configs.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def train_als(
    interactions: DataFrame,
    rank: int = 64,
    max_iter: int = 10,
    reg_param: float = 0.1,
    alpha: float = 1.0,
    seed: int = 42,
    user_col: str = "user_id",
    item_col: str = "item_id",
    rating_col: str = "n_purchases",
):
    """Fit implicit-feedback ALS on a (user, item, strength) matrix.

    Scale: ALS partitions the rating matrix into blocks; set
    num{User,Item}Blocks ~ cluster cores at real scale. Ids must be
    int-typed — the Categorify estimator (features/) produces exactly
    that contract, mirroring the reference's NVT Categorify
    (workflow_builder.py:18-24)."""
    from pyspark.ml.recommendation import ALS

    als = ALS(
        rank=rank,
        maxIter=max_iter,
        regParam=reg_param,
        alpha=alpha,
        implicitPrefs=True,
        userCol=user_col,
        itemCol=item_col,
        ratingCol=rating_col,
        coldStartStrategy="drop",
        seed=seed,
    )
    # Pin the ratings input to core-count partitions before the fit:
    # ALS re-blocks internally, but the blockify stages inherit the
    # input's partition count, so a vanilla session's 200 shuffle
    # partitions schedule 200 tiny tasks per iteration barrier. HASH
    # partitioning on the (user, item) key + an intra-partition sort
    # (not round-robin, which inherits the input layout) makes the
    # physical layout — and so any order-sensitive float accumulation
    # in the normal-equation blocks — a pure function of the data,
    # independent of session conf (same fix as model/content.py's
    # _pin_fit_layout).
    ratings = interactions.select(
        F.col(user_col).cast("int").alias(user_col),
        F.col(item_col).cast("int").alias(item_col),
        F.col(rating_col).cast("float").alias(rating_col),
    )
    n = ratings.sparkSession.sparkContext.defaultParallelism
    # rating_col joins the sort keys so the order is TOTAL for any
    # input: callers today pass (user,item)-aggregated frames, but the
    # API is general and duplicate (user,item) rows with different
    # ratings would otherwise make the layout input-order-dependent.
    # MLlib keeps the fitted factor RDDs ("userFactors"/"itemFactors")
    # persisted with no DataFrame to unpersist — register the ids this
    # fit created, so session teardown (unpersist_shared) releases them
    # (the r89 cache-lint class).
    from pyspark_recs.workloads.common import persisted_ids, register_persisted

    spark = ratings.sparkSession
    pre = persisted_ids(spark)
    model = als.fit(
        ratings.repartition(n, user_col, item_col).sortWithinPartitions(
            user_col, item_col, rating_col
        )
    )
    register_persisted(spark, persisted_ids(spark) - pre)
    return model


def recommend_topk(model, users: DataFrame, k: int = 10) -> DataFrame:
    """Top-k retrieval for a user subset, exploded to
    (user_id, item_id, score, rank) — the keyed predictions-table shape
    (M5, my_merlin_flow.py:524-537).

    recommendForUserSubset performs the blocked matrix-multiply top-k
    inside MLlib — never a crossJoin (SURVEY §4 custom-work item 2)."""
    user_col = model.getUserCol()
    recs = model.recommendForUserSubset(
        users.select(F.col(user_col).cast("int").alias(user_col)), k
    )
    return recs.select(
        user_col,
        F.posexplode("recommendations").alias("pos", "rec"),
    ).select(
        F.col(user_col).alias("user_id"),
        F.col("rec.item_id").alias("item_id"),
        F.col("rec.rating").cast("double").alias("score"),
        (F.col("pos") + 1).alias("rank"),
    )


def rerank_with_features(
    candidates: DataFrame,
    item_features: DataFrame,
    feature_weights: dict[str, float],
    k: int = 5,
    als_weight: float = 1.0,
    item_col: str = "item_id",
    user_col: str = "user_id",
    score_col: str = "score",
) -> DataFrame:
    """Content-feature re-ranker over retrieval candidates (closing the
    M1 gap: the reference's item tower consumes 12 item content features,
    workflow_builder.py:43-58, while ALS sees ids only — so content
    enters here, as a second-stage scorer over the retrieved top-k).

    ``item_features`` is (item_id, <numeric feature columns>) — e.g.
    Categorify-encoded then aggregated/z-scored item attributes. The
    blend is linear: ``final = als_weight·score + Σ w_f · feature_f``;
    missing features default to 0 (the OOV-neutral convention), so
    candidates never drop out of the slate for lacking metadata.

    Scale: the candidate set is O(users·k_retrieve) — tiny next to the
    fact tables — and the feature table is O(items), so the join
    broadcasts the features; the re-rank window shuffles only candidate
    rows (WindowGroupLimit prunes per task). This is the standard
    two-stage retrieve→rank split: never score all items with the
    ranker.

    Output: (user_id, item_id, final_score, rank) with rank ≤ k,
    deterministic tiebreak by item_id.
    """
    from pyspark.sql import Window

    feats = item_features.select(
        item_col, *[F.col(c) for c in feature_weights]
    )
    joined = candidates.join(F.broadcast(feats), item_col, "left").fillna(
        {c: 0.0 for c in feature_weights}
    )
    final = F.lit(als_weight) * F.col(score_col)
    for c, w in feature_weights.items():
        final = final + F.lit(w) * F.col(c)
    w_rank = Window.partitionBy(user_col).orderBy(
        F.desc("final_score"), F.asc(item_col)
    )
    return (
        joined.withColumn("final_score", final)
        .withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= k)
        .select(user_col, item_col, "final_score", "rank")
    )


@dataclass
class GridResult:
    params: dict
    metrics: dict
    model: object


def grid_search(
    train: DataFrame,
    valid_truth: DataFrame,
    param_grid: list[dict],
    k: int = 10,
    seed: int = 42,
    train_fn=None,
) -> list[GridResult]:
    """Explicit hyperparameter fan-out with time-split validation (M2) +
    argmax selection by recall@k (A4, my_merlin_flow.py:355-364).

    The reference runs the configs as a parallel foreach
    (my_merlin_flow.py:263, ``--max-workers 4``); here every config is
    submitted at once from a pool of ``min(len(param_grid),
    defaultParallelism)`` driver threads, and their jobs share the
    session's default FIFO scheduler. The threads only coordinate: what
    they overlap is the driver-side work of each fit (py4j round trips,
    planning, MLlib's per-iteration job submission), which otherwise
    leaves the executors idle between jobs. All data work stays on
    executors.

    Every config reads the same training matrix and validation truth,
    so both are cached and materialized once, before the fan-out, and
    released when this returns; the fits never re-run their upstream
    lineage. Returns results sorted best-first by recall@k (ties broken
    by grid order, deterministically).

    ``train_fn`` overrides the trainer (tests inject instrumented
    trainers); defaults to ``train_als``."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark_recs.model.metrics import ranking_metrics
    from pyspark_recs.workloads.common import held

    fit = train_fn or train_als
    sc = train.sparkSession.sparkContext
    workers = min(len(param_grid), sc.defaultParallelism)
    with held(train, valid_truth) as (train, valid_truth):
        train.count()
        valid_truth.count()
        users = valid_truth.select("user_id").distinct()

        def run_one(params):
            model = fit(train, seed=seed, **params)
            preds = recommend_topk(model, users, k=k)
            metrics = ranking_metrics(preds, valid_truth, k=k)
            return GridResult(params=params, metrics=metrics, model=model)

        with ThreadPoolExecutor(max_workers=workers) as pool:
            results = list(pool.map(run_one, param_grid))
    return sorted(
        results, key=lambda r: r.metrics[f"recall_at_{k}"], reverse=True
    )
