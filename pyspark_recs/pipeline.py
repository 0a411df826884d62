"""End-to-end recsys flow (SURVEY §3.3): the reference's 10-step
Metaflow DAG as one lazily-composed Spark driver program.

    ingest → staging → dedup → join → frequency-filter → time-split
    → feature fit (on union) / transform (per split)
    → ALS grid fan-out → argmax selection → test metrics
    → top-k inference → keyed export

Every step is a DataFrame→DataFrame function; the only true barriers
are fit-before-transform and train-before-evaluate. Artifacts
(dictionaries, models, predictions) persist as parquet — no pickled
driver state, no artifact tarballs (SURVEY §2.1 S12 is deliberately
unnecessary here).

A frame is cached only where more than one action consumes it, and only
for the block that consumes it (``workloads.common.held``), so it is
released before ``run_flow`` returns:

- the filtered ``dataset``: the Categorify fit and all three splits;
- the grid's training interactions and validation truth (cached inside
  ``grid_search``): every config's fit and evaluation, with the configs
  running concurrently on ``min(len(param_grid), defaultParallelism)``
  driver threads;
- the test-split top-k predictions: the test metrics and the keyed
  export.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark_recs.io.sinks import kv_export_parquet, predictions_table
from pyspark_recs.model.metrics import ranking_metrics
from pyspark_recs.model.retrieval import grid_search, recommend_topk
from pyspark_recs.sql.staging import (
    articles_metadata,
    articles_staging,
    customers_staging,
    dedup_transactions,
    filtered_dataframe,
    images_staging,
    joined_dataframe,
    transactions_staging,
)


@dataclass
class FlowConfig:
    """Mirrors the reference's flow Parameters (my_merlin_flow.py:42-95)."""

    training_end_date: str = "2020-09-08"
    validation_end_date: str = "2020-09-15"
    min_purchases: int = 5
    top_k: int = 10
    sample_fraction: float = 0.0  # S5: dev-mode row sampling; 0 = off
    data_checks: bool = True  # dbt schema.yml contracts as a flow gate
    param_grid: list = field(
        default_factory=lambda: [
            {"rank": 32, "max_iter": 5, "reg_param": 0.1},
            {"rank": 16, "max_iter": 5, "reg_param": 0.1},
        ]
    )
    seed: int = 42


@dataclass
class FlowResult:
    best_params: dict
    valid_metrics: dict
    test_metrics: dict
    predictions: DataFrame


def validate_config(cfg: FlowConfig) -> None:
    """start-step fail-fast checks (my_merlin_flow.py:97-132)."""
    if cfg.validation_end_date <= cfg.training_end_date:
        raise ValueError("validation_end_date must be after training_end_date")
    if not 0.0 <= cfg.sample_fraction <= 1.0:
        raise ValueError("sample_fraction must be in [0, 1]")
    if not cfg.param_grid:
        raise ValueError("param_grid must hold at least one config")
    if cfg.top_k < 1:
        raise ValueError("top_k must be at least 1")


def build_dataset(
    raw_articles: DataFrame,
    raw_customers: DataFrame,
    raw_transactions: DataFrame,
    raw_images: DataFrame,
    cfg: FlowConfig,
) -> DataFrame:
    """The relational layer: staging → dedup → join → frequency filter
    (the dbt ref-graph, fused into one Catalyst plan)."""
    articles = articles_staging(raw_articles)
    customers = customers_staging(raw_customers)
    transactions = transactions_staging(raw_transactions)
    images = images_staging(raw_images)
    if cfg.data_checks:
        # The reference's only formal tests (dbt schema.yml:4-18) as a
        # fail-fast gate: one aggregation pass per staged dim.
        from pyspark_recs.quality import assert_schema

        assert_schema(articles, unique=["article_id"], not_null=["article_id"])
        assert_schema(
            customers, unique=["customer_id"], not_null=["customer_id"]
        )
    meta = articles_metadata(articles, images)
    dedup = dedup_transactions(transactions)
    joined = joined_dataframe(dedup, meta, customers)
    if cfg.sample_fraction:
        joined = joined.sample(cfg.sample_fraction, seed=cfg.seed)
    return filtered_dataframe(joined, cfg.training_end_date, cfg.min_purchases)


def time_splits(
    df: DataFrame, cfg: FlowConfig
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """P7: three boundary filters (my_merlin_flow.py:196-199). With a
    date-partitioned fact table these are partition-pruning scans."""
    d1 = F.lit(cfg.training_end_date).cast("timestamp")
    d2 = F.lit(cfg.validation_end_date).cast("timestamp")
    t = F.col("t_dat")
    return (
        df.filter(t < d1),
        df.filter((t >= d1) & (t < d2)),
        df.filter(t >= d2),
    )


def interactions_from(df: DataFrame) -> DataFrame:
    """(user, item, strength) matrix with integer ids for ALS. customer
    ids are hex strings in the reference — Categorify-style dictionary
    codes make them ALS-compatible (features/categorify.py); here the
    hash-free path joins the dictionaries built by the caller."""
    return df.groupBy(
        F.col("customer_code").alias("user_id"),
        F.col("article_id").alias("item_id"),
    ).agg(F.count(F.lit(1)).alias("n_purchases"))


def run_flow(
    spark: SparkSession,
    raw_articles: DataFrame,
    raw_customers: DataFrame,
    raw_transactions: DataFrame,
    raw_images: DataFrame,
    cfg: FlowConfig | None = None,
    export_path: str | None = None,
) -> FlowResult:
    """The full DAG. Returns metrics + the keyed predictions table."""
    from pyspark_recs.features.categorify import Categorify
    from pyspark_recs.workloads.common import held

    cfg = cfg or FlowConfig()
    validate_config(cfg)

    # Consumed by the Categorify fit and by all three splits.
    with held(
        build_dataset(
            raw_articles, raw_customers, raw_transactions, raw_images, cfg
        )
    ) as (dataset,):
        train, valid, test = time_splits(dataset, cfg)

        # Categorify fit on the union = the whole filtered dataset (O5
        # semantics, my_merlin_flow.py:233): shared category space.
        cat = Categorify(["customer_id"]).fit(dataset)
        encode = lambda df: cat.transform(df).withColumnRenamed(  # noqa: E731
            "customer_id_code", "customer_code"
        )

        def truth(df):
            return (
                encode(df)
                .select(
                    F.col("customer_code").alias("user_id"),
                    F.col("article_id").alias("item_id"),
                )
                .distinct()
            )

        test_truth = truth(test)

        # M2 fan-out + A4 argmax selection.
        results = grid_search(
            interactions_from(encode(train)),
            truth(valid),
            cfg.param_grid,
            k=cfg.top_k,
            seed=cfg.seed,
        )
        best = results[0]

        # Held-out test metrics (M3) + batch top-k inference (M4/M5).
        # The predictions feed both the metrics and the export, so the
        # recommendForUserSubset cross-join runs once.
        test_users = test_truth.select("user_id").distinct()
        with held(
            recommend_topk(best.model, test_users, k=cfg.top_k)
        ) as (preds,):
            test_metrics = ranking_metrics(preds, test_truth, k=cfg.top_k)
            keyed = predictions_table(preds, k=cfg.top_k)
            if export_path:
                kv_export_parquet(keyed, export_path)

    return FlowResult(
        best_params=best.params,
        valid_metrics=best.metrics,
        test_metrics=test_metrics,
        predictions=keyed,
    )
