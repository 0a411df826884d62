"""Pipeline-parity tests for the H&M-shaped relational chain
(SURVEY §5.2): staging → dedup → join → filter reproduces hand-computed
rows, including the W1 frame trap, the J3 fan-out wart, and the
latest-ETL versioning. Plus dbt-style schema tests as engine asserts
(§5.3, schema.yml:4-18).
"""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from pyspark_recs.schemas import S3_URL_PREFIX
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


def assert_unique_not_null(df, col):
    """dbt schema tests (unique + not_null) via the engine's one-pass
    quality checker (pyspark_recs.quality)."""
    from pyspark_recs.quality import assert_schema

    assert_schema(df, unique=[col], not_null=[col])


def test_articles_staging_latest_batch_and_types(spark, raw_articles):
    staged = articles_staging(raw_articles)
    rows = staged.collect()
    # old-batch-only decoy article 99 must be gone; 4 articles remain
    assert {r.article_id for r in rows} == {1, 2, 3, 4}
    assert dict(staged.dtypes)["article_id"] == "int"
    assert dict(staged.dtypes)["product_group_name"] == "string"
    assert_unique_not_null(staged, "article_id")


def test_csv_ingest_roundtrip_into_articles_staging(spark, tmp_path):
    """S1-S4 end to end: headered CSV -> csv_to_envelope -> write_raw
    (two appended ETL batches) -> read_raw -> articles_staging keeps
    exactly the latest batch's rows, typed."""
    import csv

    from pyspark_recs.io.ingest import csv_to_envelope, read_raw, write_raw
    from pyspark_recs.schemas import ARTICLES_FIELDS
    from tests.conftest import (
        ARTICLES,
        NEW_BATCH,
        OLD_BATCH,
        OLD_ONLY_ARTICLE,
    )

    raw = str(tmp_path / "raw_articles")
    for name, rows, (etl_id, etl_ts) in (
        ("old.csv", ARTICLES + [OLD_ONLY_ARTICLE], OLD_BATCH),
        ("new.csv", ARTICLES, NEW_BATCH),
    ):
        path = tmp_path / name
        with open(path, "w", newline="") as f:
            writer = csv.DictWriter(f, fieldnames=list(ARTICLES[0]))
            writer.writeheader()
            writer.writerows(rows)
        envelope = csv_to_envelope(spark, str(path), "articles", etl_id, etl_ts)
        write_raw(envelope, raw)

    loaded = read_raw(spark, raw)
    assert sorted(
        (r.etl_id, r.etl_timestamp, r.event_type) for r in loaded.collect()
    ) == sorted(
        [(*OLD_BATCH, "articles")] * 5 + [(*NEW_BATCH, "articles")] * 4
    )
    expected = sorted(
        tuple(
            a[name] if dtype.typeName() == "string" else int(a[name])
            for name, dtype in ARTICLES_FIELDS
        )
        for a in ARTICLES
    )
    assert sorted(tuple(r) for r in articles_staging(loaded).collect()) == (
        expected
    )


def test_customers_staging_empty_string_defaulting(spark, raw_customers):
    staged = customers_staging(raw_customers)
    got = {r.customer_id: (r.active, r.fn, r.age) for r in staged.collect()}
    assert got["c1"] == (1.0, 0.0, 31.0)  # FN '' -> 0.0
    assert got["c2"] == (0.0, 1.0, 0.0)  # Active '', age '' -> 0.0
    assert got["c3"] == (0.0, 0.0, 45.0)
    assert_unique_not_null(staged, "customer_id")


def test_images_staging_url_synthesis(spark, raw_images):
    staged = images_staging(raw_images)
    got = {r.article_id: r.s3_url for r in staged.collect()}
    assert got == {
        1: f"{S3_URL_PREFIX}1.jpg",
        2: f"{S3_URL_PREFIX}2.jpg",
    }


def test_dedup_transactions_w1_semantics(spark, raw_transactions):
    """(article 1, c1): rows on 09-01 (x2 exact dup) and 09-03. After
    GROUP-BY-all dedup -> 2 rows; last_value overwrite -> both rows
    carry price 12.0 / channel 2 / t_dat 09-03 (becoming identical —
    the W2 wart preserves both)."""
    dedup = dedup_transactions(transactions_staging(raw_transactions))
    a1c1 = dedup.filter(
        (F.col("article_id") == 1) & (F.col("customer_id") == "c1")
    ).collect()
    assert len(a1c1) == 2  # wart: residual identical rows preserved
    for r in a1c1:
        assert r.price == 12.0
        assert r.sales_channel_id == 2
        assert r.t_dat == datetime.datetime(2020, 9, 3)


def test_articles_metadata_left_join_nulls(spark, raw_articles, raw_images):
    meta = articles_metadata(
        articles_staging(raw_articles), images_staging(raw_images)
    )
    got = {r.article_id: r.s3_url for r in meta.collect()}
    assert got[1] is not None and got[2] is not None
    assert got[3] is None and got[4] is None  # LEFT join keeps imageless


def test_joined_dataframe_no_duplicate_columns(
    spark, raw_articles, raw_customers, raw_transactions, raw_images
):
    joined = joined_dataframe(
        dedup_transactions(transactions_staging(raw_transactions)),
        articles_metadata(
            articles_staging(raw_articles), images_staging(raw_images)
        ),
        customers_staging(raw_customers),
    )
    assert len(joined.columns) == len(set(joined.columns))  # J3 wart fixed
    assert "s3_url" in joined.columns and "age" in joined.columns


def test_filtered_dataframe_frequency_semantics(
    spark, raw_articles, raw_customers, raw_transactions, raw_images
):
    """Post-dedup, c1's training-window rows are a1 x2 (09-03) and a2 x2
    (09-06) = 4: the last_value overwrite moves a3/a4 rows past the
    boundary because t_dat itself is overwritten (faithful reference
    semantics — dedup_transactions.sql overwrites T_DAT too). c2 has 2
    rows, c3 has 0. With min_purchases=4 only c1 survives, and its
    post-window rows (a3 x2 at 09-10, a4 x2 at 09-20) are kept (the
    filter restricts customers, not dates)."""
    joined = joined_dataframe(
        dedup_transactions(transactions_staging(raw_transactions)),
        articles_metadata(
            articles_staging(raw_articles), images_staging(raw_images)
        ),
        customers_staging(raw_customers),
    )
    filtered = filtered_dataframe(joined, "2020-09-08", min_purchases=4)
    custs = {r.customer_id for r in filtered.collect()}
    assert custs == {"c1"}
    post_window = filtered.filter(
        F.col("t_dat") >= F.lit("2020-09-08").cast("timestamp")
    )
    assert post_window.count() == 4  # a3 x2 + a4 x2 moved past boundary
    strict = filtered_dataframe(joined, "2020-09-08", min_purchases=5)
    assert strict.count() == 0  # nobody reaches 5 post-dedup


def test_quality_checks_report_violations(spark):
    from pyspark_recs.quality import (
        DataQualityError,
        assert_schema,
        schema_report,
    )
    import pytest as _pytest

    df = spark.createDataFrame(
        [(1, "a"), (1, "b"), (None, "c"), (3, "zz")],
        "id int, status string",
    )
    report = schema_report(
        df,
        unique=["id"],
        not_null=["id"],
        accepted_values={"status": ["a", "b", "c"]},
    )
    assert report == {
        "unique_id": 1,        # id=1 twice (NULL not counted, dbt semantics)
        "not_null_id": 1,      # one NULL
        "accepted_values_status": 1,  # 'zz'
    }
    with _pytest.raises(DataQualityError):
        assert_schema(df, unique=["id"])
    assert_schema(df.filter(F.col("id") == 3), unique=["id"], not_null=["id"])
