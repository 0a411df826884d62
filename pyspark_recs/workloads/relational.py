"""Relational operator workloads (SURVEY.md §2.1-2.6) over the driver
testdata, each with a DuckDB oracle twin.

Query naming: rNN_<operator>. Every computed column is aliased
identically in the Spark plan and the oracle SQL (the driver hashes
columns by name).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyspark_recs.io import load_table
from pyspark_recs.sql import (
    argmax_per_group,
    bucketize_fixed_width,
    categorify_dictionary,
    dedup_last_value,
    frequency_filter,
    latest_batch,
    left_enrich,
    ranked_by_range,
    time_split_label,
    top_k_per_group,
)
from pyspark_recs.llmops.hashing import md5_long, sql_md5_long
from pyspark_recs.workloads.common import davg, dsum, sql_davg, sql_dsum

TRAIN_END = "2000-01-01"
VALID_END = "2001-01-01"


# --------------------------------------------------------------------- r01
def r01_pricing_summary(spark: SparkSession, sf: str) -> DataFrame:
    """Flagship scan+filter+hash-aggregate (A1 shape; TPC-H Q1 pattern).

    Scale: filter pushed to the parquet scan; partial aggregation
    map-side; 6-group output — the shuffle moves only partial aggregates.
    """
    li = load_table(spark, sf, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(charge).alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


R01_SQL = f"""
SELECT l_returnflag, l_linestatus,
       {sql_dsum('l_quantity')} AS sum_qty,
       {sql_dsum('l_extendedprice')} AS sum_base_price,
       {sql_dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
       {sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
       {sql_davg('l_quantity')} AS avg_qty,
       {sql_davg('l_extendedprice')} AS avg_price,
       {sql_davg('l_discount')} AS avg_disc,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-01'
GROUP BY l_returnflag, l_linestatus
"""


# --------------------------------------------------------------------- r02
def r02_frequent_customers(spark: SparkSession, sf: str) -> DataFrame:
    """Frequency filter with kept count (A1: COUNT GROUP BY HAVING >= k,
    filtered_dataframe.sql:1-12) joined to the dim."""
    orders = load_table(spark, sf, "orders")
    customer = load_table(spark, sf, "customer")
    freq = (
        orders.filter(F.col("o_orderdate") < F.lit(TRAIN_END).cast("timestamp"))
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("num_orders"))
        .filter(F.col("num_orders") >= 8)
    )
    return (
        customer.join(freq, customer.c_custkey == freq.o_custkey, "inner")
        .select("c_custkey", "c_name", "num_orders")
    )


R02_SQL = f"""
SELECT c_custkey, c_name, CAST(num_orders AS BIGINT) AS num_orders
FROM customer
JOIN (
  SELECT o_custkey, count(*) AS num_orders
  FROM orders WHERE o_orderdate < TIMESTAMP '{TRAIN_END}'
  GROUP BY o_custkey HAVING count(*) >= 8
) f ON c_custkey = f.o_custkey
"""


# --------------------------------------------------------------------- r03
def r03_frequent_customer_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Left-semi frequency filter of the fact table (J4,
    filtered_dataframe.sql:13-19), then aggregate."""
    orders = load_table(spark, sf, "orders")
    kept = frequency_filter(
        orders,
        key="o_custkey",
        min_count=8,
        pred=F.col("o_orderdate") < F.lit(TRAIN_END).cast("timestamp"),
    )
    return kept.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("revenue"),
    )


R03_SQL = f"""
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
       {sql_dsum('o_totalprice')} AS revenue
FROM orders
WHERE o_custkey IN (
  SELECT o_custkey FROM orders WHERE o_orderdate < TIMESTAMP '{TRAIN_END}'
  GROUP BY o_custkey HAVING count(*) >= 8)
GROUP BY o_orderpriority
"""


# --------------------------------------------------------------------- r04
def r04_dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    """GROUP-BY-all-columns dedup (A2, dedup_transactions.sql:9-14)."""
    li = load_table(spark, sf, "lineitem")
    return li.select("l_returnflag", "l_linestatus", "l_shipdate").dropDuplicates()


R04_SQL = "SELECT DISTINCT l_returnflag, l_linestatus, l_shipdate FROM lineitem"


# --------------------------------------------------------------------- r05
def r05_dedup_last_value(spark: SparkSession, sf: str) -> DataFrame:
    """W1: whole-partition-frame last_value overwrite after distinct
    (dedup_transactions.sql:1-17 semantics, incl. the Snowflake frame
    default — see pyspark_recs.sql.transforms.dedup_last_value)."""
    ev = load_table(spark, sf, "events").select(
        "user_id", "event_type", "value", "ts"
    )
    return dedup_last_value(
        ev,
        group_keys=["user_id", "event_type"],
        order_cols=["ts", "value"],
        value_cols=["value"],
    ).select("user_id", "event_type", "ts", "value")


R05_SQL = """
WITH d AS (SELECT DISTINCT user_id, event_type, value, ts FROM events)
SELECT user_id, event_type, ts,
       last_value(value) OVER (
         PARTITION BY user_id, event_type ORDER BY ts, value
         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS value
FROM d
"""


# --------------------------------------------------------------------- r06
def r06_latest_batch(spark: SparkSession, sf: str) -> DataFrame:
    """Latest-batch filter (P2/J1/O2: 1-row CTE broadcast-joined to the
    big table, articles_staging.sql:1-7,23-26), batched by event day."""
    ev = load_table(spark, sf, "events").withColumn(
        "batch_day", F.to_date("ts")
    )
    return (
        latest_batch(ev, batch_col="batch_day", order_col="batch_day")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )
    )


R06_SQL = f"""
WITH latest AS (
  SELECT CAST(ts AS DATE) AS batch_day FROM events
  ORDER BY batch_day DESC LIMIT 1)
SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
       {sql_dsum('value')} AS total_value
FROM events e JOIN latest l ON CAST(e.ts AS DATE) = l.batch_day
GROUP BY event_type
"""


# --------------------------------------------------------------------- r07
def r07_json_extract(spark: SparkSession, sf: str) -> DataFrame:
    """Schema-on-read JSON path extraction + cast + null defaulting
    (P1+P3: RAW_DATA:"field"::TYPE, articles_staging.sql:10-22;
    COALESCE(NULLIF(...)) customers_staging.sql:11-13)."""
    ev = load_table(spark, sf, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k_val"),
        F.coalesce(
            F.get_json_object("props", "$.missing").cast("double"), F.lit(0.0)
        ).alias("missing_v"),
    )


R07_SQL = """
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val,
       COALESCE(CAST(json_extract_string(props, '$.missing') AS DOUBLE), 0.0)
         AS missing_v
FROM events
"""


# --------------------------------------------------------------------- r08
def r08_url_synthesis(spark: SparkSession, sf: str) -> DataFrame:
    """String concat projection (P4, images_staging.sql:10)."""
    part = load_table(spark, sf, "part")
    return part.select(
        "p_partkey",
        F.concat(
            F.lit("https://img.example.com/"),
            F.col("p_partkey").cast("string"),
            F.lit(".jpg"),
        ).alias("img_url"),
    )


R08_SQL = """
SELECT p_partkey,
       'https://img.example.com/' || CAST(p_partkey AS VARCHAR) || '.jpg'
         AS img_url
FROM part
"""


# --------------------------------------------------------------------- r09
def r09_left_join_defaults(spark: SparkSession, sf: str) -> DataFrame:
    """LEFT OUTER enrich + default for unmatched (J2+P11,
    articles_metadata.sql:1-7 / 'NO_GROUP' my_merlin_flow.py:395)."""
    orders = load_table(spark, sf, "orders")
    rich = load_table(spark, sf, "customer").filter(F.col("c_acctbal") > 4000)
    enriched = left_enrich(
        orders,
        rich.select(F.col("c_custkey").alias("o_custkey"), "c_mktsegment"),
        key="o_custkey",
        defaults={"c_mktsegment": "NO_GROUP"},
    )
    return enriched.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("total_price"),
    )


R09_SQL = f"""
SELECT COALESCE(c_mktsegment, 'NO_GROUP') AS segment,
       CAST(count(*) AS BIGINT) AS n_orders,
       {sql_dsum('o_totalprice')} AS total_price
FROM orders
LEFT JOIN (SELECT c_custkey, c_mktsegment FROM customer WHERE c_acctbal > 4000) c
  ON o_custkey = c_custkey
GROUP BY 1
"""


# --------------------------------------------------------------------- r10
def r10_three_way_join(spark: SparkSession, sf: str) -> DataFrame:
    """3-way inner equi-join fact⋈fact⋈dim with named projection (J3,
    joined_dataframe.sql:1-16 — named columns, not `a.*`, so Spark never
    sees ambiguous duplicates; SURVEY §7 watch-list).

    Scale: lineitem⋈orders co-shuffles on orderkey; customer is
    broadcast. At 100 TB bucket both facts on the join key to skip the
    shuffle entirely.
    """
    li = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders")
    customer = load_table(spark, sf, "customer")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey, "inner")
        .join(
            F.broadcast(customer),
            orders.o_custkey == customer.c_custkey,
            "inner",
        )
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return joined.groupBy("c_mktsegment", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        dsum(revenue).alias("revenue"),
    )


R10_SQL = f"""
SELECT c_mktsegment, o_orderpriority, CAST(count(*) AS BIGINT) AS n_items,
       {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment, o_orderpriority
"""


# --------------------------------------------------------------------- r11
def r11_per_part_avg_price(spark: SparkSession, sf: str) -> DataFrame:
    """Per-group stat attached to every row via window, no join (J5/F5,
    NVTabular JoinGroupby workflow_builder.py:60-69)."""
    li = load_table(spark, sf, "lineitem")
    w = Window.partitionBy("l_partkey")
    avg_price = (
        F.sum(F.col("l_extendedprice").cast("decimal(27,6)")).over(w).cast("double")
        / F.count(F.lit(1)).over(w)
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        avg_price.alias("avg_part_price"),
    )


R11_SQL = """
SELECT l_orderkey, l_linenumber, l_partkey,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(27,6)))
              OVER (PARTITION BY l_partkey) AS DOUBLE)
         / count(*) OVER (PARTITION BY l_partkey) AS avg_part_price
FROM lineitem
"""


# --------------------------------------------------------------------- r12
def r12_time_split(spark: SparkSession, sf: str) -> DataFrame:
    """Time-range train/valid/test split (P7, my_merlin_flow.py:128-130).

    Scale: with a date-partitioned fact table these predicates become
    partition pruning (SURVEY §4)."""
    orders = load_table(spark, sf, "orders")
    return (
        orders.select(
            time_split_label(F.col("o_orderdate"), TRAIN_END, VALID_END),
            "o_totalprice",
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("total_price"),
        )
    )


R12_SQL = f"""
SELECT CASE WHEN o_orderdate < TIMESTAMP '{TRAIN_END}' THEN 'train'
            WHEN o_orderdate < TIMESTAMP '{VALID_END}' THEN 'valid'
            ELSE 'test' END AS split,
       CAST(count(*) AS BIGINT) AS n_orders,
       {sql_dsum('o_totalprice')} AS total_price
FROM orders GROUP BY 1
"""


# --------------------------------------------------------------------- r13
def r13_date_parts(spark: SparkSession, sf: str) -> DataFrame:
    """Date-part feature extraction (P8/F4, workflow_builder.py:30-40)."""
    orders = load_table(spark, sf, "orders")
    return (
        orders.select(
            F.year("o_orderdate").alias("purchase_year"),
            F.month("o_orderdate").alias("purchase_month"),
            "o_totalprice",
        )
        .groupBy("purchase_year", "purchase_month")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("total_price"),
        )
    )


R13_SQL = f"""
SELECT CAST(year(o_orderdate) AS INTEGER) AS purchase_year,
       CAST(month(o_orderdate) AS INTEGER) AS purchase_month,
       CAST(count(*) AS BIGINT) AS n_orders,
       {sql_dsum('o_totalprice')} AS total_price
FROM orders GROUP BY 1, 2
"""


# --------------------------------------------------------------------- r14
def r14_topk_per_customer(spark: SparkSession, sf: str) -> DataFrame:
    """Top-k per group with deterministic tiebreak (O3, top-k retrieval
    shape my_merlin_flow.py:91-95). Spark plans a WindowGroupLimit: each
    map task pre-prunes to k rows per group before the shuffle."""
    orders = load_table(spark, sf, "orders")
    return top_k_per_group(
        orders,
        partition_cols=["o_custkey"],
        order_cols=[F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        k=3,
    ).select("o_custkey", "o_orderkey", "o_totalprice", "rn")


R14_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INTEGER) AS rn
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders)
WHERE rn <= 3
"""


# --------------------------------------------------------------------- r15
def r15_latest_event(spark: SparkSession, sf: str) -> DataFrame:
    """Global ORDER BY ... LIMIT 1 → TakeOrderedAndProject, no full sort
    (O2, articles_staging.sql:5-6)."""
    ev = load_table(spark, sf, "events")
    return (
        ev.orderBy(F.desc("ts"), F.desc("event_id"))
        .limit(1)
        .select("event_id", "ts", "event_type")
    )


R15_SQL = """
SELECT event_id, ts, event_type FROM events
ORDER BY ts DESC, event_id DESC LIMIT 1
"""


# --------------------------------------------------------------------- r16
def r16_union_splits(spark: SparkSession, sf: str) -> DataFrame:
    """unionByName of tagged splits, then aggregate (O5,
    my_merlin_flow.py:233 concat-for-fit)."""
    orders = load_table(spark, sf, "orders")
    d1 = F.lit(TRAIN_END).cast("timestamp")
    train = orders.filter(F.col("o_orderdate") < d1).withColumn(
        "part_tag", F.lit("train")
    )
    rest = orders.filter(F.col("o_orderdate") >= d1).withColumn(
        "part_tag", F.lit("rest")
    )
    return train.unionByName(rest).groupBy("part_tag").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.max("o_totalprice").alias("max_price"),
    )


R16_SQL = f"""
SELECT part_tag, CAST(count(*) AS BIGINT) AS n_orders,
       max(o_totalprice) AS max_price
FROM (
  SELECT 'train' AS part_tag, o_totalprice FROM orders
  WHERE o_orderdate < TIMESTAMP '{TRAIN_END}'
  UNION ALL
  SELECT 'rest' AS part_tag, o_totalprice FROM orders
  WHERE o_orderdate >= TIMESTAMP '{TRAIN_END}')
GROUP BY part_tag
"""


# --------------------------------------------------------------------- r17
def r17_distinct_values(spark: SparkSession, sf: str) -> DataFrame:
    """DISTINCT facet values (A5, pred_inspector.py:78)."""
    orders = load_table(spark, sf, "orders")
    return orders.select("o_orderpriority").distinct()


R17_SQL = "SELECT DISTINCT o_orderpriority FROM orders"


# --------------------------------------------------------------------- r18
def r18_argmax_per_nation(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic argmax per group via max_by over an (order, tiebreak)
    struct (A4, best-run selection my_merlin_flow.py:355-364)."""
    orders = load_table(spark, sf, "orders")
    customer = load_table(spark, sf, "customer")
    joined = orders.join(
        F.broadcast(customer), orders.o_custkey == customer.c_custkey, "inner"
    )
    return argmax_per_group(
        joined,
        keys=["c_nationkey"],
        target_col="o_orderkey",
        order_col="o_totalprice",
        tiebreak_col="o_orderkey",
    ).select(
        "c_nationkey",
        F.col("o_orderkey").alias("best_orderkey"),
        F.col("o_totalprice").alias("max_price"),
    )


R18_SQL = """
SELECT c_nationkey, o_orderkey AS best_orderkey, o_totalprice AS max_price
FROM (
  SELECT c_nationkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY c_nationkey
                            ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
  FROM orders JOIN customer ON o_custkey = c_custkey)
WHERE rn = 1
"""


# --------------------------------------------------------------------- r19
def r19_categorify_dictionary(spark: SparkSession, sf: str) -> DataFrame:
    """Categorify fit: sorted distinct values -> contiguous codes from 1
    (F1, workflow_builder.py:18-58; unique.<col>.parquet artifacts)."""
    customer = load_table(spark, sf, "customer")
    return categorify_dictionary(customer, "c_mktsegment")


R19_SQL = """
SELECT c_mktsegment, CAST(row_number() OVER (ORDER BY c_mktsegment) AS BIGINT)
         AS code
FROM (SELECT DISTINCT c_mktsegment FROM customer WHERE c_mktsegment IS NOT NULL)
"""


# --------------------------------------------------------------------- r20
def r20_categorify_encode_oov(spark: SparkSession, sf: str) -> DataFrame:
    """Categorify transform with 0 = null/OOV: dictionary fit on a subset,
    applied to the full table (F1 OOV semantics)."""
    part = load_table(spark, sf, "part")
    dictionary = categorify_dictionary(part.filter(F.col("p_size") < 10), "p_type")
    return (
        part.join(F.broadcast(dictionary), on="p_type", how="left")
        .select(
            "p_partkey",
            F.coalesce(F.col("code"), F.lit(0)).cast("long").alias("type_code"),
        )
    )


R20_SQL = """
WITH dict AS (
  SELECT p_type, row_number() OVER (ORDER BY p_type) AS code
  FROM (SELECT DISTINCT p_type FROM part WHERE p_size < 10 AND p_type IS NOT NULL))
SELECT p_partkey, CAST(COALESCE(code, 0) AS BIGINT) AS type_code
FROM part LEFT JOIN dict USING (p_type)
"""


# --------------------------------------------------------------------- r21
def r21_bucketize(spark: SparkSession, sf: str) -> DataFrame:
    """Fixed-width bucketing (F3, workflow_builder.py:26-27)."""
    customer = load_table(spark, sf, "customer")
    return (
        bucketize_fixed_width(customer, "c_acctbal", 1000.0, alias="bucket")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.min("c_acctbal").alias("min_bal"),
            F.max("c_acctbal").alias("max_bal"),
        )
    )


R21_SQL = """
SELECT CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_customers,
       min(c_acctbal) AS min_bal, max(c_acctbal) AS max_bal
FROM customer GROUP BY 1
"""


# --------------------------------------------------------------------- r22
def r22_zscore(spark: SparkSession, sf: str) -> DataFrame:
    """Global z-score normalize with exact-decimal moments (A3/F5,
    NVTabular Normalize workflow_builder.py:66).

    Scale: moments = one full-scan partial aggregate reduced to one row,
    broadcast back — no window over an unpartitioned frame.

    The sum of squares is computed on x/2^12 (exact binary downscale) so
    the decimal cast stays inside the engine-agreement envelope (see
    workloads/common.py), then rescaled by 2^24."""
    orders = load_table(spark, sf, "orders")
    x = F.col("o_totalprice")
    y = x / F.lit(4096.0)
    stats = orders.agg(
        dsum(x, scale=6).alias("s1"),
        dsum(y * y, scale=6).alias("s2y"),
        F.count(F.lit(1)).alias("n"),
    )
    out = orders.crossJoin(F.broadcast(stats))
    mu = F.col("s1") / F.col("n")
    s2 = F.col("s2y") * F.lit(16777216.0)
    var = (s2 - F.col("s1") * F.col("s1") / F.col("n")) / (F.col("n") - 1)
    return out.select(
        "o_orderkey",
        ((x - mu) / F.sqrt(var)).alias("totalprice_z"),
    )


R22_SQL = f"""
WITH stats AS (
  SELECT {sql_dsum('o_totalprice')} AS s1,
         {sql_dsum('(o_totalprice / 4096.0) * (o_totalprice / 4096.0)', 6)}
           AS s2y,
         CAST(count(*) AS BIGINT) AS n
  FROM orders)
SELECT o_orderkey,
       (o_totalprice - s1 / n)
         / sqrt((s2y * 16777216.0 - s1 * s1 / n) / (n - 1)) AS totalprice_z
FROM orders, stats
"""


# --------------------------------------------------------------------- r23
def r23_explode_tokens(spark: SparkSession, sf: str) -> DataFrame:
    """UDTF-shaped explode of an array column (§2.8,
    my_merlin_flow.py:387-403 flattening → explode)."""
    docs = load_table(spark, sf, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )


R23_SQL = """
SELECT token, CAST(count(*) AS BIGINT) AS n
FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
WHERE token <> '' GROUP BY token
"""


# --------------------------------------------------------------------- r24
def r24_fill_missing_normalize(spark: SparkSession, sf: str) -> DataFrame:
    """F2+F5 chain: per-item mean price, FillMissing(0), then z-score over
    items (workflow_builder.py:60-69 full JoinGroupby→FillMissing→
    Normalize pipeline)."""
    li = load_table(spark, sf, "lineitem")
    part = load_table(spark, sf, "part")
    item_avg = li.groupBy("l_partkey").agg(
        davg("l_extendedprice").alias("avg_price")
    )
    filled = (
        part.join(item_avg, part.p_partkey == item_avg.l_partkey, "left")
        .select("p_partkey", F.coalesce("avg_price", F.lit(0.0)).alias("avg_price"))
    )
    x = F.col("avg_price")
    y = x / F.lit(64.0)
    stats = filled.agg(
        dsum(x, scale=6).alias("s1"),
        dsum(y * y, scale=6).alias("s2y"),
        F.count(F.lit(1)).alias("n"),
    )
    out = filled.crossJoin(F.broadcast(stats))
    mu = F.col("s1") / F.col("n")
    s2 = F.col("s2y") * F.lit(4096.0)
    var = (s2 - F.col("s1") * F.col("s1") / F.col("n")) / (F.col("n") - 1)
    return out.select("p_partkey", ((x - mu) / F.sqrt(var)).alias("avg_price_z"))


R24_SQL = f"""
WITH filled AS (
  SELECT p_partkey, COALESCE(a.avg_price, 0.0) AS avg_price
  FROM part LEFT JOIN (
    SELECT l_partkey, {sql_davg('l_extendedprice')} AS avg_price
    FROM lineitem GROUP BY l_partkey) a
  ON p_partkey = a.l_partkey),
stats AS (
  SELECT {sql_dsum('avg_price')} AS s1,
         {sql_dsum('(avg_price / 64.0) * (avg_price / 64.0)', 6)} AS s2y,
         CAST(count(*) AS BIGINT) AS n
  FROM filled)
SELECT p_partkey,
       (avg_price - s1 / n)
         / sqrt((s2y * 4096.0 - s1 * s1 / n) / (n - 1)) AS avg_price_z
FROM filled, stats
"""


# --------------------------------------------------------------------- r25
def r25_count_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """COUNT(DISTINCT) per group (A5 exact form — the facet/cardinality
    query; Spark plans expand+two-phase agg, no driver collection)."""
    orders = load_table(spark, sf, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count(F.lit(1)).alias("n_orders"),
    )


R25_SQL = """
SELECT o_orderpriority,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
       CAST(count(*) AS BIGINT) AS n_orders
FROM orders GROUP BY o_orderpriority
"""


# --------------------------------------------------------------------- r26
def r26_ordered_export(spark: SparkSession, sf: str) -> DataFrame:
    """Global ORDER BY + LIMIT export head (O1/O4,
    my_merlin_flow.py:183-184's date-sorted export). Spark plans
    TakeOrderedAndProject — top-k, never a full global sort. SURVEY §7:
    unbounded global sorts are dropped as non-load-bearing at 100 TB;
    the bounded head is the operator worth keeping."""
    orders = load_table(spark, sf, "orders")
    return (
        orders.orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
        .limit(100)
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    )


R26_SQL = """
SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice
FROM orders ORDER BY o_orderdate, o_orderkey LIMIT 100
"""


# --------------------------------------------------------------------- r27
def r27_approx_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """approx_count_distinct (HLL++) — the sketch the 100 TB path uses
    instead of r25's exact expand. Engine sketches differ, so the
    comparable output is a *bounded* check: the exact distinct count
    (which DuckDB reproduces) plus a boolean asserting the HLL estimate
    landed within 4·rsd of it. The sketch runs for real Spark-side; a
    broken sketch flips ``within_bound`` and hash-fails the gate."""
    orders = load_table(spark, sf, "orders")
    rsd = 0.02
    agg = orders.groupBy("o_orderpriority").agg(
        F.approx_count_distinct("o_custkey", rsd=rsd).alias("approx"),
        F.count_distinct("o_custkey").alias("exact_customers"),
    )
    within = (
        F.abs(F.col("approx") - F.col("exact_customers"))
        <= F.lit(4.0 * rsd) * F.col("exact_customers")
    )
    return agg.select(
        "o_orderpriority",
        "exact_customers",
        within.alias("within_bound"),
    )


R27_SQL = """
SELECT o_orderpriority,
       COUNT(DISTINCT o_custkey) AS exact_customers,
       TRUE AS within_bound
FROM orders GROUP BY o_orderpriority
"""


# --------------------------------------------------------------------- r28
def r28_hash_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic hash sampling (the reproducible twin of S5's
    Bernoulli SAMPLE(n)): keep rows whose key-hash lands in the first
    10% of the hash space, then aggregate the sample.

    df.sample is seed+partitioning dependent — fine for dev sampling,
    unusable for a reproducible 100 TB pipeline where a sample must be
    stable across engines, re-runs and cluster sizes. Hashing the
    business key (md5-derived, engine-portable) gives the same sample
    everywhere, and composes with incremental loads (new rows join the
    sample iff their key hashes in)."""
    from pyspark_recs.llmops.hashing import md5_long

    li = load_table(spark, sf, "lineitem")
    key = F.concat_ws("_", F.col("l_orderkey"), F.col("l_linenumber"))
    sampled = li.filter(F.pmod(md5_long(key), F.lit(100)) < 10)
    return sampled.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("l_quantity").alias("sum_qty"),
    )


R28_SQL = f"""
SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
       {sql_dsum('l_quantity')} AS sum_qty
FROM lineitem
WHERE ({sql_md5_long("CAST(l_orderkey AS VARCHAR) || '_' || CAST(l_linenumber AS VARCHAR)")}) % 100 < 10
GROUP BY l_returnflag
"""


# --------------------------------------------------------------------- r29
def r29_asof_join(spark: SparkSession, sf: str) -> DataFrame:
    """Backward as-of join (the custom join SURVEY §2.3 notes Spark
    lacks): each order picks the user's most recent event value at or
    before the order date, via the one-shuffle union-sort composition
    (sql.transforms.asof_join), never a theta join."""
    from pyspark_recs.sql import asof_join

    orders = load_table(spark, sf, "orders").select(
        "o_orderkey", F.col("o_custkey").alias("user_id"), "o_orderdate"
    )
    ev = (
        load_table(spark, sf, "events")
        .groupBy("user_id", "ts")
        .agg(dsum("value").alias("last_event_value"))
    )
    return asof_join(
        orders, ev, key="user_id", left_ts="o_orderdate", right_ts="ts",
        value_cols=["last_event_value"],
    ).select("o_orderkey", "user_id", "o_orderdate", "last_event_value")


R29_SQL = f"""
WITH ev AS (
  SELECT user_id, ts, {sql_dsum('value')} AS last_event_value
  FROM events GROUP BY user_id, ts)
SELECT o.o_orderkey, o.o_custkey AS user_id, o.o_orderdate,
       e.last_event_value
FROM orders o ASOF LEFT JOIN ev e
  ON o.o_custkey = e.user_id AND e.ts <= o.o_orderdate
"""


# --------------------------------------------------------------------- r30
def r30_interval_join(spark: SparkSession, sf: str) -> DataFrame:
    """Range join point ∈ [lo, hi) rewritten as a binned equi-join
    (sql.transforms.interval_join) — Catalyst would otherwise plan a
    BroadcastNestedLoopJoin for the theta form; the plan test asserts
    no nested loop survives."""
    from pyspark_recs.sql import interval_join

    tiers = spark.createDataFrame(
        [
            ("t0", 0.0, 15000.0),
            ("t1", 15000.0, 30000.0),
            ("t2", 30000.0, 45000.0),
            ("t3", 45000.0, 60000.0),
            ("t4", 60000.0, 80000.0),
        ],
        "tier string, lo double, hi double",
    )
    li = load_table(spark, sf, "lineitem").select("l_extendedprice")
    joined = interval_join(
        li, tiers, "l_extendedprice", "lo", "hi", bin_width=15000.0
    )
    return joined.groupBy("tier").agg(
        F.count(F.lit(1)).alias("n_items"),
        dsum("l_extendedprice").alias("total_price"),
    )


R30_SQL = f"""
WITH tiers(tier, lo, hi) AS (VALUES
  ('t0', 0.0, 15000.0), ('t1', 15000.0, 30000.0),
  ('t2', 30000.0, 45000.0), ('t3', 45000.0, 60000.0),
  ('t4', 60000.0, 80000.0))
SELECT tier, CAST(count(*) AS BIGINT) AS n_items,
       {sql_dsum('l_extendedprice')} AS total_price
FROM lineitem JOIN tiers
  ON l_extendedprice >= lo AND l_extendedprice < hi
GROUP BY tier
"""


# --------------------------------------------------------------------- r31
def r31_pivot(spark: SparkSession, sf: str) -> DataFrame:
    """Pivot: return-flag rows × line-status columns (explicit column
    list, so the plan needs no extra distinct-values job). Pivot is
    conditional aggregation — one shuffle, same as the plain groupBy."""
    li = load_table(spark, sf, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(dsum("l_quantity"))
        .withColumnsRenamed({"O": "qty_open", "F": "qty_filled"})
    )


R31_SQL = f"""
SELECT l_returnflag,
       {sql_dsum("CASE WHEN l_linestatus = 'O' THEN l_quantity END")} AS qty_open,
       {sql_dsum("CASE WHEN l_linestatus = 'F' THEN l_quantity END")} AS qty_filled
FROM lineitem GROUP BY l_returnflag
"""


# --------------------------------------------------------------------- r32
def r32_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Rollup (grouping sets): per (flag, status), per flag subtotal,
    and grand total in ONE pass — Spark expands the sets inside the
    aggregate, still a single shuffle (vs 3 separate jobs)."""
    li = load_table(spark, sf, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("l_quantity").alias("sum_qty"),
    )


R32_SQL = f"""
SELECT l_returnflag, l_linestatus,
       CAST(count(*) AS BIGINT) AS n_rows,
       {sql_dsum('l_quantity')} AS sum_qty
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


# --------------------------------------------------------------------- r33
def r33_unpivot(spark: SparkSession, sf: str) -> DataFrame:
    """Unpivot/melt: wide measure columns to (measure, value) rows via
    the native unpivot (UNION-free, no data blow-up beyond the melt)."""
    li = load_table(spark, sf, "lineitem")
    return li.select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    ).unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice"],
        "measure",
        "value",
    )


R33_SQL = """
SELECT l_orderkey, l_linenumber, measure, value
FROM (SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
      FROM lineitem)
UNPIVOT (value FOR measure IN (l_quantity, l_extendedprice))
"""


# --------------------------------------------------------------------- r34
def r34_scd2_history(spark: SparkSession, sf: str) -> DataFrame:
    """SCD2 history reconstruction from a change log: each event opens a
    validity interval closed by the key's next event (lead window;
    newest row stays open with valid_to NULL)."""
    ev = load_table(spark, sf, "events").select(
        "user_id", "event_type", "event_id", "value", F.col("ts")
    )
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_type",
        "event_id",
        "value",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
    )


R34_SQL = """
SELECT user_id, event_type, event_id, value,
       ts AS valid_from,
       lead(ts) OVER (PARTITION BY user_id, event_type
                      ORDER BY ts, event_id) AS valid_to
FROM events
"""


# --------------------------------------------------------------------- r35
def r35_trailing_window(spark: SparkSession, sf: str) -> DataFrame:
    """Trailing 30-day per-customer spend via a RANGE window frame —
    the time-decayed feature-generation shape (trailing counts/sums per
    entity) that training pipelines compute per event. The frame is
    RANGE (value-based, includes same-day peers), not ROWS, so results
    are deterministic under any intra-day row order.

    Scale: one shuffle on the customer key; within each partition the
    running frame is computed in a single sorted pass (Spark's window
    operator keeps a sliding frame buffer, bounded by the 30-day span).
    The fixed-point sum makes the trailing feature bit-reproducible
    across partitionings — golden-file-testable at any cluster size.
    """
    orders = load_table(spark, sf, "orders")
    day = F.datediff(
        F.to_date("o_orderdate"), F.to_date(F.lit("1970-01-01"))
    )
    staged = orders.select(
        "o_orderkey", "o_custkey", day.alias("day"), "o_totalprice"
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("day")
        .rangeBetween(-29, 0)
    )
    q = F.floor(F.col("o_totalprice") * F.lit(1e6) + F.lit(0.5)).cast("long")
    return staged.select(
        "o_orderkey",
        "o_custkey",
        "day",
        (F.sum(q).over(w).cast("double") / F.lit(1e6)).alias(
            "trailing_spend_30d"
        ),
        F.count(F.lit(1)).over(w).alias("trailing_orders_30d"),
    )


R35_SQL = """
SELECT o_orderkey, o_custkey,
       CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
            AS INTEGER) AS day,
       CAST(sum(CAST(floor(o_totalprice * 1000000.0 + 0.5) AS BIGINT))
            OVER w AS DOUBLE) / 1000000.0 AS trailing_spend_30d,
       CAST(count(*) OVER w AS BIGINT) AS trailing_orders_30d
FROM orders
WINDOW w AS (
  PARTITION BY o_custkey
  ORDER BY CAST(date_diff('day', DATE '1970-01-01',
                          CAST(o_orderdate AS DATE)) AS INTEGER)
  RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)
"""


# --------------------------------------------------------------------- r36
def r36_spend_deciles(spark: SparkSession, sf: str) -> DataFrame:
    """Distribution ranking: per-customer total spend bucketed into
    deciles (ntile) with percent_rank and cume_dist — the
    population-position features (user spend percentile, item
    popularity percentile) of a feature store. Ordering is made total
    by the (spend, custkey) tiebreak so every rank is deterministic.

    Scale: the customer rollup is a map-side-combined hash aggregate.
    The distribution positions are computed WITHOUT a global window:
    ``ranked_by_range`` (the partition-offset pattern) yields the exact
    global row_number over the total order (spend, custkey) with every
    partition ranking in parallel, and ntile/percent_rank/cume_dist
    are then pure projections of (rank, N) — ntile(k) assigns the
    first N%k buckets ceil(N/k) rows and the rest floor(N/k) (the SQL
    standard split both engines implement), percent_rank = (r-1)/(N-1),
    cume_dist = r/N (the order is total, so rank == row_number). At
    10^9 customers this is a range shuffle + parallel per-partition
    windows instead of one reducer sorting the world.
    """
    orders = load_table(spark, sf, "orders")
    spend = orders.groupBy("o_custkey").agg(
        dsum("o_totalprice").alias("spend"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    ranked = ranked_by_range(spend, ["spend", "o_custkey"], rank_alias="__r")
    n_df = spend.agg(F.count(F.lit(1)).alias("__n"))
    r, n = F.col("__r"), F.col("__n")
    q, rem = (n / 10).cast("long"), n % 10
    big = rem * (q + 1)  # rows covered by the ceil-sized buckets
    decile = (
        F.when(r <= big, (r - 1) / (q + 1))
        .otherwise(rem + (r - 1 - big) / F.greatest(q, F.lit(1)))
        .cast("long") + 1
    )
    return ranked.crossJoin(F.broadcast(n_df)).select(
        "o_custkey",
        "spend",
        "n_orders",
        decile.cast("int").alias("decile"),
        F.when(n == 1, F.lit(0.0))
        .otherwise((r - 1).cast("double") / (n - 1))
        .alias("pct_rank"),
        (r.cast("double") / n).alias("cume"),
    )


R36_SQL = f"""
WITH spend AS (
  SELECT o_custkey, {sql_dsum('o_totalprice')} AS spend,
         CAST(count(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY o_custkey)
SELECT o_custkey, spend, n_orders,
       CAST(ntile(10) OVER w AS INTEGER) AS decile,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume
FROM spend
WINDOW w AS (ORDER BY spend, o_custkey)
"""


# --------------------------------------------------------------------- r37
def r37_incremental_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental materialized-view maintenance: a stored rollup and a
    new-batch delta are kept as PARTIAL aggregates (fixed-point sums +
    counts), merged by re-aggregating the partials — never by
    recomputing over the facts. Here the split is simulated by hashing
    lineitem into a 90% "stored" and 10% "delta" slice; the oracle is
    the full recompute, so the query *proves* the merge is lossless.

    Scale: this is THE pattern that keeps a 100 TB daily rollup cheap —
    the merge shuffles |groups x batches| partial rows, independent of
    fact volume. It works because the partial states (long sums,
    counts) are associative and the fixed-point encoding makes double
    sums mergeable without reordering error; avg/stddev merge the same
    way from (sum, sum_sq, n).
    """
    from pyspark_recs.llmops.hashing import md5_long

    li = load_table(spark, sf, "lineitem")
    key = F.concat_ws("_", F.col("l_orderkey"), F.col("l_linenumber"))
    batch = F.when(
        F.pmod(md5_long(key), F.lit(10)) < 9, F.lit("stored")
    ).otherwise(F.lit("delta"))
    q = F.floor(F.col("l_quantity") * F.lit(1e6) + F.lit(0.5)).cast("long")
    partials = (
        li.withColumn("batch", batch)
        .groupBy("l_returnflag", "batch")
        .agg(F.sum(q).alias("sq"), F.count(F.lit(1)).alias("n"))
    )
    return partials.groupBy("l_returnflag").agg(
        (F.sum("sq").cast("double") / F.lit(1e6)).alias("sum_qty"),
        F.sum("n").alias("n_rows"),
    )


R37_SQL = f"""
SELECT l_returnflag, {sql_dsum('l_quantity')} AS sum_qty,
       CAST(count(*) AS BIGINT) AS n_rows
FROM lineitem
GROUP BY l_returnflag
"""


# --------------------------------------------------------------------- r38
def r38_props_extract(spark: SparkSession, sf: str) -> DataFrame:
    """Schema-on-read over a real semi-structured column: extract a
    typed field from the events ``props`` JSON at scan time and
    aggregate it (P1's VARIANT-extraction semantics on a native table,
    not the synthetic envelope). The cast happens before the shuffle, so
    the exchange carries ints, never JSON text.
    """
    ev = load_table(spark, sf, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return ev.select("event_type", k.alias("k")).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("k").alias("sum_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
    )


R38_SQL = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER))
            AS BIGINT) AS sum_k,
       CAST(min(CAST(json_extract_string(props, '$.k') AS INTEGER))
            AS INTEGER) AS min_k,
       CAST(max(CAST(json_extract_string(props, '$.k') AS INTEGER))
            AS INTEGER) AS max_k
FROM events
GROUP BY event_type
"""


# --------------------------------------------------------------------- r39
def r39_local_supplier_volume(spark: SparkSession, sf: str) -> DataFrame:
    """Six-way snowflake join (TPC-H Q5 shape): revenue per nation where
    the supplier and the customer sit in the same nation, for one
    region. The deepest join tree in the suite — the query that
    exercises Catalyst's join ordering and broadcast selection.

    Scale: region/nation/customer/supplier are broadcast (dims);
    lineitem⋈orders is the only fact⋈fact edge (bucket both on orderkey
    to pre-pay it); the same-nation predicate rides the supplier
    broadcast join, so no extra shuffle. The agg output is
    nation-sized.
    """
    region = load_table(spark, sf, "region")
    nation = load_table(spark, sf, "nation")
    customer = load_table(spark, sf, "customer")
    supplier = load_table(spark, sf, "supplier")
    orders = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(
            F.broadcast(nation),
            F.col("s_nationkey") == nation.n_nationkey,
        )
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .filter(F.col("r_name") == "ASIA")
    )
    return joined.groupBy("n_name").agg(
        dsum(revenue).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


R39_SQL = f"""
SELECT n_name,
       {sql_dsum('l_extendedprice * (1.0 - l_discount)')} AS revenue,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey AND r_name = 'ASIA'
GROUP BY n_name
"""


# --------------------------------------------------------------------- r40
def r40_small_order_parts(spark: SparkSession, sf: str) -> DataFrame:
    """Correlated scalar subquery (TPC-H Q17 shape): revenue from
    lineitems whose quantity is below 20% of their part's average —
    written as SQL with the correlation so CATALYST does the
    decorrelation (rewrites the subquery to an aggregate + join; the
    reference delegates this class of rewrite to Snowflake, SURVEY §4).

    Scale: the decorrelated form is a per-part aggregate (tiny, keyed
    by partkey) broadcast back onto the fact scan — exactly the plan a
    hand-written window/join would produce, with zero hand-writing.
    """
    for name in ("lineitem",):
        load_table(spark, sf, name).createOrReplaceTempView(f"_r40_{name}")
    return spark.sql(
        """
        SELECT CAST(count(*) AS BIGINT) AS n_small,
               CAST(sum(CAST(floor(l_extendedprice * 1000000.0 + 0.5)
                        AS BIGINT)) AS DOUBLE) / 1000000.0 AS small_revenue
        FROM _r40_lineitem l1
        WHERE l_quantity < (
            SELECT 0.2 * avg(l_quantity)
            FROM _r40_lineitem l2
            WHERE l2.l_partkey = l1.l_partkey)
        """
    )


R40_SQL = """
SELECT CAST(count(*) AS BIGINT) AS n_small,
       CAST(sum(CAST(floor(l_extendedprice * 1000000.0 + 0.5)
                AS BIGINT)) AS DOUBLE) / 1000000.0 AS small_revenue
FROM lineitem l1
WHERE l_quantity < (
    SELECT 0.2 * avg(l_quantity)
    FROM lineitem l2
    WHERE l2.l_partkey = l1.l_partkey)
"""


# --------------------------------------------------------------------- r41
def r41_sole_late_supplier(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): per
    supplier, the number of orders where THEY shipped late (> 60 days
    after the order date) and no other supplier on the same order did.
    The classic EXISTS + NOT-EXISTS pair, expressed as ONE window pass:
    a per-order count of late suppliers replaces both correlated
    subqueries — at 100 TB that's one shuffle on the order key instead
    of two additional self-joins of the fact table.
    """
    li = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders")
    supplier = load_table(spark, sf, "supplier")
    late = (
        F.col("l_shipdate")
        > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    ).cast("long")
    per_supp = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(late).alias("supp_late"))
    )
    w = Window.partitionBy("l_orderkey")
    sole = per_supp.withColumn(
        "n_late_supps", F.sum("supp_late").over(w)
    ).filter((F.col("supp_late") == 1) & (F.col("n_late_supps") == 1))
    return (
        sole.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n_sole_late_orders"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == supplier.s_suppkey)
        .select("l_suppkey", "s_name", "n_sole_late_orders")
    )


R41_SQL = """
WITH per_supp AS (
  SELECT l_orderkey, l_suppkey,
         max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
                  THEN 1 ELSE 0 END) AS supp_late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY l_orderkey, l_suppkey),
flagged AS (
  SELECT l_orderkey, l_suppkey, supp_late,
         sum(supp_late) OVER (PARTITION BY l_orderkey) AS n_late_supps
  FROM per_supp)
SELECT l_suppkey, s_name, CAST(count(*) AS BIGINT) AS n_sole_late_orders
FROM flagged JOIN supplier ON l_suppkey = s_suppkey
WHERE supp_late = 1 AND n_late_supps = 1
GROUP BY l_suppkey, s_name
"""


# --------------------------------------------------------------------- r42
def r42_json_quarantine(spark: SparkSession, sf: str) -> DataFrame:
    """Malformed-input quarantine: rows whose JSON fails to parse are
    counted into a quarantine bucket instead of poisoning the batch —
    the ingestion-robustness pattern every schema-on-read pipeline
    needs (a bad producer must not fail the load; SURVEY §1.3's
    "missing keys become NULL" generalized to unparseable payloads).
    Corruption is planted deterministically (every 7th event loses its
    closing brace) so the oracle sees identical inputs.

    Scale: pure projection + one aggregate; the quarantine verdict is
    computed at scan time, so bad rows are countable without a second
    pass, and routing them to a side table is the same expression in a
    foreachBatch sink.
    """
    ev = load_table(spark, sf, "events")
    mangled = F.when(
        F.col("event_id") % 7 == 0,
        F.substring(F.col("props"), 1, F.length("props") - 2),
    ).otherwise(F.col("props"))
    k = F.get_json_object(mangled, "$.k").cast("int")
    return ev.select("event_type", k.alias("k")).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("k").isNull().cast("long")).alias("n_quarantined"),
        F.sum(F.coalesce(F.col("k"), F.lit(0))).alias("sum_k_good"),
    )


R42_SQL = """
WITH m AS (
  SELECT event_type,
         CASE WHEN event_id % 7 = 0
              THEN substring(props, 1, length(props) - 2)
              ELSE props END AS props
  FROM events),
p AS (
  SELECT event_type,
         CASE WHEN json_valid(props)
              THEN CAST(json_extract_string(props, '$.k') AS INTEGER)
              ELSE NULL END AS k
  FROM m)
SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_quarantined,
       CAST(sum(coalesce(k, 0)) AS BIGINT) AS sum_k_good
FROM p
GROUP BY event_type
"""


# --------------------------------------------------------------------- r43
def r43_market_share(spark: SparkSession, sf: str) -> DataFrame:
    """Conditional-aggregate market share (TPC-H Q8 shape): one
    nation's share of total revenue per order year, computed as a
    CASE-gated fixed-point sum over the SAME aggregation pass — one
    scan, one shuffle, no self-join of the fact table. The share is a
    division of two exact integer sums, so it is bit-identical across
    engines and partitionings.
    """
    li = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders")
    supplier = load_table(spark, sf, "supplier")
    nation = load_table(spark, sf, "nation")
    rev_q = F.floor(
        F.col("l_extendedprice")
        * (F.lit(1.0) - F.col("l_discount"))
        * F.lit(1e6)
        + F.lit(0.5)
    ).cast("long")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
    )
    gated = F.when(F.col("n_name") == "NATION_3", rev_q).otherwise(F.lit(0))
    return (
        joined.groupBy(F.year("o_orderdate").alias("order_year"))
        .agg(
            (F.sum(rev_q).cast("double") / F.lit(1e6)).alias("total_revenue"),
            (F.sum(gated).cast("double") / F.lit(1e6)).alias("nation_revenue"),
            (
                F.sum(gated).cast("double") / F.sum(rev_q).cast("double")
            ).alias("mkt_share"),
        )
    )


R43_SQL = """
WITH q AS (
  SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
         CAST(floor(l_extendedprice * (1.0 - l_discount) * 1000000.0 + 0.5)
              AS BIGINT) AS rev_q,
         n_name
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey)
SELECT order_year,
       CAST(sum(rev_q) AS DOUBLE) / 1000000.0 AS total_revenue,
       CAST(sum(CASE WHEN n_name = 'NATION_3' THEN rev_q ELSE 0 END)
            AS DOUBLE) / 1000000.0 AS nation_revenue,
       CAST(sum(CASE WHEN n_name = 'NATION_3' THEN rev_q ELSE 0 END)
            AS DOUBLE) / CAST(sum(rev_q) AS DOUBLE) AS mkt_share
FROM q GROUP BY order_year
"""


# --------------------------------------------------------------------- r44
def r44_custdist(spark: SparkSession, sf: str) -> DataFrame:
    """Order-count distribution (TPC-H Q13 shape): how many customers
    placed exactly N orders, INCLUDING the zero-order customers the
    inner-join queries never see (the left join is the point). Two
    chained aggregations: per-customer count, then the histogram.

    Scale: the left join shuffles on the customer key; the histogram
    input is one row per customer, so the second shuffle is tiny. The
    zero bucket is the classic silent-loss site — dropping it
    understates the cold-start population every recsys metric needs.
    """
    customer = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders")
    per_cust = (
        customer.join(
            orders, customer.c_custkey == orders.o_custkey, "left"
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


R44_SQL = """
SELECT c_count, CAST(count(*) AS BIGINT) AS n_customers
FROM (
  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey)
GROUP BY c_count
"""


# --------------------------------------------------------------------- r45
def r45_dominant_suppliers(spark: SparkSession, sf: str) -> DataFrame:
    """Semi-join chain (TPC-H Q20 shape): suppliers whose shipped share
    of a part's total volume exceeds twice the fair share (1/n
    suppliers of that part), listed with how many parts they dominate.
    The per-part share comes from one window over the (part, supplier)
    rollup — the fact table aggregates once and never self-joins.
    (An absolute ">half" threshold is vacuous on this data — parts
    have 13–41 suppliers with max share ~25% — so dominance is
    relative to the part's supplier count.)

    Scale: fact → (part, supplier) rollup is one map-side-combined
    shuffle; the window partitions by part over rollup rows (items x
    suppliers-per-item, far smaller than the facts); the supplier join
    broadcasts.
    """
    li = load_table(spark, sf, "lineitem")
    supplier = load_table(spark, sf, "supplier")
    q = F.floor(F.col("l_quantity") * F.lit(1e6) + F.lit(0.5)).cast("long")
    per_ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(q).alias("supp_qty")
    )
    w = Window.partitionBy("l_partkey")
    dominant = (
        per_ps.withColumn("part_qty", F.sum("supp_qty").over(w))
        .withColumn("n_supp", F.count(F.lit(1)).over(w))
        .filter(
            F.col("supp_qty") * F.col("n_supp") > F.lit(2) * F.col("part_qty")
        )
    )
    return (
        dominant.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n_dominated_parts"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == supplier.s_suppkey)
        .select("l_suppkey", "s_name", "n_dominated_parts")
    )


R45_SQL = """
WITH per_ps AS (
  SELECT l_partkey, l_suppkey,
         sum(CAST(floor(l_quantity * 1000000.0 + 0.5) AS BIGINT))
           AS supp_qty
  FROM lineitem GROUP BY l_partkey, l_suppkey),
flagged AS (
  SELECT l_partkey, l_suppkey, supp_qty,
         sum(supp_qty) OVER (PARTITION BY l_partkey) AS part_qty,
         count(*) OVER (PARTITION BY l_partkey) AS n_supp
  FROM per_ps)
SELECT l_suppkey, s_name, CAST(count(*) AS BIGINT) AS n_dominated_parts
FROM flagged JOIN supplier ON l_suppkey = s_suppkey
WHERE supp_qty * n_supp > 2 * part_qty
GROUP BY l_suppkey, s_name
"""


# --------------------------------------------------------------------- r46
def r46_idle_rich_customers(spark: SparkSession, sf: str) -> DataFrame:
    """Global-scalar threshold + anti-join (TPC-H Q22 shape): per
    nation, the customers whose account balance beats the positive-
    balance average but who placed no order in the trailing 180 days
    of the dataset — the lapsed-high-value segment. The threshold is a
    1-row broadcast (never a per-row subquery) and the "no recent
    order" test is a left-anti join against the recent-orderer keys.
    (Every customer in this data has *some* order, so the classic
    "never ordered" form is vacuous; recency-lapse is the non-trivial
    production variant.)

    The average is a fixed-point sum over exact doubles, so the
    threshold — and therefore every comparison against it — is
    bit-identical across engines and partitionings (an order-dependent
    double avg would make the kept row SET itself nondeterministic,
    not just a trailing digit).
    """
    customer = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders")
    q = F.floor(F.col("c_acctbal") * F.lit(1e6) + F.lit(0.5)).cast("long")
    thr = (
        customer.filter(F.col("c_acctbal") > 0)
        .agg(
            (
                F.sum(q).cast("double") / F.lit(1e6) / F.count(F.lit(1))
            ).alias("thr")
        )
    )
    rich = customer.crossJoin(F.broadcast(thr)).filter(
        F.col("c_acctbal") > F.col("thr")
    )
    mx = orders.agg(F.max("o_orderdate").alias("mx"))
    recent = (
        orders.crossJoin(F.broadcast(mx))
        .filter(F.col("o_orderdate") > F.col("mx") - F.expr("INTERVAL 180 DAYS"))
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    idle = rich.join(recent, "c_custkey", "left_anti")
    return idle.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_customers"),
        (F.sum(q).cast("double") / F.lit(1e6)).alias("total_balance"),
    )


R46_SQL = """
WITH thr AS (
  SELECT CAST(sum(CAST(floor(c_acctbal * 1000000.0 + 0.5) AS BIGINT))
              AS DOUBLE) / 1000000.0 / count(*) AS thr
  FROM customer WHERE c_acctbal > 0),
mx AS (SELECT max(o_orderdate) AS mx FROM orders),
recent AS (
  SELECT DISTINCT o_custkey FROM orders, mx
  WHERE o_orderdate > mx - INTERVAL 180 DAY)
SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(CAST(floor(c_acctbal * 1000000.0 + 0.5) AS BIGINT))
            AS DOUBLE) / 1000000.0 AS total_balance
FROM customer, thr
WHERE c_acctbal > thr
  AND c_custkey NOT IN (SELECT o_custkey FROM recent)
GROUP BY c_nationkey
"""


# --------------------------------------------------------------------- r47
N_SALTS = 16


def r47_salted_join(spark: SparkSession, sf: str) -> DataFrame:
    """Skew-resilient salted equi-join: enrich the events fact with the
    customer market segment, then aggregate per segment. The fact side
    carries a deterministic per-row salt (hash of the row key, NOT of
    the join key — same hot key fans out across salts); the dim side is
    replicated ×N_SALTS; the join runs on (key, salt).

    The result is provably identical to the plain join (the oracle IS
    the plain join), which is the point: salting changes the physical
    key distribution, never the semantics. At 100 TB this is the manual
    escape hatch when a hot key (one mega-user) overwhelms a single
    shuffle partition and AQE's skew splitting can't apply (e.g.
    aggregations after the join need the same partitioning). Dim
    replication costs ×N_SALTS dim rows — cheap for dims, which is the
    only side you salt this way. Implementation:
    sql/transforms.py:salted_join (plan-asserted in tests/test_plans.py)."""
    from pyspark_recs.sql import salted_join

    ev = load_table(spark, sf, "events")
    cust = load_table(spark, sf, "customer").select(
        F.col("c_custkey").alias("cust_id"), "c_mktsegment"
    )
    return (
        salted_join(ev, cust, "user_id", "cust_id", n_salts=N_SALTS)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )
    )


R47_SQL = f"""
SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_events,
       {sql_dsum('value')} AS total_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment
"""


# --------------------------------------------------------------------- r48
_EPOCH_1995 = 788918400  # 1995-01-01T00:00:00Z
_HOP_S = 30 * 86400      # period every 30 days
_WIN_S = 90 * 86400      # each period spans 90 days (overlapping ×3)
_N_PERIODS = 78          # covers the testdata's 1995-01 .. 2001-08 span


def r48_range_join(spark: SparkSession, sf: str) -> DataFrame:
    """Interval/range join, binned: orders matched into overlapping
    90-day reporting periods (one every 30 days). A naive range join is
    a theta join — O(facts × periods) nested loops. Binned form: both
    sides map to 30-day bins (each period covers exactly 3 bins), the
    join is an equi-join on bin, and the exact range predicate filters
    the ≤3× expansion.

    Scale: this is the standard large×large interval-join decomposition
    — equi-join shuffle on bin instead of a nested-loop cross product;
    the bin width tunes expansion vs bucket count. Here the period side
    is tiny so Spark additionally broadcasts it, but the plan shape
    survives a billion-interval right side where broadcast can't."""
    orders = load_table(spark, sf, "orders")
    periods = spark.range(_N_PERIODS).select(
        F.col("id").alias("period_id"),
        (F.lit(_EPOCH_1995) + F.col("id") * _HOP_S).alias("start_s"),
    )
    pbins = periods.withColumn(
        "bin",
        F.explode(
            F.sequence(
                F.expr(f"start_s div {_HOP_S}"),
                F.expr(f"(start_s + {_WIN_S} - 1) div {_HOP_S}"),
            )
        ),
    )
    obins = orders.select(
        F.unix_timestamp("o_orderdate").alias("o_s"), "o_totalprice"
    ).withColumn("bin", F.expr(f"o_s div {_HOP_S}"))
    joined = obins.join(F.broadcast(pbins), "bin").filter(
        (F.col("o_s") >= F.col("start_s"))
        & (F.col("o_s") < F.col("start_s") + _WIN_S)
    )
    return joined.groupBy("period_id", "start_s").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("revenue"),
    )


R48_SQL = f"""
WITH periods AS (
  SELECT i AS period_id, {_EPOCH_1995} + i * {_HOP_S} AS start_s
  FROM range({_N_PERIODS}) t(i)),
o AS (
  SELECT CAST(epoch(o_orderdate) AS BIGINT) AS o_s, o_totalprice
  FROM orders)
SELECT period_id, start_s, CAST(count(*) AS BIGINT) AS n_orders,
       {sql_dsum('o_totalprice')} AS revenue
FROM periods p JOIN o
  ON o.o_s >= p.start_s AND o.o_s < p.start_s + {_WIN_S}
GROUP BY period_id, start_s
"""


# --------------------------------------------------------------------- r49
def r49_grouped_ols(spark: SparkSession, sf: str) -> DataFrame:
    """Per-group closed-form OLS (price ~ quantity per return flag):
    the grouped-model-fit shape, expressed as plain aggregates — no
    Python, no iteration. Slope and intercept come from the five
    sufficient statistics (n, Σx, Σy, Σxy, Σx²), each an exact integer
    sum of fixed-point terms (second moments in decimal128 so 100 TB row
    counts can't overflow int64), with exactly one double division at
    the end — bit-identical across engines and partitionings.

    Scale: one map-side-combined shuffle carrying 5 numbers per group.
    This is why sufficient-statistics fits beat applyInPandas model
    fits for anything linear — the data never moves, the moments do."""
    li = load_table(spark, sf, "lineitem")
    qx = F.floor(F.col("l_quantity") * 100 + F.lit(0.5)).cast("long")
    qy = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
    agg = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(qx).alias("sx"),
        F.sum(qy).alias("sy"),
        F.sum((qx * qy).cast("decimal(38,0)")).alias("sxy"),
        F.sum((qx * qx).cast("decimal(38,0)")).alias("sxx"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    num = dec("n") * F.col("sxy") - dec("sx") * dec("sy")
    den = dec("n") * F.col("sxx") - dec("sx") * dec("sx")
    slope = num.cast("double") / den.cast("double")
    mean_y = F.col("sy").cast("double") / F.lit(100.0) / F.col("n")
    mean_x = F.col("sx").cast("double") / F.lit(100.0) / F.col("n")
    return agg.select(
        "l_returnflag",
        "n",
        slope.alias("slope"),
        (mean_y - slope * mean_x).alias("intercept"),
    )


R49_SQL = """
WITH t AS (
  SELECT l_returnflag,
         CAST(floor(l_quantity * 100.0 + 0.5) AS BIGINT) AS qx,
         CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS qy
  FROM lineitem),
a AS (
  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
         sum(qx) AS sx, sum(qy) AS sy,
         sum(CAST(qx AS HUGEINT) * qy) AS sxy,
         sum(CAST(qx AS HUGEINT) * qx) AS sxx
  FROM t GROUP BY l_returnflag),
s AS (
  SELECT l_returnflag, n,
         CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
           / CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
           AS slope,
         sx, sy
  FROM a)
SELECT l_returnflag, n, slope,
       (CAST(sy AS DOUBLE) / 100.0 / n
        - slope * (CAST(sx AS DOUBLE) / 100.0 / n)) AS intercept
FROM s
"""


# --------------------------------------------------------------------- r50
def r50_quantile_bounds(spark: SparkSession, sf: str) -> DataFrame:
    """Quantile sketch with a verifiable bound (the r27 pattern applied
    to percentiles): per return flag, exact quartiles of
    l_extendedprice as rank-selected order statistics (engine-portable
    — interpolated percentiles are not, see l20), plus booleans
    asserting the Spark-side percentile_approx (KLL-style sketch,
    accuracy=100 → ≤1% rank error) landed inside the exact ±2%-rank
    bracket. A broken sketch flips a flag and hash-fails the gate.

    Scale: the sketch is the 100 TB path (mergeable, one pass, no
    sort); the exact order statistics here are the verification
    harness, priced at one window sort per group."""
    li = load_table(spark, sf, "lineitem")
    qv = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
    t = li.select("l_returnflag", qv.alias("qv"))
    wg = Window.partitionBy("l_returnflag")
    ranked = t.withColumn(
        "rn", F.row_number().over(wg.orderBy("qv"))
    ).withColumn("n", F.count(F.lit(1)).over(wg))

    margin = F.ceil(F.col("n") * F.lit(0.02)).cast("long")

    def rank_at(p: float):
        return F.floor((F.col("n") - 1) * F.lit(p)).cast("long") + 1

    def stat_at(rank_col, name: str):
        return F.max(F.when(F.col("rn") == rank_col, F.col("qv"))).alias(name)

    aggs = []
    for tag, p in (("p25", 0.25), ("p50", 0.50), ("p75", 0.75)):
        r = rank_at(p)
        aggs.append(stat_at(r, f"{tag}_q"))
        aggs.append(stat_at(F.greatest(F.lit(1), r - margin), f"{tag}_lo"))
        aggs.append(stat_at(F.least(F.col("n"), r + margin), f"{tag}_hi"))
    agg = ranked.groupBy("l_returnflag").agg(
        *aggs,
        F.percentile_approx("qv", [0.25, 0.50, 0.75], 100).alias("approx"),
    )
    cols = ["l_returnflag"]
    for i, tag in enumerate(("p25", "p50", "p75")):
        cols.append(
            (F.col(f"{tag}_q").cast("double") / 100.0).alias(tag)
        )
        cols.append(
            (
                (F.col("approx")[i] >= F.col(f"{tag}_lo"))
                & (F.col("approx")[i] <= F.col(f"{tag}_hi"))
            ).alias(f"within_{tag}")
        )
    return agg.select(*cols)


R50_SQL = """
WITH t AS (
  SELECT l_returnflag,
         CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS qv
  FROM lineitem),
r AS (
  SELECT l_returnflag, qv,
         row_number() OVER (PARTITION BY l_returnflag ORDER BY qv) AS rn,
         count(*) OVER (PARTITION BY l_returnflag) AS n
  FROM t)
SELECT l_returnflag,
       CAST(max(CASE WHEN rn = CAST(floor((n-1) * 0.25) AS BIGINT) + 1
                     THEN qv END) AS DOUBLE) / 100.0 AS p25,
       TRUE AS within_p25,
       CAST(max(CASE WHEN rn = CAST(floor((n-1) * 0.50) AS BIGINT) + 1
                     THEN qv END) AS DOUBLE) / 100.0 AS p50,
       TRUE AS within_p50,
       CAST(max(CASE WHEN rn = CAST(floor((n-1) * 0.75) AS BIGINT) + 1
                     THEN qv END) AS DOUBLE) / 100.0 AS p75,
       TRUE AS within_p75
FROM r GROUP BY l_returnflag
"""


# --------------------------------------------------------------------- r51
def r51_grouping_sets(spark: SparkSession, sf: str) -> DataFrame:
    """Non-hierarchical GROUPING SETS (beyond r32's ROLLUP): the
    (status), (priority) and () summaries of orders in ONE aggregate —
    Catalyst plans a single Expand + one shuffle instead of three jobs
    that each rescan the fact table. grouping() flags disambiguate a
    genuine NULL key from a superaggregate row.

    Scale: Expand multiplies rows by the number of sets (3×) BEFORE the
    shuffle, but map-side combine collapses them to |keys| per task —
    the exchange carries group rows, not fact rows.
    """
    load_table(spark, sf, "orders").createOrReplaceTempView("_r51_orders")
    return spark.sql(
        f"""
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping(o_orderstatus) AS INT) AS g_status,
               CAST(grouping(o_orderpriority) AS INT) AS g_prio,
               CAST(count(*) AS BIGINT) AS n_orders,
               {sql_dsum('o_totalprice')} AS total_price
        FROM _r51_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


R51_SQL = f"""
SELECT o_orderstatus, o_orderpriority,
       CAST(grouping(o_orderstatus) AS INT) AS g_status,
       CAST(grouping(o_orderpriority) AS INT) AS g_prio,
       CAST(count(*) AS BIGINT) AS n_orders,
       {sql_dsum('o_totalprice')} AS total_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


# --------------------------------------------------------------------- r52
def r52_mode_per_group(spark: SparkSession, sf: str) -> DataFrame:
    """Mode (most frequent value) per group without a window: count per
    (segment, priority), then max(struct(cnt, value)) per segment —
    the two-phase argmax that replaces the rank-window idiom with two
    combiner-friendly aggregates (deterministic tiebreak: higher
    priority string wins equal counts).

    Scale: a window row_number over (segment ORDER BY cnt) would
    single-task each segment's candidate list; max(struct) keeps both
    phases map-side-combined with O(1) state per key.
    """
    orders = load_table(spark, sf, "orders")
    cust = load_table(spark, sf, "customer")
    counted = (
        orders.join(
            F.broadcast(cust.select("c_custkey", "c_mktsegment")),
            orders.o_custkey == F.col("c_custkey"),
        )
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    best = F.max(F.struct("cnt", "o_orderpriority")).alias("b")
    return (
        counted.groupBy("c_mktsegment")
        .agg(best)
        .select(
            "c_mktsegment",
            F.col("b.o_orderpriority").alias("mode_priority"),
            F.col("b.cnt").alias("n_orders"),
        )
    )


R52_SQL = """
WITH counted AS (
  SELECT c_mktsegment, o_orderpriority, CAST(count(*) AS BIGINT) AS cnt
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY c_mktsegment, o_orderpriority),
r AS (
  SELECT c_mktsegment, o_orderpriority, cnt,
         row_number() OVER (PARTITION BY c_mktsegment
                            ORDER BY cnt DESC, o_orderpriority DESC) AS rn
  FROM counted)
SELECT c_mktsegment, o_orderpriority AS mode_priority, cnt AS n_orders
FROM r WHERE rn = 1
"""


# --------------------------------------------------------------------- r53
def r53_sketch_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Mergeable distinct-count sketches (Datasketches HLL): build one
    sketch per (status, priority) leaf, then UNION the leaf sketches up
    to the status level — the re-aggregation never touches the fact
    table again. This is the property approx_count_distinct (r27)
    lacks: its estimate is final, while a stored sketch column supports
    any later rollup (day→month→year, leaf→cube) at sketch-merge cost.

    Verified r27-style: the output is the exact per-status distinct
    (DuckDB-reproducible) plus a bound flag on the merged-sketch
    estimate — a broken sketch/merge flips the flag and hash-fails.

    Scale: leaf sketches are a combiner-friendly aggregate (fixed
    ~2-4 KB state per group); the rollup shuffles sketch bytes, not
    rows. At 100 TB you persist the leaf-sketch table once and serve
    every distinct-count rollup from it.
    """
    orders = load_table(spark, sf, "orders")
    leaf = orders.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.hll_sketch_agg("o_custkey").alias("sk")
    )
    merged = leaf.groupBy("o_orderstatus").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx")
    )
    exact = orders.groupBy("o_orderstatus").agg(
        F.count_distinct("o_custkey").alias("exact_customers")
    )
    # default lgConfigK=12 → rsd ≈ 1.04/√4096 ≈ 1.6%; allow 4×.
    within = (
        F.abs(F.col("approx") - F.col("exact_customers"))
        <= F.lit(0.065) * F.col("exact_customers")
    )
    return (
        exact.join(F.broadcast(merged), "o_orderstatus")
        .select("o_orderstatus", "exact_customers", within.alias("within_bound"))
    )


R53_SQL = """
SELECT o_orderstatus,
       COUNT(DISTINCT o_custkey) AS exact_customers,
       TRUE AS within_bound
FROM orders GROUP BY o_orderstatus
"""


# --------------------------------------------------------------------- r54
def r54_nation_trade(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping): revenue flowing between two
    chosen nations in both directions, by supplier-nation /
    customer-nation / ship year. Both fact tables are REDUCED by their
    broadcast dim joins (suppliers and customers of just the 2 nations)
    BEFORE the fact⋈fact shuffle — the selective-dim-first ordering
    that makes Q7 tractable: the orderkey exchange carries ~2/25² of
    the raw join volume.
    """
    two = ("NATION_1", "NATION_2")
    nation = load_table(spark, sf, "nation").filter(F.col("n_name").isin(*two))
    sup = (
        load_table(spark, sf, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cus = (
        load_table(spark, sf, "customer")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = load_table(spark, sf, "lineitem").join(
        F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey")
    )
    orders = load_table(spark, sf, "orders").join(
        F.broadcast(cus), F.col("o_custkey") == F.col("c_custkey")
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("ship_year"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
        )
    )


R54_SQL = f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INT) AS ship_year,
       CAST(count(*) AS BIGINT) AS n_lines,
       {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE n1.n_name IN ('NATION_1', 'NATION_2')
  AND n2.n_name IN ('NATION_1', 'NATION_2')
  AND n1.n_name <> n2.n_name
GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
"""


# --------------------------------------------------------------------- r55
def r55_mad_outliers(spark: SparkSession, sf: str) -> DataFrame:
    """Robust outlier detection per group: median absolute deviation
    (MAD) with the modified z-score rule |x−med|·6745 > 35000·MAD
    (0.6745·dev/MAD > 3.5) kept in INTEGER cross-multiplied form — no
    float division anywhere, so the flag is bit-portable. Medians are
    rank-selected order statistics (the r50/l20 discipline: sketches
    are the 100 TB path, exact ranks are the verification harness).
    """
    from pyspark_recs.sql.transforms import grouped_exact_median
    from pyspark_recs.workloads.common import snapshot_plan

    # SNAPSHOT the quantized fact projection (r12-opt, guide §3.3): it
    # feeds SIX plan branches (each median's histogram + in-bucket
    # phases, the deviation build, the final flag aggregate), and the
    # before plan (plans/r12/r55_mad_outliers_before.txt) shows 9
    # lineitem scans. The snapshot is a narrow 2-column long projection
    # (~10 MB at sf0.1; at 100 TB you would materialize to scratch
    # parquet instead — same plan shape). The deviation frame is NOT
    # snapshotted: recomputing it from the snapshot is one in-memory
    # projection + a 3-row broadcast join, cheaper than a second
    # materialization barrier (A/B'd at sf0.1).
    li = snapshot_plan(
        load_table(spark, sf, "lineitem").select(
            "l_returnflag",
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("qv"),
        )
    )
    # Both medians via the two-phase bucket selection (see
    # grouped_exact_median): no whole-group single-task window sorts.
    med = grouped_exact_median(li, "l_returnflag", "qv").select(
        "l_returnflag", F.col("median").alias("med_qv")
    )
    with_dev = li.join(F.broadcast(med), "l_returnflag").select(
        "l_returnflag", "qv", "med_qv",
        F.abs(F.col("qv") - F.col("med_qv")).alias("ad"),
    )
    mad = grouped_exact_median(with_dev, "l_returnflag", "ad").select(
        "l_returnflag", F.col("median").alias("mad_qv")
    )
    flagged = with_dev.join(F.broadcast(mad), "l_returnflag")
    return (
        flagged.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.max(F.col("med_qv")).alias("med_qv"),
            F.max(F.col("mad_qv")).alias("mad_qv"),
            F.sum(
                (F.col("ad") * 6745 > F.col("mad_qv") * 35000).cast("long")
            ).alias("n_outliers"),
        )
        .select(
            "l_returnflag",
            "n_rows",
            (F.col("med_qv").cast("double") / 100.0).alias("median_price"),
            (F.col("mad_qv").cast("double") / 100.0).alias("mad_price"),
            "n_outliers",
        )
    )


R55_SQL = """
WITH t AS (
  SELECT l_returnflag,
         CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS qv
  FROM lineitem),
r AS (
  SELECT l_returnflag, qv,
         row_number() OVER (PARTITION BY l_returnflag ORDER BY qv) AS rn,
         count(*) OVER (PARTITION BY l_returnflag) AS n
  FROM t),
med AS (
  SELECT l_returnflag, qv AS med_qv FROM r
  WHERE rn = CAST(floor((n - 1) / 2) AS BIGINT) + 1),
dev AS (
  SELECT t.l_returnflag, t.qv, med.med_qv,
         abs(t.qv - med.med_qv) AS ad
  FROM t JOIN med USING (l_returnflag)),
rd AS (
  SELECT l_returnflag, ad,
         row_number() OVER (PARTITION BY l_returnflag ORDER BY ad) AS rn,
         count(*) OVER (PARTITION BY l_returnflag) AS n
  FROM dev),
mad AS (
  SELECT l_returnflag, ad AS mad_qv FROM rd
  WHERE rn = CAST(floor((n - 1) / 2) AS BIGINT) + 1)
SELECT dev.l_returnflag,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(max(dev.med_qv) AS DOUBLE) / 100.0 AS median_price,
       CAST(max(mad.mad_qv) AS DOUBLE) / 100.0 AS mad_price,
       CAST(sum(CASE WHEN dev.ad * 6745 > mad.mad_qv * 35000
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM dev JOIN mad USING (l_returnflag)
GROUP BY dev.l_returnflag
"""


# --------------------------------------------------------------------- r56
def r56_set_ops(spark: SparkSession, sf: str) -> DataFrame:
    """Native set operations (completing §2.6 beyond O5's union):
    customers active in BOTH halves of the dataset (INTERSECT) vs
    early-only churned customers (EXCEPT), labeled and unioned into one
    result. Catalyst rewrites both to semi/anti joins — one shuffle per
    branch on the key, no distinct-then-join detour.

    Scale: the halves are key-only projections before the set op, so
    the exchanges carry bigint keys; the midpoint scalar is a 1-row
    broadcast.
    """
    orders = load_table(spark, sf, "orders")
    mid = orders.agg(
        F.to_timestamp(
            F.from_unixtime(
                F.floor(
                    (F.unix_timestamp(F.min("o_orderdate"))
                     + F.unix_timestamp(F.max("o_orderdate"))) / 2
                )
            )
        ).alias("mid")
    )
    with_mid = orders.crossJoin(F.broadcast(mid))
    early = with_mid.filter(F.col("o_orderdate") < F.col("mid")).select(
        "o_custkey"
    )
    late = with_mid.filter(F.col("o_orderdate") >= F.col("mid")).select(
        "o_custkey"
    )
    both = early.intersect(late).select(
        "o_custkey", F.lit("retained").alias("cohort")
    )
    churned = early.subtract(late).select(
        "o_custkey", F.lit("churned").alias("cohort")
    )
    return both.unionByName(churned)


R56_SQL = """
WITH mid AS (
  SELECT to_timestamp(CAST(floor(
           (epoch(min(o_orderdate)) + epoch(max(o_orderdate))) / 2)
         AS BIGINT)) AS mid
  FROM orders),
early AS (
  SELECT o_custkey FROM orders, mid WHERE o_orderdate < mid),
late AS (
  SELECT o_custkey FROM orders, mid WHERE o_orderdate >= mid)
SELECT o_custkey, 'retained' AS cohort
FROM (SELECT o_custkey FROM early INTERSECT SELECT o_custkey FROM late)
UNION ALL
SELECT o_custkey, 'churned' AS cohort
FROM (SELECT o_custkey FROM early EXCEPT SELECT o_custkey FROM late)
"""


# --------------------------------------------------------------------- r57
def r57_pagerank_trade(spark: SparkSession, sf: str) -> DataFrame:
    """PageRank over the nation-level trade graph (customer nation →
    supplier nation, one directed edge per observed trading relation),
    3 iterations, damping 0.85 — the iterative-graph workload next to
    l21's connected components, bit-reproducible via graph.pagerank's
    fixed-point contribution sums (see pagerank's docstring for the
    determinism argument and per-iteration shuffle budget).

    Scale: the edge list is DISTINCT'd down to nation-pair granularity
    BEFORE the iteration (≤ N² rows regardless of fact size — the same
    reduce-early ordering as r54); dims broadcast into the fact scan.
    """
    from pyspark_recs.graph import pagerank

    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    cus = F.broadcast(
        load_table(spark, sf, "customer").select("c_custkey", "c_nationkey")
    )
    sup = F.broadcast(
        load_table(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    )
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cus, F.col("o_custkey") == F.col("c_custkey"))
        .join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.col("c_nationkey").alias("src"),
            F.col("s_nationkey").alias("dst"),
        )
    )
    ranks = pagerank(edges, iterations=3, damping=0.85)
    nation = F.broadcast(
        load_table(spark, sf, "nation").select("n_nationkey", "n_name")
    )
    return ranks.join(nation, ranks.node == nation.n_nationkey).select(
        "n_name", F.col("rank").alias("pagerank")
    )


def _r57_sql() -> str:
    from pyspark_recs.graph import pagerank_oracle_sql

    edges = """
  SELECT DISTINCT c_nationkey AS src, s_nationkey AS dst
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  WHERE c_nationkey <> s_nationkey
"""
    pr = pagerank_oracle_sql(edges, iterations=3, damping=0.85)
    return (
        f"SELECT n_name, pr.rank AS pagerank FROM ({pr}) pr "
        f"JOIN nation ON pr.node = n_nationkey"
    )


R57_SQL = _r57_sql()


# --------------------------------------------------------------------- r58
def r58_ewma_smoothing(spark: SparkSession, sf: str) -> DataFrame:
    """Trailing exponential smoothing (EWMA) of event values per user:
    fixed 4-tap kernel with α = 1/2 over the (ts, event_id)-ordered
    stream, emitted once 4 taps of history exist. α and the kernel
    normalizer (1.875) are binary-exact doubles and the 4-term sum has
    a fixed parse-tree order, so the result is bit-identical across
    engines with NO fixed-point scaffolding — the lag-kernel form of
    smoothing that windowed state (s09) maintains incrementally.

    Scale: one window spec = one shuffle on user_id; taps are lags
    inside the sorted run, no self-join, no collect.
    """
    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lag1, lag2, lag3 = (F.lag("value", i).over(w) for i in (1, 2, 3))
    rn = F.row_number().over(w)
    return (
        ev.select(
            "user_id",
            "event_id",
            "ts",
            "value",
            (
                (
                    F.col("value")
                    + F.lit(0.5) * lag1
                    + F.lit(0.25) * lag2
                    + F.lit(0.125) * lag3
                )
                / F.lit(1.875)
            ).alias("ewma"),
            rn.alias("rn"),
        )
        .filter(F.col("rn") >= 4)
        .drop("rn")
    )


R58_SQL = """
SELECT user_id, event_id, ts, value,
       (value + 0.5 * lag1 + 0.25 * lag2 + 0.125 * lag3) / 1.875 AS ewma
FROM (
  SELECT user_id, event_id, ts, value,
         lag(value, 1) OVER w AS lag1,
         lag(value, 2) OVER w AS lag2,
         lag(value, 3) OVER w AS lag3,
         row_number() OVER w AS rn
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
WHERE rn >= 4
"""


# --------------------------------------------------------------------- r59
def r59_gap_fill(spark: SparkSession, sf: str) -> DataFrame:
    """Time-series densification + forward fill: per user, a complete
    daily grid from first to last activity, carrying each day's closing
    event value forward across silent days (the observability/finance
    "gap fill" staple; the inverse of r33's unpivot sparsification).

    Scale: the grid is generated per user from (min, max) bounds —
    sequence() + explode, no calendar cross join; the closing value is
    a max(struct) partial aggregate (no window over raw events); the
    forward fill is one user-partitioned window. Grid size bounds the
    output: Σ_u span_u days, independent of event volume.
    """
    ev = load_table(spark, sf, "events").select(
        "user_id",
        F.date_trunc("DAY", F.col("ts")).alias("day"),
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        "value",
    )
    daily = ev.groupBy("user_id", "day").agg(
        F.max(F.struct("ts_us", "event_id", "value"))["value"].alias("value")
    )
    grid = (
        ev.groupBy("user_id")
        .agg(F.min("day").alias("mn"), F.max("day").alias("mx"))
        .select(
            "user_id",
            F.explode(
                F.sequence("mn", "mx", F.expr("INTERVAL 1 DAY"))
            ).alias("day"),
        )
    )
    joined = grid.join(daily, ["user_id", "day"], "left_outer")
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "user_id",
        "day",
        F.last("value", ignorenulls=True).over(w).alias("value_filled"),
        F.col("value").isNotNull().alias("is_observed"),
    )


R59_SQL = """
WITH ev AS (
  SELECT user_id, date_trunc('day', ts) AS day, ts, event_id, value
  FROM events),
daily AS (
  SELECT user_id, day, value FROM (
    SELECT user_id, day, value,
           row_number() OVER (PARTITION BY user_id, day
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM ev)
  WHERE rn = 1),
bounds AS (
  SELECT user_id, min(day) AS mn, max(day) AS mx FROM ev GROUP BY user_id),
grid AS (
  SELECT user_id, unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS day
  FROM bounds)
SELECT g.user_id, g.day,
       last_value(d.value IGNORE NULLS)
         OVER (PARTITION BY g.user_id ORDER BY g.day
               ROWS UNBOUNDED PRECEDING) AS value_filled,
       d.value IS NOT NULL AS is_observed
FROM grid g LEFT JOIN daily d
  ON g.user_id = d.user_id AND g.day = d.day
"""


# --------------------------------------------------------------------- r60
def r60_ks_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift audit between the early and
    late halves of the order stream (split at the midpoint date, the
    r56 rule): the full CDF-difference curve over order totals —
    max(ks_component) IS the KS statistic — the training-data drift
    gate that decides whether yesterday's distribution still matches
    today's. Numerators are exact cross-multiplied BIGINTs
    (|cum_e·n_l − cum_l·n_e|); the only double op is one final
    division, so the curve is bit-portable.

    Scale: per-value counts aggregate map-side; the two cumulative
    counts ride ONE deterministic range-bucketing + per-partition
    windows + a broadcast offsets table (the scalable_prefix_sum
    pattern inlined for two columns) — no single-task global window
    anywhere, and the bucket ids are a pure projection so the local
    and offsets branches can never disagree on the split.
    """
    orders = load_table(spark, sf, "orders").select(
        "o_orderdate", "o_totalprice"
    )
    mid = orders.agg(
        F.to_timestamp(
            F.floor(
                (
                    F.unix_timestamp(F.min("o_orderdate"))
                    + F.unix_timestamp(F.max("o_orderdate"))
                )
                / 2
            )
        ).alias("mid")
    )
    flagged = orders.crossJoin(F.broadcast(mid)).select(
        F.col("o_totalprice").alias("v"),
        F.when(F.col("o_orderdate") < F.col("mid"), 1)
        .otherwise(0)
        .alias("is_early"),
    )
    nets = flagged.groupBy("v").agg(
        F.sum("is_early").alias("c_e"),
        F.sum(1 - F.col("is_early")).alias("c_l"),
    )
    totals = flagged.agg(
        F.sum("is_early").alias("n_e"),
        F.sum(1 - F.col("is_early")).alias("n_l"),
    )
    from pyspark_recs.sql.transforms import _order_bucketed

    parted = _order_bucketed(nets, "v", 32)
    w_local = (
        Window.partitionBy("_pid")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = parted.withColumn(
        "le", F.sum("c_e").over(w_local)
    ).withColumn("ll", F.sum("c_l").over(w_local))
    w_off = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        parted.groupBy("_pid")
        .agg(F.sum("c_e").alias("te"), F.sum("c_l").alias("tl"))
        .withColumn("oe", F.coalesce(F.sum("te").over(w_off), F.lit(0)))
        .withColumn("ol", F.coalesce(F.sum("tl").over(w_off), F.lit(0)))
        .select("_pid", "oe", "ol")
    )
    cums = (
        local.join(F.broadcast(offsets), "_pid")
        .select(
            "v",
            (F.col("le") + F.col("oe")).alias("cum_early"),
            (F.col("ll") + F.col("ol")).alias("cum_late"),
        )
    )
    return cums.crossJoin(F.broadcast(totals)).select(
        "v",
        "cum_early",
        "cum_late",
        (
            F.abs(
                F.col("cum_early") * F.col("n_l")
                - F.col("cum_late") * F.col("n_e")
            ).cast("double")
            / (F.col("n_e") * F.col("n_l")).cast("double")
        ).alias("ks_component"),
    )


R60_SQL = """
WITH mid AS (
  SELECT to_timestamp(CAST(floor(
           (epoch(min(o_orderdate)) + epoch(max(o_orderdate))) / 2)
         AS BIGINT)) AS mid
  FROM orders),
flagged AS (
  SELECT o_totalprice AS v,
         CASE WHEN o_orderdate < mid THEN 1 ELSE 0 END AS is_early
  FROM orders, mid),
nets AS (
  SELECT v, CAST(sum(is_early) AS BIGINT) AS c_e,
         CAST(sum(1 - is_early) AS BIGINT) AS c_l
  FROM flagged GROUP BY v),
totals AS (
  SELECT CAST(sum(is_early) AS BIGINT) AS n_e,
         CAST(sum(1 - is_early) AS BIGINT) AS n_l
  FROM flagged),
cums AS (
  SELECT v,
         CAST(sum(c_e) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS cum_early,
         CAST(sum(c_l) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS cum_late
  FROM nets)
SELECT v, cum_early, cum_late,
       CAST(abs(cum_early * n_l - cum_late * n_e) AS DOUBLE)
         / CAST(n_e * n_l AS DOUBLE) AS ks_component
FROM cums, totals
"""


# --------------------------------------------------------------------- r61
def r61_seasonal_anomaly(spark: SparkSession, sf: str) -> DataFrame:
    """Time-series anomaly detection on the event stream: per event
    type, daily counts vs the seasonal-naive forecast (same weekday
    last week, lag-7), residuals gated by the r55 robust rule —
    |resid − median| · 6745 > 35000 · MAD, everything in exact
    integers (counts, rank-selected medians, cross-multiplied
    comparison), so the flags are bit-portable. The pipeline-health
    twin of r60's KS drift: r60 asks "did the distribution move",
    this asks "which days broke the weekly pattern".

    Scale: daily rollup is a combiner-friendly count; lag/median
    windows partition by event_type (series are day-grain — thousands
    of rows per type per decade, never fact-sized).
    """
    ev = load_table(spark, sf, "events")
    daily = ev.groupBy(
        F.col("event_type"),
        F.date_trunc("DAY", F.col("ts")).alias("day"),
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy("day")
    resid = (
        daily.withColumn("lag7", F.lag("n", 7).over(w))
        .filter(F.col("lag7").isNotNull())
        .withColumn("resid", F.col("n") - F.col("lag7"))
    )
    wr = Window.partitionBy("event_type").orderBy("resid", "day")
    wn = Window.partitionBy("event_type")
    med = (
        resid.withColumn("rn", F.row_number().over(wr))
        .withColumn("cnt", F.count(F.lit(1)).over(wn))
        .filter(F.col("rn") == F.floor((F.col("cnt") + 1) / 2))
        .select("event_type", F.col("resid").alias("med"))
    )
    dev = resid.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("resid") - F.col("med"))
    )
    wd = Window.partitionBy("event_type").orderBy("adev", "day")
    mad = (
        dev.withColumn("rn", F.row_number().over(wd))
        .withColumn("cnt", F.count(F.lit(1)).over(wn))
        .filter(F.col("rn") == F.floor((F.col("cnt") + 1) / 2))
        .select("event_type", F.col("adev").alias("mad"))
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .select(
            "event_type",
            "day",
            "n",
            "resid",
            (
                F.col("adev") * F.lit(6745) > F.lit(25000) * F.col("mad")
            ).alias("flag_anomaly"),
        )
    )


R61_SQL = """
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2),
resid AS (
  SELECT event_type, day, n,
         n - lag(n, 7) OVER (PARTITION BY event_type ORDER BY day)
           AS resid
  FROM daily
  QUALIFY resid IS NOT NULL),
med AS (
  SELECT event_type, resid AS med FROM (
    SELECT event_type, resid,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY resid, day) AS rn,
           count(*) OVER (PARTITION BY event_type) AS cnt
    FROM resid)
  WHERE rn = floor((cnt + 1) / 2)),
dev AS (
  SELECT r.event_type, r.day, r.n, r.resid,
         abs(r.resid - m.med) AS adev
  FROM resid r JOIN med m USING (event_type)),
mad AS (
  SELECT event_type, adev AS mad FROM (
    SELECT event_type, adev,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY adev, day) AS rn,
           count(*) OVER (PARTITION BY event_type) AS cnt
    FROM dev)
  WHERE rn = floor((cnt + 1) / 2))
SELECT d.event_type, d.day, d.n, d.resid,
       d.adev * 6745 > 25000 * md.mad AS flag_anomaly
FROM dev d JOIN mad md USING (event_type)
"""


# --------------------------------------------------------------------- r62
def r62_chisq_independence(spark: SparkSession, sf: str) -> DataFrame:
    """Chi-square test of independence between two categoricals
    (customer market segment × order priority): the categorical
    counterpart of r60's numeric KS drift — the standard gate for "did
    the mix shift" in pipeline monitoring and A/B sanity checks.

    Everything is derived from the contingency cell counts: one
    fact-side shuffle (groupBy segment × priority), then row totals,
    column totals and N come from re-aggregating the ~|seg|·|prio| cell
    table (tiny, broadcast). The per-cell statistic is computed from
    exact BIGINT cross products — contrib = (n·N − row·col)² / (N·row·col)
    with the difference formed in integer space (bit-portable) and only
    the final square/division in double. Overflow budget: |n·N| ≤ N², so
    exact up to N ≈ 3·10⁹ observations; past that, pre-scale the counts.

    Scale: the only input-sized operation is the first combiner-friendly
    count; every later step runs on the cell table.
    """
    orders = load_table(spark, sf, "orders").select("o_custkey", "o_orderpriority")
    cust = load_table(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    cells = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    rows_t = cells.groupBy("segment").agg(F.sum("n").alias("row_tot"))
    cols_t = cells.groupBy("priority").agg(F.sum("n").alias("col_tot"))
    total = cells.agg(F.sum("n").alias("grand_tot"))
    diff = F.col("n") * F.col("grand_tot") - F.col("row_tot") * F.col("col_tot")
    return (
        cells.join(F.broadcast(rows_t), "segment")
        .join(F.broadcast(cols_t), "priority")
        .crossJoin(F.broadcast(total))
        .select(
            "segment",
            "priority",
            "n",
            (
                (F.col("row_tot") * F.col("col_tot")).cast("double")
                / F.col("grand_tot").cast("double")
            ).alias("expected"),
            (
                diff.cast("double")
                * diff.cast("double")
                / (
                    F.col("grand_tot").cast("double")
                    * F.col("row_tot").cast("double")
                    * F.col("col_tot").cast("double")
                )
            ).alias("chi2_contrib"),
        )
    )


R62_SQL = """
WITH cells AS (
  SELECT c_mktsegment AS segment, o_orderpriority AS priority,
         CAST(count(*) AS BIGINT) AS n
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2),
rt AS (SELECT segment, CAST(sum(n) AS BIGINT) AS row_tot FROM cells GROUP BY 1),
ct AS (SELECT priority, CAST(sum(n) AS BIGINT) AS col_tot FROM cells GROUP BY 1),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS grand_tot FROM cells)
SELECT segment, priority, n,
       CAST(row_tot * col_tot AS DOUBLE) / CAST(grand_tot AS DOUBLE)
         AS expected,
       CAST(n * grand_tot - row_tot * col_tot AS DOUBLE)
         * CAST(n * grand_tot - row_tot * col_tot AS DOUBLE)
         / (CAST(grand_tot AS DOUBLE) * CAST(row_tot AS DOUBLE)
            * CAST(col_tot AS DOUBLE)) AS chi2_contrib
FROM cells JOIN rt USING (segment) JOIN ct USING (priority), tot
"""


# --------------------------------------------------------------------- r63
def r63_snapshot_diff(spark: SparkSession, sf: str) -> DataFrame:
    """CDC snapshot diff: classify every key across two table snapshots
    as INSERT / DELETE / UPDATE / UNCHANGED via one full-outer join —
    the change-capture primitive feeding r34's SCD2 apply (this detects
    the deltas; r34 chains them into validity intervals).

    Snapshots are carved deterministically from ``orders``: snapshot A
    is the book before 2001-07-01; snapshot B extends the horizon one
    year (new keys → INSERT), drops status-'P' legacy rows (→ DELETE)
    and re-prices open ('O') orders (→ UPDATE). Prices compare in exact
    cents (BIGINT), so UPDATE detection is bit-portable.

    Scale: one shuffle on the join key for both sides; the classifying
    projection is codegen'd. At 100 TB both snapshot scans prune to the
    key + compared columns, and bucketing both snapshots on the key
    (``bucketBy`` at write) removes the exchange entirely — the
    nightly-diff production layout.
    """
    orders = load_table(spark, sf, "orders")
    cents = F.floor(F.col("o_totalprice") * F.lit(100) + F.lit(0.5)).cast("long")
    base = orders.select(
        "o_orderkey", "o_orderstatus", "o_orderdate", cents.alias("price_c")
    )
    snap_a = base.filter(F.col("o_orderdate") < F.lit("2001-07-01")).select(
        F.col("o_orderkey").alias("key_a"), F.col("price_c").alias("old_price_c")
    )
    snap_b = (
        base.filter(
            (F.col("o_orderdate") < F.lit("2002-07-01"))
            & (F.col("o_orderstatus") != F.lit("P"))
        )
        .select(
            F.col("o_orderkey").alias("key_b"),
            F.when(
                F.col("o_orderstatus") == F.lit("O"),
                F.col("price_c") + F.lit(500),
            )
            .otherwise(F.col("price_c"))
            .alias("new_price_c"),
        )
    )
    joined = snap_a.join(
        snap_b, snap_a.key_a == snap_b.key_b, "full_outer"
    )
    return joined.select(
        F.coalesce(F.col("key_a"), F.col("key_b")).alias("o_orderkey"),
        "old_price_c",
        "new_price_c",
        F.when(F.col("key_a").isNull(), F.lit("INSERT"))
        .when(F.col("key_b").isNull(), F.lit("DELETE"))
        .when(F.col("old_price_c") != F.col("new_price_c"), F.lit("UPDATE"))
        .otherwise(F.lit("UNCHANGED"))
        .alias("change_type"),
    )


R63_SQL = """
WITH base AS (
  SELECT o_orderkey, o_orderstatus, o_orderdate,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_c
  FROM orders),
snap_a AS (
  SELECT o_orderkey AS key_a, price_c AS old_price_c
  FROM base WHERE o_orderdate < '2001-07-01'),
snap_b AS (
  SELECT o_orderkey AS key_b,
         CASE WHEN o_orderstatus = 'O' THEN price_c + 500
              ELSE price_c END AS new_price_c
  FROM base
  WHERE o_orderdate < '2002-07-01' AND o_orderstatus <> 'P')
SELECT coalesce(key_a, key_b) AS o_orderkey, old_price_c, new_price_c,
       CASE WHEN key_a IS NULL THEN 'INSERT'
            WHEN key_b IS NULL THEN 'DELETE'
            WHEN old_price_c <> new_price_c THEN 'UPDATE'
            ELSE 'UNCHANGED' END AS change_type
FROM snap_a FULL OUTER JOIN snap_b ON key_a = key_b
"""


# --------------------------------------------------------------------- r64
def r64_disjunctive_pushdown(spark: SparkSession, sf: str) -> DataFrame:
    """Disjunctive OR-of-ANDs predicate aggregation (TPC-H Q19 shape):
    three alternative (flag, range) branches OR'd into one filter, then
    revenue per surviving flag. The point at 100 TB is WHERE the
    disjunction runs: Spark pushes the whole Or tree into the parquet
    scan (row-group min/max pruning on l_quantity/l_discount — asserted
    as PushedFilters in tests/test_plans.py), so non-matching row
    groups never decompress. Revenue is the r43 fixed-point sum.
    """
    li = load_table(spark, sf, "lineitem")
    pred = (
        ((F.col("l_returnflag") == "R") & (F.col("l_quantity") < 10))
        | ((F.col("l_returnflag") == "A") & (F.col("l_quantity") > 40))
        | ((F.col("l_returnflag") == "N") & (F.col("l_discount") > 0.08))
    )
    rev_q = F.floor(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * F.lit(1e6)
        + F.lit(0.5)
    ).cast("long")
    return (
        li.filter(pred)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            (F.sum(rev_q).cast("double") / F.lit(1e6)).alias("revenue"),
        )
    )


R64_SQL = """
SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 1000000.0
                           + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS revenue
FROM lineitem
WHERE (l_returnflag = 'R' AND l_quantity < 10)
   OR (l_returnflag = 'A' AND l_quantity > 40)
   OR (l_returnflag = 'N' AND l_discount > 0.08)
GROUP BY l_returnflag
"""


# --------------------------------------------------------------------- r65
def r65_table_profile(spark: SparkSession, sf: str) -> DataFrame:
    """One-pass data-profiling summary of a wide table (null count,
    exact distinct count, canonical min/max per column) in long format —
    the ingest-gate report every pipeline runs before accepting a new
    drop, and the per-column stats a catalog/optimizer records.

    The counts/min/max for ALL columns come from one hash-aggregate
    scan; each exact distinct count is its OWN two-stage hash
    aggregation (partial distinct map-side) crossJoined back as a
    1-row broadcast. Packing the four distincts into a single SELECT
    reads nicer but plans as Expand (k× the rows) feeding a
    SORT-aggregate with first()-FILTER combiners — measured 4× slower
    at sf0.1 and 8.3 s vs 0.75 s at 10× facts; four pruned
    single-column scans beat one k-fold row expansion. Min/max are
    canonicalized engine-portably: numerics as scaled-integer strings
    (double repr differs between engines), dates as ISO strings. The
    long format comes from a 4-row stack of the 1-row aggregate — no
    second pass.
    """
    orders = load_table(spark, sf, "orders")
    price_c = F.floor(F.col("o_totalprice") * F.lit(100) + F.lit(0.5)).cast(
        "long"
    )
    base = orders.select(
        "o_custkey",
        "o_orderstatus",
        "o_orderdate",
        price_c.alias("price_c"),
    )
    plain = base.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("o_custkey").alias("nn_cust"),
        F.min("o_custkey").cast("string").alias("mn_cust"),
        F.max("o_custkey").cast("string").alias("mx_cust"),
        F.count("o_orderstatus").alias("nn_status"),
        F.min("o_orderstatus").alias("mn_status"),
        F.max("o_orderstatus").alias("mx_status"),
        F.count("o_orderdate").alias("nn_date"),
        F.min("o_orderdate").cast("date").cast("string").alias("mn_date"),
        F.max("o_orderdate").cast("date").cast("string").alias("mx_date"),
        F.count("price_c").alias("nn_price"),
        F.min("price_c").cast("string").alias("mn_price"),
        F.max("price_c").cast("string").alias("mx_price"),
    )
    agg = plain
    for col, alias in (
        ("o_custkey", "nd_cust"),
        ("o_orderstatus", "nd_status"),
        ("o_orderdate", "nd_date"),
        ("price_c", "nd_price"),
    ):
        agg = agg.crossJoin(
            F.broadcast(base.agg(F.countDistinct(col).alias(alias)))
        )
    return agg.selectExpr(
        """stack(4,
           'o_custkey',     n_rows, n_rows - nn_cust,   nd_cust,   mn_cust,   mx_cust,
           'o_orderstatus', n_rows, n_rows - nn_status, nd_status, mn_status, mx_status,
           'o_orderdate',   n_rows, n_rows - nn_date,   nd_date,   mn_date,   mx_date,
           'o_totalprice_cents', n_rows, n_rows - nn_price, nd_price, mn_price, mx_price)
           AS (col_name, n_rows, n_null, n_distinct, min_repr, max_repr)"""
    )


R65_SQL = """
WITH base AS (
  SELECT o_custkey, o_orderstatus, o_orderdate,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_c
  FROM orders),
a AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         CAST(count(o_custkey) AS BIGINT) AS nn_cust,
         CAST(count(DISTINCT o_custkey) AS BIGINT) AS nd_cust,
         CAST(min(o_custkey) AS VARCHAR) AS mn_cust,
         CAST(max(o_custkey) AS VARCHAR) AS mx_cust,
         CAST(count(o_orderstatus) AS BIGINT) AS nn_status,
         CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS nd_status,
         min(o_orderstatus) AS mn_status,
         max(o_orderstatus) AS mx_status,
         CAST(count(o_orderdate) AS BIGINT) AS nn_date,
         CAST(count(DISTINCT o_orderdate) AS BIGINT) AS nd_date,
         CAST(CAST(min(o_orderdate) AS DATE) AS VARCHAR) AS mn_date,
         CAST(CAST(max(o_orderdate) AS DATE) AS VARCHAR) AS mx_date,
         CAST(count(price_c) AS BIGINT) AS nn_price,
         CAST(count(DISTINCT price_c) AS BIGINT) AS nd_price,
         CAST(min(price_c) AS VARCHAR) AS mn_price,
         CAST(max(price_c) AS VARCHAR) AS mx_price
  FROM base)
SELECT 'o_custkey' AS col_name, n_rows, n_rows - nn_cust AS n_null,
       nd_cust AS n_distinct, mn_cust AS min_repr, mx_cust AS max_repr FROM a
UNION ALL
SELECT 'o_orderstatus', n_rows, n_rows - nn_status, nd_status,
       mn_status, mx_status FROM a
UNION ALL
SELECT 'o_orderdate', n_rows, n_rows - nn_date, nd_date,
       mn_date, mx_date FROM a
UNION ALL
SELECT 'o_totalprice_cents', n_rows, n_rows - nn_price, nd_price,
       mn_price, mx_price FROM a
"""


# --------------------------------------------------------------------- r66
def r66_trimmed_mean(spark: SparkSession, sf: str) -> DataFrame:
    """Per-group 10% trimmed mean via a GROUPED_AGG pandas UDF — the
    robust-location statistic, and deliberately the one §2.8 UDF
    flavor the suite hadn't exercised yet (scalar pandas_udf,
    mapInPandas, grouped-map, stateful, and UDTF all have queries;
    this is the Arrow-vectorized custom AGGREGATE). The trim drops the
    k = ⌊n/10⌋ smallest and largest values; because trimming is by
    VALUE rank, the retained multiset — hence the mean — is
    deterministic regardless of row order, and the sum is int64 so the
    single final division matches the SQL twin bit-for-bit.

    Scale: grouped-agg buffers ONE GROUP's column in memory
    (Arrow-batched) — fine for per-source statistics (groups ≪ rows);
    for billion-row groups use the r50 sketch path instead. The oracle
    twin is the relational rank-filter form, which is also the pure-SQL
    fallback when group sizes are unbounded.
    """
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # functionType given explicitly: this module runs under
    # `from __future__ import annotations`, which stringifies the
    # pd.Series annotations the inference path needs.
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def trimmed_mean(v):
        vals = v.sort_values().to_numpy()
        k = len(vals) // 10
        kept = vals[k : len(vals) - k]
        return float(int(kept.sum()) / len(kept))

    @pandas_udf("long", PandasUDFType.GROUPED_AGG)
    def n_rows(v):
        # Spark disallows mixing pandas and JVM aggregates in one agg
        # (INVALID_PANDAS_UDF_PLACEMENT), so the count rides Arrow too.
        return len(v)

    docs = load_table(spark, sf, "documents")
    return docs.groupBy("source").agg(
        n_rows("n_chars").alias("n_docs"),
        trimmed_mean("n_chars").alias("trimmed_mean_chars"),
    )


R66_SQL = """
WITH ranked AS (
  SELECT source, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars, doc_id) AS rn,
         count(*) OVER (PARTITION BY source) AS n
  FROM documents),
kept AS (
  SELECT source, n_chars, n FROM ranked
  WHERE rn > n // 10 AND rn <= n - n // 10)
SELECT source, CAST(max(n) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS DOUBLE) / count(*) AS trimmed_mean_chars
FROM kept GROUP BY source
"""


# --------------------------------------------------------------------- r67
def r67_min_cost_supplier(spark: SparkSession, sf: str) -> DataFrame:
    """Minimum-cost supplier per part within a region, PRESERVING ties
    (TPC-H Q2's defining semantics — r18's max_by/argmax returns one
    winner, Q2 returns every supplier achieving the minimum): one
    region-filtered aggregation finds the per-part min cost in exact
    cents, then an equality join-back keeps all achieving rows. The
    two-step min-then-join-back is the relational idiom Catalyst can't
    fuse into max_by when ties must survive.

    Scale: the supplier⋈nation⋈region reduction broadcasts (dims); the
    min table is part-keyed (bounded by catalog size) and joins back
    broadcast; the fact scans twice but prunes to 4 columns — at rest,
    bucketing lineitem on l_partkey co-locates both passes.
    """
    li = load_table(spark, sf, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cost_c"),
    )
    supplier = load_table(spark, sf, "supplier")
    nation = load_table(spark, sf, "nation")
    region = load_table(spark, sf, "region")
    eu_supp = (
        supplier.join(
            F.broadcast(nation),
            supplier.s_nationkey == nation.n_nationkey,
        )
        .join(
            F.broadcast(region.filter(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "n_name")
    )
    offers = li.join(F.broadcast(eu_supp), li.l_suppkey == F.col("s_suppkey"))
    mins = (
        offers.groupBy("l_partkey")
        .agg(F.min("cost_c").alias("min_cost_c"))
        .withColumnRenamed("l_partkey", "m_partkey")
    )
    return (
        offers.join(
            F.broadcast(mins),
            (F.col("l_partkey") == F.col("m_partkey"))
            & (F.col("cost_c") == F.col("min_cost_c")),
        )
        .select(
            F.col("l_partkey").alias("p_partkey"),
            "s_suppkey",
            "n_name",
            (F.col("min_cost_c").cast("double") / F.lit(100.0)).alias(
                "min_cost"
            ),
        )
        .distinct()
    )


R67_SQL = """
WITH eu_supp AS (
  SELECT s_suppkey, n_name
  FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'),
offers AS (
  SELECT l_partkey, s_suppkey, n_name,
         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cost_c
  FROM lineitem JOIN eu_supp ON l_suppkey = s_suppkey),
mins AS (
  SELECT l_partkey, min(cost_c) AS min_cost_c
  FROM offers GROUP BY l_partkey)
SELECT DISTINCT o.l_partkey AS p_partkey, o.s_suppkey, o.n_name,
       CAST(m.min_cost_c AS DOUBLE) / 100.0 AS min_cost
FROM offers o JOIN mins m
  ON o.l_partkey = m.l_partkey AND o.cost_c = m.min_cost_c
"""


# --------------------------------------------------------------------- r74
R74_CANDIDATES = (
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("orders", "o_orderkey", "customer", "c_custkey"),  # spurious
)


def r74_fk_discovery(spark: SparkSession, sf: str) -> DataFrame:
    """Join-key discovery profiling (the data-catalog primitive behind
    "which columns join?"): for each candidate (child, parent) column
    pair, the inclusion coefficient |child ∩ parent| / |child| over
    DISTINCT values, in exact ppm. True FKs profile at 1 000 000;
    the deliberately-spurious orderkey→custkey pair scores low — and
    the emitted cardinalities expose why dense surrogate-id overlap
    (suppkey⊂custkey-style) needs the cardinality ratio, not inclusion
    alone, to call direction.

    Scale: everything operates on per-column DISTINCT sets (map-side
    combined — shuffle is key-cardinality, not row count); each pair's
    three counts (child, parent, matched) come from ONE full-outer
    join of the two distinct sets — a single co-partitioned pass, so
    every base table is scanned exactly once per pair (the naive
    semi-join + two count subqueries re-derives the child distinct
    three times; Spark has no DataFrame-level CSE). Pairs are
    independent (embarrassingly parallel across the candidate list).
    """
    out = None
    for child_t, child_c, parent_t, parent_c in R74_CANDIDATES:
        child_d = (
            load_table(spark, sf, child_t)
            .select(F.col(child_c).alias("k"))
            .distinct()
            .withColumn("c", F.lit(1))
        )
        parent_d = (
            load_table(spark, sf, parent_t)
            .select(F.col(parent_c).alias("k"))
            .distinct()
            .withColumn("p", F.lit(1))
        )
        row = (
            child_d.join(parent_d, "k", "full")
            .agg(
                F.sum("c").alias("n_child"),
                F.sum("p").alias("n_parent"),
                F.coalesce(
                    F.sum(
                        F.when(
                            F.col("c").isNotNull() & F.col("p").isNotNull(),
                            1,
                        )
                    ),
                    F.lit(0),
                ).alias("n_matched"),
            )
            .select(
                F.lit(f"{child_t}.{child_c}").alias("child_col"),
                F.lit(f"{parent_t}.{parent_c}").alias("parent_col"),
                F.col("n_child").cast("long").alias("n_child"),
                F.col("n_parent").cast("long").alias("n_parent"),
                F.col("n_matched").cast("long").alias("n_matched"),
                F.expr("(1000000L * n_matched) div n_child")
                .cast("long")
                .alias("inclusion_ppm"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


def _r74_pair_sql(child_t, child_c, parent_t, parent_c):
    return f"""
SELECT '{child_t}.{child_c}' AS child_col,
       '{parent_t}.{parent_c}' AS parent_col,
       (SELECT CAST(count(DISTINCT {child_c}) AS BIGINT) FROM {child_t})
         AS n_child,
       (SELECT CAST(count(DISTINCT {parent_c}) AS BIGINT) FROM {parent_t})
         AS n_parent,
       (SELECT CAST(count(*) AS BIGINT) FROM
          (SELECT DISTINCT {child_c} FROM {child_t}
           WHERE {child_c} IN (SELECT {parent_c} FROM {parent_t})))
         AS n_matched,
       (1000000 * (SELECT CAST(count(*) AS BIGINT) FROM
          (SELECT DISTINCT {child_c} FROM {child_t}
           WHERE {child_c} IN (SELECT {parent_c} FROM {parent_t}))))
         // (SELECT CAST(count(DISTINCT {child_c}) AS BIGINT)
             FROM {child_t}) AS inclusion_ppm"""


R74_SQL = "\nUNION ALL\n".join(
    _r74_pair_sql(*cand) for cand in R74_CANDIDATES
)


# --------------------------------------------------------------------- r73
def r73_delete_propagation(spark: SparkSession, sf: str) -> DataFrame:
    """Right-to-erasure audit (the GDPR lifecycle op): a deterministic
    1 % of customers request deletion; the cascade follows the FK graph
    — their orders, and those orders' lineitems — and reports per-table
    (rows, to_delete, kept). The md5-keyed victim set stands in for the
    request table; counts are the pre-flight audit every erasure job
    runs before rewriting. The rewrite itself (anti-join + partition
    rewrite) reads this plan.

    Scale: the victim set is request-volume-sized and BROADCASTS to
    every fact anti/semi-join — no fact shuffles anywhere; the lineitem
    cascade probes doomed orderkeys (also broadcast after the semi
    join). Exactly the shape that lets a 100 TB erasure run touch only
    the partitions holding matches (pair with date/bucket layout).
    """
    customer = load_table(spark, sf, "customer").select("c_custkey")
    orders = load_table(spark, sf, "orders").select(
        "o_orderkey", "o_custkey"
    )
    lineitem = load_table(spark, sf, "lineitem").select("l_orderkey")
    victims = customer.filter(
        md5_long(F.col("c_custkey").cast("string")) % 100 == 0
    )
    doomed_orders = orders.join(
        F.broadcast(victims),
        orders.o_custkey == victims.c_custkey,
        "left_semi",
    )
    doomed_keys = doomed_orders.select("o_orderkey")

    def audit(df: DataFrame, name: str, doomed: DataFrame) -> DataFrame:
        total = df.agg(F.count(F.lit(1)).alias("n_rows"))
        dead = doomed.agg(F.count(F.lit(1)).alias("n_deleted"))
        return (
            total.crossJoin(F.broadcast(dead))
            .select(
                F.lit(name).alias("table_name"),
                F.col("n_rows").cast("long").alias("n_rows"),
                F.col("n_deleted").cast("long").alias("n_deleted"),
                (F.col("n_rows") - F.col("n_deleted"))
                .cast("long")
                .alias("n_kept"),
            )
        )

    li_doomed = lineitem.join(
        F.broadcast(doomed_keys),
        lineitem.l_orderkey == doomed_keys.o_orderkey,
        "left_semi",
    )
    return (
        audit(customer, "customer", victims)
        .unionByName(audit(orders, "orders", doomed_orders))
        .unionByName(audit(lineitem, "lineitem", li_doomed))
    )


R73_SQL = f"""
WITH victims AS (
  SELECT c_custkey FROM customer
  WHERE ({sql_md5_long("CAST(c_custkey AS VARCHAR)")}) % 100 = 0),
doomed_orders AS (
  SELECT o_orderkey FROM orders
  WHERE o_custkey IN (SELECT c_custkey FROM victims)),
doomed_li AS (
  SELECT l_orderkey FROM lineitem
  WHERE l_orderkey IN (SELECT o_orderkey FROM doomed_orders))
SELECT 'customer' AS table_name,
       (SELECT CAST(count(*) AS BIGINT) FROM customer) AS n_rows,
       (SELECT CAST(count(*) AS BIGINT) FROM victims) AS n_deleted,
       (SELECT CAST(count(*) AS BIGINT) FROM customer)
         - (SELECT CAST(count(*) AS BIGINT) FROM victims) AS n_kept
UNION ALL
SELECT 'orders',
       (SELECT CAST(count(*) AS BIGINT) FROM orders),
       (SELECT CAST(count(*) AS BIGINT) FROM doomed_orders),
       (SELECT CAST(count(*) AS BIGINT) FROM orders)
         - (SELECT CAST(count(*) AS BIGINT) FROM doomed_orders)
UNION ALL
SELECT 'lineitem',
       (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
       (SELECT CAST(count(*) AS BIGINT) FROM doomed_li),
       (SELECT CAST(count(*) AS BIGINT) FROM lineitem)
         - (SELECT CAST(count(*) AS BIGINT) FROM doomed_li)
"""


# --------------------------------------------------------------------- r72
# A three-model dbt-style chain (staging → daily rollup → summary), the
# reference's ref()-wired SQL DAG shape (src/dbt/models/metaflow/*.sql)
# executed from SQL TEXT by sql.model_runner — temp views inline, so
# Catalyst fuses all three models into one plan.
R72_MODELS = {
    "orders_enriched": """
        SELECT o_orderkey, o_orderdate, c_mktsegment,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        FROM orders JOIN customer ON o_custkey = c_custkey
    """,
    "seg_daily": """
        SELECT c_mktsegment, CAST(o_orderdate AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(cents) AS BIGINT) AS rev_c
        FROM {{ ref('orders_enriched') }}
        GROUP BY c_mktsegment, CAST(o_orderdate AS DATE)
    """,
    "segment_summary": """
        SELECT c_mktsegment,
               CAST(sum(n_orders) AS BIGINT) AS n_orders,
               CAST(sum(rev_c) AS BIGINT) AS revenue_c,
               min(CASE WHEN rev_c = mx THEN day END) AS best_day,
               mx AS best_day_rev_c
        FROM (SELECT *, max(rev_c) OVER (PARTITION BY c_mktsegment) AS mx
              FROM {{ ref('seg_daily') }})
        GROUP BY c_mktsegment, mx
    """,
}


def r72_sql_model_chain(spark: SparkSession, sf: str) -> DataFrame:
    """The dbt migration path exercised end-to-end: the reference's
    transformation layer is a ref()-wired DAG of SQL models
    (/root/reference/src/dbt/models/metaflow, materialized per model);
    here the SAME SQL-text contract runs through
    ``sql.model_runner.run_models`` — refs compiled, models topo-sorted
    and registered as temp views, so the whole chain is ONE fused
    Catalyst plan (pushdown and pruning reach through all three
    models; dbt-on-warehouse materializes and re-parses each).

    Scale: staging join broadcasts the dim; the rollup combines
    map-side; revenue is exact integer cents end to end.
    """
    from pyspark_recs.sql.model_runner import run_models

    sources = {
        "orders": load_table(spark, sf, "orders"),
        "customer": load_table(spark, sf, "customer"),
    }
    return run_models(spark, R72_MODELS, sources)["segment_summary"]


R72_SQL = """
WITH orders_enriched AS (
  SELECT o_orderkey, o_orderdate, c_mktsegment,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders JOIN customer ON o_custkey = c_custkey),
seg_daily AS (
  SELECT c_mktsegment, CAST(o_orderdate AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(cents) AS BIGINT) AS rev_c
  FROM orders_enriched
  GROUP BY c_mktsegment, CAST(o_orderdate AS DATE))
SELECT c_mktsegment,
       CAST(sum(n_orders) AS BIGINT) AS n_orders,
       CAST(sum(rev_c) AS BIGINT) AS revenue_c,
       min(CASE WHEN rev_c = mx THEN day END) AS best_day,
       mx AS best_day_rev_c
FROM (SELECT *, max(rev_c) OVER (PARTITION BY c_mktsegment) AS mx
      FROM seg_daily)
GROUP BY c_mktsegment, mx
"""


# --------------------------------------------------------------------- r70
BITMAP_BASE = 62  # bits per chunk; stays clear of the int64 sign bit


def r70_bitmap_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """EXACT distinct buyers per market segment via mergeable bitmap
    chunks (the ClickHouse/Druid ``groupBitmap`` structure): each
    custkey maps to (chunk = key div 62, bit = key mod 62); per-chunk
    bitmaps OR together and the count is Σ bit_count(bitmap). Unlike
    COUNT(DISTINCT) — whose de-dup state is proportional to
    cardinality and must ship every distinct value through the final
    aggregation — bitmaps pre-aggregate map-side, merge by OR (so
    per-day/per-partition bitmaps roll up without rescanning facts,
    the exact-counting sibling of r53's HLL rollup), and cost one bit
    per POSSIBLE key. The oracle is the plain COUNT(DISTINCT): the
    bitmap path must agree exactly.

    Scale: the shuffle carries (segment × occupied-chunk) longs —
    dense-key domains compress 62:1 vs shipping distinct keys; the
    final per-segment reduce is a sum of popcounts.
    """
    orders = load_table(spark, sf, "orders").select("o_custkey")
    customer = load_table(spark, sf, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    buyers = orders.join(
        customer, orders.o_custkey == customer.c_custkey
    ).select(
        "c_mktsegment",
        (F.col("c_custkey") / BITMAP_BASE).cast("long").alias("chunk"),
        F.expr(
            f"shiftleft(1L, CAST(c_custkey % {BITMAP_BASE} AS INT))"
        ).alias("bit"),
    )
    chunks = buyers.groupBy("c_mktsegment", "chunk").agg(
        F.bit_or("bit").alias("bitmap")
    )
    return (
        chunks.groupBy("c_mktsegment")
        .agg(
            F.sum(F.bit_count("bitmap")).alias("n_buyers"),
            F.count(F.lit(1)).alias("n_chunks"),
        )
        .select(
            "c_mktsegment",
            F.col("n_buyers").cast("long").alias("n_buyers"),
            F.col("n_chunks").cast("long").alias("n_chunks"),
        )
    )


R70_SQL = f"""
WITH buyers AS (
  SELECT c_mktsegment, c_custkey, c_custkey // {BITMAP_BASE} AS chunk
  FROM orders JOIN customer ON o_custkey = c_custkey)
SELECT c_mktsegment,
       CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_buyers,
       CAST(count(DISTINCT chunk) AS BIGINT) AS n_chunks
FROM buyers GROUP BY c_mktsegment
"""


# --------------------------------------------------------------------- r71
def r71_rolling_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """Cumulative distinct buyers by order day — COUNT(DISTINCT) OVER
    (ORDER BY day), which Spark's window operator refuses outright
    (distinct aggregates are unsupported in windows) and which would
    hold cardinality-sized state per frame anywhere. The scalable
    rewrite: distinct-ness is a property of the FIRST occurrence, so
    min(first day) per customer → new-buyer counts per day → one
    running sum over the (day-cardinality) series. Window state
    collapses from 'all customers seen so far' to one long.

    Scale: first-day per customer is a map-side-combined min; the
    running total rides ``scalable_prefix_sum`` over days (thousands
    of rows at any fact scale), never a single-task window.
    """
    from pyspark_recs.sql.transforms import scalable_prefix_sum

    orders = load_table(spark, sf, "orders").select(
        F.col("o_custkey"), F.to_date("o_orderdate").alias("day")
    )
    first_day = orders.groupBy("o_custkey").agg(
        F.min("day").alias("first_day")
    )
    new_per_day = first_day.groupBy("first_day").agg(
        F.count(F.lit(1)).alias("n_new")
    )
    run = scalable_prefix_sum(
        new_per_day, "first_day", "n_new", out_col="cum_buyers"
    )
    return run.select(
        F.col("first_day").alias("day"),
        F.col("n_new").cast("long").alias("n_new"),
        F.col("cum_buyers").cast("long").alias("cum_buyers"),
    )


R71_SQL = """
WITH first_day AS (
  SELECT o_custkey, CAST(min(o_orderdate) AS DATE) AS first_day
  FROM orders GROUP BY o_custkey),
new_per_day AS (
  SELECT first_day, CAST(count(*) AS BIGINT) AS n_new
  FROM first_day GROUP BY first_day)
SELECT first_day AS day, n_new,
       CAST(sum(n_new) OVER (ORDER BY first_day
                             ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS cum_buyers
FROM new_per_day
"""


# --------------------------------------------------------------------- r69
def r69_mann_whitney(spark: SparkSession, sf: str) -> DataFrame:
    """Exact Mann-Whitney U (Wilcoxon rank-sum) between the early and
    late halves of the order stream — the rank-based drift test that
    complements r60's KS (distribution shape) and r62's chi-square
    (categorical): U detects a LOCATION shift without assuming any
    distribution. Everything stays integer: ranks are midranks doubled
    (2·avgrank = min+max of the tie run, an integer), so rank sums and
    both U statistics are exact BIGINTs on any engine — no float
    enters at all (z-normalization is the caller's one division).

    Scale: per-value counts aggregate map-side (cardinality of the
    value domain, not row count); the single ordered pass over DISTINCT
    values rides ``scalable_prefix_sum`` (deterministic range buckets,
    no single-task window); the final reduce is one row.
    """
    from pyspark_recs.sql.transforms import scalable_prefix_sum

    orders = load_table(spark, sf, "orders").select(
        "o_orderdate", "o_totalprice"
    )
    mid = orders.agg(
        F.to_timestamp(
            F.floor(
                (
                    F.unix_timestamp(F.min("o_orderdate"))
                    + F.unix_timestamp(F.max("o_orderdate"))
                )
                / 2
            )
        ).alias("mid")
    )
    flagged = orders.crossJoin(F.broadcast(mid)).select(
        F.col("o_totalprice").alias("v"),
        F.when(F.col("o_orderdate") < F.col("mid"), 1)
        .otherwise(0)
        .alias("is_early"),
    )
    per_v = flagged.groupBy("v").agg(
        F.sum("is_early").alias("c_e"),
        F.sum(1 - F.col("is_early")).alias("c_l"),
    )
    cum = scalable_prefix_sum(
        per_v.withColumn("n_v", F.col("c_e") + F.col("c_l")),
        "v",
        "n_v",
        out_col="cum",
    )
    s = cum.agg(
        F.sum("c_e").alias("n_e"),
        F.sum("c_l").alias("n_l"),
        F.sum(
            F.col("c_e") * (2 * F.col("cum") - F.col("n_v") + 1)
        ).alias("r2_e"),
    )
    return s.select(
        F.col("n_e").cast("long").alias("n_early"),
        F.col("n_l").cast("long").alias("n_late"),
        F.col("r2_e").cast("long").alias("r2_early"),
        (F.col("r2_e") - F.col("n_e") * (F.col("n_e") + 1))
        .cast("long")
        .alias("u2_early"),
        (
            2 * F.col("n_e") * F.col("n_l")
            - (F.col("r2_e") - F.col("n_e") * (F.col("n_e") + 1))
        )
        .cast("long")
        .alias("u2_late"),
    )


R69_SQL = """
WITH mid AS (
  SELECT to_timestamp(CAST(floor(
           (epoch(min(o_orderdate)) + epoch(max(o_orderdate))) / 2)
         AS BIGINT)) AS mid
  FROM orders),
flagged AS (
  SELECT o_totalprice AS v,
         CASE WHEN o_orderdate < mid THEN 1 ELSE 0 END AS is_early
  FROM orders, mid),
per_v AS (
  SELECT v, CAST(sum(is_early) AS BIGINT) AS c_e,
         CAST(sum(1 - is_early) AS BIGINT) AS c_l
  FROM flagged GROUP BY v),
cumv AS (
  SELECT c_e, c_l, c_e + c_l AS n_v,
         sum(c_e + c_l) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum
  FROM per_v),
s AS (
  SELECT CAST(sum(c_e) AS BIGINT) AS n_e,
         CAST(sum(c_l) AS BIGINT) AS n_l,
         CAST(sum(c_e * (2 * cum - n_v + 1)) AS BIGINT) AS r2_e
  FROM cumv)
SELECT n_e AS n_early, n_l AS n_late, r2_e AS r2_early,
       r2_e - n_e * (n_e + 1) AS u2_early,
       2 * n_e * n_l - (r2_e - n_e * (n_e + 1)) AS u2_late
FROM s
"""


# --------------------------------------------------------------------- r68
def r68_big_spender_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Large-volume order report (TPC-H Q18 shape): orders whose total
    line quantity exceeds a threshold, with their customer attached.
    Q18's defining idiom is the IN-subquery over a HAVING aggregate on
    the FACT key — here expressed as aggregate → filter → join-back,
    the form Catalyst executes as one fact aggregation plus a join
    against the (tiny) surviving key set; r67 filters facts by a
    per-group *minimum*, this filters by a group *total*.

    Scale: the quantity rollup aggregates map-side on l_orderkey; the
    HAVING filter collapses it to a sliver (215 of 15 K orders at
    sf0.01), which then BROADCASTS to both the orders probe and the
    detail join — the big fact table is never shuffled on the join key.
    """
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").cast("long").alias("total_qty"))
        .filter(F.col("total_qty") >= 250)
    )
    orders = load_table(spark, sf, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    customer = load_table(spark, sf, "customer").select(
        "c_custkey", "c_name"
    )
    return (
        F.broadcast(
            orders.join(
                F.broadcast(big), orders.o_orderkey == big.l_orderkey
            )
        )
        .join(customer, orders.o_custkey == customer.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
            "o_totalprice",
            "total_qty",
        )
    )


R68_SQL = """
WITH big AS (
  SELECT l_orderkey, CAST(sum(l_quantity) AS BIGINT) AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING sum(l_quantity) >= 250)
SELECT c_custkey, c_name, o_orderkey,
       CAST(o_orderdate AS DATE) AS o_orderdate,
       o_totalprice,
       total_qty
FROM orders
JOIN big ON o_orderkey = l_orderkey
JOIN customer ON o_custkey = c_custkey
"""


# --------------------------------------------------------------------- r75
def r75_shipping_priority(spark: SparkSession, sf: str) -> DataFrame:
    """Shipping-priority report (TPC-H Q3 shape): for one market
    segment, the top-10 orders by outstanding revenue — orders placed
    before the cutoff whose lines ship after it.

    Scale: the segment filter collapses customer to ~20% and
    BROADCASTS; the o_orderdate and l_shipdate predicates push to the
    parquet scans; revenue aggregates map-side on l_orderkey; the
    top-10 runs as TakeOrderedAndProject (per-partition heads merged on
    the driver), never a global sort.
    """
    cutoff = F.lit("1998-06-01").cast("timestamp")
    cust = (
        load_table(spark, sf, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = (
        load_table(spark, sf, "orders")
        .filter(F.col("o_orderdate") < cutoff)
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    )
    li = (
        load_table(spark, sf, "lineitem")
        .filter(F.col("l_shipdate") > cutoff)
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(
            F.broadcast(orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(revenue).alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


R75_SQL = f"""
SELECT l_orderkey,
       {sql_dsum("l_extendedprice * (1 - l_discount)")} AS revenue,
       CAST(o_orderdate AS DATE) AS o_orderdate,
       o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-06-01'
  AND l_shipdate > TIMESTAMP '1998-06-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


# --------------------------------------------------------------------- r76
def r76_late_shipment_priority(spark: SparkSession, sf: str) -> DataFrame:
    """Order-priority checking (TPC-H Q4 shape): per priority class,
    how many orders in a window had at least one line shipped more
    than 60 days after the order date. Q4's defining idiom is the
    EXISTS correlated subquery — expressed as a LEFT SEMI join whose
    equi-key is the order key and whose lateness predicate rides along
    as the join residual (hash semi-join, not a nested loop).

    Scale: the date-window filter pushes to the orders scan and the
    surviving sliver BROADCASTS to the lineitem probe, so the fact
    table is never shuffled on the join key (a plain left_semi with
    orders on the left would sort-merge 6 M+ lineitem rows — measured
    3.8 s vs 1.0 s at 10×); EXISTS semantics come from the DISTINCT on
    the matched order keys, whose shuffle carries matches only. Where
    the window's orders exceed the broadcast threshold, Catalyst falls
    back to the shuffled form with identical semantics (the runtime
    bloom-filter path then prunes the fact scan).
    """
    orders = (
        load_table(spark, sf, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
    )
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_shipdate")
    late_orders = (
        li.join(
            F.broadcast(orders),
            (li.l_orderkey == orders.o_orderkey)
            & (
                li.l_shipdate
                > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
            ),
        )
        .select("o_orderkey", "o_orderpriority")
        .distinct()
    )
    return (
        late_orders.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


R76_SQL = """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
"""


# --------------------------------------------------------------------- r77
def r77_returned_customers(spark: SparkSession, sf: str) -> DataFrame:
    """Returned-item revenue report (TPC-H Q10 shape): the top-20
    customers by revenue lost to returned lines ('R' flag) on orders
    from one quarter-year window, with nation attached.

    Scale: both date and returnflag predicates push to the scans; the
    windowed orders sliver BROADCASTS to the lineitem probe; revenue
    aggregates map-side per customer; nation is a broadcast dim; the
    top-20 is TakeOrderedAndProject.
    """
    orders = (
        load_table(spark, sf, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-07-01").cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey")
    )
    li = (
        load_table(spark, sf, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    cust = load_table(spark, sf, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey"
    )
    nation = load_table(spark, sf, "nation").select("n_nationkey", "n_name")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(orders), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(dsum(revenue).alias("lost_revenue"))
        .join(F.broadcast(cust), F.col("o_custkey") == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select("c_custkey", "c_name", "c_acctbal", "n_name", "lost_revenue")
        .orderBy(F.desc("lost_revenue"), F.asc("c_custkey"))
        .limit(20)
    )


R77_SQL = f"""
SELECT c_custkey, c_name, c_acctbal, n_name,
       {sql_dsum("l_extendedprice * (1 - l_discount)")} AS lost_revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1998-01-01'
  AND o_orderdate < TIMESTAMP '1998-07-01'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY lost_revenue DESC, c_custkey ASC
LIMIT 20
"""


# --------------------------------------------------------------------- r78
def r78_promo_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """Promotion-revenue share per ship month (TPC-H Q14 shape): the
    fraction of discounted revenue coming from PROMO-type parts, as an
    exact integer-ppm ratio so the division result is engine-agreed.

    Scale: part (key, is-promo bit) BROADCASTS to the fact scan; both
    fixed-point revenue sums combine map-side per month; the ratio is
    one integer division over 84 month rows.
    """
    li = load_table(spark, sf, "lineitem").select(
        "l_partkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    part = load_table(spark, sf, "part").select("p_partkey", "p_type")
    q = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * F.lit(1e6)
        + F.lit(0.5)
    ).cast("long")
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    agg = (
        joined.groupBy(
            F.date_trunc("month", F.col("l_shipdate")).cast("date").alias("ship_month")
        )
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", q).otherwise(F.lit(0))).alias(
                "promo_rev_q"
            ),
            F.sum(q).alias("total_rev_q"),
        )
    )
    # share in ppm via pure IEEE double ops (long→double conversion,
    # division, *1e6, floor are each bit-identical across engines), so
    # no BIGINT overflow and no engine-specific cast rounding.
    return agg.select(
        "ship_month",
        (F.col("promo_rev_q").cast("double") / F.lit(1e6)).alias("promo_revenue"),
        (F.col("total_rev_q").cast("double") / F.lit(1e6)).alias("total_revenue"),
        F.floor(
            F.col("promo_rev_q").cast("double")
            / F.col("total_rev_q").cast("double")
            * F.lit(1e6)
        ).alias("promo_share_ppm"),
    )


R78_SQL = """
WITH agg AS (
  SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS ship_month,
         sum(CASE WHEN p_type = 'PROMO'
             THEN CAST(floor(l_extendedprice * (1 - l_discount) * 1000000.0
                             + 0.5) AS BIGINT) ELSE 0 END) AS promo_rev_q,
         sum(CAST(floor(l_extendedprice * (1 - l_discount) * 1000000.0
                        + 0.5) AS BIGINT)) AS total_rev_q
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY 1)
SELECT ship_month,
       CAST(promo_rev_q AS DOUBLE) / 1000000.0 AS promo_revenue,
       CAST(total_rev_q AS DOUBLE) / 1000000.0 AS total_revenue,
       CAST(floor(CAST(promo_rev_q AS DOUBLE) / CAST(total_rev_q AS DOUBLE)
                  * 1000000.0) AS BIGINT) AS promo_share_ppm
FROM agg
"""


# --------------------------------------------------------------------- r79
def r79_supplier_census(spark: SparkSession, sf: str) -> DataFrame:
    """Parts/supplier relationship census (TPC-H Q16 shape): how many
    DISTINCT suppliers offer parts of each (brand, type), excluding
    delinquent suppliers (negative account balance — the stand-in for
    Q16's comment-flagged exclusions). Q16's defining idioms are the
    NOT-IN supplier exclusion (a LEFT ANTI join against a tiny flagged
    set) and the COUNT(DISTINCT supplier) over the part⋈supplier
    relationship derived here from the facts.

    Scale: the (part, supplier) relationship distinct is the only
    fact-sized shuffle (two-column projection, map-side-combined); the
    flagged-supplier set and the part dimension both BROADCAST; the
    distinct-supplier count re-aggregates the relationship table
    (items × suppliers-per-item, far smaller than the facts).
    """
    li = load_table(spark, sf, "lineitem").select("l_partkey", "l_suppkey")
    part = load_table(spark, sf, "part").select(
        "p_partkey", "p_brand", "p_type"
    )
    flagged = (
        load_table(spark, sf, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select(F.col("s_suppkey").alias("l_suppkey"))
    )
    rel = (
        li.distinct()
        .join(F.broadcast(flagged), "l_suppkey", "left_anti")
        .join(F.broadcast(part), F.col("l_partkey") == part.p_partkey)
    )
    return rel.groupBy("p_brand", "p_type").agg(
        F.countDistinct("l_suppkey").alias("supplier_cnt")
    )


R79_SQL = """
WITH rel AS (
  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
  WHERE l_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0))
SELECT p_brand, p_type,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM rel JOIN part ON l_partkey = p_partkey
GROUP BY p_brand, p_type
"""


# --------------------------------------------------------------------- r80
def r80_master_merge(spark: SparkSession, sf: str) -> DataFrame:
    """Master-data golden-record merge: reconcile the same entity from
    two systems with a FULL OUTER join, per-field precedence
    (system A owns the name, system B owns the balance, each falling
    back to the other when absent) and per-field conflict flags — the
    data-integration operator every warehouse consolidation runs, and
    the precedence sibling of r63's pure diff. The two systems are
    synthesized deterministically from ``customer`` (md5-keyed field
    variants and row omissions), so the merge is non-vacuous and
    engine-agreed — the same convention as the synthesized PII/image
    inputs.

    Scale: one full-outer shuffle join on the entity key; everything
    else is projection. Conflict counts downstream are one aggregate.
    """
    cust = load_table(spark, sf, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    h = F.pmod(md5_long(F.col("c_custkey").cast("string")), F.lit(100))
    sys_a = (
        cust.withColumn("h", h)
        .filter(F.col("c_custkey") % 7 != 0)  # A is missing some rows
        .select(
            "c_custkey",
            # A sometimes carries a legacy uppercase name
            F.when(F.col("h") % 3 == 0, F.upper("c_name"))
            .otherwise(F.col("c_name"))
            .alias("a_name"),
            # A's balance is sometimes stale by +100
            F.when(F.col("h") % 5 == 0, F.col("c_acctbal") + 100.0)
            .otherwise(F.col("c_acctbal"))
            .alias("a_acctbal"),
        )
    )
    sys_b = cust.filter(F.col("c_custkey") % 11 != 0).select(
        "c_custkey",
        F.col("c_name").alias("b_name"),
        F.col("c_acctbal").alias("b_acctbal"),
    )
    merged = sys_a.join(sys_b, "c_custkey", "full_outer")
    return merged.select(
        "c_custkey",
        F.coalesce("a_name", "b_name").alias("merged_name"),
        F.coalesce("b_acctbal", "a_acctbal").alias("merged_acctbal"),
        F.col("a_name").isNotNull().alias("in_a"),
        F.col("b_name").isNotNull().alias("in_b"),
        (
            F.col("a_name").isNotNull()
            & F.col("b_name").isNotNull()
            & (F.col("a_name") != F.col("b_name"))
        ).alias("name_conflict"),
        (
            F.col("a_acctbal").isNotNull()
            & F.col("b_acctbal").isNotNull()
            & (F.col("a_acctbal") != F.col("b_acctbal"))
        ).alias("acctbal_conflict"),
    )


R80_SQL = f"""
WITH base AS (
  SELECT c_custkey, c_name, c_acctbal,
         ({sql_md5_long("CAST(c_custkey AS VARCHAR)")}) % 100 AS h
  FROM customer),
sys_a AS (
  SELECT c_custkey,
         CASE WHEN h % 3 = 0 THEN upper(c_name) ELSE c_name END AS a_name,
         CASE WHEN h % 5 = 0 THEN c_acctbal + 100.0 ELSE c_acctbal END
           AS a_acctbal
  FROM base WHERE c_custkey % 7 <> 0),
sys_b AS (
  SELECT c_custkey, c_name AS b_name, c_acctbal AS b_acctbal
  FROM base WHERE c_custkey % 11 <> 0)
SELECT COALESCE(a.c_custkey, b.c_custkey) AS c_custkey,
       COALESCE(a_name, b_name) AS merged_name,
       COALESCE(b_acctbal, a_acctbal) AS merged_acctbal,
       a_name IS NOT NULL AS in_a,
       b_name IS NOT NULL AS in_b,
       (a_name IS NOT NULL AND b_name IS NOT NULL
        AND a_name <> b_name) AS name_conflict,
       (a_acctbal IS NOT NULL AND b_acctbal IS NOT NULL
        AND a_acctbal <> b_acctbal) AS acctbal_conflict
FROM sys_a a FULL OUTER JOIN sys_b b USING (c_custkey)
"""


# --------------------------------------------------------------------- r81
def r81_time_travel(spark: SparkSession, sf: str) -> DataFrame:
    """Time-travel snapshot read over SCD2 history: reconstruct every
    (user, event_type) state AS OF a cutoff instant by selecting the
    one version whose validity interval covers it — the read side of
    the r34/r63/r73 CDC family (what `SELECT ... TIMESTAMP AS OF` does
    in a lakehouse table format, expressed over plain parquet + lead
    intervals). An open interval (valid_to NULL) covers everything
    after its valid_from.

    Scale: one window shuffle to derive intervals (shared with r34's
    plan), then a pure filter — the snapshot never joins or
    re-aggregates, and with the history date-partitioned on
    valid_from the scan prunes to segments alive at the cutoff.
    """
    cutoff = F.lit("2024-01-15").cast("timestamp")
    ev = load_table(spark, sf, "events").select(
        "user_id", "event_type", "event_id", "value", "ts"
    )
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    hist = ev.select(
        "user_id",
        "event_type",
        "event_id",
        "value",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
    )
    return hist.filter(
        (F.col("valid_from") <= cutoff)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > cutoff))
    ).select(
        "user_id",
        "event_type",
        F.col("event_id").alias("version_event"),
        F.col("value").alias("value_as_of"),
        "valid_from",
    )


R81_SQL = """
WITH hist AS (
  SELECT user_id, event_type, event_id, value,
         ts AS valid_from,
         lead(ts) OVER (PARTITION BY user_id, event_type
                        ORDER BY ts, event_id) AS valid_to
  FROM events)
SELECT user_id, event_type,
       event_id AS version_event,
       value AS value_as_of,
       valid_from
FROM hist
WHERE valid_from <= TIMESTAMP '2024-01-15'
  AND (valid_to IS NULL OR valid_to > TIMESTAMP '2024-01-15')
"""


# --------------------------------------------------------------------- r82
def r82_subject_access_report(spark: SparkSession, sf: str) -> DataFrame:
    """Data-subject ACCESS report (GDPR art. 15 — the read sibling of
    r73's erasure cascade): for each requested subject, assemble
    everything the warehouse holds about them across the order,
    line-item and event tables into one summary row — entity counts,
    exact total spend, activity span, and an order-independent digest
    of the full order-key set (the verifiable manifest an auditor can
    re-derive). Requested subjects are a deterministic hash cohort
    (c_custkey % 97 = 0), the stand-in for a DSAR request queue.

    Scale: the request cohort is a broadcast semi-join against every
    fact table (each table scanned once, no fact⋈fact); per-subject
    aggregates combine map-side; the digest is a commutative bit_xor,
    so the report is bit-reproducible at any partitioning — the
    property that lets two runs of the same request be compared.
    """
    subjects = (
        load_table(spark, sf, "customer")
        .filter(F.col("c_custkey") % 97 == 0)
        .select("c_custkey", "c_name", "c_nationkey")
    )
    orders = load_table(spark, sf, "orders").join(
        F.broadcast(subjects.select("c_custkey")),
        F.col("o_custkey") == F.col("c_custkey"),
        "left_semi",
    )
    q = F.floor(F.col("o_totalprice") * F.lit(1e6) + F.lit(0.5)).cast("long")
    per_orders = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        (F.sum(q).cast("double") / F.lit(1e6)).alias("total_spend"),
        F.min("o_orderdate").cast("date").alias("first_order"),
        F.max("o_orderdate").cast("date").alias("last_order"),
        F.bit_xor(md5_long(F.col("o_orderkey").cast("string"))).alias(
            "orderkey_digest"
        ),
    )
    li_counts = (
        load_table(spark, sf, "lineitem")
        .join(
            F.broadcast(orders.select("o_orderkey")),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            orders.select("o_orderkey", "o_custkey").withColumnRenamed(
                "o_orderkey", "jk"
            ),
            F.col("l_orderkey") == F.col("jk"),
        )
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_lineitems"))
    )
    ev_counts = (
        load_table(spark, sf, "events")
        .join(
            F.broadcast(subjects.select(F.col("c_custkey").alias("user_id"))),
            "user_id",
            "left_semi",
        )
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return (
        subjects.join(
            per_orders, subjects.c_custkey == per_orders.o_custkey, "left"
        )
        .join(ev_counts, subjects.c_custkey == ev_counts.user_id, "left")
        .join(li_counts, subjects.c_custkey == li_counts.o_custkey, "left")
        .select(
            "c_custkey",
            "c_name",
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("n_lineitems", F.lit(0)).alias("n_lineitems"),
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.coalesce("total_spend", F.lit(0.0)).alias("total_spend"),
            "first_order",
            "last_order",
            "orderkey_digest",
        )
    )


R82_SQL = """
WITH subjects AS (
  SELECT c_custkey, c_name FROM customer WHERE c_custkey % 97 = 0),
ords AS (
  SELECT o.* FROM orders o SEMI JOIN subjects s ON o.o_custkey = s.c_custkey),
per_orders AS (
  SELECT o_custkey,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(CAST(floor(o_totalprice * 1000000.0 + 0.5) AS BIGINT))
              AS DOUBLE) / 1000000.0 AS total_spend,
         CAST(min(o_orderdate) AS DATE) AS first_order,
         CAST(max(o_orderdate) AS DATE) AS last_order,
         bit_xor(CAST(('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT)) AS orderkey_digest
  FROM ords GROUP BY o_custkey),
li AS (
  SELECT o.o_custkey, CAST(count(*) AS BIGINT) AS n_lineitems
  FROM lineitem l JOIN ords o ON l.l_orderkey = o.o_orderkey
  GROUP BY o.o_custkey),
ev AS (
  SELECT e.user_id, CAST(count(*) AS BIGINT) AS n_events
  FROM events e SEMI JOIN subjects s ON e.user_id = s.c_custkey
  GROUP BY e.user_id)
SELECT s.c_custkey, s.c_name,
       COALESCE(p.n_orders, 0) AS n_orders,
       COALESCE(li.n_lineitems, 0) AS n_lineitems,
       COALESCE(ev.n_events, 0) AS n_events,
       COALESCE(p.total_spend, 0.0) AS total_spend,
       p.first_order, p.last_order, p.orderkey_digest
FROM subjects s
LEFT JOIN per_orders p ON s.c_custkey = p.o_custkey
LEFT JOIN ev ON s.c_custkey = ev.user_id
LEFT JOIN li ON s.c_custkey = li.o_custkey
"""


# --------------------------------------------------------------------- r83
def r83_skew_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Join-key SKEW profiler: for each join column the engine shuffles
    on, the hottest keys with their exact row share (ppm) and the
    skew factor (hottest-key count × distinct-keys ÷ total rows — 1.0
    means perfectly uniform) — the diagnosis you run BEFORE reaching
    for `salted_join`/AQE skew handling, answering "which key would
    melt a reducer at 100 TB". Long format: one row per (table, column,
    hot key).

    Scale: per column this is one map-side-combined count aggregate
    whose output (key-cardinality-sized — 10⁹ rows at 10⁹ customers,
    so NEVER eligible for a global window) is snapshotted and consumed
    twice: a fully-parallel totals aggregate broadcast back, and a
    TakeOrdered top-5 that the hot-rank window runs above (5 rows).
    One fact scan, no single-partition WindowExec (this exact query
    was the registry window-lint's first real catch — the previous
    form computed total/n_keys/rank via three global windows over the
    counts table).
    """
    from pyspark_recs.workloads.common import snapshot_plan

    def profile(df: DataFrame, table: str, col: str) -> DataFrame:
        counts = snapshot_plan(
            df.groupBy(F.col(col).alias("key")).agg(
                F.count(F.lit(1)).alias("cnt")
            )
        )
        tot = counts.agg(
            F.sum("cnt").alias("total"), F.count(F.lit(1)).alias("n_keys")
        )
        top = counts.orderBy(F.desc("cnt"), F.asc("key")).limit(5)
        w = Window.orderBy(F.desc("cnt"), F.asc("key"))  # over ≤5 rows
        return (
            top.crossJoin(F.broadcast(tot))
            .withColumn("hot_rank", F.row_number().over(w))
            .select(
                F.lit(table).alias("table_name"),
                F.lit(col).alias("column_name"),
                F.col("key").cast("long").alias("hot_key"),
                "cnt",
                F.col("hot_rank").cast("int").alias("hot_rank"),
                F.expr("(1000000L * cnt) div total").alias("share_ppm"),
                F.floor(
                    F.col("cnt").cast("double")
                    * F.col("n_keys").cast("double")
                    / F.col("total").cast("double")
                    * F.lit(1000.0)
                ).alias("skew_x1000"),
            )
        )

    orders = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    return (
        profile(orders, "orders", "o_custkey")
        .unionByName(profile(li, "lineitem", "l_partkey"))
        .unionByName(profile(li, "lineitem", "l_suppkey"))
    )


R83_SQL = """
WITH src AS (
  SELECT 'orders' AS table_name, 'o_custkey' AS column_name,
         o_custkey AS key FROM orders
  UNION ALL
  SELECT 'lineitem', 'l_partkey', l_partkey FROM lineitem
  UNION ALL
  SELECT 'lineitem', 'l_suppkey', l_suppkey FROM lineitem),
counts AS (
  SELECT table_name, column_name, key, CAST(count(*) AS BIGINT) AS cnt
  FROM src GROUP BY table_name, column_name, key),
enriched AS (
  SELECT table_name, column_name, key, cnt,
         sum(cnt) OVER (PARTITION BY table_name, column_name) AS total,
         count(*) OVER (PARTITION BY table_name, column_name) AS n_keys,
         row_number() OVER (PARTITION BY table_name, column_name
                            ORDER BY cnt DESC, key) AS hot_rank
  FROM counts)
SELECT table_name, column_name, key AS hot_key, cnt,
       CAST(hot_rank AS INTEGER) AS hot_rank,
       CAST((1000000 * cnt) // total AS BIGINT) AS share_ppm,
       CAST(floor(CAST(cnt AS DOUBLE) * CAST(n_keys AS DOUBLE)
                  / CAST(total AS DOUBLE) * 1000.0) AS BIGINT)
         AS skew_x1000
FROM enriched WHERE hot_rank <= 5
"""


# --------------------------------------------------------------------- r84
def r84_luhn_validation(spark: SparkSession, sf: str) -> DataFrame:
    """Luhn checksum validation of candidate card numbers — the
    verification pass that separates real PANs from random 16-digit
    noise (l31's regex alone over-flags), run through an
    ARROW-OPTIMIZED scalar Python UDF (`@udf(useArrow=True)`, the one
    §2.8 UDF flavor not yet exercised; Arrow batches make it
    vectorized-transfer rather than row-pickled). Valid and invalid
    candidates are synthesized deterministically (doc_id % 13 → a
    Luhn-valid PAN, doc_id % 19 → a Luhn-invalid one), so both
    branches are exercised. The oracle twin computes the same checksum
    relationally — UDF and SQL must agree digit for digit.

    Scale: the UDF is a projection (no shuffle) over Arrow batches;
    at 100 TB this is still scan-bound. Prefer the pure-SQL form (the
    oracle's expression) in hot paths — this query exists to pin the
    UDF surface's semantics against it.
    """
    from pyspark.sql.functions import udf

    docs = load_table(spark, sf, "documents").select("doc_id")
    with_cards = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 13 == 0, F.lit("4242424242424242"))
        .when(F.col("doc_id") % 19 == 0, F.lit("1234567890123456"))
        .otherwise(F.lit(None).cast("string"))
        .alias("candidate"),
    ).filter(F.col("candidate").isNotNull())

    @udf("boolean", useArrow=True)
    def luhn_ok(pan: str) -> bool:
        digits = [int(c) for c in pan]
        total = 0
        for i, d in enumerate(reversed(digits)):
            if i % 2 == 1:
                d *= 2
                if d > 9:
                    d -= 9
            total += d
        return total % 10 == 0

    return with_cards.select(
        "doc_id", "candidate", luhn_ok("candidate").alias("luhn_valid")
    )


R84_SQL = """
WITH cands AS (
  SELECT doc_id,
         CASE WHEN doc_id % 13 = 0 THEN '4242424242424242'
              WHEN doc_id % 19 = 0 THEN '1234567890123456' END AS candidate
  FROM documents),
d AS (
  SELECT doc_id, candidate,
         list_transform(range(1, 17),
             i -> ascii(substring(candidate, i, 1)) - 48) AS ds
  FROM cands WHERE candidate IS NOT NULL)
SELECT doc_id, candidate,
       list_sum(list_transform(range(1, 17),
           i -> CASE WHEN (16 - i) % 2 = 1
                THEN CASE WHEN ds[i] * 2 > 9 THEN ds[i] * 2 - 9
                          ELSE ds[i] * 2 END
                ELSE ds[i] END)) % 10 = 0 AS luhn_valid
FROM d
"""


# --------------------------------------------------------------------- r85
def r85_forecast_revenue_change(spark: SparkSession, sf: str) -> DataFrame:
    """Forecasting revenue change (TPC-H Q6 shape): the amount revenue
    would rise if discounts in a band were eliminated — ONE fully
    pushed-down filter-scan + a single global fixed-point sum, the
    canonical "does your engine push predicates and combine partials"
    probe. With Q6 in place the suite covers every TPC-H query shape
    1–22 (Q12's conditional-count join idiom lives in r43/r76; Q9/Q11
    are adapted to the schema's missing partsupp — see r86/r88).

    Scale: no shuffle beyond one-row partial sums; the three predicates
    all reach the parquet scan (PushedFilters), so I/O is the bound.
    """
    li = load_table(spark, sf, "lineitem")
    filtered = li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.02)
        & (F.col("l_discount") <= 0.04)
        & (F.col("l_quantity") < 24)
    )
    return filtered.agg(
        dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


R85_SQL = f"""
SELECT {sql_dsum('l_extendedprice * l_discount')} AS revenue,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount >= 0.02 AND l_discount <= 0.04
  AND l_quantity < 24
"""


# --------------------------------------------------------------------- r86
def r86_product_type_profit(spark: SparkSession, sf: str) -> DataFrame:
    """Product-type profit measure (TPC-H Q9 shape, adapted): profit by
    (supplier nation, order year) for parts whose type contains a
    keyword. Q9's ps_supplycost has no home in this schema (no
    partsupp table), so cost is the documented stand-in
    0.8·p_retailprice·l_quantity — the SHAPE (two dim filters, a
    fact⋈fact join, per-line profit arithmetic, two-key rollup) is
    what's exercised, and the oracle pins the adapted semantics.

    Scale: part (filtered) and supplier⋈nation broadcast into the
    lineitem scan; orders joins on the orderkey (bucket both to
    co-locate at rest); the (nation, year) rollup combines map-side to
    nations×years rows.
    """
    li = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders").select(
        "o_orderkey", F.year("o_orderdate").alias("o_year")
    )
    part = (
        load_table(spark, sf, "part")
        .filter(F.col("p_type").contains("A"))
        .select("p_partkey", "p_retailprice")
    )
    supp = load_table(spark, sf, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    nation = load_table(spark, sf, "nation").select(
        F.col("n_nationkey"), F.col("n_name").alias("nation")
    )
    profit = (
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
        - F.lit(0.8) * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("nation", "o_year")
        .agg(dsum(profit).alias("sum_profit"))
    )


R86_SQL = f"""
SELECT n.n_name AS nation,
       CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
       {sql_dsum('l.l_extendedprice * (1.0 - l.l_discount)'
                 ' - 0.8 * p.p_retailprice * l.l_quantity')} AS sum_profit
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey AND p.p_type LIKE '%A%'
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY n.n_name, year(o.o_orderdate)
"""


# --------------------------------------------------------------------- r87
def r87_top_supplier(spark: SparkSession, sf: str) -> DataFrame:
    """Top supplier(s) by quarterly revenue (TPC-H Q15 shape): build
    the per-supplier revenue "view" over a 3-month ship window, then
    keep the supplier(s) whose revenue EQUALS the global max — Q15's
    defining idiom is the scalar-max subquery over a derived view,
    which Spark expresses as a 1-row broadcast join (never a window
    over all suppliers, never a driver collect).

    Fixed-point revenue sums make the equality comparison exact — the
    max filter on a float aggregate would otherwise be an engine
    lottery.

    Scale: the revenue view is supplier-sized after one combiner-
    friendly aggregation; the max is one more partial-agg pass over
    supplier rows; the final filter broadcasts one row.
    """
    li = load_table(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        dsum(
            F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
        ).alias("total_revenue")
    )
    mx = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    supp = load_table(spark, sf, "supplier").select(
        "s_suppkey", "s_name"
    )
    return (
        revenue.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(F.broadcast(supp), F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


R87_SQL = f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         {sql_dsum('l_extendedprice * (1.0 - l_discount)')}
           AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate < TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey)
SELECT s.s_suppkey, s.s_name, r.total_revenue
FROM revenue r
JOIN supplier s ON r.supplier_no = s.s_suppkey
WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
"""


# --------------------------------------------------------------------- r88
def r88_important_stock(spark: SparkSession, sf: str) -> DataFrame:
    """Important stock identification (TPC-H Q11 shape, adapted): the
    (supplier, part) value table for suppliers of one nation, keeping
    the pairs whose value exceeds a multiple of the MEAN pair value —
    Q11's global-HAVING-threshold idiom with the cutoff normalized the
    way TPC-H itself does (Q11 divides its fraction by SF so the
    surviving head stays scale-free). partsupp doesn't exist here,
    so pair value is shipped lineitem value (documented adaptation;
    the shape — grouped agg, scalar fraction subquery, threshold
    filter — is intact, fixed-point so the threshold compare is
    engine-exact).

    Scale: one combiner-friendly (supp, part) aggregation of the
    nation-filtered fact sliver; the threshold is a 1-row broadcast;
    output is value-ranked pairs.
    """
    supp = (
        load_table(spark, sf, "supplier")
        .join(
            F.broadcast(
                load_table(spark, sf, "nation").filter(
                    F.col("n_nationkey") % 5 == 0
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    li = load_table(spark, sf, "lineitem")
    value = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(
            dsum(
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
            ).alias("pair_value")
        )
    )
    threshold = value.agg(
        (dsum("pair_value") / F.count(F.lit(1)) * F.lit(2.0)).alias(
            "cutoff"
        )
    )
    return (
        value.crossJoin(F.broadcast(threshold))
        .filter(F.col("pair_value") > F.col("cutoff"))
        .select("l_suppkey", "l_partkey", "pair_value")
    )


R88_SQL = f"""
WITH supp AS (
  SELECT s_suppkey FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_nationkey % 5 = 0),
pairval AS (
  SELECT l_suppkey, l_partkey,
         {sql_dsum('l_extendedprice * (1.0 - l_discount)')} AS pair_value
  FROM lineitem SEMI JOIN supp ON l_suppkey = s_suppkey
  GROUP BY l_suppkey, l_partkey)
SELECT l_suppkey, l_partkey, pair_value
FROM pairval
WHERE pair_value > (SELECT {sql_dsum('pair_value')} / count(*) * 2.0 FROM pairval)
"""


# --------------------------------------------------------------------- r89
def r89_trade_reach(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-source-free BFS reachability: minimum hop distance from
    the NATION_0..4 seed bloc to every nation reachable within 4 hops
    over the trade BACKBONE — nation pairs whose exact quantity volume
    is ≥ the mean pair volume (the disparity-filter idea: prune noise edges,
    keep the heavy trading relations, THEN ask connectivity
    questions). The graph primitive r57's PageRank can't answer: "how
    far is X from Y", i.e. shortest paths.

    Determinism: pair volumes are exact fixed-point BIGINT sums
    (``dsum`` quantization without the final divide) and the backbone
    test is the integer cross-multiplication ``q·n ≥ total`` —
    no float threshold anywhere; distances are integer hop counts.
    int64 headroom: q ≤ Σqty·10⁶ ≈ 3·10¹³ at sf0.1 and n ≤ 625, so
    2·q·n < 4·10¹⁶ « 2⁶³ (at petabyte fact sizes drop the quantize
    scale to 10²).

    Scale: the fact scan reduces to ≤ N² nation pairs BEFORE any graph
    work (the r54/r57 reduce-early ordering); the single-row totals
    frame broadcasts; BFS state is node-sized per hop
    (graph.khop_min_distance — one equi-join + distinct per hop,
    early-exit on a converged frontier).
    """
    from pyspark_recs.graph import khop_min_distance

    li = load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_quantity"
    )
    orders = load_table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    cus = F.broadcast(
        load_table(spark, sf, "customer").select("c_custkey", "c_nationkey")
    )
    sup = F.broadcast(
        load_table(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    )
    nation = load_table(spark, sf, "nation")
    # The pair table is consumed three times (the totals row, the
    # backbone filter, and the BFS's distinct'd edge list) and Spark
    # has no DataFrame CSE — snapshot it so the 3-join fact aggregation
    # runs ONCE. It is bounded at ≤ N² nation pairs, so the snapshot is
    # KBs at any fact scale; like khop's returned frame below it is
    # run-scoped, so a repeated r89 call recomputes instead of reading
    # the previous call's blocks.
    from pyspark_recs.workloads.common import snapshot_plan

    pair = snapshot_plan(
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cus, F.col("o_custkey") == F.col("c_custkey"))
        .join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(
            F.col("c_nationkey").alias("src"),
            F.col("s_nationkey").alias("dst"),
        )
        .agg(
            F.sum(
                F.floor(F.col("l_quantity") * F.lit(1e6) + F.lit(0.5)).cast(
                    "long"
                )
            ).alias("q")
        )
    )
    tot = pair.agg(
        F.sum("q").alias("total"), F.count(F.lit(1)).alias("n")
    )
    edges = (
        pair.crossJoin(F.broadcast(tot))
        .filter(F.col("q") * F.col("n") >= F.col("total"))
        .select("src", "dst")
    )
    seeds = nation.filter(F.col("n_nationkey") < 5).select(
        F.col("n_nationkey")
    )
    dist = khop_min_distance(edges, seeds, max_hops=4)
    return (
        dist.join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            dist["node"] == F.col("n_nationkey"),
        )
        .select("n_nationkey", "n_name", "distance")
    )


R89_SQL = """
WITH RECURSIVE pair AS (
  SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
         CAST(sum(CAST(floor(l.l_quantity * 1000000.0 + 0.5) AS BIGINT))
              AS BIGINT) AS q
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  WHERE c.c_nationkey <> s.s_nationkey
  GROUP BY 1, 2),
tot AS (SELECT sum(q) AS total, count(*) AS n FROM pair),
e AS (SELECT src, dst FROM pair, tot WHERE q * n >= total),
walk(node, d) AS (
  SELECT n_nationkey, 0 FROM nation WHERE n_nationkey < 5
  UNION ALL
  SELECT e.dst, w.d + 1 FROM walk w JOIN e ON e.src = w.node
  WHERE w.d < 4)
SELECT n.n_nationkey, n.n_name, CAST(min(w.d) AS BIGINT) AS distance
FROM walk w JOIN nation n ON n.n_nationkey = w.node
GROUP BY n.n_nationkey, n.n_name
"""


# --------------------------------------------------------------------- r90
def r90_cuped_ab_lift(spark: SparkSession, sf: str) -> DataFrame:
    """CUPED variance-reduced A/B readout (Deng et al., WSDM'13 — the
    industry-standard experimentation estimator): users hash-split
    into two arms, the post-period metric Y is adjusted by the
    pre-period covariate X as ``Y − θ(X − X̄)`` with
    ``θ = cov(X, Y)/var(X)`` from POOLED data, which strips the
    between-user variance both arms share and tightens the lift CI
    without biasing it. Completes the experimentation family beside
    r62's chi-square and r69's Mann-Whitney: those TEST, this
    ESTIMATES.

    Determinism: per-user X/Y are fixed-point BIGINT sums (scale 10²),
    the pooled moment sums (Σx, Σy, Σx², Σxy, n) are exact int64, and
    θ / the adjusted means are single double expressions over those
    exact integers written IDENTICALLY in both engines — same inputs,
    same operation order, same IEEE result. int64 headroom: per-user
    |x_q| ≲ 10⁶ at sf0.1 (values ≤ ~512, ≲ 100 events/user), so
    Σx² ≲ 10¹² per user and ≲ 10¹⁷ pooled at sf10 — drop the quantize
    scale at petabyte event volumes.

    Scale: one groupBy(user) over the event scan (map-side combined),
    one 5-number pooled aggregate broadcast back, one 2-group arm
    aggregate — nothing after the first shuffle exceeds user
    cardinality, and the moment fold is the l44/r49 sufficient-
    statistics discipline (shuffle size independent of event rows).
    """
    ev = load_table(spark, sf, "events").select(
        "user_id", F.unix_micros("ts").alias("ts_us"), "value"
    )
    bounds = ev.agg(
        F.min("ts_us").alias("lo"), F.max("ts_us").alias("hi")
    )
    q = F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long")
    halved = ev.crossJoin(F.broadcast(bounds)).select(
        "user_id",
        F.when(F.col("ts_us") * 2 < F.col("lo") + F.col("hi"), q)
        .otherwise(F.lit(0))
        .alias("x_q"),
        F.when(F.col("ts_us") * 2 >= F.col("lo") + F.col("hi"), q)
        .otherwise(F.lit(0))
        .alias("y_q"),
    )
    per_user = halved.groupBy("user_id").agg(
        F.sum("x_q").alias("x"), F.sum("y_q").alias("y")
    )
    users = per_user.select(
        (md5_long(F.col("user_id").cast("string")) % 2).alias("arm"),
        "x",
        "y",
    )
    pooled = users.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    # theta and the pooled X mean as double expressions over exact ints
    arms = (
        users.groupBy("arm")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("x").alias("arm_sx"),
            F.sum("y").alias("arm_sy"),
        )
        .crossJoin(F.broadcast(pooled))
    )
    theta = (
        (
            F.col("n").cast("double") * F.col("sxy").cast("double")
            - F.col("sx").cast("double") * F.col("sy").cast("double")
        )
        / (
            F.col("n").cast("double") * F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx").cast("double")
        )
    )
    mean_x_pool = F.col("sx").cast("double") / F.col("n").cast("double")
    mean_x_arm = F.col("arm_sx").cast("double") / F.col("n_users").cast(
        "double"
    )
    mean_y_arm = F.col("arm_sy").cast("double") / F.col("n_users").cast(
        "double"
    )
    return arms.select(
        "arm",
        "n_users",
        F.col("arm_sx").alias("sum_x_q"),
        F.col("arm_sy").alias("sum_y_q"),
        mean_y_arm.alias("mean_y"),
        (mean_y_arm - theta * (mean_x_arm - mean_x_pool)).alias(
            "cuped_mean_y"
        ),
    )


R90_SQL = f"""
WITH ev AS (
  SELECT user_id, epoch_us(ts) AS ts_us, value FROM events),
bounds AS (SELECT min(ts_us) AS lo, max(ts_us) AS hi FROM ev),
halved AS (
  SELECT user_id,
         CASE WHEN ts_us * 2 < lo + hi
              THEN CAST(floor(value * 100.0 + 0.5) AS BIGINT)
              ELSE 0 END AS x_q,
         CASE WHEN ts_us * 2 >= lo + hi
              THEN CAST(floor(value * 100.0 + 0.5) AS BIGINT)
              ELSE 0 END AS y_q
  FROM ev CROSS JOIN bounds),
per_user AS (
  SELECT user_id, CAST(sum(x_q) AS BIGINT) AS x,
         CAST(sum(y_q) AS BIGINT) AS y
  FROM halved GROUP BY user_id),
users AS (
  SELECT {sql_md5_long("CAST(user_id AS VARCHAR)")} % 2 AS arm, x, y
  FROM per_user),
pooled AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(x * y) AS BIGINT) AS sxy
  FROM users),
arms AS (
  SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(x) AS BIGINT) AS arm_sx,
         CAST(sum(y) AS BIGINT) AS arm_sy
  FROM users GROUP BY arm)
SELECT a.arm, a.n_users,
       a.arm_sx AS sum_x_q, a.arm_sy AS sum_y_q,
       CAST(a.arm_sy AS DOUBLE) / CAST(a.n_users AS DOUBLE) AS mean_y,
       CAST(a.arm_sy AS DOUBLE) / CAST(a.n_users AS DOUBLE)
       - ((CAST(p.n AS DOUBLE) * CAST(p.sxy AS DOUBLE)
           - CAST(p.sx AS DOUBLE) * CAST(p.sy AS DOUBLE))
          / (CAST(p.n AS DOUBLE) * CAST(p.sxx AS DOUBLE)
             - CAST(p.sx AS DOUBLE) * CAST(p.sx AS DOUBLE)))
         * (CAST(a.arm_sx AS DOUBLE) / CAST(a.n_users AS DOUBLE)
            - CAST(p.sx AS DOUBLE) / CAST(p.n AS DOUBLE))
         AS cuped_mean_y
FROM arms a CROSS JOIN pooled p
"""


QUERIES = {
    "r01_pricing_summary": r01_pricing_summary,
    "r02_frequent_customers": r02_frequent_customers,
    "r03_frequent_customer_orders": r03_frequent_customer_orders,
    "r04_dedup_exact": r04_dedup_exact,
    "r05_dedup_last_value": r05_dedup_last_value,
    "r06_latest_batch": r06_latest_batch,
    "r07_json_extract": r07_json_extract,
    "r08_url_synthesis": r08_url_synthesis,
    "r09_left_join_defaults": r09_left_join_defaults,
    "r10_three_way_join": r10_three_way_join,
    "r11_per_part_avg_price": r11_per_part_avg_price,
    "r12_time_split": r12_time_split,
    "r13_date_parts": r13_date_parts,
    "r14_topk_per_customer": r14_topk_per_customer,
    "r15_latest_event": r15_latest_event,
    "r16_union_splits": r16_union_splits,
    "r17_distinct_values": r17_distinct_values,
    "r18_argmax_per_nation": r18_argmax_per_nation,
    "r19_categorify_dictionary": r19_categorify_dictionary,
    "r20_categorify_encode_oov": r20_categorify_encode_oov,
    "r21_bucketize": r21_bucketize,
    "r22_zscore": r22_zscore,
    "r23_explode_tokens": r23_explode_tokens,
    "r24_fill_missing_normalize": r24_fill_missing_normalize,
    "r25_count_distinct": r25_count_distinct,
    "r26_ordered_export": r26_ordered_export,
    "r27_approx_distinct": r27_approx_distinct,
    "r28_hash_sample": r28_hash_sample,
    "r29_asof_join": r29_asof_join,
    "r30_interval_join": r30_interval_join,
    "r31_pivot": r31_pivot,
    "r32_rollup": r32_rollup,
    "r33_unpivot": r33_unpivot,
    "r34_scd2_history": r34_scd2_history,
    "r35_trailing_window": r35_trailing_window,
    "r36_spend_deciles": r36_spend_deciles,
    "r37_incremental_rollup": r37_incremental_rollup,
    "r38_props_extract": r38_props_extract,
    "r39_local_supplier_volume": r39_local_supplier_volume,
    "r40_small_order_parts": r40_small_order_parts,
    "r41_sole_late_supplier": r41_sole_late_supplier,
    "r42_json_quarantine": r42_json_quarantine,
    "r43_market_share": r43_market_share,
    "r44_custdist": r44_custdist,
    "r45_dominant_suppliers": r45_dominant_suppliers,
    "r46_idle_rich_customers": r46_idle_rich_customers,
    "r47_salted_join": r47_salted_join,
    "r48_range_join": r48_range_join,
    "r49_grouped_ols": r49_grouped_ols,
    "r50_quantile_bounds": r50_quantile_bounds,
    "r51_grouping_sets": r51_grouping_sets,
    "r52_mode_per_group": r52_mode_per_group,
    "r53_sketch_rollup": r53_sketch_rollup,
    "r54_nation_trade": r54_nation_trade,
    "r55_mad_outliers": r55_mad_outliers,
    "r56_set_ops": r56_set_ops,
    "r57_pagerank_trade": r57_pagerank_trade,
    "r58_ewma_smoothing": r58_ewma_smoothing,
    "r59_gap_fill": r59_gap_fill,
    "r60_ks_drift": r60_ks_drift,
    "r61_seasonal_anomaly": r61_seasonal_anomaly,
    "r62_chisq_independence": r62_chisq_independence,
    "r63_snapshot_diff": r63_snapshot_diff,
    "r64_disjunctive_pushdown": r64_disjunctive_pushdown,
    "r65_table_profile": r65_table_profile,
    "r66_trimmed_mean": r66_trimmed_mean,
    "r67_min_cost_supplier": r67_min_cost_supplier,
    "r68_big_spender_orders": r68_big_spender_orders,
    "r69_mann_whitney": r69_mann_whitney,
    "r70_bitmap_distinct": r70_bitmap_distinct,
    "r71_rolling_distinct": r71_rolling_distinct,
    "r72_sql_model_chain": r72_sql_model_chain,
    "r73_delete_propagation": r73_delete_propagation,
    "r74_fk_discovery": r74_fk_discovery,
    "r75_shipping_priority": r75_shipping_priority,
    "r76_late_shipment_priority": r76_late_shipment_priority,
    "r77_returned_customers": r77_returned_customers,
    "r78_promo_revenue": r78_promo_revenue,
    "r79_supplier_census": r79_supplier_census,
    "r80_master_merge": r80_master_merge,
    "r81_time_travel": r81_time_travel,
    "r82_subject_access_report": r82_subject_access_report,
    "r83_skew_profile": r83_skew_profile,
    "r84_luhn_validation": r84_luhn_validation,
    "r85_forecast_revenue_change": r85_forecast_revenue_change,
    "r86_product_type_profit": r86_product_type_profit,
    "r87_top_supplier": r87_top_supplier,
    "r88_important_stock": r88_important_stock,
    "r89_trade_reach": r89_trade_reach,
    "r90_cuped_ab_lift": r90_cuped_ab_lift,
}

ORACLE = {
    "r01_pricing_summary": R01_SQL,
    "r02_frequent_customers": R02_SQL,
    "r03_frequent_customer_orders": R03_SQL,
    "r04_dedup_exact": R04_SQL,
    "r05_dedup_last_value": R05_SQL,
    "r06_latest_batch": R06_SQL,
    "r07_json_extract": R07_SQL,
    "r08_url_synthesis": R08_SQL,
    "r09_left_join_defaults": R09_SQL,
    "r10_three_way_join": R10_SQL,
    "r11_per_part_avg_price": R11_SQL,
    "r12_time_split": R12_SQL,
    "r13_date_parts": R13_SQL,
    "r14_topk_per_customer": R14_SQL,
    "r15_latest_event": R15_SQL,
    "r16_union_splits": R16_SQL,
    "r17_distinct_values": R17_SQL,
    "r18_argmax_per_nation": R18_SQL,
    "r19_categorify_dictionary": R19_SQL,
    "r20_categorify_encode_oov": R20_SQL,
    "r21_bucketize": R21_SQL,
    "r22_zscore": R22_SQL,
    "r23_explode_tokens": R23_SQL,
    "r24_fill_missing_normalize": R24_SQL,
    "r25_count_distinct": R25_SQL,
    "r26_ordered_export": R26_SQL,
    "r28_hash_sample": R28_SQL,
    "r29_asof_join": R29_SQL,
    "r30_interval_join": R30_SQL,
    "r31_pivot": R31_SQL,
    "r32_rollup": R32_SQL,
    "r33_unpivot": R33_SQL,
    "r34_scd2_history": R34_SQL,
    "r35_trailing_window": R35_SQL,
    "r36_spend_deciles": R36_SQL,
    "r37_incremental_rollup": R37_SQL,
    "r38_props_extract": R38_SQL,
    "r39_local_supplier_volume": R39_SQL,
    "r40_small_order_parts": R40_SQL,
    "r41_sole_late_supplier": R41_SQL,
    "r42_json_quarantine": R42_SQL,
    "r43_market_share": R43_SQL,
    "r44_custdist": R44_SQL,
    "r45_dominant_suppliers": R45_SQL,
    "r46_idle_rich_customers": R46_SQL,
    "r47_salted_join": R47_SQL,
    "r48_range_join": R48_SQL,
    "r49_grouped_ols": R49_SQL,
    "r50_quantile_bounds": R50_SQL,
    "r51_grouping_sets": R51_SQL,
    "r52_mode_per_group": R52_SQL,
    "r53_sketch_rollup": R53_SQL,
    "r54_nation_trade": R54_SQL,
    "r55_mad_outliers": R55_SQL,
    "r56_set_ops": R56_SQL,
    "r57_pagerank_trade": R57_SQL,
    "r58_ewma_smoothing": R58_SQL,
    "r59_gap_fill": R59_SQL,
    "r60_ks_drift": R60_SQL,
    "r61_seasonal_anomaly": R61_SQL,
    "r62_chisq_independence": R62_SQL,
    "r63_snapshot_diff": R63_SQL,
    "r64_disjunctive_pushdown": R64_SQL,
    "r65_table_profile": R65_SQL,
    "r66_trimmed_mean": R66_SQL,
    "r67_min_cost_supplier": R67_SQL,
    "r68_big_spender_orders": R68_SQL,
    "r69_mann_whitney": R69_SQL,
    "r70_bitmap_distinct": R70_SQL,
    "r71_rolling_distinct": R71_SQL,
    "r72_sql_model_chain": R72_SQL,
    "r73_delete_propagation": R73_SQL,
    "r74_fk_discovery": R74_SQL,
    "r75_shipping_priority": R75_SQL,
    "r76_late_shipment_priority": R76_SQL,
    "r77_returned_customers": R77_SQL,
    "r78_promo_revenue": R78_SQL,
    "r79_supplier_census": R79_SQL,
    "r80_master_merge": R80_SQL,
    "r81_time_travel": R81_SQL,
    "r82_subject_access_report": R82_SQL,
    "r83_skew_profile": R83_SQL,
    "r84_luhn_validation": R84_SQL,
    "r85_forecast_revenue_change": R85_SQL,
    "r86_product_type_profit": R86_SQL,
    "r87_top_supplier": R87_SQL,
    "r88_important_stock": R88_SQL,
    "r89_trade_reach": R89_SQL,
    "r90_cuped_ab_lift": R90_SQL,
    # r27: bounded check — exact count reproduced, HLL asserted within 4·rsd
    "r27_approx_distinct": R27_SQL,
}
