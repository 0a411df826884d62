"""Core relational operators (SURVEY.md §2.2-2.6), as composable
DataFrame->DataFrame functions.

Each function is declarative — it only *builds* a logical plan and lets
Catalyst choose the physical strategy. Scale notes (100 TB design point)
are attached per operator. Reference-parity citations point into
/root/reference (see SURVEY.md §2 for the full mapping).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# Versioned-batch / latest-load semantics (P2/J1/O2)
# ---------------------------------------------------------------------------
def latest_batch(
    df: DataFrame,
    batch_col: str,
    order_col: str,
) -> DataFrame:
    """Keep only rows belonging to the newest batch.

    Reference parity: the "latest_etl" CTE repeated in all four staging
    models (articles_staging.sql:1-7,23-26 etc.): ``ORDER BY ts DESC LIMIT
    1`` then inner-join raw on the batch id.

    Scale: the subquery is a global top-1 — Spark plans
    TakeOrderedAndProject (no full sort), and the join side is a single
    row, so we broadcast it: the whole operator costs one scan + a
    broadcast hash join, no shuffle of the big side.
    """
    latest = (
        df.select(batch_col, order_col)
        .orderBy(F.desc(order_col), F.desc(batch_col))
        .limit(1)
        .select(batch_col)
    )
    return df.join(F.broadcast(latest), on=batch_col, how="inner")


# ---------------------------------------------------------------------------
# Dedup (A2 / W1)
# ---------------------------------------------------------------------------
def dedup_last_value(
    df: DataFrame,
    group_keys: Sequence[str],
    order_cols: Sequence[str],
    value_cols: Sequence[str],
) -> DataFrame:
    """Distinct rows, with `value_cols` overwritten by the value of the
    last row (by `order_cols`) in each `group_keys` partition.

    Reference parity: dedup_transactions.sql:1-17 — GROUP BY all columns,
    then ``last_value(x) OVER (PARTITION BY keys ORDER BY t_dat)``.

    ⚠ Frame-semantics trap (SURVEY §2.5 W1): Snowflake's default frame for
    last_value is the ENTIRE partition; Spark's default frame with an
    ORDER BY is unboundedPreceding..currentRow, which would silently
    return the current row. We set rowsBetween(unboundedPreceding,
    unboundedFollowing) explicitly.

    Faithful to the reference's wart (SURVEY §2.5 W2): a group with 3
    distinct rows yields 3 identical output rows post-overwrite — no
    second dedup is applied here; callers wanting one-row-per-key chain
    ``dropDuplicates()`` after.

    Scale: one shuffle on group_keys shared by the distinct and the
    window (Catalyst reuses the partitioning when keys align).
    """
    distinct = df.dropDuplicates()
    w = (
        Window.partitionBy(*group_keys)
        .orderBy(*[F.col(c).asc() for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    out = distinct
    for c in value_cols:
        out = out.withColumn(c, F.last(F.col(c)).over(w))
    return out


# ---------------------------------------------------------------------------
# Frequency filter (A1 + J4)
# ---------------------------------------------------------------------------
def frequency_filter(
    df: DataFrame,
    key: str,
    min_count: int,
    pred: Column | None = None,
    count_alias: str | None = None,
) -> DataFrame:
    """Keep rows whose `key` appears >= min_count times among rows
    matching `pred`.

    Reference parity: filtered_dataframe.sql:1-19 — "frequent_customers"
    CTE (COUNT(*) GROUP BY customer_id HAVING >= 5 over the training
    window) inner-joined back to the facts; semantically a LEFT SEMI join
    because the CTE is unique per key.

    If ``count_alias`` is given the count column is kept on the output
    (inner join); otherwise a left-semi join keeps the fact schema
    untouched.

    Scale: the aggregate side is pre-shrunk (predicate pushed below the
    groupBy, map-side partial counts), usually small enough to broadcast;
    AQE converts the join at runtime when it is.
    """
    base = df.filter(pred) if pred is not None else df
    frequent = base.groupBy(key).count().filter(F.col("count") >= min_count)
    if count_alias:
        frequent = frequent.withColumnRenamed("count", count_alias)
        return df.join(frequent, on=key, how="inner")
    return df.join(frequent.select(key), on=key, how="left_semi")


# ---------------------------------------------------------------------------
# Dimension enrichment (J2 + P11)
# ---------------------------------------------------------------------------
def left_enrich(
    facts: DataFrame,
    dim: DataFrame,
    key: str,
    defaults: dict[str, object] | None = None,
) -> DataFrame:
    """LEFT OUTER equi-join facts <- dim, with per-column defaults for
    unmatched rows.

    Reference parity: articles_metadata.sql:1-7 (articles LEFT JOIN images
    keeps NULL s3_url) + the 'NO_GROUP' default lookups
    (my_merlin_flow.py:395).

    Scale: dimensions are broadcast (hint applied); a 100k-article dim is
    a few MB — never shuffle the fact table for it.
    """
    out = facts.join(F.broadcast(dim), on=key, how="left")
    for col, default in (defaults or {}).items():
        out = out.withColumn(col, F.coalesce(F.col(col), F.lit(default)))
    return out


# ---------------------------------------------------------------------------
# Top-k per group (O3/W3) and global argmax (A4)
# ---------------------------------------------------------------------------
def top_k_per_group(
    df: DataFrame,
    partition_cols: Sequence[str],
    order_cols: Sequence[Column],
    k: int,
    rank_alias: str = "rn",
) -> DataFrame:
    """row_number()<=k per partition — the generic top-k retrieval shape
    (my_merlin_flow.py:91-95,342,481).

    Callers MUST pass a total order (include a unique tiebreak column) or
    results are nondeterministic.

    Scale: Spark pushes a per-partition rank limit below the shuffle
    (WindowGroupLimit in the physical plan), so each map task emits at
    most k rows per group before shuffling.
    """
    w = Window.partitionBy(*partition_cols).orderBy(*order_cols)
    return df.withColumn(rank_alias, F.row_number().over(w)).filter(
        F.col(rank_alias) <= k
    )


def argmax_per_group(
    df: DataFrame,
    keys: Sequence[str],
    target_col: str,
    order_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """max_by with an explicit (order, tiebreak) struct — deterministic
    argmax per group.

    Reference parity: best-hyperparameter selection
    ``sorted(results)[0]`` (my_merlin_flow.py:355-364).

    Scale: a single hash aggregate; no window, no sort.
    """
    return df.groupBy(*keys).agg(
        F.max_by(
            F.col(target_col), F.struct(F.col(order_col), F.col(tiebreak_col))
        ).alias(target_col),
        F.max(order_col).alias(order_col),
    )


# ---------------------------------------------------------------------------
# Scalar feature transforms expressible relationally (A3 / F3 / F1)
# ---------------------------------------------------------------------------
def bucketize_fixed_width(
    df: DataFrame, value_col: str, width: float, alias: str | None = None
) -> DataFrame:
    """floor(x / width) ordinal bucketing (NVTabular ``Bucketize``,
    workflow_builder.py:26-27, generalized to fixed width).

    Pure projection — stays inside whole-stage codegen.
    """
    return df.withColumn(
        alias or f"{value_col}_bucket",
        F.floor(F.col(value_col) / F.lit(width)).cast("long"),
    )


def ranked_by_range(
    df: DataFrame,
    order_cols: list[str],
    rank_alias: str = "rank",
    num_partitions: int | None = None,
) -> DataFrame:
    """EXACT global row_number over a TOTAL order with no
    single-partition WindowExec: the partition-offset pattern.

    1. range-repartition on the order keys — every partition holds a
       contiguous, non-overlapping key range (equal keys can never
       straddle a boundary: assignment is by key comparison);
    2. per-partition row counts prefix-summed into starting offsets
       IN-PLAN: a ≤ num_partitions-row window ordered by ``_pid``
       above the ``_pid``-keyed aggregate (the scalable_prefix_sum
       offset shape — unpartitioned but provably bounded, the
       registry window-lint's whitelist case). No driver collect, so
       the whole rank is ONE lazy job instead of a count-collect job
       + a rank job — at 150k entities that halves the wall-clock; at
       any scale it halves the scheduling floor.
    3. global rank = partition's broadcast offset + local row_number
       (a PARALLEL window keyed by partition id).

    Values are independent of the sampled range boundaries: skewed
    boundary placement only unbalances partition sizes, never changes
    which keys precede which. ``order_cols`` MUST be a total order
    (add a unique tiebreak column) or local row_number tie order leaks
    into the ranks. The repartitioned frame is snapshotted
    (``snapshot_plan``) so the offsets branch and the rank branch see
    identical partition ids — it must be aggregate-sized (dictionary
    values, per-entity rollups), never a raw fact table.
    """
    from pyspark_recs.workloads.common import snapshot_plan

    spark = df.sparkSession
    n_parts = num_partitions or spark.sparkContext.defaultParallelism
    ranged = snapshot_plan(
        df.repartitionByRange(n_parts, *[F.col(c) for c in order_cols])
        .withColumn("_pid", F.spark_partition_id())
    )
    w_off = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        ranged.groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("_c"))
        .select(
            "_pid",
            F.coalesce(F.sum("_c").over(w_off), F.lit(0))
            .cast("long")
            .alias("_off"),
        )
    )
    w = Window.partitionBy("_pid").orderBy(*[F.col(c).asc() for c in order_cols])
    return (
        ranged.join(F.broadcast(offsets), "_pid")
        .withColumn(
            rank_alias,
            (F.row_number().over(w).cast("long") + F.col("_off")),
        )
        .drop("_pid", "_off")
    )


def ntile_by_range(
    df: DataFrame,
    order_cols: list[str],
    n_buckets: int,
    alias: str = "bucket",
    total: int | None = None,
) -> DataFrame:
    """EXACT ``ntile(n_buckets) OVER (ORDER BY order_cols)`` with no
    single-partition WindowExec: the global rank comes from
    :func:`ranked_by_range` (partition-offset pattern) and the
    rank→bucket mapping is ntile's closed form — with ``n`` rows the
    first ``n mod k`` buckets hold ``n div k + 1`` rows, the rest
    ``n div k``. ``total`` is the row count (a bounded driver scalar);
    pass it when the caller already knows it, else the frame is
    snapshotted (``snapshot_plan``) and counted here.

    .. warning:: ``total`` is TRUSTED. A wrong value silently yields
       wrong buckets — there is no detection path, because the bucket
       formula never re-counts. Only pass ``total`` when it is the
       exact ``df.count()`` of THIS frame (same filters, same rows);
       when in any doubt, pass ``None`` and pay the one bounded count.
       ``tests/test_ranked_layout.py::test_ntile_by_range_total_fast_path``
       cross-checks the fast path against the counted path.

    Same contract as ranked_by_range: ``order_cols`` must be a total
    order (add a unique tiebreak) and ``df`` must be aggregate-sized
    (per-entity rollups), never a raw fact table.
    """
    if total is None:
        from pyspark_recs.workloads.common import snapshot_plan

        df = snapshot_plan(df)
        total = df.count()
    base, rem = divmod(total, n_buckets)
    cut = rem * (base + 1)
    ranked = ranked_by_range(df, order_cols, rank_alias="_ntile_rk")
    if base == 0:  # fewer rows than buckets: bucket = rank
        bucket = F.col("_ntile_rk").cast("int")
    else:
        bucket = F.expr(
            f"CAST(CASE WHEN _ntile_rk <= {cut} "
            f"THEN (_ntile_rk - 1) DIV {base + 1} + 1 "
            f"ELSE {rem} + (_ntile_rk - {cut} - 1) DIV {base} + 1 "
            f"END AS INT)"
        )
    return ranked.withColumn(alias, bucket).drop("_ntile_rk")


def categorify_dictionary(df: DataFrame, col: str) -> DataFrame:
    """Build the Categorify dictionary: sorted distinct non-null values ->
    contiguous codes starting at 1; 0 is reserved for null/OOV
    (NVTabular Categorify, workflow_builder.py:18-58; artifacts
    ``unique.<col>.parquet`` my_merlin_flow.py:242-246).

    Determinism: codes follow the value sort order, so refits on identical
    input are stable (SURVEY §7 watch-list).

    Scale: codes come from ``ranked_by_range`` — the partition-offset
    pattern — so a 100M-cardinality column never serializes through a
    single-partition window; the distinct-value frame is the only
    materialized state (cardinality-bounded by construction).
    """
    return ranked_by_range(
        df.select(col).filter(F.col(col).isNotNull()).distinct(),
        [col],
        rank_alias="code",
    )


def time_split_label(
    ts_col: Column,
    train_end: str,
    valid_end: str,
    alias: str = "split",
) -> Column:
    """train/valid/test label from two boundary dates
    (my_merlin_flow.py:128-130,196-199: ``t_dat < d1``, ``d1 <= t_dat <
    d2``, ``t_dat >= d2``).

    Scale: a pure projection; when the fact table is date-partitioned the
    three split filters become partition pruning.
    """
    return (
        F.when(ts_col < F.lit(train_end).cast("timestamp"), F.lit("train"))
        .when(ts_col < F.lit(valid_end).cast("timestamp"), F.lit("valid"))
        .otherwise(F.lit("test"))
        .alias(alias)
    )


def salted_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-salted equi-join for power-law keys (SURVEY §7.8; the H&M
    data's hot customers are the motivating case).

    A hot join key lands every matching row on one reducer; salting
    splits it ``n_salts`` ways: the big (skewed) side gets a
    deterministic per-row salt — a row-content hash, so retries and
    re-runs salt identically — and the small side is replicated once
    per salt via ``explode``. The join key becomes (key, salt), so the
    hot key's rows spread over ``n_salts`` tasks. Cost: the right side
    is materialized ``n_salts``× — use for dim-sized or pre-aggregated
    right sides; result is row-identical to the unsalted join.

    Prefer AQE's skew-join splitting (on by default in the session
    factory) when it applies; explicit salting is the escape hatch for
    broadcast-ineligible joins AQE cannot split (e.g. under
    window/aggregate requirements that pin the partitioning).
    """
    salt = F.pmod(
        F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(n_salts)
    ).cast("int")
    l = left.withColumn("__salt_l", salt)
    r = right.withColumn(
        "__salt_r", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    out = l.join(
        r,
        (F.col(left_key) == F.col(right_key))
        & (F.col("__salt_l") == F.col("__salt_r")),
        how,
    )
    return out.drop("__salt_l", "__salt_r")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    value_cols: Sequence[str],
    how: str = "left",
) -> DataFrame:
    """Backward as-of join: each left row picks the right row with the
    same key and the greatest right_ts <= left_ts (the operator SURVEY
    §2.3 notes Spark lacks; DuckDB spells it ASOF JOIN).

    Implementation is the union-sort pattern, NOT a per-key theta join:
    tag right rows side=0 and left rows side=1, union, and take
    last(value, ignorenulls) over (key ORDER BY ts, side) — one shuffle
    on the key, O(n log n_partition) sort, no pair expansion. At 100 TB
    this is the only as-of shape that survives: a theta join explodes,
    and per-key collect does not distribute. Right rows tied with a left
    row's timestamp are visible to it (inclusive backward as-of).

    ``right`` must be unique per (key, right_ts) — pre-aggregate
    otherwise; ``how='left'`` keeps left rows with no prior right row
    (value columns null), 'inner' drops them.
    """
    lcols = left.columns
    l = left.select(
        F.col(key), F.col(left_ts).alias("__ts"), F.lit(1).alias("__side"),
        *[F.col(c) for c in lcols if c not in (key,)],
        *[
            F.lit(None).cast(right.schema[c].dataType).alias(f"__v_{c}")
            for c in value_cols
        ],
    )
    r = right.select(
        F.col(key), F.col(right_ts).alias("__ts"), F.lit(0).alias("__side"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c)
          for c in lcols if c not in (key,)],
        *[F.col(c).alias(f"__v_{c}") for c in value_cols],
    )
    w = (
        Window.partitionBy(key)
        .orderBy("__ts", "__side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = l.unionByName(r).select(
        "*",
        *[
            F.last(f"__v_{c}", ignorenulls=True).over(w).alias(f"__f_{c}")
            for c in value_cols
        ],
    )
    out = filled.filter(F.col("__side") == 1).select(
        key,
        *[c for c in lcols if c != key],
        *[F.col(f"__f_{c}").alias(c) for c in value_cols],
    )
    if how == "inner":
        cond = None
        for c in value_cols:
            n = F.col(c).isNotNull()
            cond = n if cond is None else (cond | n)
        out = out.filter(cond)
    return out


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    lo_col: str,
    hi_col: str,
    bin_width: float,
) -> DataFrame:
    """Range join point ∈ [lo, hi) as an EQUI-join via binning (the
    second custom-join operator SURVEY §2.3 flags as absent in Spark —
    a naive theta join plans BroadcastNestedLoopJoin and dies at scale).

    Each interval explodes to the fixed-width bins it covers; each
    point hashes to its bin; the join is then bin-equality plus a cheap
    residual range filter. Shuffle is keyed on the bin — size
    ``bin_width`` to the typical interval length so intervals explode
    to O(1) bins. Catalyst plans a hash join; the plan test asserts no
    nested-loop appears.
    """
    w = float(bin_width)
    iv = intervals.withColumn(
        "__bin",
        F.explode(
            F.sequence(
                F.floor(F.col(lo_col) / w).cast("long"),
                F.floor(
                    (F.col(hi_col) - F.lit(1e-9)) / w
                ).cast("long"),
            )
        ),
    )
    pt = points.withColumn(
        "__bin", F.floor(F.col(point_col) / w).cast("long")
    )
    return (
        pt.join(iv, "__bin")
        .filter(
            (F.col(point_col) >= F.col(lo_col))
            & (F.col(point_col) < F.col(hi_col))
        )
        .drop("__bin")
    )


def scalable_prefix_sum(
    df: DataFrame,
    order_col: str,
    value_col: str,
    out_col: str = "running",
    num_ranges: int = 32,
) -> DataFrame:
    """Globally-ordered running total WITHOUT a single-task window.

    The naive ``sum(x) OVER (ORDER BY t)`` has no PARTITION BY, so Spark
    funnels every row through ONE task — the classic scale cliff for
    sweep-line analytics. This is the standard two-phase prefix-sum fix:

      1. range-partition by the order column (``repartitionByRange`` —
         sampled boundaries, rows stay globally ordered across
         partitions),
      2. per-partition running totals (parallel windows keyed on
         ``spark_partition_id``),
      3. per-partition grand totals — a ``num_ranges``-row side table —
         prefix-summed on the driver-scale side and broadcast back as
         each partition's starting offset.

    The result is row-identical to the single-task window for any
    boundary placement (offsets absorb whatever the sampler chose), so
    correctness does not depend on where the splits land — but the
    bucket ids themselves must be CONSISTENT between the local-window
    branch and the offsets branch, which is why the split uses
    :func:`_order_bucketed` (deterministic projection) rather than
    ``repartitionByRange`` + ``spark_partition_id`` (boundaries
    re-sampled per exchange execution).  Requires ``order_col`` values
    to be unique (pre-aggregate ties first — a sweep line groups
    simultaneous events anyway).
    """
    parted = _order_bucketed(df, order_col, num_ranges)
    w_local = (
        Window.partitionBy("_pid")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = parted.withColumn("_run_local", F.sum(value_col).over(w_local))
    w_off = (
        Window.orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        parted.groupBy("_pid")
        .agg(F.sum(value_col).alias("_tot"))
        .withColumn("_off", F.coalesce(F.sum("_tot").over(w_off), F.lit(0)))
        .select("_pid", "_off")
    )
    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn(out_col, F.col("_run_local") + F.col("_off"))
        .drop("_pid", "_run_local", "_off")
    )


def grouped_exact_median(
    df: DataFrame,
    group_col: str,
    value_col: str,
    rank_expr=None,
    bucket_bits: int = 14,
) -> DataFrame:
    """Exact per-group median (the rank-floor((n-1)/2)+1 order
    statistic) WITHOUT sorting each group in a single window task.

    Two-phase bucket selection: (1) one combiner-friendly count per
    (group, value >> bucket_bits) coarse bucket; a cumulative sum over
    the per-group BUCKET HISTOGRAM (thousands of rows, not facts —
    r36's aggregate-window discipline) locates the bucket containing
    the target rank and the residual rank within it; (2) only rows in
    that one bucket per group — an expected n/2^bucket_bits fraction —
    are ranked exactly. Replacing r55's two whole-group window sorts
    (ONE task per group at any scale) with this cut the query 3.3 s →
    2.0 s at sf0.1 and, more importantly, removes the per-group
    single-task scaling wall: phase 1 is a map-side-combined
    aggregation, phase 2 sorts only the thin median bucket.

    Degenerate case, documented: if one bucket holds nearly the whole
    group (all values within 2^bucket_bits of each other), phase 2
    approaches the original sort — recurse on the bucket (not needed
    for cent-valued prices) or widen bucket_bits.

    ``rank_expr(n)`` maps group size to the target rank (default the
    lower median used across r50/l20/r55).

    Returns one row per group: (group_col, median of value_col).
    """
    if rank_expr is None:
        rank_expr = lambda n: F.floor((n - 1) / 2) + 1  # noqa: E731
    v = F.col(value_col)
    bucketed = df.select(
        F.col(group_col), v.alias("_v"), F.shiftright(v, bucket_bits).alias("_b")
    )
    hist = bucketed.groupBy(group_col, "_b").agg(
        F.count(F.lit(1)).alias("_c")
    )
    wb = (
        Window.partitionBy(group_col)
        .orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wg = Window.partitionBy(group_col)
    located = (
        hist.withColumn("_cum", F.sum("_c").over(wb))
        .withColumn("_n", F.sum("_c").over(wg))
        .withColumn("_target", rank_expr(F.col("_n")))
        .filter(
            (F.col("_cum") >= F.col("_target"))
            & (F.col("_cum") - F.col("_c") < F.col("_target"))
        )
        .select(
            group_col,
            "_b",
            (F.col("_target") - (F.col("_cum") - F.col("_c"))).alias("_k"),
        )
    )
    in_bucket = bucketed.join(F.broadcast(located), [group_col, "_b"])
    wv = Window.partitionBy(group_col).orderBy("_v")
    return (
        in_bucket.withColumn("_rn", F.row_number().over(wv))
        .filter(F.col("_rn") == F.col("_k"))
        .select(group_col, F.col("_v").alias("median"))
    )


def _order_bucketed(
    df: DataFrame, order_col: str, num_ranges: int
) -> DataFrame:
    """Assign a DETERMINISTIC range-bucket id ``_pid`` to every row,
    materialized once.

    ``repartitionByRange`` + ``spark_partition_id`` boundaries are
    re-SAMPLED on every physical execution of the exchange, so when a
    plan references the bucketed frame twice (local windows + offsets)
    and the optimizer does not reuse the exchange, the two branches can
    see DIFFERENT pid assignments and the broadcast offsets land on the
    wrong ranges (observed as a nondeterministic s13 oracle mismatch).
    Earlier rounds fixed that with an ``approxQuantile`` driver scan +
    a pure-projection bucket id — consistent, but it made THREE full
    upstream executions per run (quantile scan, local-window branch,
    offsets branch; s11's plan showed 4 parquet scans,
    plans/r12/s11_peak_concurrency_before.txt).

    This round's fix (guide §3.3 "materialise the intermediate", §2.4
    "share one exchange"): range-partition, stamp ``_pid``, and
    SNAPSHOT the result once (``workloads.common.snapshot_plan`` —
    eager localCheckpoint, teardown-registered). The materialization
    freezes the pid assignment, so both consumer branches read the
    same bucketing by construction — resampling can never diverge —
    and the upstream executes exactly once (inside the range
    exchange). Result rows are identical for ANY boundary placement
    (offsets absorb the split), so correctness never depended on
    where the boundaries land, only on branch agreement. Callers feed
    pre-aggregated nets/series or narrow projections, so the snapshot
    is small; the upstream it stops recomputing is not. RangePartitioner
    keys equal order values to one partition and orders partitions
    ascending, which is exactly the contract ``_pid`` must satisfy.
    """
    from pyspark_recs.workloads.common import snapshot_plan

    return snapshot_plan(
        df.repartitionByRange(num_ranges, F.col(order_col)).withColumn(
            "_pid", F.spark_partition_id()
        )
    )


def scalable_prefix_max(
    df: DataFrame,
    order_col: str,
    value_col: str,
    out_col: str = "running_max",
    num_ranges: int = 32,
) -> DataFrame:
    """Globally-ordered running MAX without a single-task window — the
    max-monoid sibling of :func:`scalable_prefix_sum` (same two-phase
    shape: deterministic range buckets, parallel local running max,
    per-bucket grand maxes prefix-maxed and broadcast back as starting
    offsets).  Powers arrival-order sweep analytics (s13's late-data
    audit: running max of event time over arrival order).

    Same uniqueness requirement on ``order_col``; correctness is
    independent of where the quantile sampler puts the splits for the
    same reason as the sum variant (offsets absorb the split).
    """
    parted = _order_bucketed(df, order_col, num_ranges)
    w_local = (
        Window.partitionBy("_pid")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = parted.withColumn("_run_local", F.max(value_col).over(w_local))
    w_off = Window.orderBy("_pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = (
        parted.groupBy("_pid")
        .agg(F.max(value_col).alias("_tot"))
        .withColumn("_off", F.max("_tot").over(w_off))
        .select("_pid", "_off")
    )
    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn(
            out_col, F.greatest(F.col("_run_local"), F.coalesce(F.col("_off"), F.col("_run_local")))
        )
        .drop("_pid", "_run_local", "_off")
    )
