"""Streaming-shaped workloads (SURVEY §2.9) over ``events``: s01-s17 in
their batch-equivalent, oracle-checkable form, and s18-s23, which run
the Structured Streaming operators in pyspark_recs.streaming (hopping
agg, dedup, KV sink, sessionizer, stream-stream join) through real
checkpoints and triggers and hash their sink's read-back against the
batch oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyspark_recs.io import load_table
from pyspark_recs.sql import top_k_per_group
from pyspark_recs.workloads.common import dsum, sql_dsum

SESSION_GAP_US = 1800 * 1_000_000  # 30 min


# --------------------------------------------------------------------- s01
def s01_tumbling_daily(spark: SparkSession, sf: str) -> DataFrame:
    """Tumbling 1-day window aggregate (streaming groupBy(window(...))
    twin; epoch-aligned windows == date_trunc for day granularity)."""
    ev = load_table(spark, sf, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 day").start.alias("day"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )
    )


S01_SQL = f"""
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       {sql_dsum('value')} AS total_value
FROM events GROUP BY 1, 2
"""


# --------------------------------------------------------------------- s02
def s02_sessionize(spark: SparkSession, sf: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): per-user session
    count + event count. The streaming twin is
    ``streaming_sessionize`` (``applyInPandasWithState``, run by s21);
    batch form = lag + cumulative-flag, one shuffle on user_id."""
    ev = load_table(spark, sf, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("ts_us")
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    flagged = ev.withColumn(
        "new_session",
        F.when(
            (F.lag("ts_us").over(w).isNull())
            | (F.col("ts_us") - F.lag("ts_us").over(w) > SESSION_GAP_US),
            1,
        ).otherwise(0),
    )
    return flagged.groupBy("user_id").agg(
        F.sum("new_session").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


S02_SQL = f"""
WITH flagged AS (
  SELECT user_id,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > {SESSION_GAP_US}
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id))
SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions,
       CAST(count(*) AS BIGINT) AS n_events
FROM flagged GROUP BY user_id
"""


# --------------------------------------------------------------------- s03
def s03_keep_first_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Keep-first dedup per (user, event_type) with deterministic order
    — streaming dropDuplicates-with-watermark twin; also M5's
    first-prediction-wins semantics (my_merlin_flow.py:512-537)."""
    ev = load_table(spark, sf, "events")
    return top_k_per_group(
        ev.select("user_id", "event_type", "event_id", "ts"),
        partition_cols=["user_id", "event_type"],
        order_cols=[F.asc("ts"), F.asc("event_id")],
        k=1,
    ).select("user_id", "event_type", "event_id", "ts")


S03_SQL = """
SELECT user_id, event_type, event_id, ts FROM (
  SELECT user_id, event_type, event_id, ts,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS rn
  FROM events)
WHERE rn = 1
"""


# --------------------------------------------------------------------- s04
def s04_user_gap_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user inter-event gap statistics via ``applyInPandas`` — the
    grouped-map Pandas UDF surface (SURVEY §2.8), completing the
    mapInPandas (multimodal) and applyInPandasWithState (sessionizer)
    trio. Outputs are integers (microsecond gaps, lower-median by rank)
    so the Arrow round-trip stays oracle-checkable.

    Scale: one shuffle on user_id; each group's pandas frame is one
    user's events — bounded by the busiest user, the usual grouped-map
    caveat (pre-aggregate or window instead if a key can exceed
    executor memory; the relational twin is the oracle SQL)."""
    import pandas as pd

    ev = load_table(spark, sf, "events").select(
        "user_id", F.unix_micros("ts").alias("ts_us")
    )

    def gap_stats(pdf: pd.DataFrame) -> pd.DataFrame:
        ts = sorted(int(t) for t in pdf["ts_us"])
        gaps = sorted(b - a for a, b in zip(ts, ts[1:]))
        n = len(gaps)
        return pd.DataFrame(
            {
                "user_id": [int(pdf["user_id"].iloc[0])],
                "n_events": [len(ts)],
                "max_gap_us": [gaps[-1] if n else None],
                "med_gap_us": [gaps[(n + 1) // 2 - 1] if n else None],
            }
        )

    return ev.groupBy("user_id").applyInPandas(
        gap_stats,
        schema="user_id long, n_events long, max_gap_us long, med_gap_us long",
    )


S04_SQL = """
WITH g AS (
  SELECT user_id,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                                ORDER BY epoch_us(ts)) AS gap
  FROM events),
gaps AS (SELECT user_id, gap FROM g WHERE gap IS NOT NULL),
agg AS (
  SELECT user_id, max(gap) AS max_gap_us, count(*) AS n_gaps
  FROM gaps GROUP BY user_id),
med AS (
  SELECT user_id, gap AS med_gap_us FROM (
    SELECT user_id, gap,
           row_number() OVER (PARTITION BY user_id ORDER BY gap) AS rn,
           count(*) OVER (PARTITION BY user_id) AS n
    FROM gaps)
  WHERE rn = floor((n + 1) / 2)),
ucount AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY user_id)
SELECT u.user_id, u.n_events, a.max_gap_us, m.med_gap_us
FROM ucount u
LEFT JOIN agg a USING (user_id)
LEFT JOIN med m USING (user_id)
"""


# --------------------------------------------------------------------- s05
def s05_session_windows(spark: SparkSession, sf: str) -> DataFrame:
    """Native session_window sessionization (the built-in alternative to
    s02's lag+cumsum and the applyInPandasWithState custom operator):
    per-user merged sessions with start/end/count/sum. Spark merges an
    event into a session iff its ts < previous ts + gap; the oracle's
    island form uses >= gap for a new session — same boundary rule."""
    ev = load_table(spark, sf, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


S05_SQL = f"""
WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
islands AS (
  SELECT user_id, ts, value,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged)
SELECT user_id, min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       CAST(count(*) AS BIGINT) AS n_events,
       {sql_dsum('value')} AS total_value
FROM islands GROUP BY user_id, sid
"""


# --------------------------------------------------------------------- s06
def s06_stream_quarantine(spark: SparkSession, sf: str) -> DataFrame:
    """Dead-letter table content of a JSON quarantine (r42 reports the
    counts, this returns the routed rows themselves). Corruption is
    planted deterministically (every 7th event loses its closing brace,
    same as r42) so the oracle sees identical inputs; the validity
    verdict is ``get_json_object(raw, '$') IS NULL``, a scan-time
    expression a foreachBatch router can evaluate per micro-batch.

    Scale: scan-time projection + filter (predicate pushes to the scan);
    no shuffle at all — the dead-letter write is embarrassingly
    parallel."""
    ev = load_table(spark, sf, "events")
    raw = F.when(
        F.col("event_id") % 7 == 0,
        F.substring(F.col("props"), 1, F.length("props") - 2),
    ).otherwise(F.col("props"))
    return (
        ev.select(
            "event_id",
            "event_type",
            F.to_date("ts").alias("day"),
            raw.alias("raw"),
        )
        .filter(F.get_json_object(F.col("raw"), "$").isNull())
    )


S06_SQL = """
WITH m AS (
  SELECT event_id, event_type, CAST(ts AS DATE) AS day,
         CASE WHEN event_id % 7 = 0
              THEN substring(props, 1, length(props) - 2)
              ELSE props END AS raw
  FROM events)
SELECT event_id, event_type, day, raw FROM m WHERE NOT json_valid(raw)
"""


# --------------------------------------------------------------------- s07
_S07_WIN_S = 86400       # 1-day windows
_S07_HOP_S = 43200       # hopping every 12 h (overlap ×2)


def s07_hopping_windows(spark: SparkSession, sf: str) -> DataFrame:
    """Hopping (sliding) 1-day window every 12 h: each event lands in
    exactly 2 overlapping windows (streaming twin:
    streaming.ops.streaming_hopping_agg). Window starts are emitted as
    epoch seconds — engine-unambiguous, no timestamptz round-trip."""
    ev = load_table(spark, sf, "events")
    return (
        ev.groupBy(
            F.unix_timestamp(
                F.window("ts", "1 day", "12 hours").start
            ).alias("win_start_s")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )
    )


S07_SQL = f"""
WITH e AS (
  SELECT CAST(floor(epoch(ts) / {_S07_HOP_S}) AS BIGINT) * {_S07_HOP_S}
           AS w0, value
  FROM events),
x AS (
  SELECT unnest([w0, w0 - {_S07_HOP_S}]) AS win_start_s, value FROM e)
SELECT win_start_s, CAST(count(*) AS BIGINT) AS n_events,
       {sql_dsum('value')} AS total_value
FROM x GROUP BY win_start_s
"""


# --------------------------------------------------------------------- s08
def s08_new_user_events(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-vs-history anti-join: events in the trailing
    7 days of the dataset from users with NO earlier activity — the
    new-entity detection / dedup-against-history shape. The "seen"
    user set is the static side; per day we count the surviving events
    and distinct new users.

    Scale: the seen-set is key-only (pruned before the join) and
    bucketable; the anti-join shuffles only keys, never payloads."""
    ev = load_table(spark, sf, "events")
    mn = ev.agg(F.min("ts").alias("mn"))
    # History = the first 18 h of the dataset (every user appears within
    # the first days, so a trailing-recency cutoff would be vacuous —
    # the bootstrap window keeps both join branches populated).
    with_cut = ev.crossJoin(F.broadcast(mn)).withColumn(
        "cutoff", F.col("mn") + F.expr("INTERVAL 18 HOURS")
    )
    recent = with_cut.filter(F.col("ts") > F.col("cutoff"))
    seen = (
        with_cut.filter(F.col("ts") <= F.col("cutoff"))
        .select("user_id")
        .distinct()
    )
    fresh = recent.join(seen, "user_id", "left_anti")
    return fresh.groupBy(
        F.unix_timestamp(F.date_trunc("day", "ts")).alias("day_s")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("user_id").alias("n_new_users"),
    )


S08_SQL = """
WITH mn AS (SELECT min(ts) AS mn FROM events),
cut AS (SELECT mn + INTERVAL 18 HOUR AS cutoff FROM mn),
seen AS (
  SELECT DISTINCT user_id FROM events, cut WHERE ts <= cutoff),
fresh AS (
  SELECT e.* FROM events e, cut
  WHERE e.ts > cut.cutoff
    AND e.user_id NOT IN (SELECT user_id FROM seen))
SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_s,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_new_users
FROM fresh GROUP BY day_s
"""


# --------------------------------------------------------------------- s09
def s09_user_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Running per-user profile: event count, fixed-point total value,
    distinct event types — the feature-store row an incremental
    operator would maintain without rescanning history.

    Scale: one map-side-combined groupBy; value cents are integer so
    the total is order-independent."""
    ev = load_table(spark, sf, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.sum(cents).cast("double") / 100.0).alias("total_value"),
        F.count_distinct("event_type").alias("n_event_types"),
    )


S09_SQL = """
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0
         AS total_value,
       CAST(count(DISTINCT event_type) AS BIGINT) AS n_event_types
FROM events GROUP BY user_id
"""


# --------------------------------------------------------------------- s10
def s10_recursive_ewma(spark: SparkSession, sf: str) -> DataFrame:
    """Full-history recursive EWMA per user (r ← ½x + ½r over the
    (ts, event_id)-ordered stream), a value a stateful stream holds in
    O(1) state per key. The batch form collects each user's ordered
    value array and left-folds it JVM-side (``aggregate`` over a sorted
    array); α = ½ keeps every step binary-exact, so Spark and DuckDB's
    ``list_reduce`` agree bit for bit. Contrast
    with r58's finite 4-tap kernel: same smoothing family, windowed vs
    recursive-infinite form.

    Scale: one shuffle on user_id; per-key memory is the user's history
    (the reason a stateful streaming form would exist). For unbounded
    histories, cap with a trailing slice.
    """
    ev = load_table(spark, sf, "events").select(
        "user_id", F.unix_micros("ts").alias("ts_us"), "event_id", "value"
    )
    arr = F.array_sort(
        F.collect_list(F.struct("ts_us", "event_id", "value"))
    )
    return (
        ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.transform(arr, lambda s: s["value"]).alias("vals"),
        )
        .select(
            "user_id",
            "n_events",
            F.expr(
                "aggregate(slice(vals, 2, size(vals) - 1), vals[0],"
                " (acc, x) -> 0.5D * x + 0.5D * acc)"
            ).alias("ewma"),
        )
    )


# NOTE (sf0.001 regression find, round 9): DuckDB 1.0's list_reduce can
# return a fold value NOT derivable from the input list (observed on an
# 88-element bigint list in s12; the struct-accumulator variant of the
# same bug was found in round 3). Both fold oracles now use RECURSIVE
# CTEs — the step-by-step replay is immune and already the l21/l66
# oracle pattern.
S10_SQL = """
WITH RECURSIVE ev AS (
  SELECT user_id, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events),
counts AS (SELECT user_id, max(rn) AS n FROM ev GROUP BY user_id),
walk AS (
  SELECT user_id, rn, value AS ewma FROM ev WHERE rn = 1
  UNION ALL
  SELECT e.user_id, e.rn, 0.5 * e.value + 0.5 * w.ewma
  FROM walk w JOIN ev e ON e.user_id = w.user_id AND e.rn = w.rn + 1)
SELECT w.user_id, CAST(c.n AS BIGINT) AS n_events, w.ewma
FROM walk w JOIN counts c USING (user_id) WHERE w.rn = c.n
"""


# --------------------------------------------------------------------- s11
def s11_peak_concurrency(spark: SparkSession, sf: str) -> DataFrame:
    """Concurrent-session step function via a sweep line over the s05
    session intervals: every session contributes +1 at its start and −1
    at its end ([start, end) semantics — simultaneous end/start cancel
    inside the per-instant net), and the running total of nets IS the
    number of concurrent sessions after each instant. The peak-load /
    capacity-planning staple.

    Scale: endpoints aggregate per instant (map-side combine), then the
    global running total uses sql.transforms.scalable_prefix_sum — the
    two-phase range-partitioned prefix sum — instead of the single-task
    `sum OVER (ORDER BY t)` cliff. Output is the full step function, so
    the oracle compares thousands of rows, not one max.
    """
    from pyspark_recs.sql import scalable_prefix_sum

    sess = s05_session_windows(spark, sf).select(
        "session_start", "session_end"
    )
    points = sess.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("session_start").alias("t"),
                    F.lit(1).alias("delta"),
                ),
                F.struct(
                    F.col("session_end").alias("t"),
                    F.lit(-1).alias("delta"),
                ),
            )
        ).alias("p")
    ).select("p.t", "p.delta")
    nets = points.groupBy("t").agg(F.sum("delta").alias("net"))
    return scalable_prefix_sum(nets, "t", "net", out_col="concurrency")


S11_SQL = """
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
islands AS (
  SELECT user_id, ts,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged),
sessions AS (
  SELECT min(ts) AS session_start,
         max(ts) + INTERVAL 30 MINUTE AS session_end
  FROM islands GROUP BY user_id, sid),
points AS (
  SELECT session_start AS t, 1 AS delta FROM sessions
  UNION ALL
  SELECT session_end AS t, -1 AS delta FROM sessions),
nets AS (
  SELECT t, CAST(sum(delta) AS BIGINT) AS net FROM points GROUP BY t)
SELECT t, net,
       CAST(sum(net) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS concurrency
FROM nets
"""


# --------------------------------------------------------------------- s12
DEBOUNCE_GAP_US = 3600 * 1_000_000  # 1 hour


def s12_debounce(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user debounce (notification rate-limit): an event is EMITTED
    only if ≥1 h has elapsed since the last EMITTED event of that user
    — a fold, not a window: whether an event survives depends on the
    previously-surviving event, so lag()/session tricks can't express
    it (the same reason a streaming form needs explicit per-key
    state). This
    batch form collects each user's ordered composite clock
    k = ts_us·4096 + event_id%4096 (strictly increasing, tie-free) and
    left-folds it JVM-side; DuckDB mirrors with ``list_reduce`` over a
    struct accumulator, so (n_kept, last_kept_k) agree bit-for-bit.

    Output per user: event count, surviving count, last surviving k.

    Scale: one shuffle on user_id; per-key memory is the user's history
    — the bound that motivates the O(1)-state streaming operator (same
    trade as s10's recursive EWMA).
    """
    ev = load_table(spark, sf, "events").select(
        "user_id",
        (
            F.unix_micros("ts") * F.lit(4096)
            + F.col("event_id") % F.lit(4096)
        ).alias("k"),
    )
    gap_k = DEBOUNCE_GAP_US * 4096
    folded = (
        ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.array_sort(F.collect_list("k")).alias("ks"),
        )
        .select(
            "user_id",
            "n_events",
            F.expr(
                "aggregate(slice(ks, 2, size(ks) - 1),"
                " named_struct('last', ks[0], 'n', CAST(1 AS BIGINT)),"
                f" (acc, x) -> IF(x - acc.last >= {gap_k}L,"
                " named_struct('last', x, 'n', acc.n + 1L), acc))"
            ).alias("st"),
        )
    )
    return folded.select(
        "user_id",
        "n_events",
        F.col("st.n").alias("n_kept"),
        F.col("st.last").alias("last_kept_k"),
    )


# NOTE: this oracle twice hit DuckDB 1.0 list_reduce miscomputes —
# round 3 with a STRUCT accumulator (n_kept=70 vs the correct 67) and
# round 9 at sf0.001 with the LIST accumulator (n_kept=71 vs 74 on an
# 88-element list, fold value not present in the input). The recursive
# CTE replays the fold row by row and is immune.
S12_SQL = f"""
WITH RECURSIVE ev AS (
  SELECT user_id,
         epoch_us(ts) * 4096 + event_id % 4096 AS k,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts) * 4096
                                     + event_id % 4096) AS rn
  FROM events),
counts AS (SELECT user_id, max(rn) AS n FROM ev GROUP BY user_id),
walk AS (
  SELECT user_id, rn, k AS last_kept, CAST(1 AS BIGINT) AS n_kept
  FROM ev WHERE rn = 1
  UNION ALL
  SELECT e.user_id, e.rn,
         CASE WHEN e.k - w.last_kept >= {DEBOUNCE_GAP_US * 4096}
              THEN e.k ELSE w.last_kept END,
         CASE WHEN e.k - w.last_kept >= {DEBOUNCE_GAP_US * 4096}
              THEN w.n_kept + 1 ELSE w.n_kept END
  FROM walk w JOIN ev e ON e.user_id = w.user_id AND e.rn = w.rn + 1)
SELECT w.user_id, CAST(c.n AS BIGINT) AS n_events,
       CAST(w.n_kept AS BIGINT) AS n_kept,
       CAST(w.last_kept AS BIGINT) AS last_kept_k
FROM walk w JOIN counts c USING (user_id) WHERE w.rn = c.n
"""


# --------------------------------------------------------------------- s13
LATE_THRESHOLD_US = 1800 * 1_000_000  # 30 min


def s13_late_arrival_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Late-data audit (the measurement behind every watermark choice):
    treating event_id as arrival order, each event's lateness is how
    far event time lags the maximum event time already seen —
    lateness = running_max(ts) − ts over arrival order. The lateness
    distribution tells you what `withWatermark` horizon loses which
    fraction of events; is_late flags a 30-min horizon.

    Scale: the running max rides ``transforms.scalable_prefix_max``
    (range partition + parallel local maxes + broadcast offsets — no
    single-task global window), exactly the s11 sweep-line discipline
    applied to the max monoid.
    """
    from pyspark_recs.sql.transforms import scalable_prefix_max

    ev = load_table(spark, sf, "events").select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us")
    )
    run = scalable_prefix_max(ev, "event_id", "ts_us", out_col="seen_max")
    return run.select(
        "event_id",
        "user_id",
        (F.col("seen_max") - F.col("ts_us")).alias("lateness_us"),
        (
            F.col("seen_max") - F.col("ts_us") > F.lit(LATE_THRESHOLD_US)
        ).alias("is_late"),
    )


S13_SQL = f"""
SELECT event_id, user_id,
       max(epoch_us(ts)) OVER (ORDER BY event_id ROWS UNBOUNDED PRECEDING)
         - epoch_us(ts) AS lateness_us,
       max(epoch_us(ts)) OVER (ORDER BY event_id ROWS UNBOUNDED PRECEDING)
         - epoch_us(ts) > {LATE_THRESHOLD_US} AS is_late
FROM events
"""


# --------------------------------------------------------------------- s14
def s14_utouch_attribution(spark: SparkSession, sf: str) -> DataFrame:
    """U-shaped (position-based) multi-touch attribution: every
    purchase's credit is split over the click/view touches since the
    user's previous purchase — 40 % to the first touch, 40 % to the
    last, the middle 20 % divided over interior touches (1-touch
    journeys take 100 %, 2-touch 50/50). Credits are exact integer
    ppm — interior shares use integer division with the remainder
    assigned to the LAST interior touch, so the per-conversion total is
    exactly 1 000 000 on any engine and the whole allocation is
    hash-comparable (no float division anywhere).

    Journey assembly is pure windows: conv_id = running count of
    purchases strictly before the row (per user, event-time order) maps
    each touch to the purchase that closes its journey; touches after
    a user's final purchase drop out in the inner join (no conversion
    to credit).

    Scale: both windows and the join are user-partitioned — state per
    user is one journey, never the full stream; no global window, no
    skewed key (users are the natural even partitioning of event
    streams). A streaming form would carry per-user state (journey
    touches since last purchase), the s02 discipline.
    """
    ev = (
        load_table(spark, sf, "events")
        .filter(F.col("event_type").isin("click", "view", "purchase"))
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.unix_micros("ts").alias("ts_us"),
        )
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    is_p = (F.col("event_type") == "purchase").cast("long")
    seq = ev.withColumn(
        "conv_id",
        F.coalesce(
            F.sum(is_p).over(
                w.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    )
    purchases = seq.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "conv_id",
        F.col("event_id").alias("conv_event_id"),
    )
    touches = seq.filter(F.col("event_type") != "purchase")
    wt = Window.partitionBy("user_id", "conv_id").orderBy(
        "ts_us", "event_id"
    )
    positioned = touches.withColumn("pos", F.row_number().over(wt)).withColumn(
        "n_touches",
        F.count(F.lit(1)).over(
            Window.partitionBy("user_id", "conv_id")
        ),
    )
    n = F.col("n_touches")
    pos = F.col("pos")
    mid_each = F.floor(F.lit(200_000) / (n - 2)).cast("long")
    mid_last = F.lit(200_000) - (n - 3) * mid_each
    credit = (
        F.when(n == 1, F.lit(1_000_000))
        .when(n == 2, F.lit(500_000))
        .when((pos == 1) | (pos == n), F.lit(400_000))
        .when(pos == n - 1, mid_last)
        .otherwise(mid_each)
    ).cast("long")
    return (
        positioned.join(purchases, ["user_id", "conv_id"])
        .select(
            "user_id",
            "conv_event_id",
            F.col("event_id").alias("touch_event_id"),
            F.col("event_type").alias("touch_type"),
            pos.cast("long").alias("pos"),
            n.cast("long").alias("n_touches"),
            credit.alias("credit_ppm"),
        )
    )


S14_SQL = """
WITH ev AS (
  SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us
  FROM events WHERE event_type IN ('click', 'view', 'purchase')),
seq AS (
  SELECT *, COALESCE(sum(CASE WHEN event_type = 'purchase' THEN 1 END)
         OVER (PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         AS conv_id
  FROM ev),
purchases AS (
  SELECT user_id, conv_id, event_id AS conv_event_id
  FROM seq WHERE event_type = 'purchase'),
positioned AS (
  SELECT user_id, conv_id, event_id, event_type,
         row_number() OVER (PARTITION BY user_id, conv_id
                            ORDER BY ts_us, event_id) AS pos,
         count(*) OVER (PARTITION BY user_id, conv_id) AS n_touches
  FROM seq WHERE event_type <> 'purchase')
SELECT t.user_id, p.conv_event_id, t.event_id AS touch_event_id,
       t.event_type AS touch_type,
       CAST(t.pos AS BIGINT) AS pos,
       CAST(t.n_touches AS BIGINT) AS n_touches,
       CAST(CASE WHEN t.n_touches = 1 THEN 1000000
                 WHEN t.n_touches = 2 THEN 500000
                 WHEN t.pos = 1 OR t.pos = t.n_touches THEN 400000
                 WHEN t.pos = t.n_touches - 1
                   THEN 200000 - (t.n_touches - 3) * (200000 // (t.n_touches - 2))
                 ELSE 200000 // (t.n_touches - 2) END AS BIGINT)
         AS credit_ppm
FROM positioned t
JOIN purchases p ON t.user_id = p.user_id AND t.conv_id = p.conv_id
"""


# --------------------------------------------------------------------- s15
def s15_histogram_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming-quantile sketch, batch form: per event type, p50/p90/
    p99 estimated from a FIXED 64-bin histogram of ``value`` (bin width
    8, a power of two so value/8 and the bin edges are binary-exact
    doubles) — a constant-state quantile technique a stream can
    maintain incrementally (t-digest/DDSketch's fixed-bucket cousin,
    mergeable by plain vector addition). Estimates are the LOWER EDGE of the bin
    where the cumulative count first reaches ceil(q·n/100) — pure
    integer logic, engine-agreed (contrast r50, which verifies Spark's
    percentile_approx sketch against rank-exact brackets; here the
    sketch itself is the deterministic object).

    Scale: the only fact-sized work is one map-side-combined groupBy to
    (type, bin) — at most types×64 rows cross the exchange regardless
    of event volume; the cumulative window runs over ≤64 rows per type.
    """
    ev = load_table(spark, sf, "events").select("event_type", "value")
    # Clamp BOTH ends: without greatest(0, ...) a negative value would
    # land in its own negative bin; the clamp keeps every value in one
    # of the 64 bins, the fixed-size vector the sketch promises.
    b = F.least(
        F.lit(63), F.greatest(F.lit(0), F.floor(F.col("value") / F.lit(8.0)))
    ).cast("int")
    hist = ev.groupBy("event_type", b.alias("bin")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    wc = Window.partitionBy("event_type").orderBy("bin")
    wt = Window.partitionBy("event_type")
    cum = hist.withColumn("cum", F.sum("cnt").over(wc)).withColumn(
        "n", F.sum("cnt").over(wt)
    )

    def est(q: int):
        # first bin whose cumulative count reaches ceil(q*n/100)
        hit = F.col("cum") >= F.expr(f"({q}L * n + 99) div 100")
        return F.min(F.when(hit, F.col("bin"))) * F.lit(8.0)

    return cum.groupBy("event_type").agg(
        F.max("n").alias("n_events"),
        est(50).alias("p50_est"),
        est(90).alias("p90_est"),
        est(99).alias("p99_est"),
    )


S15_SQL = """
WITH hist AS (
  SELECT event_type,
         CAST(least(63, greatest(0, floor(value / 8.0))) AS INTEGER) AS bin,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2),
cum AS (
  SELECT event_type, bin, cnt,
         sum(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
         sum(cnt) OVER (PARTITION BY event_type) AS n
  FROM hist)
SELECT event_type, CAST(max(n) AS BIGINT) AS n_events,
       min(CASE WHEN cum >= (50 * n + 99) // 100 THEN bin END) * 8.0
         AS p50_est,
       min(CASE WHEN cum >= (90 * n + 99) // 100 THEN bin END) * 8.0
         AS p90_est,
       min(CASE WHEN cum >= (99 * n + 99) // 100 THEN bin END) * 8.0
         AS p99_est
FROM cum GROUP BY event_type
"""


# --------------------------------------------------------------------- s16
def s16_value_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming drift monitor, batch form: per event type, the
    total-variation distance between the REFERENCE value distribution
    (first half of the time range) and the CURRENT one (second half),
    both reduced to s15's fixed 64-bin histogram — l59's TV metric
    turned onto the time axis, and the alert rule every production
    drift monitor (data-quality gates on feature streams) evaluates.
    Exact integers end-to-end: bin counts, cross-multiplied
    |c_ref·n_cur − c_cur·n_ref| numerators, one final IEEE-double
    division to ppm. r60's KS curve is the exact-order-statistic
    sibling on orders; this is the CONSTANT-STATE form a stream can
    maintain.

    Scale: one map-side-combined groupBy to (type, half, bin) — at
    most types×2×64 rows shuffle regardless of event volume.
    """
    ev = load_table(spark, sf, "events").select(
        "event_type", "value", F.unix_micros("ts").alias("ts_us")
    )
    bounds = ev.agg(
        F.min("ts_us").alias("lo"), F.max("ts_us").alias("hi")
    )
    # Same two-sided clamp as s15 (see comment there): negative values
    # land in bin 0.
    b = F.least(
        F.lit(63), F.greatest(F.lit(0), F.floor(F.col("value") / F.lit(8.0)))
    ).cast("int")
    half = (F.col("ts_us") * 2 >= F.col("lo") + F.col("hi")).cast("int")
    hist = (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy("event_type", half.alias("half"), b.alias("bin"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    pivoted = hist.groupBy("event_type", "bin").agg(
        F.sum(F.when(F.col("half") == 0, F.col("cnt")).otherwise(0)).alias(
            "c_ref"
        ),
        F.sum(F.when(F.col("half") == 1, F.col("cnt")).otherwise(0)).alias(
            "c_cur"
        ),
    )
    wt = Window.partitionBy("event_type")
    scored = pivoted.withColumn("n_ref", F.sum("c_ref").over(wt)).withColumn(
        "n_cur", F.sum("c_cur").over(wt)
    )
    agg = scored.groupBy("event_type").agg(
        F.max("n_ref").alias("n_ref"),
        F.max("n_cur").alias("n_cur"),
        F.sum(
            F.abs(
                F.col("c_ref") * F.col("n_cur") - F.col("c_cur") * F.col("n_ref")
            )
        ).alias("sum_abs"),
    )
    return agg.select(
        "event_type",
        "n_ref",
        "n_cur",
        F.floor(
            F.col("sum_abs").cast("double")
            / (
                F.lit(2.0)
                * F.col("n_ref").cast("double")
                * F.col("n_cur").cast("double")
            )
            * F.lit(1e6)
        ).alias("tv_ppm"),
    )


S16_SQL = """
WITH ev AS (
  SELECT event_type, value, epoch_us(ts) AS ts_us FROM events),
bounds AS (SELECT min(ts_us) AS lo, max(ts_us) AS hi FROM ev),
hist AS (
  SELECT event_type,
         CAST(ts_us * 2 >= lo + hi AS INTEGER) AS half,
         CAST(least(63, greatest(0, floor(value / 8.0))) AS INTEGER) AS bin,
         CAST(count(*) AS BIGINT) AS cnt
  FROM ev, bounds GROUP BY 1, 2, 3),
pivoted AS (
  SELECT event_type, bin,
         sum(CASE WHEN half = 0 THEN cnt ELSE 0 END) AS c_ref,
         sum(CASE WHEN half = 1 THEN cnt ELSE 0 END) AS c_cur
  FROM hist GROUP BY event_type, bin),
scored AS (
  SELECT event_type, bin, c_ref, c_cur,
         sum(c_ref) OVER (PARTITION BY event_type) AS n_ref,
         sum(c_cur) OVER (PARTITION BY event_type) AS n_cur
  FROM pivoted)
SELECT event_type,
       CAST(max(n_ref) AS BIGINT) AS n_ref,
       CAST(max(n_cur) AS BIGINT) AS n_cur,
       CAST(floor(CAST(sum(abs(c_ref * n_cur - c_cur * n_ref)) AS DOUBLE)
                  / (2.0 * CAST(max(n_ref) AS DOUBLE)
                         * CAST(max(n_cur) AS DOUBLE))
                  * 1000000.0) AS BIGINT) AS tv_ppm
FROM scored GROUP BY event_type
"""


# --------------------------------------------------------------------- s17
def s17_holt_forecast(spark: SparkSession, sf: str) -> DataFrame:
    """Holt's linear-trend double exponential smoothing per user (the
    matrix upgrade of s10's scalar EWMA recurrence — level AND trend
    state): over the (ts, event_id)-ordered value stream,
    ``level ← ½x + ½(level + trend)`` then
    ``trend ← ½(level' − level) + ½trend``, initialized at
    (x₁, 0); the one-step-ahead forecast ``level + trend`` is the
    number a capacity planner or anomaly gate reads. α = β = ½ keeps
    every step a sum of halvings, and both engines execute the SAME
    operation sequence in the SAME order (an ordered fold here, a
    step-by-step recursive CTE there), so the doubles agree bit for
    bit — the s10 determinism argument, now with a 2-component state.

    Scale: one shuffle on user_id; a streaming form would hold O(1)
    state per key, and the batch fold is one JVM-side ``aggregate``
    over each user's sorted history — cap with a trailing slice for
    unbounded keys. The fold is a linear
    recurrence in (level, trend), so the 100 TB alternative is the
    associative matrix-prefix scan over ``scalable_prefix_sum`` if
    per-key histories ever outgrow a task.
    """
    ev = load_table(spark, sf, "events").select(
        "user_id", F.unix_micros("ts").alias("ts_us"), "event_id", "value"
    )
    arr = F.array_sort(
        F.collect_list(F.struct("ts_us", "event_id", "value"))
    )
    folded = (
        ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.transform(arr, lambda s: s["value"]).alias("vals"),
        )
        .select(
            "user_id",
            "n_events",
            F.expr(
                "aggregate(slice(vals, 2, size(vals) - 1),"
                " named_struct('l', vals[0], 'b', CAST(0.0 AS DOUBLE)),"
                " (acc, x) -> named_struct("
                "   'l', 0.5D * x + 0.5D * (acc.l + acc.b),"
                "   'b', 0.5D * ((0.5D * x + 0.5D * (acc.l + acc.b))"
                "        - acc.l) + 0.5D * acc.b))"
            ).alias("st"),
        )
    )
    return folded.select(
        "user_id",
        "n_events",
        F.col("st.l").alias("level"),
        F.col("st.b").alias("trend"),
        (F.col("st.l") + F.col("st.b")).alias("forecast1"),
    )


# Step-by-step RECURSIVE CTE (not list_reduce — see the s10 note on the
# DuckDB fold bug); the l_new expression is duplicated verbatim inside
# b_new so both engines evaluate the identical IEEE sequence.
S17_SQL = """
WITH RECURSIVE ev AS (
  SELECT user_id, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events),
counts AS (SELECT user_id, max(rn) AS n FROM ev GROUP BY user_id),
walk AS (
  SELECT user_id, rn, value AS l, CAST(0.0 AS DOUBLE) AS b
  FROM ev WHERE rn = 1
  UNION ALL
  SELECT e.user_id, e.rn,
         0.5 * e.value + 0.5 * (w.l + w.b),
         0.5 * ((0.5 * e.value + 0.5 * (w.l + w.b)) - w.l) + 0.5 * w.b
  FROM walk w JOIN ev e ON e.user_id = w.user_id AND e.rn = w.rn + 1)
SELECT w.user_id, CAST(c.n AS BIGINT) AS n_events,
       w.l AS level, w.b AS trend, w.l + w.b AS forecast1
FROM walk w JOIN counts c USING (user_id) WHERE w.rn = c.n
"""


# Session-memoized parquet drop directories for the streaming-executed
# rows (s18–s22): the drop dir is STATIC input (at rest, exactly like
# the S3 landing zone the topology models), so staging it once per
# (session, sf, columns) and re-reading it across runs is the honest
# shape — re-writing it per execution benchmarked the staging write,
# not the stream. Keyed by applicationId so a new session re-stages.
#
# Temp-state lifecycle (ADVICE r11: nothing ever removed these):
# every directory this module mints — staged drops, per-run
# checkpoints, sink output dirs — registers in _STREAM_TMPDIRS and is
# removed at interpreter exit; staging under a NEW applicationId
# additionally evicts (and rmtree's) the dead session's staged
# entries immediately, so a long-lived driver process sweeping many
# sessions never accumulates table copies in /tmp. (Sessions in this
# repo are sequential — getOrCreate singleton — so an entry under a
# different applicationId is a dead session's.)
_STAGED_DROPS: dict = {}
_STREAM_TMPDIRS: list = []


def _stream_state_partitions(spark: SparkSession) -> int:
    """State-store partition count for the streaming-EXECUTED rows.

    Structured Streaming reads ``spark.sql.shuffle.partitions`` ONCE —
    at the first micro-batch of a fresh checkpoint — and pins it in the
    checkpoint metadata for the life of the query: it is a per-QUERY
    deployment parameter (state-store provider count), not the batch
    session's shuffle width. Sizing it to the session's batch setting
    (200 under a vanilla driver conf) makes every micro-batch pay 200
    state-store provider inits + commits for state that is O(days) /
    O(users) here — measured r12-opt at sf0.1/local[32]: s23
    6.9 s → 2.5 s, s22 8.8 s → 4.1 s, s18–s21 −0.5–0.7 s each, with
    bit-identical checksums (partition-invariance of these rows is also
    pinned by the 100× pressure table, SCALING.md).

    The count scales with the session being configured,
    min(defaultParallelism, 8), so lower-core runs keep a consistent
    shape instead of a local[32]-tuned constant.
    """
    return max(1, min(spark.sparkContext.defaultParallelism, 8))


from contextlib import contextmanager as _contextmanager  # noqa: E402


@_contextmanager
def _stream_exec_conf(spark: SparkSession):
    """Scope the streaming-executed rows' state-store parallelism to
    the stream's start/drain (the conf is pinned into the throwaway
    checkpoint at start; the batch read-backs after the ``with`` block
    run under the session's normal setting)."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(_stream_state_partitions(spark)))
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def _stream_scratch_root() -> str | None:
    """Root for the streaming rows' THROWAWAY dirs (checkpoints, drop
    stagings, sink outputs — all atexit-removed, never durable).

    r12-opt (guide §1.1 "decide whether the time is going to ... I/O",
    §6 "small files hurt twice"): recentProgress profiling showed the
    executed rows' cost was NOT compute — per micro-batch, the HDFS
    state-store commits plus offset/commit WAL writes issue dozens of
    small create+fsync+rename operations, and on this rig's disk-backed
    /tmp those fsyncs dominated (s22 ~8.8 s, s23 ~10.2 s warm;
    commitTimeMs 20–36 s summed across 8 store partitions for ~MB of
    state). On a RAM-backed scratch (tmpfs) the same runs measure
    s22 ~2.5 s / s23 ~3.4 s with identical results. Since every one of
    these dirs is explicitly throwaway (unique per call, removed at
    exit), RAM-backed scratch is the honest placement — durability
    buys nothing here. A production deployment pointing checkpoints at
    durable object storage sets $SPARK_GRAFT_STREAM_TMPDIR instead
    (the same knob also restores the old behavior for A/B runs)."""
    import os

    env = os.environ.get("SPARK_GRAFT_STREAM_TMPDIR")
    if env:
        return env
    shm = "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        return shm
    return None  # tempfile default ($TMPDIR or /tmp)


def _stream_tmpdir(prefix: str) -> str:
    """mkdtemp (on the scratch root) + register for end-of-process
    removal."""
    import tempfile

    d = tempfile.mkdtemp(prefix=prefix, dir=_stream_scratch_root())
    _STREAM_TMPDIRS.append(d)
    return d


def _cleanup_stream_tmpdirs() -> None:
    import shutil

    for d in _STREAM_TMPDIRS:
        shutil.rmtree(d, ignore_errors=True)
    _STREAM_TMPDIRS.clear()
    _STAGED_DROPS.clear()


import atexit as _atexit  # noqa: E402

_atexit.register(_cleanup_stream_tmpdirs)


def _staged_events_dir(
    spark: SparkSession,
    sf: str,
    cols: tuple,
    doubled: bool = False,
    files: int | None = None,
):
    """Path + schema of a parquet drop dir holding ``events``' ``cols``
    (optionally unioned with itself — s19's at-least-once replay;
    optionally repartitioned to exactly ``files`` files — s22's forced
    multi-micro-batch replay), written once per session and memoized."""
    import shutil

    app_id = spark.sparkContext.applicationId
    for k in [k for k in _STAGED_DROPS if k[0] != app_id]:
        stale_dir, _ = _STAGED_DROPS.pop(k)
        shutil.rmtree(stale_dir, ignore_errors=True)
        if stale_dir in _STREAM_TMPDIRS:
            _STREAM_TMPDIRS.remove(stale_dir)
    key = (app_id, sf, cols, doubled, files)
    hit = _STAGED_DROPS.get(key)
    if hit is None:
        ev = load_table(spark, sf, "events").select(*cols)
        if doubled:
            ev = ev.unionByName(ev)
        if files is not None:
            ev = ev.repartition(files)
        drop_dir = _stream_tmpdir("stream_drops_")
        ev.write.mode("overwrite").parquet(drop_dir)
        hit = (drop_dir, spark.read.parquet(drop_dir).schema)
        _STAGED_DROPS[key] = hit
    return hit


# --------------------------------------------------------------------- s18
def s18_streaming_hopping_exec(spark: SparkSession, sf: str) -> DataFrame:
    """REAL Structured Streaming under the oracle gate — the first
    registry row whose Spark side EXECUTES readStream/writeStream
    instead of the batch twin: events stage to a parquet drop
    directory (the S3-drop ingest topology, SURVEY §2.9 / T1), a
    file-source readStream runs the watermarked hopping window (T2)
    with an ``availableNow`` trigger into a complete-mode memory sink,
    and the sink table — reshaped to s07's output contract — is what
    the driver hashes. The oracle is s07's SQL verbatim: streaming
    execution must reproduce the batch aggregate bit-for-bit, which is
    why the aggregate uses the fixed-point ``dsum`` (a float sum's
    value depends on state-update order).

    Scale: ``availableNow`` is the production backfill trigger — the
    same checkpointed query tails the drop directory continuously;
    state is bounded by the watermark horizon × the window/slide
    overlap (2 here). The memory sink stands in for T4's KV sink
    (``stream_to_kv_sink``, replay-tested in tests/test_streaming.py);
    a per-call unique queryName + throwaway checkpoint (registered
    for end-of-process removal) keep driver re-runs independent.
    """
    import uuid

    from pyspark_recs.streaming import (
        read_event_stream,
        streaming_hopping_agg,
    )

    drop_dir, staged_schema = _staged_events_dir(
        spark, sf, ("ts", "value")
    )
    agg = streaming_hopping_agg(
        read_event_stream(spark, drop_dir, staged_schema), exact_sum=True
    )
    name = f"s18_sink_{uuid.uuid4().hex[:10]}"
    ckpt = _stream_tmpdir("s18_ckpt_")
    with _stream_exec_conf(spark):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(600)
        finally:
            q.stop()
    return spark.table(name).select(
        F.unix_timestamp("win_start").alias("win_start_s"),
        "n_events",
        "total_value",
    )


# --------------------------------------------------------------------- s19
def s19_streaming_dedup_exec(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming dropDuplicates-in-watermark (T3) EXECUTED under the
    oracle gate: the drop directory is staged with every event row
    TWICE (the at-least-once-delivery replay every ingest pipeline
    dedups against — exactly why T3 exists), a real readStream runs
    ``streaming_dedup`` on the full row key into an append-mode
    PARQUET file sink (executor-side writes — VERDICT r11 #1: the
    memory sink materialized the whole deduped table in driver
    memory, the ``.collect()`` anti-pattern at 100×; the file sink is
    what a production dedup lands in), and the driver row is the
    READ-BACK of that sink, which must hash-match plain
    ``SELECT … FROM events``. Full-row keys make the surviving row's
    VALUES deterministic no matter which physical duplicate wins, and
    the dedup state store guarantees each key is emitted (appended)
    exactly once even if the replay splits into multiple
    micro-batches — the read-back needs no dedup of its own.

    The watermark horizon is set beyond the dataset's time span: this
    is a backfill replay (availableNow), where event-time disorder can
    reach the full range, so a short horizon could late-drop rows if
    the file source split the replay into multiple batches. In the
    continuous form the horizon shrinks to the real delivery-delay
    bound and state stays bounded.
    """
    from pyspark_recs.streaming import read_event_stream, streaming_dedup

    drop_dir, schema = _staged_events_dir(
        spark, sf, ("event_id", "ts", "user_id", "event_type"), doubled=True
    )
    dd = streaming_dedup(
        read_event_stream(spark, drop_dir, schema),
        keys=["event_id", "user_id", "event_type"],
        ts_col="ts",
        watermark="3650 days",
    )
    out_dir = _stream_tmpdir("s19_out_")
    ckpt = _stream_tmpdir("s19_ckpt_")
    with _stream_exec_conf(spark):
        q = (
            dd.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(600)
        finally:
            q.stop()
    return spark.read.schema(schema).parquet(out_dir).select(
        "user_id", "event_type", "event_id", "ts"
    )


S19_SQL = """
SELECT user_id, event_type, event_id, ts FROM events
"""


# --------------------------------------------------------------------- s20
def s20_streaming_kv_sink_exec(spark: SparkSession, sf: str) -> DataFrame:
    """foreachBatch KV sink (T4) EXECUTED under the oracle gate — the
    reference's streaming analog of the DynamoDB batch-put
    (serverless deployment, SURVEY §2.1 S8): a real readStream runs
    the watermarked tumbling daily aggregate in UPDATE mode through
    ``stream_to_kv_sink``, whose pluggable putter lands each
    partition's rows as jsonl files (the KV-client stand-in the T4
    test established — puts happen executor-side, never through the
    driver), and the driver row is the READ-BACK of that store,
    hashed against the batch aggregate's SQL. Exact fixed-point sum
    and epoch-seconds day keys make the KV payload engine- and
    order-agnostic.

    The read-back applies real KV UPSERT semantics instead of
    assuming availableNow replays the drop dir as ONE micro-batch
    (ADVICE r11): update mode re-emits a day's row in every
    micro-batch that touches it, each put superseding the last, and a
    day's n_events strictly increases across its updates — so keeping
    the max-n_events put per day_s IS last-write-wins, and the row
    stays correct under any future multi-batch replay (option
    default or Spark behavior change). s22 exercises exactly that
    multi-batch path on purpose.
    """
    from pyspark_recs.streaming import read_event_stream, stream_to_kv_sink

    drop_dir, schema = _staged_events_dir(spark, sf, ("ts", "value"))
    stream = read_event_stream(spark, drop_dir, schema)
    agg = (
        stream.withWatermark("ts", "3650 days")
        .groupBy(F.window("ts", "1 day").start.alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )
        .select(
            F.unix_timestamp("day").cast("long").alias("day_s"),
            "n_events",
            "total_value",
        )
    )
    kv_dir = _stream_tmpdir("s20_kv_")
    ckpt = _stream_tmpdir("s20_ckpt_")

    def put_batch(items):
        import json as _json
        import os as _os
        import uuid as _uuid

        p = _os.path.join(
            kv_dir, f"{_os.getpid()}-{_uuid.uuid4().hex}.jsonl"
        )
        with open(p, "w") as f:
            for item in items:
                f.write(_json.dumps(item) + "\n")

    with _stream_exec_conf(spark):
        q = stream_to_kv_sink(agg, put_batch, ckpt)
        try:
            q.awaitTermination(600)
        finally:
            q.stop()
    puts = spark.read.schema(
        "day_s long, n_events long, total_value double"
    ).json(kv_dir)
    # KV upsert: per day the put with the most events is the last
    # write (n_events strictly increases per update), so max-n_events
    # wins — a no-op in a single-batch replay, correct in any split.
    return puts.groupBy("day_s").agg(
        F.max("n_events").alias("n_events"),
        F.max_by("total_value", "n_events").alias("total_value"),
    )


S20_SQL = f"""
SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_s,
       CAST(count(*) AS BIGINT) AS n_events,
       {sql_dsum('value')} AS total_value
FROM events GROUP BY 1
"""


# --------------------------------------------------------------------- s21
def s21_streaming_sessionize_exec(spark: SparkSession, sf: str) -> DataFrame:
    """The CUSTOM STATEFUL operator executed under the oracle gate —
    ``applyInPandasWithState`` sessionization (T-family's hardest
    shape: per-user state carried in the real state store across a
    real micro-batch execution, not a batch twin): events stage to a
    drop directory, the stateful sessionizer runs under availableNow
    through a foreachBatch parquet sink (executor-side appends —
    VERDICT r11 #1: the update-mode memory sink accumulated a row per
    user in driver memory; s20's read-back pattern is the model), and
    the per-user running totals read back from the sink must
    hash-match s02's batch lag+cumsum SQL.

    Exactness: within a micro-batch the operator sorts each user's
    rows by (ts, event_id) — the batch twin's exact order — and an
    availableNow file-source replay with no maxFilesPerTrigger is ONE
    micro-batch, so every user's full history folds in order and the
    single emitted row per user IS the batch answer. That single-batch
    assumption is MECHANICAL now (ADVICE r11): the run raises loudly
    if the replay split, instead of silently folding out-of-order
    partials. (A continuous deployment appends drops in event-time
    order — the operator's documented in-order-arrival contract;
    out-of-order tails take the session_window/native form instead.)
    The read-back additionally applies sink-upsert semantics — both
    totals are monotone across a user's update emissions, so
    max-per-user is last-write-wins regardless of batch count.

    Scale: state is one fixed-width row per user across the state
    stores; Arrow batches keep the Python boundary vectorized; the
    sink appends partition-parallel parquet, nothing driver-side.
    """
    from pyspark_recs.streaming import (
        read_event_stream,
        streaming_sessionize,
    )

    drop_dir, schema = _staged_events_dir(
        spark, sf, ("user_id", "event_id", "ts")
    )
    sessions = streaming_sessionize(
        read_event_stream(spark, drop_dir, schema),
        gap_us=SESSION_GAP_US,
    )
    out_dir = _stream_tmpdir("s21_out_")
    ckpt = _stream_tmpdir("s21_ckpt_")

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(out_dir)

    with _stream_exec_conf(spark):
        q = (
            sessions.writeStream.foreachBatch(_sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(600)
        finally:
            q.stop()
    data_batches = [
        p for p in q.recentProgress if int(p["numInputRows"]) > 0
    ]
    if len(data_batches) != 1:
        raise RuntimeError(
            "s21's in-order exactness contract needs the availableNow "
            f"replay to be ONE micro-batch; saw {len(data_batches)} "
            "data batches — the file source split the drop dir "
            "(maxFilesPerTrigger default changed?). Use the "
            "session_window/native form for out-of-order replays."
        )
    return (
        spark.read.schema("user_id long, n_sessions long, n_events long")
        .parquet(out_dir)
        .groupBy("user_id")
        .agg(
            F.max("n_sessions").alias("n_sessions"),
            F.max("n_events").alias("n_events"),
        )
    )


# --------------------------------------------------------------------- s22
def s22_streaming_multibatch_exec(spark: SparkSession, sf: str) -> DataFrame:
    """CROSS-MICRO-BATCH state-store carry proven under the oracle
    gate (VERDICT r11 missing #1: s18–s21 all run availableNow as ONE
    micro-batch, so state carried ACROSS batches — the thing a state
    store exists for — was pytest-only evidence): the drop dir is
    staged as exactly 8 parquet files, the file source is rate-limited
    with ``maxFilesPerTrigger=2``, and availableNow drains it as a
    REAL multi-batch backfill (4 data micro-batches). The watermarked
    tumbling daily aggregate (s20's exact-sum shape) then cannot
    produce the batch answer unless every micro-batch's partial counts
    are carried in — and restored from — the state store: each day's
    rows are spread across all 8 files (the staging repartition is
    row-random), so the final emission for a day folds state written
    by ~4 different batches. The run RAISES unless the sink saw ≥3
    distinct batch ids, making the multi-batch claim mechanical rather
    than assumed. (r12-opt: the rate limit was 1 file/trigger = 8
    batches; per-batch lifecycle cost is a pure constant — planning +
    checkpoint commit + state round-trip, measured ~0.4–0.9 s each at
    sf0.1 — and 4 batches prove cross-batch carry exactly as
    mechanically as 8 did, so the limit doubled. The oracle hash is
    unchanged: the aggregate is batch-split-invariant by
    construction.)

    The aggregate is batch-split-invariant by construction — count
    and fixed-point ``dsum`` are commutative integer monoids, so the
    result is identical however the replay splits — which is what
    lets the same S20 batch SQL be the oracle. The sink is s20's
    executor-side pattern (foreachBatch parquet appends tagged with
    their batch id); the read-back applies KV upsert semantics
    (max-n_events put per day wins = last-write-wins, since a day's
    count strictly increases across its update emissions).

    Scale: state is O(distinct days within the watermark horizon);
    a production backfill uses exactly this trigger + rate limit to
    bound per-batch memory while the state store carries the running
    aggregate — this row is that deployment shape, miniaturized.
    """
    from pyspark_recs.streaming import read_event_stream

    drop_dir, schema = _staged_events_dir(
        spark, sf, ("ts", "value"), files=8
    )
    stream = read_event_stream(
        spark, drop_dir, schema, maxFilesPerTrigger=2
    )
    agg = (
        stream.withWatermark("ts", "3650 days")
        .groupBy(F.window("ts", "1 day").start.alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )
        .select(
            F.unix_timestamp("day").cast("long").alias("day_s"),
            "n_events",
            "total_value",
        )
    )
    out_dir = _stream_tmpdir("s22_out_")
    ckpt = _stream_tmpdir("s22_ckpt_")

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(out_dir)

    with _stream_exec_conf(spark):
        q = (
            agg.writeStream.foreachBatch(_sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(600)
        finally:
            q.stop()
    puts = spark.read.schema(
        "day_s long, n_events long, total_value double, batch_id long"
    ).parquet(out_dir)
    n_batches = puts.select("batch_id").distinct().count()
    if n_batches < 3:
        raise RuntimeError(
            "s22 exists to prove cross-batch state carry but the "
            f"replay ran as {n_batches} batch(es) — maxFilesPerTrigger "
            "was not honored (staging file count / source option "
            "regression?)."
        )
    return puts.groupBy("day_s").agg(
        F.max("n_events").alias("n_events"),
        F.max_by("total_value", "n_events").alias("total_value"),
    )


# --------------------------------------------------------------------- s23
def s23_streaming_stream_join_exec(spark: SparkSession, sf: str) -> DataFrame:
    """STREAM-STREAM join EXECUTED under the oracle gate — the last
    §2.9 surface the executed family lacked (s18–s22 cover ingest,
    windowed agg, dedup, foreachBatch sinks, custom state, and
    multi-batch carry; this is the operator where BOTH streams hold
    state): clicks and purchases read as two file-source streams over
    the same staged drop dir, and the watermarked interval join emits
    every (click, purchase-within-1-hour) attribution pair for the
    same user — the classic streaming conversion-attribution shape.
    The sink is the executor-side parquet pattern; the read-back —
    (user_id, click_id, purchase_id, gap_us) — must hash-match the
    batch self-join SQL, which pins key matching, both boundary
    comparisons, and the pair set exactly (a set, so no order or
    batch-split sensitivity; the file sink is exactly-once per match).

    Boundary exactness: `streaming_stream_join` compares the two
    timestamp columns, and the staged parquet is micros-precision, so
    Spark's comparison is an exact integer-microsecond one — the same
    rule as the oracle's `epoch_us`, which truncates the nanos source
    identically, so a pair landing exactly on the horizon agrees
    engine-to-engine.

    Scale: both sides shuffle once on user_id into their state
    stores; state is per-user rows within the 2-hour watermark + the
    1-hour window per side. The availableNow trigger reads the whole
    staged dir as one micro-batch, so the watermark drops nothing
    here; in a live deployment it bounds state by delivery delay.
    Emitted pairs stream straight to the executor-side sink.
    """
    from pyspark_recs.streaming import (
        read_event_stream,
        streaming_stream_join,
    )

    drop_dir, schema = _staged_events_dir(
        spark, sf, ("event_id", "ts", "user_id", "event_type")
    )
    clicks = (
        read_event_stream(spark, drop_dir, schema)
        .filter(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
    )
    purchases = (
        read_event_stream(spark, drop_dir, schema)
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
    )
    pairs = streaming_stream_join(
        clicks, purchases, "user_id", "click_ts", "purchase_ts"
    ).select(
        "user_id",
        "click_id",
        "purchase_id",
        (
            F.unix_micros("purchase_ts") - F.unix_micros("click_ts")
        ).alias("gap_us"),
    )
    out_dir = _stream_tmpdir("s23_out_")
    ckpt = _stream_tmpdir("s23_ckpt_")
    with _stream_exec_conf(spark):
        q = (
            pairs.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        try:
            # Stream-stream state insertion is the slow phase at scale —
            # give the backfill real headroom; a stop() on timeout would
            # truncate the sink silently (the 100x p13 lesson).
            if not q.awaitTermination(1800):
                raise RuntimeError(
                    "s23 join backfill exceeded 1800 s — raise the "
                    "bound instead of hashing a truncated sink"
                )
        finally:
            q.stop()
    return spark.read.schema(
        "user_id long, click_id long, purchase_id long, gap_us long"
    ).parquet(out_dir)


S23_SQL = """
SELECT a.user_id,
       a.event_id AS click_id,
       b.event_id AS purchase_id,
       CAST(epoch_us(b.ts) - epoch_us(a.ts) AS BIGINT) AS gap_us
FROM events a
JOIN events b
  ON a.user_id = b.user_id
 AND a.event_type = 'click'
 AND b.event_type = 'purchase'
 AND epoch_us(b.ts) >= epoch_us(a.ts)
 AND epoch_us(b.ts) <= epoch_us(a.ts) + 3600000000
"""


QUERIES = {
    "s01_tumbling_daily": s01_tumbling_daily,
    "s02_sessionize": s02_sessionize,
    "s03_keep_first_dedup": s03_keep_first_dedup,
    "s04_user_gap_stats": s04_user_gap_stats,
    "s05_session_windows": s05_session_windows,
    "s06_stream_quarantine": s06_stream_quarantine,
    "s07_hopping_windows": s07_hopping_windows,
    "s08_new_user_events": s08_new_user_events,
    "s09_user_profile": s09_user_profile,
    "s10_recursive_ewma": s10_recursive_ewma,
    "s11_peak_concurrency": s11_peak_concurrency,
    "s12_debounce": s12_debounce,
    "s13_late_arrival_audit": s13_late_arrival_audit,
    "s14_utouch_attribution": s14_utouch_attribution,
    "s15_histogram_quantiles": s15_histogram_quantiles,
    "s16_value_drift": s16_value_drift,
    "s17_holt_forecast": s17_holt_forecast,
    "s18_streaming_hopping_exec": s18_streaming_hopping_exec,
    "s19_streaming_dedup_exec": s19_streaming_dedup_exec,
    "s20_streaming_kv_sink_exec": s20_streaming_kv_sink_exec,
    "s21_streaming_sessionize_exec": s21_streaming_sessionize_exec,
    "s22_streaming_multibatch_exec": s22_streaming_multibatch_exec,
    "s23_streaming_stream_join_exec": s23_streaming_stream_join_exec,
}

ORACLE = {
    "s01_tumbling_daily": S01_SQL,
    "s02_sessionize": S02_SQL,
    "s03_keep_first_dedup": S03_SQL,
    "s04_user_gap_stats": S04_SQL,
    "s05_session_windows": S05_SQL,
    "s06_stream_quarantine": S06_SQL,
    "s07_hopping_windows": S07_SQL,
    "s08_new_user_events": S08_SQL,
    "s09_user_profile": S09_SQL,
    "s10_recursive_ewma": S10_SQL,
    "s11_peak_concurrency": S11_SQL,
    "s12_debounce": S12_SQL,
    "s13_late_arrival_audit": S13_SQL,
    "s14_utouch_attribution": S14_SQL,
    "s15_histogram_quantiles": S15_SQL,
    "s16_value_drift": S16_SQL,
    "s17_holt_forecast": S17_SQL,
    # s18's oracle IS s07's: streaming execution must reproduce the
    # batch hopping aggregate exactly.
    "s18_streaming_hopping_exec": S07_SQL,
    "s19_streaming_dedup_exec": S19_SQL,
    "s20_streaming_kv_sink_exec": S20_SQL,
    # s21's oracle IS s02's: the stateful sessionizer must reproduce
    # the batch lag+cumsum aggregate exactly.
    "s21_streaming_sessionize_exec": S02_SQL,
    # s22's oracle IS s20's batch SQL: a multi-batch rate-limited
    # replay must land on the same daily aggregate, which it can only
    # do through real cross-batch state-store carry.
    "s22_streaming_multibatch_exec": S20_SQL,
    "s23_streaming_stream_join_exec": S23_SQL,
}
