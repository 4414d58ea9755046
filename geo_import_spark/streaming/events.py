"""Event-stream operators (batch plans that are Structured-Streaming
ready: the same groupBy(window(...)) works under readStream with a
watermark — SURVEY.md §2.6 decision).

Aggregated money/measure values use integer micro-units
(floor(value * 1e6) as long) so distributed summation is exact and
engine-portable — double sums depend on reduction order and cannot be
value-hash-compared across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_counts(
    events: DataFrame, width: str = "1 hour", exact_distinct: bool = True
) -> DataFrame:
    """Tumbling-window per-type counts + exact micro-unit sums.

    events(event_id, ts, user_id, event_type, value, props) ->
    (event_type, win_start, n, total_micros, n_users).

    Streaming form: `events.withWatermark('ts', '1 hour')` then the
    identical aggregation with exact_distinct=False — Structured
    Streaming forbids exact distinct aggregates (unbounded state per
    window), so the streaming path counts users with the HLL++ sketch
    (approx_count_distinct), the standard at-scale tradeoff. Batch
    keeps the exact count (oracle-compared).
    """
    micros = F.floor(F.col("value") * 1_000_000).cast("long")
    n_users = (
        F.countDistinct("user_id")
        if exact_distinct
        else F.approx_count_distinct("user_id")
    )
    return (
        events.groupBy("event_type", F.window("ts", width).alias("win"))
        .agg(
            F.count("*").alias("n"),
            F.sum(micros).alias("total_micros"),
            n_users.alias("n_users"),
        )
        .select(
            "event_type",
            F.col("win.start").alias("win_start"),
            "n",
            "total_micros",
            "n_users",
        )
    )


def sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Gap-based sessionization per user (window-function form).

    A new session starts when the inter-event gap exceeds the limit.
    Output: (user_id, session_id, session_start, session_end,
    n_events). Streaming form would use applyInPandasWithState; the
    batch plan is two windows over one shuffle keyed by user_id.
    """
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    is_new = F.when(gap.isNull() | (gap > gap_minutes * 60), 1).otherwise(0)
    sess = (
        events.withColumn("is_new", is_new)
        .withColumn("session_seq", F.sum("is_new").over(w))
    )
    return sess.groupBy("user_id", "session_seq").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count("*").alias("n_events"),
    ).select(
        "user_id",
        F.col("session_seq").cast("long").alias("session_id"),
        "session_start",
        "session_end",
        "n_events",
    )


SQL_WINDOWED_COUNTS = """
SELECT event_type, date_trunc('hour', ts) AS win_start,
       COUNT(*) AS n,
       CAST(SUM(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT) AS total_micros,
       COUNT(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type, date_trunc('hour', ts)
"""

SQL_SESSIONIZE = """
WITH g AS (
  SELECT user_id, ts,
         CASE WHEN epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > {gap}
                OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM events
), s AS (
  SELECT user_id, ts,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM g
)
SELECT user_id, CAST(session_seq AS BIGINT) AS session_id,
       MIN(ts) AS session_start, MAX(ts) AS session_end,
       COUNT(*) AS n_events
FROM s GROUP BY user_id, session_seq
"""


SLIDE_WIDTH = "1 hour"
SLIDE_STEP = "15 minutes"
_SLIDE_WIDTH_US = 3_600_000_000
_SLIDE_STEP_US = 900_000_000


def sliding_counts(events: DataFrame,
                   width: str = SLIDE_WIDTH,
                   slide: str = SLIDE_STEP) -> DataFrame:
    """Sliding-window per-type counts + exact micro-unit sums: every
    event contributes to width/slide overlapping windows (Spark's
    built-in sliding `window()`, epoch-aligned starts every `slide`).

    Scale shape: the window explode is map-side (each event fans out
    to 4 (win, row) pairs before the ONE map-side-combined shuffle on
    (event_type, window)); output cardinality is bounded by
    types x (horizon/slide), not by events. The identical aggregation
    runs under readStream + withWatermark (with the HLL++ user count,
    as windowed_counts documents).

    events -> (event_type, win_start, n, total_micros, n_users).
    """
    micros = F.floor(F.col("value") * 1_000_000).cast("long")
    return (
        events.groupBy("event_type", F.window("ts", width, slide).alias("win"))
        .agg(
            F.count("*").alias("n"),
            F.sum(micros).alias("total_micros"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            "event_type",
            F.col("win.start").alias("win_start"),
            "n",
            "total_micros",
            "n_users",
        )
    )


# mirror: the windows containing ts have epoch-aligned starts
# s in {s_max - width + slide, ..., s_max}, s_max = slide * (us // slide)
SQL_SLIDING_COUNTS = f"""
WITH e AS (
  SELECT event_type, user_id,
         CAST(floor(value * 1000000) AS BIGINT) AS micros,
         epoch_us(ts) AS us
  FROM events
),
w AS (
  SELECT event_type, user_id, micros,
         unnest(generate_series(
           (us // {_SLIDE_STEP_US}) * {_SLIDE_STEP_US} - {_SLIDE_WIDTH_US - _SLIDE_STEP_US},
           (us // {_SLIDE_STEP_US}) * {_SLIDE_STEP_US},
           {_SLIDE_STEP_US})) AS ws
  FROM e
)
SELECT event_type, make_timestamp(ws) AS win_start, COUNT(*) AS n,
       CAST(SUM(micros) AS BIGINT) AS total_micros,
       COUNT(DISTINCT user_id) AS n_users
FROM w GROUP BY event_type, ws
"""


def sessionize_native(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Gap sessionization via Spark's NATIVE session_window — the
    built-in-first twin of sessionize(): one map-side-mergeable
    session aggregate instead of two windows, and the same expression
    runs under readStream with a watermark (Spark merges session
    state per key in the agg, no custom stateful code).

    Boundary semantics equal sessionize(): the native window end is
    last_ts + gap and an event exactly AT the boundary still merges
    (end-inclusive — verified by test_native_sessions_boundary_
    semantics), i.e. a new session starts only when gap > limit.

    Output: (user_id, session_start, session_end, n_events) with
    session_end = max event ts (not the padded window end).
    """
    g = f"{gap_minutes} minutes"
    return (
        events.groupBy("user_id", F.session_window("ts", g).alias("w"))
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
        )
        .select("user_id", "session_start", "session_end", "n_events")
    )


SQL_SESSIONIZE_NATIVE = """
WITH g AS (
  SELECT user_id, ts,
         CASE WHEN epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > {gap}
                OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM events
), s AS (
  SELECT user_id, ts,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM g
)
SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
       COUNT(*) AS n_events
FROM s GROUP BY user_id, session_seq
"""


def m4_windowed(events: DataFrame, width: str = "4 hours") -> DataFrame:
    """Streaming twin of timeseries.m4_downsample: the M4
    first/last/min/max rollup per (event_type, tumbling window) in
    the groupBy(window(...)) form that runs identically under
    readStream — M4's four extremes are classic MERGEABLE aggregate
    state (min/max/min_by/max_by over the same composite integer
    keys), so micro-batch partial states combine into exactly the
    batch answer; the batch-vs-incremental equality is asserted in
    tests/test_streaming_m4.py.

    Streaming form: `events.withWatermark('ts', ...)` then this
    aggregation in append mode (finalized windows only) or complete
    mode for a live dashboard. Values/keys follow m4_downsample's
    exact-integer discipline (micro-units and the same m4_keyed
    composite keys, whose ranges are enforced: an out-of-range row
    raises).

    Output: (event_type, win_start, n, t_first_us, v_first_mi,
    t_last_us, v_last_mi, v_min_mi, t_min_us, v_max_mi, t_max_us).
    """
    from geo_import_spark.operators.timeseries import m4_keyed

    e = m4_keyed(events, "m4_windowed")
    return (
        e.groupBy("event_type", F.window("ts", width).alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("us").alias("t_first_us"),
            F.min_by("vmi", "k").alias("v_first_mi"),
            F.max("us").alias("t_last_us"),
            F.max_by("vmi", "k").alias("v_last_mi"),
            F.min("vmi").alias("v_min_mi"),
            F.min_by("us", "kv").alias("t_min_us"),
            F.max("vmi").alias("v_max_mi"),
            F.max_by("us", "kv").alias("t_max_us"),
        )
        .select(
            "event_type", F.col("win.start").alias("win_start"),
            "n", "t_first_us", "v_first_mi", "t_last_us", "v_last_mi",
            "v_min_mi", "t_min_us", "v_max_mi", "t_max_us",
        )
    )


def sql_m4_windowed() -> str:
    """Mirror of m4_windowed: SQL_M4_DOWNSAMPLE's aggregation with
    the bucket key emitted as the window-start epoch µs (Spark
    tumbling windows align to the epoch, so win_us = bucket * width)."""
    from geo_import_spark.operators.timeseries import M4_BUCKET_US

    return f"""
WITH e AS (
  SELECT event_type,
         epoch_us(CAST(ts AS TIMESTAMP)) // {M4_BUCKET_US}
           * {M4_BUCKET_US} AS win_us,
         epoch_us(CAST(ts AS TIMESTAMP)) AS us,
         CAST(floor(value * 1000000) AS BIGINT) AS vmi,
         CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS HUGEINT) * 1000000000000
           + event_id AS k
  FROM events
), ek AS (
  SELECT *, CAST(vmi AS HUGEINT) * 10000000000000000000000000000 + k AS kv
  FROM e
)
SELECT event_type, win_us, count(*) AS n,
       min(us) AS t_first_us, min_by(vmi, k) AS v_first_mi,
       max(us) AS t_last_us, max_by(vmi, k) AS v_last_mi,
       min(vmi) AS v_min_mi, min_by(us, kv) AS t_min_us,
       max(vmi) AS v_max_mi, max_by(us, kv) AS t_max_us
FROM ek GROUP BY event_type, win_us
"""
