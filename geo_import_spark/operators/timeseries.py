"""Time-series resampling over the event stream: dense gap-filled
hourly series and linear interpolation onto a regular grid.

Conventions (funnel.py / temporal.py): time crosses engines as
integer epoch microseconds; bucketing is exact long floor-division
(`div` / DuckDB `//`); values enter as floor-rounded integer
micro-units, and the interpolation formula is ONE deterministic
double expression per output row (IEEE +,−,×,÷ are correctly rounded,
so identical expressions give identical bits in both engines — no
accumulated sums, no libm).

Scale: gap-fill materializes |types| × |hours| rows from a 1-row
global bound — dimension-sized, not data-sized. Resampling is one
window pass per user (consecutive-pair form) and the grid explode is
bounded by span/step per user; no self-joins.

Reference parity: geo-import has no time-series layer — engine
extension per the brief, sibling to streaming/events.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

US_PER_HOUR = 3_600_000_000


def gap_fill_hourly(events: DataFrame) -> DataFrame:
    """Dense per-type hourly counts: every (event_type, hour) in the
    GLOBAL [min, max] hour range appears, missing hours as n = 0.

    Output: (event_type, hour_id, n); hour_id = epoch-hours.

    Plan: the sparse counts are one map-side-combined shuffle; the
    dense frame is sequence-exploded from a broadcast 1-row global
    bound × the distinct type list, then LEFT joins the counts —
    the dense side is dimension-sized (types × hours), never
    event-sized.
    """
    e = events.select(
        "event_type",
        F.expr(f"unix_micros(cast(ts as timestamp)) div {US_PER_HOUR}")
        .alias("hour_id"),
    )
    counts = e.groupBy("event_type", "hour_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    bounds = e.agg(F.min("hour_id").alias("h0"), F.max("hour_id").alias("h1"))
    types = e.select("event_type").distinct()
    dense = (
        types.crossJoin(F.broadcast(bounds))
        .select("event_type",
                F.explode(F.sequence("h0", "h1")).alias("hour_id"))
    )
    return dense.join(counts, ["event_type", "hour_id"], "left").select(
        "event_type", "hour_id", F.coalesce("n", F.lit(0)).alias("n")
    )


SQL_GAP_FILL_HOURLY = f"""
WITH e AS (
  SELECT event_type, epoch_us(ts) // {US_PER_HOUR} AS hour_id FROM events
),
counts AS (
  SELECT event_type, hour_id, count(*) AS n FROM e GROUP BY 1, 2
),
bounds AS (SELECT min(hour_id) AS h0, max(hour_id) AS h1 FROM e),
dense AS (
  SELECT t.event_type, UNNEST(generate_series(b.h0, b.h1)) AS hour_id
  FROM (SELECT DISTINCT event_type FROM e) t, bounds b
)
SELECT dense.event_type, dense.hour_id,
       COALESCE(counts.n, 0) AS n
FROM dense LEFT JOIN counts
  ON dense.event_type = counts.event_type
 AND dense.hour_id = counts.hour_id
"""


RESAMPLE_STEP_US = 6 * US_PER_HOUR  # 6-hour grid


def resample_linear(events: DataFrame,
                    step_us: int = RESAMPLE_STEP_US) -> DataFrame:
    """Linear interpolation of each user's value series onto the
    regular step grid: for every grid instant g in (t_i, t_{i+1}]
    between consecutive events, emit
    v = v0 + (v1 − v0)·(g − t0)/(t1 − t0).

    Values are floor-rounded micro-units before interpolation; the
    formula is evaluated once per output row with the exact same
    expression tree in the oracle, so the doubles hash-match.

    Output: (user_id, grid_us, v_interp).

    Plan: one window pass (consecutive pairs via lead over the
    user_id exchange, event_id tie-break), then a bounded sequence
    explode — grid points per pair ≤ gap/step. Zero-length pairs
    (equal timestamps) drop; the next pair spans the same interval,
    so coverage is gapless.
    """
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    e = events.select(
        "user_id", "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        F.floor(F.col("value") * 1_000_000).cast("long").alias("vmi"),
    )
    p = (
        e.select(
            "user_id",
            F.col("us").alias("t0"), F.col("vmi").alias("v0"),
            F.lead("us").over(w).alias("t1"),
            F.lead("vmi").over(w).alias("v1"),
        )
        .filter(F.col("t1").isNotNull() & (F.col("t1") > F.col("t0")))
        .select(
            "user_id", "t0", "v0", "t1", "v1",
            F.expr(f"t0 div {step_us} + 1").alias("k0"),
            F.expr(f"t1 div {step_us}").alias("k1"),
        )
        .filter(F.col("k1") >= F.col("k0"))
    )
    g = p.select(
        "user_id", "t0", "v0", "t1", "v1",
        F.explode(F.sequence("k0", "k1")).alias("k"),
    ).select(
        "user_id", "t0", "v0", "t1", "v1",
        (F.col("k") * step_us).alias("grid_us"),
    )
    d = lambda c: F.col(c).cast("double")
    v = d("v0") + (d("v1") - d("v0")) * (F.col("grid_us") - F.col("t0")
                                         ).cast("double") / (
        F.col("t1") - F.col("t0")).cast("double")
    return g.select("user_id", "grid_us", v.alias("v_interp"))


def sql_resample_linear(step_us: int = RESAMPLE_STEP_US) -> str:
    return f"""
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
         CAST(floor(value * 1000000) AS BIGINT) AS vmi
  FROM events
),
p AS (
  SELECT user_id, us AS t0, vmi AS v0,
         lead(us) OVER w AS t1, lead(vmi) OVER w AS v1
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
),
q AS (
  SELECT user_id, t0, v0, t1, v1,
         t0 // {step_us} + 1 AS k0, t1 // {step_us} AS k1
  FROM p WHERE t1 IS NOT NULL AND t1 > t0
),
g AS (
  SELECT user_id, t0, v0, t1, v1,
         UNNEST(generate_series(k0, k1)) * {step_us} AS grid_us
  FROM q WHERE k1 >= k0
)
SELECT user_id, grid_us,
       CAST(v0 AS DOUBLE)
         + (CAST(v1 AS DOUBLE) - CAST(v0 AS DOUBLE))
           * CAST(grid_us - t0 AS DOUBLE)
           / CAST(t1 - t0 AS DOUBLE) AS v_interp
FROM g
"""


# ---------------------------------------------------------------------------
# Time-weighted average (TSDB-style time_weight) and OHLC bars
# ---------------------------------------------------------------------------

def time_weighted_avg(events: DataFrame) -> DataFrame:
    """Per-user time-weighted average of the value series: each value
    holds (LOCF) until the next event, so
    twa = sum(v_i * (t_{i+1} - t_i)) / (t_n - t_0) — the TSDB
    `time_weight('locf')` reduction.

    Exactness: v is floor-rounded micro-units (int64) and dt is exact
    epoch-microsecond differences; v*dt reaches ~5e20, so the weighted
    sum accumulates as DECIMAL(38,0) (HUGEINT in the mirror) — exact
    and order-free — and the single closing division is the only
    float op. Single-event users emit NULL twa (zero span).

    Plan: one lead window + one groupBy, both keyed on user_id (shared
    hash partitioning — the trajectory.staypoints shape).

    Output: (user_id, n_events, span_us, twa_micro).
    """
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    e = events.select(
        "user_id", "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        F.floor(F.col("value") * 1_000_000).cast("long").alias("vmi"),
    )
    seg = e.select(
        "user_id", "us", "vmi",
        (F.lead("us").over(w) - F.col("us")).alias("dt"),
    )
    dd = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    agg = seg.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        (F.max("us") - F.min("us")).alias("span_us"),
        F.sum(dd("vmi") * dd("dt")).alias("wsum"),
    )
    return agg.select(
        "user_id", "n_events", "span_us",
        F.when(
            F.col("span_us") > 0,
            F.col("wsum").cast("double")
            / F.col("span_us").cast("double"),
        ).alias("twa_micro"),
    )


SQL_TIME_WEIGHTED_AVG = """
WITH e AS (
  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
         CAST(floor(value * 1000000) AS BIGINT) AS vmi
  FROM events
), seg AS (
  SELECT user_id, us, vmi,
         lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) - us
           AS dt
  FROM e
), agg AS (
  SELECT user_id, count(*) AS n_events,
         max(us) - min(us) AS span_us,
         SUM(CAST(vmi AS HUGEINT) * dt) AS wsum
  FROM seg GROUP BY user_id
)
SELECT user_id, n_events, span_us,
       CASE WHEN span_us > 0
            THEN CAST(wsum AS DOUBLE) / CAST(span_us AS DOUBLE)
       END AS twa_micro
FROM agg
"""


def ohlc_bars(events: DataFrame) -> DataFrame:
    """Hourly OHLC bars per event type: open/close are the first/last
    values in (us, event_id) order; high/low the extremes — the
    classic financial candlestick rollup.

    ONE map-side-combined aggregate: open/close use min_by/max_by on
    a widened composite key us*10^12 + event_id (DECIMAL(38,0) here,
    HUGEINT in the mirror — DuckDB's min_by takes no struct keys, so
    both engines order by the same exact integer; event_id in
    [0, 10^12) is ENFORCED at runtime — out-of-range ids raise instead
    of silently corrupting the key). Values are floor-rounded
    micro-units.

    Output: (event_type, hour_id, open_mi, high_mi, low_mi, close_mi, n).
    """
    # ADVICE r4: the composite key is only injective while
    # event_id < 10^12; an oversized id would bleed into the timestamp
    # component and silently corrupt open/close selection. The guard
    # lives INSIDE the key expression so column pruning can't drop it.
    key = F.when(
        (F.col("event_id") >= 0) & (F.col("event_id") < F.lit(10**12)),
        F.col("us").cast("decimal(38,0)") * F.lit(1_000_000_000_000)
        + F.col("event_id"),
    ).otherwise(
        F.raise_error(
            F.format_string(
                "ohlc_bars: event_id %s outside [0, 10^12) breaks the "
                "composite (us, event_id) ordering key",
                F.col("event_id"),
            )
        ).cast("decimal(38,0)")
    )
    e = events.select(
        "event_type", "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        F.floor(F.col("value") * 1_000_000).cast("long").alias("vmi"),
    ).select(
        "event_type", "vmi",
        F.expr(f"us div {US_PER_HOUR}").alias("hour_id"),
        key.alias("k"),
    )
    return e.groupBy("event_type", "hour_id").agg(
        F.min_by("vmi", "k").alias("open_mi"),
        F.max("vmi").alias("high_mi"),
        F.min("vmi").alias("low_mi"),
        F.max_by("vmi", "k").alias("close_mi"),
        F.count("*").alias("n"),
    )


SQL_OHLC_BARS = f"""
WITH e AS (
  SELECT event_type,
         epoch_us(CAST(ts AS TIMESTAMP)) // {US_PER_HOUR} AS hour_id,
         CAST(floor(value * 1000000) AS BIGINT) AS vmi,
         CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS HUGEINT) * 1000000000000
           + event_id AS k
  FROM events
)
SELECT event_type, hour_id,
       min_by(vmi, k) AS open_mi, max(vmi) AS high_mi,
       min(vmi) AS low_mi, max_by(vmi, k) AS close_mi,
       count(*) AS n
FROM e GROUP BY event_type, hour_id
"""


# ---------------------------------------------------------------------------
# CUSUM changepoint detection (exact integer, offline)
# ---------------------------------------------------------------------------

CUSUM_MAX_N = 50_000  # per-series guard: keeps n*cum < 2^63 (see doc)


def cusum_changepoint(events: DataFrame) -> DataFrame:
    """Single most-likely mean-shift changepoint per user's value
    series — the offline CUSUM statistic (Page 1954 / the standard
    binary-segmentation first split): the index i maximizing
    |sum_{j<=i} (v_j - mean)|.

    Exactness: the classic statistic is scaled by n (the series
    length) so it stays integral — D_i = n*cum_i - i*tot is BIGINT
    (values enter as floor-rounded micro-units, the module
    convention), so argmax and the reported deviation are exact and
    hash-stable. Ties break to the SMALLEST index, deterministically.

    Output: (user_id, n, cp_i, cp_ts_us, max_dev) — cp_i is the
    1-based index of the last point of the left segment, cp_ts_us its
    timestamp, max_dev = max_i |D_i| (micro-units x n scale).

    Plan: ONE window pass per user partition computes i, cum, n, tot
    (four frames, one Exchange); the per-user max is a map-side
    combined aggregate; the argmax join-back keys on the same user
    partitioning (AQE-sized). The scored frame is lineage-pinned so
    its three consumers share one window run.

    Guard: series longer than CUSUM_MAX_N are dropped (mirrored in
    SQL) — n*cum is bounded by n^2 * max_v, which clears int64 up to
    n = 50k at the corpus' value scale; the theil_sen-style guard
    keeps one power-law user from overflowing rather than erroring
    the task at 100x.
    """
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    wa = Window.partitionBy("user_id")
    e = events.select(
        "user_id",
        F.expr("unix_micros(cast(ts as timestamp))").alias("ts_us"),
        "event_id",
        F.expr("CAST(floor(value * 1000000) AS BIGINT)").alias("v"),
    )
    d = (
        e.select(
            "user_id",
            "ts_us",
            F.row_number().over(w).alias("i"),
            F.sum("v").over(w).alias("cum"),
            F.count(F.lit(1)).over(wa).alias("n"),
            F.sum("v").over(wa).alias("tot"),
        )
        .filter(F.col("n") <= CUSUM_MAX_N)
        .withColumn("dev", F.col("n") * F.col("cum") - F.col("i") * F.col("tot"))
        .withColumn("abs_d", F.abs("dev"))
        .localCheckpoint(eager=False)
    )
    m = d.groupBy("user_id").agg(F.max("abs_d").alias("max_dev"))
    am = (
        d.join(m, "user_id")
        .filter(F.col("abs_d") == F.col("max_dev"))
        .groupBy("user_id")
        .agg(F.min("i").alias("cp_i"), F.max("max_dev").alias("max_dev"))
    )
    return (
        am.alias("am")
        .join(
            d.alias("dd"),
            (F.col("am.user_id") == F.col("dd.user_id"))
            & (F.col("am.cp_i") == F.col("dd.i")),
        )
        .select(
            F.col("am.user_id").alias("user_id"),
            F.col("dd.n").alias("n"),
            F.col("am.cp_i").alias("cp_i"),
            F.col("dd.ts_us").alias("cp_ts_us"),
            F.col("am.max_dev").alias("max_dev"),
        )
    )


SQL_CUSUM_CHANGEPOINT = f"""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS ts_us, event_id,
         CAST(FLOOR(value * 1000000) AS BIGINT) AS v
  FROM events
),
d AS (
  SELECT user_id, ts_us,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts_us, event_id) AS i,
         SUM(v) OVER (PARTITION BY user_id
                      ORDER BY ts_us, event_id) AS cum,
         COUNT(*) OVER (PARTITION BY user_id) AS n,
         SUM(v) OVER (PARTITION BY user_id) AS tot
  FROM e
),
dd AS (
  SELECT user_id, ts_us, i, n,
         n * cum - i * tot AS dev,
         ABS(n * cum - i * tot) AS abs_d
  FROM d WHERE n <= {CUSUM_MAX_N}
),
m AS (SELECT user_id, MAX(abs_d) AS max_dev FROM dd GROUP BY user_id),
am AS (
  SELECT dd.user_id AS user_id, MIN(dd.i) AS cp_i, MIN(m.max_dev) AS max_dev
  FROM dd JOIN m ON m.user_id = dd.user_id AND dd.abs_d = m.max_dev
  GROUP BY dd.user_id
)
SELECT am.user_id AS user_id, dd.n AS n, am.cp_i AS cp_i,
       dd.ts_us AS cp_ts_us, am.max_dev AS max_dev
FROM am JOIN dd ON dd.user_id = am.user_id AND dd.i = am.cp_i
"""

# ---------------------------------------------------------------------------
# M4 downsampling (min/max/first/last per pixel bucket)
# ---------------------------------------------------------------------------

M4_BUCKET_US = 4 * US_PER_HOUR  # one "pixel column" = 4 hours


def m4_keyed(events: DataFrame, op: str) -> DataFrame:
    """events -> (event_type, ts, event_id, us, vmi, k, kv): the event
    time in µs, the value in integer micro-units, and M4's exact
    composite keys. k = us*10^12 + event_id orders first/last;
    kv = vmi*10^28 + k orders min/max so value ties break to the
    earliest (us, event_id). Both are DECIMAL(38,0) and injective
    while event_id is in [0, 10^12), us in [0, 10^16) and vmi in
    [0, 10^10); a row outside those ranges raises (naming `op`)
    instead of silently colliding with another key."""
    e = events.select(
        "event_type", "ts", "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        F.floor(F.col("value") * 1_000_000).cast("long").alias("vmi"),
    )
    k = F.when(
        (F.col("event_id") >= 0) & (F.col("event_id") < F.lit(10**12))
        & (F.col("us") >= 0) & (F.col("us") < F.lit(10**16))
        & (F.col("vmi") >= 0) & (F.col("vmi") < F.lit(10**10)),
        F.col("us").cast("decimal(38,0)") * F.lit(1_000_000_000_000)
        + F.col("event_id"),
    ).otherwise(
        F.raise_error(
            F.format_string(
                f"{op}: (event_id=%s, us=%s, vmi=%s) outside "
                "the injective-composite-key ranges [0,10^12) / "
                "[0,10^16) / [0,10^10)",
                F.col("event_id"), F.col("us"), F.col("vmi"),
            )
        ).cast("decimal(38,0)")
    )
    return e.withColumn("k", k).withColumn(
        "kv",
        F.col("vmi").cast("decimal(38,0)")
        * F.expr("CAST('10000000000000000000000000000' AS DECIMAL(38,0))")
        + F.col("k"),
    )


def m4_downsample(events: DataFrame) -> DataFrame:
    """M4 time-series downsampling per event type: for every pixel
    bucket keep the FIRST, LAST, MIN and MAX value with their
    timestamps — the error-free line-visualization rollup of
    Jugel et al., "M4: A Visualization-Oriented Time Series Data
    Aggregation" (PVLDB 7(10), 2014). Downsampling any series to
    these four points per pixel column reproduces the exact
    rasterized line chart.

    Exactness: every output is an integer selected by min_by/max_by
    on exact composite keys (m4_keyed: k = us*10^12 + event_id,
    the ohlc_bars key, for first/last; kv = vmi*10^28 + k for
    min/max), identically in both engines. The key ranges are
    ENFORCED: out-of-range rows raise instead of silently corrupting
    the key. All keys are DECIMAL(38,0) here / HUGEINT in the mirror;
    no doubles anywhere, so hash parity is structural.

    Plan: ONE map-side-combined aggregate on the (event_type,
    bucket) key — the whole operator is a single shuffle whose
    output is |types| x |buckets| rows regardless of input size,
    which is exactly why M4 is the standard 100-TB dashboard path.

    Output: (event_type, bucket_id, n, t_first_us, v_first_mi,
    t_last_us, v_last_mi, v_min_mi, t_min_us, v_max_mi, t_max_us).
    """
    e = m4_keyed(events, "m4_downsample").withColumn(
        "bucket_id", F.expr(f"us div {M4_BUCKET_US}")
    )
    return e.groupBy("event_type", "bucket_id").agg(
        F.count("*").alias("n"),
        F.min("us").alias("t_first_us"),
        F.min_by("vmi", "k").alias("v_first_mi"),
        F.max("us").alias("t_last_us"),
        F.max_by("vmi", "k").alias("v_last_mi"),
        F.min("vmi").alias("v_min_mi"),
        F.min_by("us", "kv").alias("t_min_us"),
        F.max("vmi").alias("v_max_mi"),
        F.max_by("us", "kv").alias("t_max_us"),
    )


SQL_M4_DOWNSAMPLE = f"""
WITH e AS (
  SELECT event_type,
         epoch_us(CAST(ts AS TIMESTAMP)) // {M4_BUCKET_US} AS bucket_id,
         epoch_us(CAST(ts AS TIMESTAMP)) AS us,
         CAST(floor(value * 1000000) AS BIGINT) AS vmi,
         CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS HUGEINT) * 1000000000000
           + event_id AS k
  FROM events
), ek AS (
  SELECT *, CAST(vmi AS HUGEINT) * 10000000000000000000000000000 + k AS kv
  FROM e
)
SELECT event_type, bucket_id, count(*) AS n,
       min(us) AS t_first_us, min_by(vmi, k) AS v_first_mi,
       max(us) AS t_last_us, max_by(vmi, k) AS v_last_mi,
       min(vmi) AS v_min_mi, min_by(us, kv) AS t_min_us,
       max(vmi) AS v_max_mi, max_by(us, kv) AS t_max_us
FROM ek GROUP BY event_type, bucket_id
"""


# ---------------------------------------------------------------------------
# Fixed-point EWMA (one-pole IIR filter, integer halving)
# ---------------------------------------------------------------------------

EWMA_MAX_N = 10_000  # per-series guard (see docstring)


def ewma_scan(events: DataFrame) -> DataFrame:
    """Per-event EWMA of each user's value series with alpha = 1/2 in
    FIXED-POINT arithmetic — the classic DSP one-pole IIR smoother:
    y_0 = v_0, y_i = (v_i + y_{i-1}) div 2, every y an exact BIGINT
    of micro-units. Integer halving makes the recurrence decidable
    identically in both engines (values are ENFORCED non-negative, so
    truncating and flooring division coincide); no float accumulation
    anywhere.

    Plan: sequential recurrences have no closed windowed form, so the
    scan runs JVM-side over a per-user sorted array: ONE groupBy
    collects struct(us, event_id, vmi), array_sort orders it, and a
    single `aggregate` higher-order function folds the halving scan —
    no Python, no second shuffle; posexplode restores one row per
    event. Per-user series are capped at EWMA_MAX_N (longer series
    are dropped, mirrored in SQL — the cusum_changepoint guard
    pattern): the array build is O(n^2) element copies per group, so
    the cap both bounds executor memory and keeps one power-law user
    from quadratic blowup at 100x. The DuckDB mirror runs the same
    recurrence as a recursive CTE.

    Output: (user_id, i, us, event_id, vmi, ewma_mi), i 1-based.
    """
    vmi_guard = F.when(
        F.col("vmi_raw") >= 0, F.col("vmi_raw")
    ).otherwise(
        F.raise_error(
            F.format_string(
                "ewma_scan: negative value %s breaks the "
                "floor==truncate halving identity", F.col("vmi_raw"))
        ).cast("long")
    )
    e = events.select(
        "user_id", "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        F.floor(F.col("value") * 1_000_000).cast("long").alias("vmi_raw"),
    ).select("user_id", "event_id", "us", vmi_guard.alias("vmi"))
    # guard BEFORE the array build (the count window shares the
    # groupBy's user_id partitioning — no extra exchange): an
    # oversized series never reaches collect_list, so EWMA_MAX_N
    # bounds executor memory, not just the output
    wa = Window.partitionBy("user_id")
    seq = (
        e.withColumn("n", F.count(F.lit(1)).over(wa))
        .filter(F.col("n") <= EWMA_MAX_N)
        .groupBy("user_id")
        .agg(F.array_sort(
            F.collect_list(F.struct("us", "event_id", "vmi"))).alias("seq"))
    )
    ys = F.aggregate(
        F.col("seq"),
        F.array().cast("array<bigint>"),
        lambda acc, x: F.concat(
            acc,
            F.array(
                F.when(F.size(acc) == 0, x["vmi"]).otherwise(
                    F.shiftright(x["vmi"] + F.element_at(acc, -1), 1)
                )
            ),
        ),
    )
    z = seq.select(
        "user_id",
        F.posexplode(F.arrays_zip(F.col("seq"), ys.alias("y")))
        .alias("pos", "pair"),
    )
    return z.select(
        "user_id",
        (F.col("pos") + 1).alias("i"),
        F.col("pair.seq.us").alias("us"),
        F.col("pair.seq.event_id").alias("event_id"),
        F.col("pair.seq.vmi").alias("vmi"),
        F.col("pair.y").alias("ewma_mi"),
    )


SQL_EWMA_SCAN = f"""
WITH RECURSIVE e AS (
  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
         CAST(floor(value * 1000000) AS BIGINT) AS vmi
  FROM events
), r0 AS (
  SELECT user_id, us, event_id, vmi,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY us, event_id) AS i,
         COUNT(*) OVER (PARTITION BY user_id) AS n
  FROM e
), cap AS (SELECT * FROM r0 WHERE n <= {EWMA_MAX_N}),
rec AS (
  SELECT user_id, i, us, event_id, vmi, vmi AS ewma_mi
  FROM cap WHERE i = 1
  UNION ALL
  SELECT c.user_id, c.i, c.us, c.event_id, c.vmi,
         (c.vmi + rec.ewma_mi) // 2
  FROM cap c JOIN rec
    ON c.user_id = rec.user_id AND c.i = rec.i + 1
)
SELECT user_id, i, us, event_id, vmi, ewma_mi FROM rec
"""
