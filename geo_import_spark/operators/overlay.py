"""Polygon-overlay spatial join: intersection areas between two
polygon layers (the vector-overlay operation the north rule's
"polygon-overlay layer merge" family implies, taken spatially).

Plan shape (the scale story, mirroring the PIP join's):

1. Candidate generation NEVER compares all pairs: each polygon's bbox
   is covered with fixed-level quadtree cells (cells.cover_col, a
   pure JVM expression, exploded), and the two layers
   equi-join on cell_id — one shuffle keyed by cell, pruned by a
   fused strict bbox-overlap filter, then pair-dedup.
2. Exact refinement clips the subject ring(s) against the clip
   rectangle with Sutherland–Hodgman inside an Arrow-batched pandas
   UDF — O(candidate pairs), never O(|A| x |B|).

Exactness contract (what the DuckDB oracle hash-verifies): for
axis-aligned inputs whose coordinates sit on the corpus's half-micro
lattice (k/2e6 + EDGE_EPS — see corpus.py), every clipped vertex is a
copy of an input coordinate, so translating the clipped ring to its
own min corner and snapping to the lattice yields exact int64
coordinates; the integer shoelace sum is then EXACT, and equals the
oracle's clamped-interval decomposition (rect ∩ L = rect ∩ lower-slab
+ rect ∩ upper-block) integer-for-integer. General (non-rectilinear)
subjects get standard double-precision clipping through the same code
path (covered by kernel tests, not the hash oracle).

Reference parity: geo-import merges layers by schema, never
spatially (es6-lib/decoders/merger.js:50-64); spatial overlay is new
engine capability for the tiling/training use case.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geo_import_spark.functions import cells as cellmod

COORD_SCALE = 2_000_000.0  # half-micro lattice: int = x * 2e6 (EDGE_EPS*2e6 = 0.9 -> see corpus)
CROSS_TO_DEG2 = 2.0 * COORD_SCALE * COORD_SCALE  # cross_sum -> area in deg^2
OVERLAY_LEVEL = 3  # 45-degree cells: hot 200x140-deg polygon covers ~20


def _clip_ring(ring, minx, miny, maxx, maxy):
    """Sutherland–Hodgman clip of one ring against an axis-aligned
    rectangle. Interpolated coordinates are exact copies for
    axis-aligned subject edges (the off-axis coordinate of a crossing
    edge is constant, so p + 0*t survives bit-for-bit)."""
    def clip_edge(poly, inside, isect):
        out = []
        m = len(poly)
        for j in range(m):
            p, q = poly[j], poly[(j + 1) % m]
            pin, qin = inside(p), inside(q)
            if pin:
                out.append(p)
            if pin != qin:
                out.append(isect(p, q))
        return out

    def vline(c):
        def isect(p, q):
            t = (c - p[0]) / (q[0] - p[0])
            return (c, p[1] + t * (q[1] - p[1]))
        return isect

    def hline(c):
        def isect(p, q):
            t = (c - p[1]) / (q[1] - p[1])
            return (p[0] + t * (q[0] - p[0]), c)
        return isect

    poly = ring
    for inside, isect in (
        (lambda p: p[0] >= minx, vline(minx)),
        (lambda p: p[0] <= maxx, vline(maxx)),
        (lambda p: p[1] >= miny, hline(miny)),
        (lambda p: p[1] <= maxy, hline(maxy)),
    ):
        poly = clip_edge(poly, inside, isect)
        if len(poly) < 3:
            return []
    return poly


def _signed_cross(poly) -> int:
    """2x signed area of a clipped ring in half-micro^2 units: snap
    translated coordinates to the lattice (exact — see module doc),
    then integer shoelace. Products stay < 2^60."""
    xs = np.array([p[0] for p in poly], dtype=np.float64)
    ys = np.array([p[1] for p in poly], dtype=np.float64)
    xi = np.rint((xs - xs.min()) * COORD_SCALE).astype(np.int64)
    yi = np.rint((ys - ys.min()) * COORD_SCALE).astype(np.int64)
    return int(np.sum(xi * np.roll(yi, -1) - np.roll(xi, -1) * yi))


def _clip_cross_fn(
    minx: pd.Series, miny: pd.Series, maxx: pd.Series, maxy: pd.Series,
    ring_offsets: pd.Series, xs: pd.Series, ys: pd.Series,
) -> pd.Series:
    """|2A| of subject ∩ clip-rect per candidate pair. Rings are
    clipped independently; signed contributions sum, so consistently
    wound holes subtract (even-odd parity with the PIP kernel)."""
    out = np.zeros(len(minx), dtype=np.int64)
    for i in range(len(minx)):
        ro = ring_offsets.iloc[i]
        x, y = xs.iloc[i], ys.iloc[i]
        total = 0
        for r in range(len(ro) - 1):
            ring = [(float(x[j]), float(y[j])) for j in range(ro[r], ro[r + 1])]
            if len(ring) > 1 and ring[0] == ring[-1]:
                ring = ring[:-1]
            clipped = _clip_ring(ring, minx.iloc[i], miny.iloc[i], maxx.iloc[i], maxy.iloc[i])
            if len(clipped) >= 3:
                total += _signed_cross(clipped)
        out[i] = abs(total)
    return pd.Series(out)


def _clip_cross_udf(*cols):
    # pandas_udf resolves its return type against the ACTIVE session —
    # construct it lazily so importing this module needs no Spark.
    # asNondeterministic is a plan barrier, not a semantics statement:
    # the fn is pure, but CollapseProject re-inlines deterministic
    # Python UDFs referenced by both a filter and a projection,
    # doubling the clip work (two stacked ArrowEvalPython nodes in the
    # observed plan). Marking it nondeterministic pins ONE evaluation.
    return F.pandas_udf(_clip_cross_fn, "long").asNondeterministic()(*cols)


def overlay_join(clips: DataFrame, subjects: DataFrame,
                 level: int = OVERLAY_LEVEL) -> DataFrame:
    """Intersection-area join between a rectangle (clip) layer and a
    general polygon (subject) layer.

    clips: (poly_id, minx, miny, maxx, maxy) — axis-aligned clip
    windows (Sutherland–Hodgman needs a convex clip region; the
    engine's rectangle layers qualify exactly).
    subjects: (poly_id, geom struct<..., ring_offsets, xs, ys>) — any
    simple polygon, holes included via extra rings.

    Output: (clip_id, subject_id, cross2, area_deg2) for pairs with
    positive intersection area, where cross2 = 2·area·(2e6)^2 as an
    exact BIGINT on lattice inputs and area_deg2 = cross2 / 8e12.
    """
    a = clips.select(
        F.col("poly_id").alias("clip_id"),
        F.col("minx").alias("a_minx"), F.col("miny").alias("a_miny"),
        F.col("maxx").alias("a_maxx"), F.col("maxy").alias("a_maxy"),
    )
    b = subjects.select(
        F.col("poly_id").alias("subject_id"),
        F.col("geom.ring_offsets").alias("ring_offsets"),
        F.col("geom.xs").alias("xs"),
        F.col("geom.ys").alias("ys"),
        F.array_min("geom.xs").alias("b_minx"),
        F.array_min("geom.ys").alias("b_miny"),
        F.array_max("geom.xs").alias("b_maxx"),
        F.array_max("geom.ys").alias("b_maxy"),
    )
    # both layers share the fixed level (the equi-join needs it), so
    # no adaptive coarsening here; `level` bounds the fan-out
    ac = a.withColumn("cell_id", F.explode(
        cellmod.cover_col("a_minx", "a_miny", "a_maxx", "a_maxy", level)))
    bc = b.withColumn("cell_id", F.explode(
        cellmod.cover_col("b_minx", "b_miny", "b_maxx", "b_maxy", level)))
    cand = (
        ac.join(bc, "cell_id")
        .filter(
            (F.col("a_minx") < F.col("b_maxx")) & (F.col("a_maxx") > F.col("b_minx"))
            & (F.col("a_miny") < F.col("b_maxy")) & (F.col("a_maxy") > F.col("b_miny"))
        )
        .dropDuplicates(["clip_id", "subject_id"])
    )
    cross2 = _clip_cross_udf(
        F.col("a_minx"), F.col("a_miny"), F.col("a_maxx"), F.col("a_maxy"),
        F.col("ring_offsets"), F.col("xs"), F.col("ys"),
    )
    return (
        cand.withColumn("cross2", cross2)
        .filter(F.col("cross2") > 0)
        .withColumn("area_deg2", F.col("cross2").cast("double") / F.lit(CROSS_TO_DEG2))
        .select("clip_id", "subject_id", "cross2", "area_deg2")
    )


# --- dissolve: exact union area per layer ---------------------------------------

_NEG_INF = -(1 << 62)


def dissolve_area(polygons: DataFrame) -> DataFrame:
    """Exact union ("dissolve") area per layer over the axis-aligned
    layer rectangles: coordinate-compressed x-slab decomposition, then
    a gaps-and-islands y-interval union per slab — the classic sweep,
    expressed relationally so every step is exact BIGINT arithmetic on
    the half-micro lattice (no float summation anywhere).

    Plan shape: slab boundaries derive from the polygon table itself
    (per-layer cardinality = 2 x polygons-in-layer, dimension-sized),
    so the rect x slab candidate join is a within-dimension blow-up
    bounded by |layer|² — the 100-TB side of a PIP workload (the
    points) never enters this operator. Two window passes share one
    (layer_id, sx0) sort; final areas are two map-side-combined
    aggregations.

    polygons(layer_id, minx/miny/maxx/maxy, ...) ->
    (layer_id, n_polys, sum_area, union_area) with areas in
    half-micro² BIGINT units; sum_area - union_area = overlap mass.
    """
    from pyspark.sql import Window

    s = F.lit(COORD_SCALE)
    q = polygons.select(
        "layer_id",
        F.round(F.col("minx") * s).cast("long").alias("x0"),
        F.round(F.col("miny") * s).cast("long").alias("y0"),
        F.round(F.col("maxx") * s).cast("long").alias("x1"),
        F.round(F.col("maxy") * s).cast("long").alias("y1"),
    )
    bounds = (
        q.select("layer_id", F.col("x0").alias("bx"))
        .unionByName(q.select("layer_id", F.col("x1").alias("bx")))
        .distinct()
    )
    wb = Window.partitionBy("layer_id").orderBy("bx")
    slabs = (
        bounds.select(
            "layer_id",
            F.col("bx").alias("sx0"),
            F.lead("bx").over(wb).alias("sx1"),
        )
        .filter(F.col("sx1").isNotNull())
    )
    cand = q.join(slabs, "layer_id").filter(
        (F.col("x0") <= F.col("sx0")) & (F.col("x1") >= F.col("sx1"))
    )
    wi = Window.partitionBy("layer_id", "sx0").orderBy("y0", "y1")
    prev_max = F.max("y1").over(wi.rowsBetween(Window.unboundedPreceding, -1))
    flagged = cand.select(
        "layer_id",
        "sx0",
        "sx1",
        "y0",
        "y1",
        F.when(F.col("y0") > F.coalesce(prev_max, F.lit(_NEG_INF)), 1)
        .otherwise(0)
        .alias("ni"),
    )
    island = F.sum("ni").over(wi.rowsBetween(Window.unboundedPreceding, 0))
    per_island = (
        flagged.withColumn("island", island)
        .groupBy("layer_id", "sx0", "sx1", "island")
        .agg(F.min("y0").alias("iy0"), F.max("y1").alias("iy1"))
    )
    union_area = (
        per_island.groupBy("layer_id", "sx0", "sx1")
        .agg(F.sum(F.col("iy1") - F.col("iy0")).alias("cov"))
        .select(
            "layer_id",
            ((F.col("sx1") - F.col("sx0")) * F.col("cov")).alias("a"),
        )
        .groupBy("layer_id")
        .agg(F.sum("a").alias("union_area"))
    )
    sums = q.groupBy("layer_id").agg(
        F.count("*").alias("n_polys"),
        F.sum((F.col("x1") - F.col("x0")) * (F.col("y1") - F.col("y0"))).alias(
            "sum_area"
        ),
    )
    return sums.join(union_area, "layer_id").select(
        "layer_id", "n_polys", "sum_area", "union_area"
    )


# mirror (compose after a `polys` CTE providing layer_id + bounds)
SQL_DISSOLVE_AREA_TAIL = f"""
q AS (
  SELECT layer_id,
         CAST(round(minx * {COORD_SCALE}) AS BIGINT) AS x0,
         CAST(round(miny * {COORD_SCALE}) AS BIGINT) AS y0,
         CAST(round(maxx * {COORD_SCALE}) AS BIGINT) AS x1,
         CAST(round(maxy * {COORD_SCALE}) AS BIGINT) AS y1
  FROM polys
),
b AS (
  SELECT DISTINCT layer_id, bx FROM (
    SELECT layer_id, x0 AS bx FROM q UNION ALL SELECT layer_id, x1 FROM q)
),
slabs AS (
  SELECT * FROM (
    SELECT layer_id, bx AS sx0,
           lead(bx) OVER (PARTITION BY layer_id ORDER BY bx) AS sx1
    FROM b)
  WHERE sx1 IS NOT NULL
),
cand AS (
  SELECT q.layer_id, slabs.sx0, slabs.sx1, q.y0, q.y1
  FROM q JOIN slabs ON q.layer_id = slabs.layer_id
                   AND q.x0 <= slabs.sx0 AND q.x1 >= slabs.sx1
),
fl AS (
  SELECT layer_id, sx0, sx1, y0, y1,
         CASE WHEN y0 > COALESCE(max(y1) OVER (
                PARTITION BY layer_id, sx0 ORDER BY y0, y1
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
              {_NEG_INF}) THEN 1 ELSE 0 END AS ni
  FROM cand
),
isl AS (
  SELECT *, sum(ni) OVER (PARTITION BY layer_id, sx0 ORDER BY y0, y1
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM fl
),
pi AS (
  SELECT layer_id, sx0, sx1, island, min(y0) AS iy0, max(y1) AS iy1
  FROM isl GROUP BY layer_id, sx0, sx1, island
),
ps AS (
  SELECT layer_id, sx0, sx1, sum(iy1 - iy0) AS cov
  FROM pi GROUP BY layer_id, sx0, sx1
),
ua AS (
  SELECT layer_id, CAST(sum((sx1 - sx0) * cov) AS BIGINT) AS union_area
  FROM ps GROUP BY layer_id
),
sa AS (
  SELECT layer_id, count(*) AS n_polys,
         CAST(sum((x1 - x0) * (y1 - y0)) AS BIGINT) AS sum_area
  FROM q GROUP BY layer_id
)
SELECT sa.layer_id, sa.n_polys, sa.sum_area, ua.union_area
FROM sa JOIN ua USING (layer_id)
"""


# ---------------------------------------------------------------------------
# Polygon rasterization with exact area weights (conservative regridding)
# ---------------------------------------------------------------------------

RASTER_FRAC_LEVEL = 6  # 5.625 x 2.8125-degree cells (exact binary widths)


def cell_cover_fraction(subjects: DataFrame,
                        level: int = RASTER_FRAC_LEVEL) -> DataFrame:
    """Exact polygon rasterization: for every world-grid cell a
    polygon's bbox touches, the FRACTION of the cell covered by the
    polygon — the area-weight table conservative regridding and
    dasymetric mapping consume (each (cell, polygon) weight is an
    exact intersection area over the exact cell area, not a
    point-sample approximation).

    The level-6 cell widths (360/64 = 5.625, 180/64 = 2.8125
    degrees) are exact binary fractions, so cell bounds are exact
    doubles and the Sutherland–Hodgman clip runs on the same
    half-µdeg lattice as overlay_join; frac is ONE double division
    of the exact integer cross2 by an exact literal.

    Plan: the bbox -> cell-range explode is bounded per polygon;
    distinct cells form the clip layer that feeds overlay_join's
    cell-cover candidate join (never a cross join); one bounded UDF
    evaluation per surviving candidate. Output rows are (touched
    cell x polygon) — dimension-scaled, never point-scaled.

    Output: (cell_i, cell_j, subject_id, cross2, frac).
    """
    n = 1 << level
    cw, ch = 360.0 / n, 180.0 / n
    b = subjects.select(
        F.array_min("geom.xs").alias("minx"),
        F.array_min("geom.ys").alias("miny"),
        F.array_max("geom.xs").alias("maxx"),
        F.array_max("geom.ys").alias("maxy"),
    )
    clamp = lambda c: F.greatest(  # noqa: E731
        F.least(c.cast("long"), F.lit(n - 1)), F.lit(0))
    ci0 = clamp(F.floor((F.col("minx") + 180.0) / cw))
    ci1 = clamp(F.floor((F.col("maxx") + 180.0) / cw))
    cj0 = clamp(F.floor((F.col("miny") + 90.0) / ch))
    cj1 = clamp(F.floor((F.col("maxy") + 90.0) / ch))
    cells = (
        b.select(F.explode(F.sequence(ci0, ci1)).alias("i"),
                 cj0.alias("j0"), cj1.alias("j1"))
        .select("i", F.explode(F.sequence("j0", "j1")).alias("j"))
        .distinct()
    )
    rects = cells.select(
        F.concat(F.lit("cell-"), F.col("i").cast("string"),
                 F.lit("-"), F.col("j").cast("string")).alias("poly_id"),
        (F.lit(-180.0) + F.col("i") * cw).alias("minx"),
        (F.lit(-90.0) + F.col("j") * ch).alias("miny"),
        (F.lit(-180.0) + (F.col("i") + 1) * cw).alias("maxx"),
        (F.lit(-90.0) + (F.col("j") + 1) * ch).alias("maxy"),
    )
    pairs = overlay_join(rects, subjects)
    cell_area = cw * ch
    return pairs.select(
        F.split(F.col("clip_id"), "-").getItem(1).cast("long")
        .alias("cell_i"),
        F.split(F.col("clip_id"), "-").getItem(2).cast("long")
        .alias("cell_j"),
        "subject_id", "cross2",
        (F.col("cross2").cast("double")
         / F.lit(CROSS_TO_DEG2 * cell_area)).alias("frac"),
    )
