"""Cell-equi-join point-in-polygon (the engine's flagship operator).

The reference has no spatial join at all (SURVEY.md §2.4); this is the
new engine's core physical strategy (§4.2.1-2):

  1. polygons -> bbox (JVM-side array_min/max) -> adaptive quadtree cell
     covering, all JVM expressions: cells.cover_level_col picks each
     polygon's level so |cover| <= max_cells (bounding candidate
     blow-up) and cells.cover_col builds the cell array -> explode to
     (cell_id, poly)
  2. points -> cell id at every level present in the polygon covering
     (usually 2-4 levels) -> explode
  3. equi-join on cell_id (hash/sort-merge; cell ids are Morton codes so
     range partitioning is spatial partitioning), AQE skew-join as the
     backstop for hot cells, optional explicit salting
  4. JVM bbox filter on the candidates, then a join on poly_id brings
     each survivor its polygon's rings (ring_offsets, xs, ys)
  5. exact even-odd ray-cast refinement in one vectorized pandas UDF
     (_pip_joined_rings): each Arrow batch groups candidates by
     poly_id and casts all of a polygon's points at once

Scale notes (100 TB): the shuffle key is cell_id — bounded fan-out on
both sides (points x |levels|, polys x max_cells). There is ONE plan;
one aggregate job over the polygon side (_side_stats) sizes it and
collects its distinct cover levels, and decides the replication once:
within the broadcast budget both polygon-side frames carry a
broadcast hint and the point side is never shuffled; beyond it the
same joins shuffle. The driver never collects the polygon side. Hot
cells (a city cell holding millions of points) in shuffle mode are
handled by `salt_factor`: points get pmod(hash, s), polygons
replicate x s, join key becomes (cell_id, salt) — an s-way split of
every hot cell's hash bucket.
"""

from __future__ import annotations

import logging

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from geo_import_spark.functions import cells as cellmod

log = logging.getLogger("geo_import_spark.pip")

# Broadcast-mode byte budget for the polygon side (matches the
# session's autoBroadcastJoinThreshold default). Above it, pip_join
# auto-selects the shuffle join — never a driver collect.
BROADCAST_BUDGET_BYTES = 64 * 1024 * 1024
# Per-polygon fixed cost in the broadcast estimate: cover rows
# (<= max_cells longs + bbox), ring row, hash-relation overhead.
_POLY_OVERHEAD_BYTES = 1024


def release_ring_broadcasts() -> int:
    """No-op kept for callers that release per-pass state: pip_join
    creates no broadcast variable (both modes join the rings as
    columns), so there is nothing to destroy. Returns 0."""
    return 0


@pandas_udf(T.BooleanType())
def _pip_joined_rings(
    lon: pd.Series, lat: pd.Series, poly_id: pd.Series,
    ring_offsets: pd.Series, xs: pd.Series, ys: pd.Series,
) -> pd.Series:
    """The refine: exact even-odd ray cast of one Arrow batch of
    (point, polygon) candidates. Each row carries its polygon's rings
    as joined columns; candidates are grouped by poly_id so the first
    row of a group serves the whole group and each polygon's edge
    arrays are built once (geomkern.points_in_single_polygon)."""
    from geo_import_spark.functions.geomkern import points_in_single_polygon

    res = np.zeros(len(lon), dtype=bool)
    if not len(res):
        return pd.Series(res)
    px = lon.to_numpy(np.float64)
    py = lat.to_numpy(np.float64)
    codes, _ = pd.factorize(poly_id.to_numpy(), sort=False)
    order = np.argsort(codes, kind="stable")
    for idx in np.split(order, np.flatnonzero(np.diff(codes[order])) + 1):
        row = idx[0]
        res[idx] = points_in_single_polygon(
            px[idx], py[idx],
            np.asarray(ring_offsets.iat[row], dtype=np.int64),
            np.asarray(xs.iat[row], dtype=np.float64),
            np.asarray(ys.iat[row], dtype=np.float64),
        )
    return pd.Series(res)


def _covered(polygons: DataFrame, base_level: int, max_cells: int) -> DataFrame:
    """The polygon side, prepared once per pip_join call: one row per
    polygon with poly_id, its rings (ring_offsets, xs, ys), bbox,
    cover level (cells.cover_level_col) and cover cells
    (cells.cover_col) — JVM expressions only; each query on it prunes
    the columns it does not read. An empty polygon has a null bbox
    and null cells, so its cover row has a null cell_id that joins
    nothing."""
    box = ("minx", "miny", "maxx", "maxy")
    return (
        polygons.select(
            "poly_id",
            F.col("geom.ring_offsets").alias("ring_offsets"),
            F.col("geom.xs").alias("xs"),
            F.col("geom.ys").alias("ys"),
            F.array_min("geom.xs").alias("minx"),
            F.array_min("geom.ys").alias("miny"),
            F.array_max("geom.xs").alias("maxx"),
            F.array_max("geom.ys").alias("maxy"),
        )
        .withColumn("level", cellmod.cover_level_col(*box, base_level, max_cells))
        .withColumn("cells", cellmod.cover_col(*box, "level"))
    )


# Auto-salting knobs (shuffle mode): a cell is "hot" when it exceeds
# HOT_CELL_LOAD_FACTOR x the mean shuffle-partition load; the salt
# factor splits it back under that bound, capped so the polygon-side
# replication (cover rows x salt) stays bounded.
HOT_CELL_LOAD_FACTOR = 2.0
MAX_AUTO_SALT = 32


def auto_salt_factor(points: DataFrame, level: int) -> int:
    """Measured salt factor for the shuffle join: the hot_cells
    histogram (operators/tiling.py) reduced to one decision — how many
    ways must the HOTTEST cell split so no single join partition
    carries more than HOT_CELL_LOAD_FACTOR x the mean load?

    One map-side-combined aggregate over the point side at the
    COARSEST cover level (coarser cells are strictly hotter, so this
    bounds every level the join actually uses). Returns 1 (no salting)
    for uniform corpora — identical output either way; only the
    physical partitioning changes. Points with a null coordinate join
    no cell, so they are not counted.
    """
    import math

    counts = (
        points.select(cellmod.cell_col("lon", "lat", level).alias("cell_id"))
        .where("cell_id IS NOT NULL")
        .groupBy("cell_id")
        .agg(F.count("*").alias("n"))
    )
    row = counts.agg(F.max("n").alias("mx"), F.sum("n").alias("total")).collect()[0]
    if not row["total"]:
        return 1
    parts = int(points.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    target = max(1.0, HOT_CELL_LOAD_FACTOR * row["total"] / max(1, parts))
    s = int(math.ceil(row["mx"] / target))
    return max(1, min(MAX_AUTO_SALT, s))


def _side_stats(covered: DataFrame):
    """One column-pruned aggregate job over the prepared polygon side
    (_covered): (n_polys, estimated broadcast bytes, sorted distinct
    cover levels of the non-empty polygons)."""
    row = covered.agg(
        F.count("*").alias("n"),
        F.sum(F.size("xs")).alias("verts"),
        F.collect_set(F.when(F.col("minx").isNotNull(), F.col("level"))).alias("levels"),
    ).collect()[0]
    n = row["n"] or 0
    verts = row["verts"] or 0
    return n, n * _POLY_OVERHEAD_BYTES + verts * 16, sorted(row["levels"])


def estimate_polygon_side_bytes(polygons: DataFrame) -> tuple[int, int]:
    """(n_polys, estimated broadcast bytes) for the polygon side — one
    column-pruned aggregate job: rows x fixed overhead + vertices x 16
    bytes (two float64 per vertex). Drives the auto broadcast/shuffle
    plan choice; deliberately conservative (counts cover rows, ring
    row and hash-relation overhead per polygon)."""
    n, est, _ = _side_stats(_covered(polygons, 13, 64))
    return n, est


def pip_join(
    points: DataFrame,
    polygons: DataFrame,
    base_level: int = 13,
    max_cells: int = 64,
    salt_factor: int | None = None,
    point_cols: tuple[str, ...] = ("doc_id", "span_offset"),
    broadcast_polys: bool | str = "auto",
    broadcast_budget_bytes: int = BROADCAST_BUDGET_BYTES,
) -> DataFrame:
    """Exact PIP join: returns point_cols + poly_id for every
    (point, polygon) containment. `points` needs lon/lat; `polygons`
    needs poly_id + flat geom.

    ONE column-pruned aggregate runs in every mode: it estimates the
    polygon side (rows x overhead + vertices x 16 bytes) and collects
    its distinct cover levels, which the point side's explode needs.
    broadcast_polys="auto" (default) picks broadcast iff the estimate
    fits broadcast_budget_bytes; the choice is logged. True/False
    force a mode (tests / operator override).

    One plan in both modes: the cover rows (poly_id, bbox, one cell
    id each, exploded from _covered) join the point side on cell_id,
    a JVM bbox filter drops most false candidates, and the survivors
    join their polygon's rings on poly_id and go through the one
    Arrow refine (_pip_joined_rings). The Python bridge carries each
    candidate with its polygon's rings: bytes are O(candidates x
    vertices of its polygon).

    broadcast mode: both polygon-side frames carry a broadcast hint,
    so the point side is never shuffled (BroadcastHashJoin twice).
    Nothing is collected to the driver beyond the size job.

    shuffle mode: the at-scale fallback when the polygon side exceeds
    the broadcast budget — the same joins without the hint, so Spark
    shuffles on cell_id (AQE skew-join / explicit salting) and on
    poly_id. Nothing is persisted and the only Python stage is the
    refine.

    salt_factor=None (default) is MEASURED in shuffle mode: one
    histogram aggregate (auto_salt_factor — the hot_cells diagnostic
    reduced to a decision) picks the factor that splits the hottest
    cell under HOT_CELL_LOAD_FACTOR x the mean partition load; uniform
    corpora get 1 (no salting, no polygon replication). Pass an int to
    force (1 disables). Broadcast mode never measures one — there is
    no point-side shuffle to skew.
    """
    spark = points.sparkSession
    covered = _covered(polygons, base_level, max_cells)
    # One aggregate sizes the polygon side AND collects its distinct
    # cover levels (all the plan needs from it before it runs).
    n_polys, est_bytes, levels = _side_stats(covered)
    if broadcast_polys == "auto":
        broadcast_polys = est_bytes <= broadcast_budget_bytes
        log.info(
            "pip_join auto plan: polygon side ~%d bytes (%d polys) -> %s",
            est_bytes, n_polys, "broadcast" if broadcast_polys else "shuffle",
        )
    if not levels:
        return points.select(*point_cols).limit(0).withColumn("poly_id", F.lit(""))

    # explode_outer, not explode: for an inner explode Spark infers
    # size(cells) > 0 and pushes it into the polygon scan, where the
    # cover-level lambda is inlined once per reference to `level` (a
    # plan of megabytes). The null cell_id of an empty polygon joins
    # nothing.
    cover = covered.select(
        "poly_id", "minx", "miny", "maxx", "maxy",
        F.explode_outer("cells").alias("cell_id"),
    )
    rings = covered.select("poly_id", "ring_offsets", "xs", "ys")

    # Point side stays 100% JVM (cells.cell_col — whole-stage codegen):
    # one scan, explode over the distinct cover levels (usually 2-4).
    pts = points.select(*point_cols, "lon", "lat")
    pts_cells = pts.withColumn(
        "cell_id",
        F.explode(F.array(*[cellmod.cell_col("lon", "lat", lv) for lv in levels])),
    )

    if not broadcast_polys and salt_factor is None:
        salt_factor = auto_salt_factor(pts, min(levels))
        log.info("pip_join auto salt factor: %d", salt_factor)

    if salt_factor and salt_factor > 1:
        s = salt_factor
        pts_cells = pts_cells.withColumn(
            "salt", F.pmod(F.hash(*[F.col(c) for c in point_cols]), F.lit(s))
        )
        salts = spark.range(s).select(F.col("id").cast("int").alias("salt"))
        # explicit hint: the s-row replicate must broadcast even when
        # the session disables autoBroadcastJoinThreshold (otherwise
        # Spark plans a CartesianProduct for the cross join)
        cover = cover.crossJoin(F.broadcast(salts))
        join_keys = ["cell_id", "salt"]
    else:
        join_keys = ["cell_id"]

    if broadcast_polys:
        cover, rings = F.broadcast(cover), F.broadcast(rings)

    # JVM-side bbox pre-filter kills most false candidates inside
    # whole-stage codegen; only bbox-passing pairs reach the Python
    # ray cast (for convex/rectangular polygons that's ~the hit set).
    cand = pts_cells.join(cover, join_keys).filter(
        (F.col("lon") >= F.col("minx")) & (F.col("lon") <= F.col("maxx"))
        & (F.col("lat") >= F.col("miny")) & (F.col("lat") <= F.col("maxy"))
    )
    refined = cand.select(*point_cols, "lon", "lat", "poly_id").join(rings, "poly_id")
    return refined.filter(
        _pip_joined_rings("lon", "lat", "poly_id", "ring_offsets", "xs", "ys")
    ).select(*point_cols, "poly_id")
