"""kNN via quadtree k-ring candidate expansion + window re-rank.

North-rule operator (SURVEY.md §2.5 / §4.2.4). Exact under the chosen
metric: candidates are drawn from an expanding k-ring of grid cells;
a query is *settled* once its kth candidate distance is provably
smaller than the distance to any point outside the ring
(margin = (r-1) * cell_height_deg). Unsettled queries iterate with a
doubled ring — a driver loop over a shrinking DataFrame, each pass a
single cell-equi join (no cross join ever materializes). The ring and
the radius join's disk are JVM windows of grid cells
(cells.window_col), so neither operator has a Python stage.

Metric: planar degree-space distance (dist = sqrt(dlon^2 + dlat^2),
mul/add/sqrt only) for oracle-exact determinism (correctly-rounded
IEEE arithmetic, identical in DuckDB); `haversine=True` switches to
great-circle meters for real use. Candidates rank by dist, then by
point key => total order, engine-independent.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geo_import_spark.functions import cells as cellmod

EARTH_RADIUS_M = 6371008.8


def _dist_sql(haversine: bool) -> str:
    """SQL distance from (qlon, qlat) to (lon, lat): great-circle
    meters, or planar degrees built from mul + add + sqrt, all
    correctly-rounded IEEE ops, so the boundary predicate is
    bit-identical in any engine (pow is only 1-ulp in the JVM)."""
    if not haversine:
        return "sqrt((lon - qlon) * (lon - qlon) + (lat - qlat) * (lat - qlat))"
    a = (
        "power(sin((radians(lat) - radians(qlat)) / 2), 2)"
        " + cos(radians(qlat)) * cos(radians(lat))"
        " * power(sin((radians(lon) - radians(qlon)) / 2), 2)"
    )
    return f"{2.0 * EARTH_RADIUS_M!r}D * asin(sqrt({a}))"


def _disk_col(level: int, radius: float, haversine: bool):
    """Cells covering the lon/lat rectangle that bounds each query's
    radius disk. Planar: radius is degrees, the rectangle is ±radius.
    Haversine: radius is meters; bounds are EXACTLY conservative on
    the sphere — Δlat ≤ d/R (haversine is monotone in Δlat), and
    sin(Δlon/2) ≤ sin(d/2R)/cos(worst_lat) from
    hav(d/R) ≥ cos(lat1)cos(lat2)·hav(Δlon). Longitude wraps;
    latitude clips at the poles (cells.window_col)."""
    n = str(1 << level)
    if haversine:
        dlat = f"{float(np.degrees(radius / EARTH_RADIUS_M))!r}D"
        sin_half = float(np.sin(radius / (2.0 * EARTH_RADIUS_M)))
        s = f"{sin_half!r}D / cos(radians(least(abs(qlat) + {dlat}, 89.999D)))"
        dlon = f"CASE WHEN {s} >= 1D THEN 180D ELSE degrees(2D * asin({s})) END"
    else:
        dlat = dlon = f"{float(radius)!r}D"
    return cellmod.window_col(
        cellmod.grid_sql(f"qlon - ({dlon})", n, False, clip=False),
        cellmod.grid_sql(f"qlon + ({dlon})", n, False, clip=False),
        cellmod.grid_sql(f"qlat + ({dlat})", n, True, clip=False),
        cellmod.grid_sql(f"qlat - ({dlat})", n, True, clip=False),
        level,
    )


def radius_join(
    queries: DataFrame,
    points: DataFrame,
    radius: float,
    level: int = 8,
    haversine: bool = False,
    point_key: str = "doc_id",
) -> DataFrame:
    """Within-distance join: every (query, point) pair with
    dist(query, point) ≤ radius. queries(query_id, qlon, qlat) x
    points(point_key, lon, lat) -> (query_id, point_key, dist).

    Physical plan: ONE cell-equi join. Each query explodes to the
    fixed-level cells covering its radius disk (a per-query rectangle,
    never a global cross join); the big point side computes its cell
    id in whole-stage codegen and shuffles once on cell_id; the exact
    distance predicate filters candidates JVM-side. A point's cell
    appears at most once per query's cover, so no dedup pass is
    needed. Scale: candidate count = points within the disk's bbox —
    pick `level` so a cell is about the radius (cells/query stays
    O(10)) and the join stays balanced.

    Metric matches knn_join: planar degrees (oracle-exact IEEE
    arithmetic) or haversine meters (`haversine=True`).
    """
    pts = points.select(point_key, "lon", "lat").withColumn(
        "cell_id", cellmod.cell_col("lon", "lat", level)
    )
    cand = (
        queries.select("query_id", "qlon", "qlat")
        .withColumn("cell_id", F.explode(_disk_col(level, radius, haversine)))
        .join(pts, "cell_id")
    )
    return (
        cand.withColumn("dist", F.expr(_dist_sql(haversine)))
        .filter(f"dist <= {float(radius)!r}D")
        .select("query_id", point_key, "dist")
    )


def knn_join(
    queries: DataFrame,
    points: DataFrame,
    k: int = 10,
    level: int = 6,
    haversine: bool = False,
    point_key: str = "doc_id",
    max_rounds: int = 12,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """queries(query_id, qlon, qlat) x points(point_key, lon, lat)
    -> (query_id, point_key, rank, dist) exact k nearest neighbors.

    `checkpoint_dir` swaps the per-round localCheckpoints of the loop
    state (results + pending) for durable parquet rounds
    (plans/itercheckpoint.py) and resumes a killed run from the newest
    completed round — the ring radius is derived from the round index
    (r = 2^(i+1)), so no extra state needs persisting.
    """
    from geo_import_spark.plans.itercheckpoint import LoopCheckpointer

    ck_res = LoopCheckpointer(checkpoint_dir, name="results")
    ck_pen = LoopCheckpointer(checkpoint_dir, name="pending")

    pts = points.select(point_key, "lon", "lat").withColumn(
        "cell_id", cellmod.cell_col("lon", "lat", level)
    )
    pts.cache()
    sy = 180.0 / (1 << level)  # cell height in degrees (the tighter axis)
    # the query's own cell, as grid indices (the ring's centre)
    cx = cellmod.grid_sql("qlon", str(1 << level), lat=False)
    cy = cellmod.grid_sql("qlat", str(1 << level), lat=True)
    dist = F.expr(_dist_sql(haversine))
    rank = F.expr(f"row_number() OVER (PARTITION BY query_id ORDER BY dist, {point_key})")
    n_kth = (F.expr("count(*) AS n"), F.expr("max(dist) AS kth"))

    pending = queries.select("query_id", "qlon", "qlat")
    results = None
    start_round = 0
    if ck_pen.durable:
        # pending is written LAST each round, so its newest round is
        # the coherent resume point; results are loaded at that SAME
        # round (a results round with no matching pending round means
        # the kill landed between the two writes — replaying from the
        # earlier coherent round is correct, double-counting is not).
        last, saved_pending = ck_pen.latest(pending.sparkSession)
        if last is not None:
            pending = saved_pending
            results = ck_res.load(pending.sparkSession, last)
            start_round = last + 1
    r = 2 ** (start_round + 1)
    for rnd in range(start_round, max_rounds):
        n_pending = pending.count()
        if n_pending == 0:
            break
        ring = cellmod.window_col(f"{cx} - {r}", f"{cx} + {r}", f"{cy} - {r}", f"{cy} + {r}", level)
        cand = (
            pending.withColumn("cell_id", F.explode(ring))
            .join(pts, "cell_id")
            .withColumn("dist", dist)
        )
        # topk is TINY (≤ k rows per pending query) but expensive to
        # compute (the ring join + window over the point table), and
        # THREE consumers branch off it (settle aggregate, settled
        # rows, pending anti-join). Materialize it once per round —
        # without this the big join re-executes per branch (measured
        # 2-3x the round wall at sf0.1, where every query settles in
        # round one).
        topk = (
            cand.withColumn("rank", rank)
            .filter(f"rank <= {k}")
            .localCheckpoint(eager=True)
        )
        # settled: kth neighbor provably closer than any point outside the
        # ring. Planar: outside => |dlon| or |dlat| >= (r-1)*sy degrees.
        # Haversine: the x-direction bound shrinks with cos(lat) near the
        # poles, so the margin is per-query and conservative.
        agg = topk.groupBy("query_id").agg(*n_kth)
        ring_covers_world = (2 * r + 1) >= (1 << level)
        if ring_covers_world:
            settled_ids = agg.select("query_id")
        else:
            if haversine:
                agg = agg.join(pending, "query_id")
                reach = f"least(abs(qlat) + {(r + 1) * sy!r}D, 89.9D)"
                margin = (
                    f"{(r - 1) * sy * 110567.0!r}D"
                    f" * least(1D, 2D * cos(radians({reach})))"
                )
            else:
                margin = f"{float((r - 1) * sy)!r}D"
            settled_ids = agg.filter(
                f"n >= {k} AND {margin} > 0 AND kth <= {margin}"
            ).select("query_id")
        settled = topk.join(settled_ids, "query_id").select(
            "query_id", point_key, "rank", "dist"
        )
        results = settled if results is None else results.unionByName(settled)
        # settled derives from the materialized topk, so the union
        # chain is shallow — a LAZY checkpoint still truncates lineage
        # across rounds without spending an extra job per round.
        results = ck_res.truncate(results, rnd, eager=ck_res.durable)
        # pending MUST checkpoint too: a bare left_anti chain makes
        # round i recompute every earlier round's ring + window
        # (measured ~5x on the polar haversine path). Cheap now: its
        # parents are the checkpointed topk and the prior pending.
        pending = ck_pen.truncate(
            pending.join(settled_ids, "query_id", "left_anti"), rnd
        )
        if ring_covers_world:
            pending = pending.limit(0)
        r *= 2
    pts.unpersist()
    return results if results is not None else queries.select("query_id").limit(0)


def nearest_poly_join(points: DataFrame, polygons: DataFrame) -> DataFrame:
    """Nearest-polygon join: each point to the closest polygon by
    bounding-box distance, with the distance (degrees planar).

    For axis-aligned rectangle layers (the synthetic corpus, and the
    common bbox-prefilter case) the bbox IS the geometry, so this is
    the exact nearest-polygon answer. For general rings, bbox distance
    is an exact LOWER bound — this operator is then the candidate/prune
    stage and the exact refine reuses the segment-distance kernel the
    same way pip_join's ray cast refines its cell candidates.

    Plan: the polygon side is dimension-sized (same broadcastability
    contract as pip_join's broadcast path) -> crossJoin(broadcast) with
    the distance computed in whole-stage codegen, then ONE shuffle on
    doc_id where min_by's map-side partial aggregation reduces the
    pair blowup back to one row per point before the exchange. The
    point side never sorts and never shuffles at pair granularity.
    Determinism: ties (e.g. containment -> dist 0 in overlapping
    polygons) break on poly_id ascending via the (dist, poly_id)
    struct ordering.

    Reference parity: geo-import has no nearest join (it only tests
    containment, es6-lib/lib/decoders/*); this is a north-rule
    kNN-family extension at k=1 against the polygon layer.
    """
    dx = F.greatest(
        F.col("g.minx") - F.col("p.lon"), F.col("p.lon") - F.col("g.maxx"), F.lit(0.0)
    )
    dy = F.greatest(
        F.col("g.miny") - F.col("p.lat"), F.col("p.lat") - F.col("g.maxy"), F.lit(0.0)
    )
    dist = F.sqrt(dx * dx + dy * dy)
    pairs = (
        points.alias("p")
        .crossJoin(F.broadcast(polygons.alias("g")))
        .select(
            F.col("p.doc_id").alias("doc_id"),
            F.col("g.poly_id").alias("poly_id"),
            dist.alias("dist"),
        )
    )
    key = F.struct(F.col("dist"), F.col("poly_id"))
    return pairs.groupBy("doc_id").agg(
        F.min_by("poly_id", key).alias("poly_id"),
        F.min("dist").alias("dist"),
    )


SQL_NEAREST_POLY = """
WITH {pts}, {polys},
d AS (
  SELECT p.doc_id, g.poly_id,
         GREATEST(g.minx - p.lon, p.lon - g.maxx, 0.0) AS dx,
         GREATEST(g.miny - p.lat, p.lat - g.maxy, 0.0) AS dy
  FROM pts p CROSS JOIN polys g
)
SELECT doc_id, poly_id, dist FROM (
  SELECT doc_id, poly_id, sqrt(dx * dx + dy * dy) AS dist,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY sqrt(dx * dx + dy * dy) ASC, poly_id ASC) AS rn
  FROM d
) WHERE rn = 1
"""
