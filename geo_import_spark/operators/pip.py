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
  4. exact even-odd ray-cast refinement in one vectorized pandas UDF
     body (_refine): each Arrow batch groups candidates by poly_id and
     casts all of a polygon's points at once. Broadcast mode reads the
     rings from an sc.broadcast (one copy per executor), so
     Python-bridge bytes are O(candidates) + O(polygons) — never
     O(pairs x vertices); shuffle mode reads them from joined columns
  5. rectangle fast path (broadcast mode): polygons whose even-odd
     interior IS their bbox are flagged once at collect time; the JVM
     decides strictly-interior candidates inside whole-stage codegen
     and the refine skips the ray cast for them (single point-side
     pass — no union re-scan). Boundary candidates and non-rectangular
     polygons keep the exact ray cast, so results are bit-identical
     to the pure-UDF plan

Scale notes (100 TB): the shuffle key is cell_id — bounded fan-out on
both sides (points x |levels|, polys x max_cells). The physical plan
is AUTO-SELECTED by a one-job size estimate of the polygon side
(which also collects its distinct cover levels):
within the broadcast budget the point side is never shuffled at all;
beyond it the shuffle join is chosen — the driver never collects an
unbounded polygon side. Hot cells (a city cell holding millions of
points) in the shuffle fallback are handled by `salt_factor`: points get
pmod(hash, s), polygons replicate x s, join key becomes
(cell_id, salt) — an s-way split of every hot cell's hash bucket.
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
# Per-polygon fixed cost in the broadcast estimate: dict entry, cover
# rows (<= max_cells longs + bbox), Row overhead.
_POLY_OVERHEAD_BYTES = 1024

# Ring broadcasts created by broadcast-mode pip_join calls; a Spark
# broadcast lives on driver + executors until destroyed, so LONG-LIVED
# sessions issuing many pip_joins should call release_ring_broadcasts()
# once the returned DataFrames are no longer needed.
_RING_BROADCASTS: list = []


def release_ring_broadcasts() -> int:
    """Destroy every polygon-ring broadcast created by pip_join in this
    session. Call after the DataFrames returned by broadcast-mode
    pip_join calls are fully consumed (their plans reference the
    broadcast and would fail if executed after this). Returns the
    number destroyed."""
    n = 0
    while _RING_BROADCASTS:
        bc = _RING_BROADCASTS.pop()
        try:
            bc.destroy()
            n += 1
        except Exception:  # already destroyed / context gone
            pass
    return n


def _refine(lon: pd.Series, lat: pd.Series, poly_id: pd.Series, decided: np.ndarray, ring_of) -> pd.Series:
    """The refine body of both plans: exact even-odd ray cast of one
    Arrow batch of (point, polygon) candidates. Rows already decided
    by the JVM rectangle fast path are accepted as they are; the rest
    are grouped by poly_id so each polygon's edge arrays are built
    once (geomkern.points_in_single_polygon). ring_of(poly_id, row)
    returns that polygon's (ring_offsets, xs, ys), or None."""
    from geo_import_spark.functions.geomkern import points_in_single_polygon

    res = decided.copy()
    todo = np.flatnonzero(~res)
    if todo.size == 0:
        return pd.Series(res)
    px = lon.to_numpy(np.float64)[todo]
    py = lat.to_numpy(np.float64)[todo]
    codes, uniques = pd.factorize(poly_id.to_numpy()[todo], sort=False)
    order = np.argsort(codes, kind="stable")
    for idx in np.split(order, np.flatnonzero(np.diff(codes[order])) + 1):
        code = codes[idx[0]]
        geom = ring_of(uniques[code], todo[idx[0]]) if code >= 0 else None
        if geom is not None:
            res[todo[idx]] = points_in_single_polygon(px[idx], py[idx], *geom)
    return pd.Series(res)


def _pip_broadcast_udf(rings_bc):
    """Broadcast-mode refine: rings come from a Spark broadcast (one
    copy per executor), so the bridge carries O(candidates) bytes;
    `exact` marks the rows the rectangle fast path already accepted."""

    @pandas_udf(T.BooleanType())
    def contains(lon: pd.Series, lat: pd.Series, poly_id: pd.Series, exact: pd.Series) -> pd.Series:
        polys = rings_bc.value
        decided = exact.fillna(False).to_numpy(bool)
        return _refine(lon, lat, poly_id, decided, lambda pid, _row: polys.get(pid))

    return contains


@pandas_udf(T.BooleanType())
def _pip_joined_rings(
    lon: pd.Series, lat: pd.Series, poly_id: pd.Series,
    ring_offsets: pd.Series, xs: pd.Series, ys: pd.Series,
) -> pd.Series:
    """Shuffle-mode refine: each candidate row carries its polygon's
    rings as joined columns; the first row of a poly_id group serves
    the whole group."""

    def ring_of(_pid, row):
        return (
            np.asarray(ring_offsets.iat[row], dtype=np.int64),
            np.asarray(xs.iat[row], dtype=np.float64),
            np.asarray(ys.iat[row], dtype=np.float64),
        )

    return _refine(lon, lat, poly_id, np.zeros(len(lon), dtype=bool), ring_of)


COVER_ROW_SCHEMA = T.StructType(
    [
        T.StructField("poly_id", T.StringType()),
        T.StructField("minx", T.DoubleType()),
        T.StructField("miny", T.DoubleType()),
        T.StructField("maxx", T.DoubleType()),
        T.StructField("maxy", T.DoubleType()),
        T.StructField("level", T.IntegerType()),
        T.StructField("cell_id", T.LongType()),
        T.StructField("is_rect", T.BooleanType()),
    ]
)


def _is_exact_bbox(ro: np.ndarray, xs: np.ndarray, ys: np.ndarray) -> bool:
    """True iff the polygon's even-odd interior IS its bbox: a single
    closed 5-vertex ring whose 4 distinct corners are exactly the bbox
    corners with every edge axis-aligned (the edge check rules out the
    bowtie orderings, whose even-odd interior is NOT the bbox).
    Drives the rectangle fast path: for such polygons the JVM bbox
    prefilter already decides strict-interior containment exactly, so
    those candidates never need the Python ray cast."""
    if len(ro) != 2 or ro[0] != 0 or ro[1] != 5 or xs.size != 5:
        return False
    if xs[0] != xs[4] or ys[0] != ys[4]:
        return False
    minx, maxx = xs.min(), xs.max()
    miny, maxy = ys.min(), ys.max()
    if minx == maxx or miny == maxy:
        return False
    corners = set(zip(xs[:4].tolist(), ys[:4].tolist()))
    if corners != {(minx, miny), (maxx, miny), (maxx, maxy), (minx, maxy)}:
        return False
    return all(xs[i] == xs[i + 1] or ys[i] == ys[i + 1] for i in range(4))


def _covered(polygons: DataFrame, base_level: int, max_cells: int) -> DataFrame:
    """The polygon side, prepared once per pip_join call: one row per
    polygon with poly_id, its rings (ring_offsets, xs, ys), bbox,
    cover level (cells.cover_level_col) and cover cells
    (cells.cover_col) — JVM expressions only; each query on it prunes
    the columns it does not read. An empty polygon has a null bbox
    and null cells, so exploding its cells yields no row."""
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


def _collect_rings_and_cover(covered: DataFrame):
    """ONE driver collect of the prepared polygon side (_covered). The
    driver only flattens the JVM-computed cell arrays into cover rows
    and flags exact rectangles — fine by definition, since broadcast
    mode is only chosen when the polygon side fits the broadcast
    budget.

    Returns (rings: dict poly_id -> (ring_offsets, xs, ys),
             cover_rows: list of COVER_ROW_SCHEMA tuples,
             levels: sorted distinct cover levels)."""
    rings: dict = {}
    cover_rows: list = []
    levels: set = set()
    for r in covered.collect():
        ro = np.asarray(r["ring_offsets"], dtype=np.int64)
        xs = np.asarray(r["xs"], dtype=np.float64)
        ys = np.asarray(r["ys"], dtype=np.float64)
        rings[r["poly_id"]] = (ro, xs, ys)
        if not r["cells"]:
            continue
        levels.add(r["level"])
        head = (r["poly_id"], r["minx"], r["miny"], r["maxx"], r["maxy"], r["level"])
        rect = _is_exact_bbox(ro, xs, ys)
        cover_rows.extend((*head, cid, rect) for cid in r["cells"])
    return rings, cover_rows, sorted(levels)


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
    physical partitioning changes.
    """
    import math

    cell = cellmod.cell_col("lon", "lat", level)
    counts = points.groupBy(cell.alias("cell_id")).agg(
        F.count("*").alias("n")
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
    plan choice; deliberately conservative (counts cover + dict + Row
    overhead per polygon)."""
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

    broadcast_polys="auto" (default): ONE column-pruned aggregate
    estimates the polygon side (rows x overhead + vertices x 16 bytes)
    and collects its distinct cover levels, and picks broadcast iff
    the estimate fits broadcast_budget_bytes — the
    driver never collects an unbounded polygon side. The choice is
    logged. True/False force a path (tests / operator override).

    broadcast mode: the polygon side — JVM-computed cover cells AND
    ring coordinates — is collected ONCE and shipped per executor
    (local-relation broadcast join + sc.broadcast rings). The Python
    bridge then carries only (lon, lat, poly_id) per candidate: bytes
    are O(candidates) + O(polygons), never O(pairs x vertices).

    shuffle mode: the at-scale fallback when the polygon side exceeds
    the broadcast budget — shuffle join on cell_id (AQE skew-join /
    explicit salting) with polygon coords joined per candidate. The
    cover is exploded from cells.cover_col inside the join's
    execution, so nothing is persisted and the only Python stage is
    the refine.

    salt_factor=None (default) is MEASURED in shuffle mode: one
    histogram aggregate (auto_salt_factor — the hot_cells diagnostic
    reduced to a decision) picks the factor that splits the hottest
    cell under HOT_CELL_LOAD_FACTOR x the mean partition load; uniform
    corpora get 1 (no salting, no polygon replication). Pass an int to
    force (1 disables). Broadcast mode never salts — there is no
    point-side shuffle to skew.
    """
    spark = points.sparkSession
    empty = points.select(*point_cols).limit(0).withColumn("poly_id", F.lit(""))
    covered = _covered(polygons, base_level, max_cells)

    if broadcast_polys == "auto" or not broadcast_polys:
        # One aggregate sizes the polygon side AND collects its
        # distinct cover levels (all the shuffle plan needs from it).
        n_polys, est_bytes, levels = _side_stats(covered)
        if broadcast_polys == "auto":
            broadcast_polys = est_bytes <= broadcast_budget_bytes
            log.info(
                "pip_join auto plan: polygon side ~%d bytes (%d polys) -> %s",
                est_bytes, n_polys, "broadcast" if broadcast_polys else "shuffle",
            )

    if broadcast_polys:
        rings, cover_rows, levels = _collect_rings_and_cover(covered)
        if not cover_rows:
            return empty
        cover = F.broadcast(spark.createDataFrame(cover_rows, COVER_ROW_SCHEMA))
    else:
        if not levels:
            return empty
        cover = covered.select(
            "poly_id", "minx", "miny", "maxx", "maxy",
            F.explode("cells").alias("cell_id"),
        )

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

    # JVM-side bbox pre-filter kills most false candidates inside
    # whole-stage codegen; only bbox-passing pairs reach the Python
    # ray cast (for convex/rectangular polygons that's ~the hit set).
    cand = pts_cells.join(cover, join_keys).filter(
        (F.col("lon") >= F.col("minx")) & (F.col("lon") <= F.col("maxx"))
        & (F.col("lat") >= F.col("miny")) & (F.col("lat") <= F.col("maxy"))
    )

    if broadcast_polys:
        # Rectangle fast path: for polygons whose even-odd interior IS
        # their bbox (_is_exact_bbox, decided once per polygon at
        # collect time), a strictly-interior candidate is contained by
        # definition — the JVM computes that verdict inside whole-stage
        # codegen and the Arrow UDF skips the ray cast for those rows.
        # Boundary candidates (lon/lat == a bbox edge) and
        # non-rectangular polygons are still ray-cast, so semantics are
        # bit-identical to the pure-UDF plan. Deliberately ONE pass —
        # a filter/union split would re-scan and re-join the point
        # side (2x IO at scale), which costs more than the
        # O(candidates) bridge bytes it saves.
        strict = (
            (F.col("lon") > F.col("minx")) & (F.col("lon") < F.col("maxx"))
            & (F.col("lat") > F.col("miny")) & (F.col("lat") < F.col("maxy"))
        )
        rings_bc = spark.sparkContext.broadcast(rings)
        _RING_BROADCASTS.append(rings_bc)
        contains = _pip_broadcast_udf(rings_bc)(
            "lon", "lat", "poly_id", F.col("is_rect") & strict
        )
        return cand.filter(contains).select(*point_cols, "poly_id")

    polys_geom = polygons.select(
        "poly_id",
        F.col("geom.ring_offsets").alias("ring_offsets"),
        F.col("geom.xs").alias("xs"),
        F.col("geom.ys").alias("ys"),
    )
    refined = cand.select(*point_cols, "lon", "lat", "poly_id").join(polys_geom, "poly_id")
    return refined.filter(
        _pip_joined_rings("lon", "lat", "poly_id", "ring_offsets", "xs", "ys")
    ).select(*point_cols, "poly_id")
