"""Raster-tile (z/x/y quadkey) assignment for media spans.

North-rule operator (no reference counterpart; geo-import only passes
blobs through, es6-lib/upstream/core.js:248-263). A media span is
located at its document's geometry anchor (first geometry span); the
tile id is the standard Web-Mercator slippy tile + Bing quadkey,
computed as JVM SQL expressions (functions/tiles.py *_sql), no UDF.
The quadtree-grid operators below index points with cells.grid_xy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from geo_import_spark.functions import cells as cellmod
from geo_import_spark.functions import tiles as tilemod


def media_spans(documents: DataFrame) -> DataFrame:
    """documents -> one row per media span (doc_id, span_offset, media_ref)."""
    s = documents.select("doc_id", F.explode("spans").alias("span"))
    return s.filter(F.col("span.kind") == "media").select(
        "doc_id",
        F.col("span.offset").alias("span_offset"),
        F.col("span.media_ref").alias("media_ref"),
    )


def assign_tiles(documents: DataFrame, anchors: DataFrame, z: int = 12) -> DataFrame:
    """Tile-assign every media span.

    anchors: (doc_id, lon, lat) — the document's first geometry span
    location (points source). Join is on doc_id; the anchor side is
    deduplicated to the min span_offset geometry per doc.
    Output: (doc_id, span_offset, media_ref, z, x, y, quadkey).
    """
    return assign_tiles_from_anchors(
        media_spans(documents), anchors.select("doc_id", "lon", "lat"), z
    )


def assign_tiles_from_anchors(media: DataFrame, anchors: DataFrame, z: int = 12) -> DataFrame:
    """Tile-assign media spans against a prepared anchors frame,
    preserving any extra anchor columns (e.g. the checkpoint `unit`).
    anchors: (doc_id, lon, lat[, ...]); media: (doc_id, span_offset,
    media_ref). The quadkey is computed over the projected x/y
    columns; a null anchor coordinate gives a null x/y/quadkey."""
    extra = [c for c in anchors.columns if c not in ("doc_id", "lon", "lat")]
    head = ["doc_id", "span_offset", "media_ref", "z", "x", "y"]
    xy = media.join(anchors, "doc_id").select(
        "doc_id",
        "span_offset",
        "media_ref",
        F.lit(z).alias("z"),
        F.expr(tilemod.tile_x_sql("lon", z)).alias("x"),
        F.expr(tilemod.tile_y_sql("lat", z)).alias("y"),
        *extra,
    )
    return xy.select(*head, F.expr(tilemod.quadkey_sql("x", "y", z)).alias("quadkey"), *extra)


def cover_tiles(polygons: DataFrame, z: int = 7) -> DataFrame:
    """Covering raster tiles per polygon bbox at zoom z — the
    raster←vector direction complementing assign_tiles (vector→raster):
    which tiles must be rendered/fetched for each polygon.

    The four corner projections are the same JVM slippy SQL as
    assign_tiles (functions/tiles.py), the tile enumeration is a JVM
    sequence() double-explode and the quadkey is integer bit math over
    the exploded x/y — no Python anywhere. For axis-aligned polygons
    (the corpus layers) the bbox cover IS the exact polygon cover; for
    general shapes it is the standard coarse cover that a ray-cast
    refinement would prune. A null bbox covers no tile.

    polygons(poly_id, minx, miny, maxx, maxy, ...) ->
    (poly_id, z, x, y, quadkey), one row per covered tile.
    """
    b = polygons.select(
        "poly_id",
        F.expr(tilemod.tile_x_sql("minx", z)).alias("x0"),
        F.expr(tilemod.tile_x_sql("maxx", z)).alias("x1"),
        F.expr(tilemod.tile_y_sql("maxy", z)).alias("y0"),  # north edge: smaller y
        F.expr(tilemod.tile_y_sql("miny", z)).alias("y1"),  # south edge: larger y
    )
    xy = b.select(
        "poly_id", F.explode(F.sequence("x0", "x1")).alias("x"), "y0", "y1"
    ).select(
        "poly_id", "x", F.explode(F.sequence("y0", "y1")).alias("y")
    )
    return xy.select(
        "poly_id",
        F.lit(z).alias("z"),
        "x",
        "y",
        F.expr(tilemod.quadkey_sql("x", "y", z)).alias("quadkey"),
    )


def first_geometry_anchor(points: DataFrame) -> DataFrame:
    """Per-doc anchor = geometry span with the smallest span_offset.

    min_by aggregation, not a row_number window: the aggregate gets
    map-side partial combine (each input partition ships one candidate
    row per doc instead of every geometry span through the shuffle),
    which at 10^12 spans is the difference between shuffling the
    whole table and shuffling ~|docs| rows."""
    return points.groupBy("doc_id").agg(
        F.min_by("lon", "span_offset").alias("lon"),
        F.min_by("lat", "span_offset").alias("lat"),
    )


def grid_density(points: DataFrame, level: int = 6) -> DataFrame:
    """Quadtree-grid density surface: points -> cell at `level` ->
    (cell_id, n_points, cell bounds). The raster-side aggregation
    primitive (heatmaps, load maps, sampling weights) the vector ops
    (pip_join, knn_join) don't cover.

    Scale: ONE shuffle keyed by cell_id with map-side partial
    aggregation — each input partition ships at most |occupied cells|
    rows, never |points|. Cell encode AND bounds decode are whole-stage
    codegen integer/float arithmetic (functions/cells.py layout:
    (level << 58) + (x << 29) + y), so the operator is 100% JVM.
    """
    n = float(1 << level)
    mask = (1 << 29) - 1
    agg = points.groupBy(
        cellmod.cell_col("lon", "lat", level).alias("cell_id")
    ).agg(F.count("*").alias("n_points"))
    x = F.shiftright(F.col("cell_id"), 29).bitwiseAND(F.lit(mask))
    y = F.col("cell_id").bitwiseAND(F.lit(mask))
    return agg.select(
        "cell_id",
        "n_points",
        (x.cast("double") / n * 360.0 - 180.0).alias("lon_min"),
        (90.0 - (y + 1).cast("double") / n * 180.0).alias("lat_min"),
        ((x + 1).cast("double") / n * 360.0 - 180.0).alias("lon_max"),
        (90.0 - y.cast("double") / n * 180.0).alias("lat_max"),
    )


def density_contours(points: DataFrame, level: int = 4,
                     min_points: int = 4) -> DataFrame:
    """Raster -> vector: threshold the density grid and merge
    horizontally adjacent dense cells into row runs (the
    gaps-and-islands contour of the heatmap; the inverse direction of
    cover_tiles/grid_density, closing the north rule's raster<->vector
    pairing).

    Plan: the grid aggregation (one map-side-combined shuffle on
    (x, y)) -> threshold filter -> ONE window per grid row y ordered
    by x (island key = x - row_number, so consecutive x collapse to a
    constant) -> re-aggregate per (y, island). The window and the
    final groupBy share the y-partitioning, and the window's state is
    one running count — at 100 TB the dense-cell table is bounded by
    the grid size (4^level), not the input.

    Output: (y, x0, x1, n_cells, n_points, lon_min, lat_min, lon_max,
    lat_max) — one row per maximal horizontal run of dense cells.
    """
    nf = float(1 << level)
    gx, gy = cellmod.grid_xy("lon", "lat", level)
    dense = (
        points.groupBy(gx.alias("x"), gy.alias("y"))
        .agg(F.count("*").alias("n_points"))
        .filter(F.col("n_points") >= min_points)
    )
    w = Window.partitionBy("y").orderBy("x")
    runs = dense.withColumn("island", F.col("x") - F.row_number().over(w))
    out = runs.groupBy("y", "island").agg(
        F.min("x").alias("x0"),
        F.max("x").alias("x1"),
        F.count("*").cast("int").alias("n_cells"),
        F.sum("n_points").alias("n_points"),
    )
    return out.select(
        "y", "x0", "x1", "n_cells", "n_points",
        (F.col("x0").cast("double") / nf * 360.0 - 180.0).alias("lon_min"),
        (90.0 - (F.col("y") + 1).cast("double") / nf * 180.0).alias("lat_min"),
        ((F.col("x1") + 1).cast("double") / nf * 360.0 - 180.0).alias("lon_max"),
        (90.0 - F.col("y").cast("double") / nf * 180.0).alias("lat_max"),
    )


def hot_cells(points: DataFrame, level: int = 4, top: int = 20) -> DataFrame:
    """Skew diagnostic over the engine's real spatial index: per-cell
    point counts ranked against the mean cell load.

    This is the observability half of SURVEY §4.2.2's hot-cell salting
    strategy — before choosing a salt factor you measure which cells
    are hot and by how much. Output: the `top` heaviest cells as
    (cell_id, n_points, skew_ratio) where skew_ratio = n_points /
    (total_points / n_distinct_cells); a ratio near 1 means uniform
    load, >> 1 flags a straggler cell that salting must split.

    Scale path: one map-side-combined shuffle on cell_id (the same
    partial-agg plan as a word count); the per-cell histogram is at
    most 4^level rows, so the mean and the top-k sort run on a
    broadcast-sized frame. Cell encode is `cells.cell_col` — pure JVM
    integer/float math inside whole-stage codegen.

    Deterministic: ties in n_points break on cell_id ascending, so the
    LIMIT boundary is engine-independent.
    """
    # A point with a null coordinate is in no cell: it is neither a
    # hot cell nor part of the mean load.
    counts = (
        points.select(cellmod.cell_col("lon", "lat", level).alias("cell_id"))
        .where("cell_id IS NOT NULL")
        .groupBy("cell_id")
        .agg(F.count("*").alias("n_points"))
    )
    stats = counts.agg(
        F.sum("n_points").alias("total"), F.count("*").alias("n_cells")
    )
    return (
        counts.crossJoin(F.broadcast(stats))
        .select(
            "cell_id",
            "n_points",
            (F.col("n_points") / (F.col("total") / F.col("n_cells"))).alias(
                "skew_ratio"
            ),
        )
        .orderBy(F.col("n_points").desc(), F.col("cell_id").asc())
        .limit(top)
    )


def compact_cover(cover: DataFrame) -> DataFrame:
    """One-level quadtree compaction of a tile cover (Iceberg-manifest
    style cell compaction; complements cover_tiles): wherever all four
    z-level children of a z-1 parent are covered for a polygon, the
    family is replaced by the single parent tile — the parent quadkey
    is the child quadkey minus its last digit, so no re-projection
    happens. Partial families pass through unchanged.

    Plan shape: the family count (groupBy) and the join back both key
    on (poly_id, px, py), so the join reuses the aggregation's
    partitioning — ONE shuffle; output is never larger than the input
    and shrinks 4→1 per full family. Applying the operator
    repeatedly compacts higher levels (it is idempotent once no full
    family remains).

    cover(poly_id, z, x, y, quadkey) -> same schema, mixed z/z-1 rows.
    """
    wp = cover.withColumn("px", F.shiftright("x", 1)).withColumn(
        "py", F.shiftright("y", 1)
    )
    cnt = wp.groupBy("poly_id", "px", "py").agg(F.count("*").alias("n"))
    j = wp.join(cnt, ["poly_id", "px", "py"])
    full = (
        j.filter("n = 4")
        .select(
            "poly_id",
            (F.col("z") - 1).cast("int").alias("z"),
            F.col("px").alias("x"),
            F.col("py").alias("y"),
            F.expr("substring(quadkey, 1, length(quadkey) - 1)").alias("quadkey"),
        )
        .distinct()
    )
    partial = j.filter("n < 4").select("poly_id", "z", "x", "y", "quadkey")
    return full.unionByName(partial)


def merge_density(old_agg: DataFrame, delta_agg: DataFrame) -> DataFrame:
    """Incremental maintenance of the grid_density continuous
    aggregate: merge the stored aggregate with the aggregate of an
    append-only changelog (Table.read_incremental) instead of
    recomputing over the full table.

    Counts are associative (sum), and the bound columns are pure
    functions of cell_id, so a full-outer merge on cell_id with
    coalesce'd bounds reproduces grid_density(full) EXACTLY —
    asserted in tests/test_incremental.py. At 100 TB this turns the
    refresh cost from O(table) into O(delta): the delta aggregate
    shuffles only delta cells, and the merge join carries two
    grid-bounded frames.
    """
    o = old_agg.select(
        "cell_id", F.col("n_points").alias("n_old"),
        "lon_min", "lat_min", "lon_max", "lat_max",
    )
    d = delta_agg.select(
        "cell_id", F.col("n_points").alias("n_new"),
        F.col("lon_min").alias("d_lon_min"), F.col("lat_min").alias("d_lat_min"),
        F.col("lon_max").alias("d_lon_max"), F.col("lat_max").alias("d_lat_max"),
    )
    j = o.join(d, "cell_id", "full_outer")
    return j.select(
        "cell_id",
        (F.coalesce("n_old", F.lit(0)) + F.coalesce("n_new", F.lit(0)))
        .alias("n_points"),
        F.coalesce("lon_min", "d_lon_min").alias("lon_min"),
        F.coalesce("lat_min", "d_lat_min").alias("lat_min"),
        F.coalesce("lon_max", "d_lon_max").alias("lon_max"),
        F.coalesce("lat_max", "d_lat_max").alias("lat_max"),
    )


IDW_W_SCALE = 1000000000.0  # weight quantizer: w = floor(SCALE/(1+d^2))


def idw_surface(points: DataFrame, value, level: int = 6) -> DataFrame:
    """Inverse-distance-weighted surface estimation: interpolate a
    per-point value onto the quadtree grid (the raster-estimation
    complement of grid_density — density counts points, IDW estimates
    a field). Each point contributes to its own cell and the 8
    neighbors; the estimate at a cell center is sum(w*v)/sum(w) with
    w = floor(SCALE / (1 + d^2)), d = planar distance from the point
    to the target cell center.

    Exactness: weights are QUANTIZED to BIGINT before aggregation, so
    both weighted sums are order-free exact integers and the single
    final division is the only float op — the DuckDB mirror hashes
    exactly. SCALE=1e9 keeps w*v far from BIGINT overflow while
    resolving d^2 differences of ~1e-7 at level 6.

    Scale: one bounded JVM explode (x9) then ONE shuffle keyed by
    (x, y) with map-side partial aggregation — each input partition
    ships at most 9*|occupied cells| rows. No window, no Python.
    `value` is any integer-valued Column (cast to long here).
    """
    n = 1 << level
    nf = float(n)
    gx, gy = cellmod.grid_xy("lon", "lat", level)
    base = points.select(
        "lon", "lat", value.cast("long").alias("v"), gx.alias("gx"), gy.alias("gy")
    )
    offs = F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
        for dx in (-1, 0, 1) for dy in (-1, 0, 1)
    ])
    cand = (
        base.select("*", F.explode(offs).alias("o"))
        .select(
            "lon", "lat", "v",
            (F.col("gx") + F.col("o.dx")).alias("x"),
            (F.col("gy") + F.col("o.dy")).alias("y"),
        )
        .filter((F.col("x") >= 0) & (F.col("x") <= n - 1)
                & (F.col("y") >= 0) & (F.col("y") <= n - 1))
    )
    cx = (F.col("x").cast("double") + 0.5) / F.lit(nf) * 360.0 - 180.0
    cy = 90.0 - (F.col("y").cast("double") + 0.5) / F.lit(nf) * 180.0
    d2 = (F.col("lon") - cx) * (F.col("lon") - cx) + (F.col("lat") - cy) * (F.col("lat") - cy)
    w = F.floor(F.lit(IDW_W_SCALE) / (F.lit(1.0) + d2))
    return (
        cand.select("x", "y", "v", w.alias("w"))
        .groupBy("x", "y")
        .agg(
            F.sum(F.col("w") * F.col("v")).alias("swv"),
            F.sum("w").alias("sw"),
            F.count("*").alias("n_pts"),
        )
        .select(
            "x", "y", "swv", "sw", "n_pts",
            (F.col("swv").cast("double") / F.col("sw").cast("double")).alias("idw_value"),
        )
    )


def sample_density_at_points(points: DataFrame, level: int = 6) -> DataFrame:
    """Raster sampling: annotate each point with the density of its
    own grid cell (the vector<-raster read-back: classify points by
    how crowded their neighborhood is — sampling weights, outlier
    screens, stratified splits).

    Scale: the density grid is BOUNDED (<= 4^level rows), so after the
    one map-side-combined aggregation shuffle it broadcasts back onto
    the point side — the points themselves NEVER shuffle. At level 6
    that is <= 4096 rows against 10^12 points.
    """
    gx, gy = cellmod.grid_xy("lon", "lat", level)
    cells = points.select("doc_id", gx.alias("x"), gy.alias("y"))
    grid = cells.groupBy("x", "y").agg(F.count("*").alias("cell_density"))
    return cells.join(F.broadcast(grid), ["x", "y"]).select(
        "doc_id", "x", "y", "cell_density"
    )


def label_dense_regions(
    points: DataFrame, level: int = 4, min_points: int = 4, max_rounds: int = 64,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """2D raster segmentation: label maximal 4-connected regions of
    dense grid cells (the DBSCAN-shaped completion of
    density_contours, which only merges cells within one row). Output:
    (x, y, n_points, region_id) per dense cell; region_id is the
    lexicographic min of the region's zero-padded cell keys —
    deterministic and engine-independent.

    Plan: the density grid is BOUNDED (<= 4^level cells), so after the
    one map-side-combined aggregation shuffle everything downstream —
    the two adjacency self-joins and the min-label rounds — runs on a
    grid-sized table, never on points. Components reuse
    dedup.duplicate_clusters (iterative min-label propagation with
    per-round lineage truncation); a level-l grid's worst-case region
    diameter is 2*2^l, so max_rounds must be >= that (64 covers
    level <= 5; raise it for finer grids).
    """
    from geo_import_spark.operators import dedup as dedupmod

    n = 1 << level
    gx, gy = cellmod.grid_xy("lon", "lat", level)
    # pad width sized from the level: lpad TRUNCATES strings longer
    # than the width (both engines), so a fixed 3 would silently
    # collide distinct cells at level >= 10 (4-digit coords); %0Nd
    # format never truncates (ADVICE r3). max(3, digits) keeps the
    # keys byte-identical to the historical lpad-3 form at level <= 9.
    width = max(3, len(str(n - 1)))
    key = F.format_string(
        f"c%0{width}d%0{width}d", F.col("x"), F.col("y")
    )
    dense = (
        points.groupBy(gx.alias("x"), gy.alias("y"))
        .agg(F.count("*").alias("n_points"))
        .filter(F.col("n_points") >= min_points)
        .withColumn("cell", key)
    )
    a, b = dense.alias("a"), dense.alias("b")
    right = a.join(
        b, (F.col("b.x") == F.col("a.x") + 1) & (F.col("b.y") == F.col("a.y"))
    ).select(F.col("a.cell").alias("doc_a"), F.col("b.cell").alias("doc_b"))
    down = a.join(
        b, (F.col("b.x") == F.col("a.x")) & (F.col("b.y") == F.col("a.y") + 1)
    ).select(F.col("a.cell").alias("doc_a"), F.col("b.cell").alias("doc_b"))
    labels = dedupmod.duplicate_clusters(
        dense.select(F.col("cell").alias("doc_id")),
        pairs=right.unionAll(down),
        max_rounds=max_rounds,
        # durable rounds + resume pass straight through to the
        # min-label loop (plans/itercheckpoint.py)
        checkpoint_dir=checkpoint_dir,
    )
    return dense.join(labels, dense["cell"] == labels["doc_id"]).select(
        "x", "y", "n_points", F.col("cluster_rep").alias("region_id")
    )


# ---------------------------------------------------------------------------
# Adaptive quadtree tiling: the skew-killing repartitioning layout the
# north rule names ("adaptive repartitioning to kill geometry skew").
# ---------------------------------------------------------------------------

QT_MAX_LEVEL = 8     # finest split: 256 x 256
QT_MAX_PER_TILE = 100


def tile_pyramid(points: DataFrame, max_level: int = QT_MAX_LEVEL) -> DataFrame:
    """Full tile pyramid: (level, tx, ty, n_points) for EVERY occupied
    tile at every level 0..max_level — the multi-resolution count
    surface a tile server renders zoom levels from.

    The point table is touched ONCE (map-side-combined histogram at
    the finest level, lineage pinned by a grid-bounded localCheckpoint
    because the rollup union and adaptive_tiles' parent self-join
    reference the frame ~2x(max_level+1) times); each coarser level
    ROLLS UP from the previous with a tiny grid-bounded aggregate —
    exact integer sums, so the rollup is bit-identical to the
    per-level GROUP BY the SQL mirror runs. A point with a null
    coordinate is in no tile.
    """
    gx, gy = cellmod.grid_xy("lon", "lat", max_level)
    finest = (
        points.select(gx.alias("tx"), gy.alias("ty"))
        .where("tx IS NOT NULL AND ty IS NOT NULL")
        .groupBy("tx", "ty")
        .agg(F.count("*").alias("n_points"))
        .withColumn("level", F.lit(max_level))
        .localCheckpoint()
    )
    levels = [finest]
    for lvl in range(max_level - 1, -1, -1):
        child = levels[-1]
        levels.append(
            child.groupBy(
                F.shiftright("tx", 1).alias("tx"),
                F.shiftright("ty", 1).alias("ty"),
            )
            .agg(F.sum("n_points").alias("n_points"))
            .withColumn("level", F.lit(lvl))
        )
    counts = levels[0]
    for f in levels[1:]:
        counts = counts.unionByName(f)
    return counts.select("level", "tx", "ty", "n_points")


def sql_tile_pyramid(sql_points: str, max_level: int = QT_MAX_LEVEL) -> str:
    n = 1 << max_level
    lv = ", ".join(f"({v})" for v in range(max_level + 1))
    return f"""
WITH pts AS ({sql_points}), fine AS (
  SELECT GREATEST(LEAST(CAST(FLOOR((lon + 180.0) / 360.0 * {n}.0) AS BIGINT), {n - 1}), 0) AS fx,
         GREATEST(LEAST(CAST(FLOOR((90.0 - lat) / 180.0 * {n}.0) AS BIGINT), {n - 1}), 0) AS fy
  FROM pts
), lv(l) AS (VALUES {lv})
SELECT l AS level, fx >> ({max_level} - l) AS tx,
       fy >> ({max_level} - l) AS ty, COUNT(*) AS n_points
FROM fine, lv GROUP BY 1, 2, 3
"""


def adaptive_tiles(
    points: DataFrame,
    max_level: int = QT_MAX_LEVEL,
    max_per_tile: int = QT_MAX_PER_TILE,
) -> DataFrame:
    """Adaptive quadtree leaves: (level, tx, ty, n_points) such that the
    leaves PARTITION the space — every point has exactly one leaf
    ancestor — and every leaf holds <= max_per_tile points unless it
    sits at max_level (a hot cell denser than the finest split, the
    case hot-cell salting handles downstream).

    A tile is a leaf iff its count <= max_per_tile and it is the
    SHALLOWEST such ancestor (root, or parent count > max_per_tile);
    tiles at max_level keep their overflow as forced leaves.

    Plan (the 100-TB story): the point table is touched ONCE — a
    map-side-combined histogram at the finest level. Counts at coarser
    levels ROLL UP from the finest grid (max_level tiny aggregates on
    grid-bounded frames — never re-scanning points, unlike the
    per-level GROUP BY the SQL mirror uses). The leaf predicate is one
    self-join of the bounded count table against itself on the parent
    key. This is exactly the split layout a geometry-skewed ingest
    repartitions by: uniform areas get coarse tiles, hot spots split
    to the floor, and downstream stages key by (level, tx, ty).
    """
    counts = tile_pyramid(points, max_level)
    parent = counts.select(
        F.col("level").alias("p_level"),
        F.col("tx").alias("p_tx"),
        F.col("ty").alias("p_ty"),
        F.col("n_points").alias("p_n"),
    )
    joined = counts.join(
        parent,
        (F.col("p_level") == F.col("level") - 1)
        & (F.col("p_tx") == F.shiftright("tx", 1))
        & (F.col("p_ty") == F.shiftright("ty", 1)),
        "left",
    )
    k = int(max_per_tile)
    is_leaf = (
        (F.col("n_points") <= k)
        & ((F.col("level") == 0) | (F.col("p_n") > k))
    ) | ((F.col("level") == max_level) & (F.col("n_points") > k))
    return joined.filter(is_leaf).select("level", "tx", "ty", "n_points")


def sql_adaptive_tiles(
    sql_points: str,
    max_level: int = QT_MAX_LEVEL,
    max_per_tile: int = QT_MAX_PER_TILE,
) -> str:
    """DuckDB mirror: finest-grid cells once, per-level counts via a
    levels VALUES cross join + shifts (bit-identical to the rollup
    because integer sums are associative), same leaf predicate."""
    n = 1 << max_level
    k = int(max_per_tile)
    lv = ", ".join(f"({v})" for v in range(max_level + 1))
    return f"""
WITH pts AS ({sql_points}), fine AS (
  SELECT GREATEST(LEAST(CAST(FLOOR((lon + 180.0) / 360.0 * {n}.0) AS BIGINT), {n - 1}), 0) AS fx,
         GREATEST(LEAST(CAST(FLOOR((90.0 - lat) / 180.0 * {n}.0) AS BIGINT), {n - 1}), 0) AS fy
  FROM pts
), lv(l) AS (VALUES {lv}),
counts AS (
  SELECT l AS level, fx >> ({max_level} - l) AS tx,
         fy >> ({max_level} - l) AS ty, COUNT(*) AS n_points
  FROM fine, lv GROUP BY 1, 2, 3
)
SELECT c.level, c.tx, c.ty, c.n_points
FROM counts c LEFT JOIN counts p
  ON p.level = c.level - 1 AND p.tx = c.tx >> 1 AND p.ty = c.ty >> 1
WHERE (c.n_points <= {k} AND (c.level = 0 OR p.n_points > {k}))
   OR (c.level = {max_level} AND c.n_points > {k})
"""


# ---------------------------------------------------------------------------
# Raster focal convolution: 5x5 binomial (Gaussian-approximating) kernel
# ---------------------------------------------------------------------------

CONV_LEVEL = 6
CONV_W = (1, 4, 6, 4, 1)  # binomial row; 2D kernel = outer product /256


def raster_convolve(points: DataFrame, level: int = CONV_LEVEL) -> DataFrame:
    """(x, y, n_points, smooth) per OCCUPIED grid cell, where smooth is
    the exact integer 5x5 binomial-kernel focal sum (sum of
    wx*wy*count over the neighborhood — the separable Gaussian
    approximation used for raster heatmaps; unnormalized so every
    value stays an exact BIGINT).

    Plan: one map-side-combined histogram shuffle over points, then a
    bounded x25 map-side explode of the CELL table and one grid-keyed
    aggregate — the raster convolution idiom that never re-touches
    points (edge cells simply sum the kernel taps that land on the
    grid, standard 'kernel crop' boundary handling).
    """
    gx, gy = cellmod.grid_xy("lon", "lat", level)
    hist = points.groupBy(gx.alias("x"), gy.alias("y")).agg(
        F.count("*").alias("n_points")
    )
    taps = F.array(
        *[
            F.struct(F.lit(o).alias("o"), F.lit(w).alias("w"))
            for o, w in zip((-2, -1, 0, 1, 2), CONV_W)
        ]
    )
    contrib = (
        hist.withColumn("tx", F.explode(taps))
        .withColumn("ty", F.explode(taps))
        .select(
            (F.col("x") + F.col("tx.o")).alias("x"),
            (F.col("y") + F.col("ty.o")).alias("y"),
            (F.col("tx.w") * F.col("ty.w") * F.col("n_points")).alias("c"),
        )
    )
    smooth = contrib.groupBy("x", "y").agg(F.sum("c").alias("smooth"))
    return hist.join(smooth, ["x", "y"]).select(
        "x", "y", "n_points", "smooth"
    )


def sql_raster_convolve(sql_points: str, level: int = CONV_LEVEL) -> str:
    n = 1 << level
    taps = ", ".join(
        f"({o}, {w})" for o, w in zip((-2, -1, 0, 1, 2), CONV_W)
    )
    return f"""
WITH pts AS ({sql_points}), d AS (
  SELECT GREATEST(LEAST(CAST(FLOOR((lon + 180.0) / 360.0 * {n}.0) AS BIGINT), {n - 1}), 0) AS x,
         GREATEST(LEAST(CAST(FLOOR((90.0 - lat) / 180.0 * {n}.0) AS BIGINT), {n - 1}), 0) AS y,
         COUNT(*) AS n_points
  FROM pts GROUP BY 1, 2
), taps(o, w) AS (VALUES {taps}),
sm AS (
  SELECT d.x + tx.o AS x, d.y + ty.o AS y,
         SUM(tx.w * ty.w * n_points) AS smooth
  FROM d, taps tx, taps ty
  GROUP BY 1, 2
)
SELECT d.x, d.y, d.n_points, sm.smooth
FROM d JOIN sm ON sm.x = d.x AND sm.y = d.y
"""


# ---------------------------------------------------------------------------
# Tile-level feature thinning (map generalization)
# ---------------------------------------------------------------------------

THIN_LEVEL = 6
THIN_K = 3


def tile_thin(points: DataFrame, level: int = THIN_LEVEL,
              k: int = THIN_K) -> DataFrame:
    """Per-tile feature thinning: keep at most k representative points
    per grid tile plus the tile's true total — what a renderer serves
    at low zoom instead of every feature (map generalization /
    clustering markers).

    Representatives are the k smallest (md5(doc_id), doc_id) — a
    deterministic, rehash-stable pseudo-random pick (the md5-rank
    idiom of trainprep.source_mix_sample), totally ordered so both
    engines choose identical rows. One shuffle keyed by tile: the
    ranking window and the count share the same hash partitioning.

    Output: (x, y, doc_id, rk, n_in_tile), rk in 1..k.
    """
    gx, gy = cellmod.grid_xy("lon", "lat", level)
    cells = points.select("doc_id", gx.alias("x"), gy.alias("y"))
    w = Window.partitionBy("x", "y").orderBy(
        F.md5(F.col("doc_id").cast("string")).asc(), F.col("doc_id").asc()
    )
    wc = Window.partitionBy("x", "y")
    return (
        cells.select(
            "x", "y", "doc_id",
            F.row_number().over(w).alias("rk"),
            F.count("*").over(wc).alias("n_in_tile"),
        )
        .filter(F.col("rk") <= int(k))
    )


def sql_tile_thin(sql_points: str, level: int = THIN_LEVEL,
                  k: int = THIN_K) -> str:
    n = 1 << level
    return f"""
WITH pts AS ({sql_points}), cells AS (
  SELECT doc_id,
         GREATEST(LEAST(CAST(FLOOR((lon + 180.0) / 360.0 * {n}.0) AS BIGINT), {n - 1}), 0) AS x,
         GREATEST(LEAST(CAST(FLOOR((90.0 - lat) / 180.0 * {n}.0) AS BIGINT), {n - 1}), 0) AS y
  FROM pts
)
SELECT x, y, doc_id, rk, n_in_tile FROM (
  SELECT x, y, doc_id,
         row_number() OVER (PARTITION BY x, y
                            ORDER BY md5(doc_id), doc_id) AS rk,
         COUNT(*) OVER (PARTITION BY x, y) AS n_in_tile
  FROM cells
) WHERE rk <= {int(k)}
"""


def buffer_cells(polygons: DataFrame, z: int = 7, k: int = 1) -> DataFrame:
    """Raster buffer: the polygon's z-level tile cover DILATED by k
    rings of Chebyshev distance — the cell-lattice form of a polygon
    buffer (cells within k tiles of the covered region). The discrete
    twin of a metric ST_Buffer: rendering pads a halo, spatial joins
    use it as a within-distance prefilter.

    Output: (poly_id, z, x, y, is_core) — one row per buffered tile;
    is_core marks tiles of the original cover (the k-ring halo is
    is_core = false). Tiles dilated past the world edge
    [0, 2^z) × [0, 2^z) are dropped (no x-wraparound: the corpus is
    clamped away from the antimeridian, and the oracle applies the
    same range filter).

    Plan: cover_tiles' JVM fan-out, then a (2k+1)²-way explode of
    literal offsets (map-side) and ONE map-side-combined aggregate on
    (poly_id, x, y) that both dedups overlapping halos and recovers
    is_core as max(dx=0 ∧ dy=0) — zero offsets generate exactly the
    core cells, so membership needs no second join against the cover.
    Integer-only; bounded by (2k+1)² · |cover|.
    """
    n = 1 << z
    offs = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in range(-k, k + 1)
            for dy in range(-k, k + 1)
        ]
    )
    ex = (
        cover_tiles(polygons, z=z)
        .select("poly_id", "x", "y", F.explode(offs).alias("o"))
        .select(
            "poly_id",
            (F.col("x") + F.col("o.dx")).alias("bx"),
            (F.col("y") + F.col("o.dy")).alias("by"),
            F.when(
                (F.col("o.dx") == 0) & (F.col("o.dy") == 0), F.lit(1)
            ).otherwise(F.lit(0)).alias("core"),
        )
        .filter(
            (F.col("bx") >= 0) & (F.col("bx") < n)
            & (F.col("by") >= 0) & (F.col("by") < n)
        )
    )
    return ex.groupBy("poly_id", "bx", "by").agg(
        F.max("core").alias("mc")
    ).select(
        "poly_id",
        F.lit(z).alias("z"),
        F.col("bx").alias("x"),
        F.col("by").alias("y"),
        (F.col("mc") == 1).alias("is_core"),
    )
