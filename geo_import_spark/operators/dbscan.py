"""Grid DBSCAN: density-based spatial clustering at cell granularity.

The classic DBSCAN (Ester et al., KDD'96) roles re-expressed over an
eps-sized grid so the whole algorithm is relational — no pairwise
distance joins, no per-row Python:

- a cell is CORE when its 3x3 Chebyshev neighborhood (eps ball at cell
  granularity) holds >= min_pts points;
- clusters are the 8-connected components of core cells;
- an occupied non-core cell adjacent (8-conn) to a core cell is a
  BORDER cell of that core's cluster (min label when several touch);
- everything else occupied is NOISE.

This is the standard grid/GriT-style DBSCAN approximation: exact
DBSCAN's eps ball lies between the 1-cell and 2-cell Chebyshev
neighborhoods, and at 100-TB scale the grid formulation is the one
that survives — the point table is touched ONCE (a map-side-combined
histogram shuffle); every later step runs on the bounded cell grid
(<= 4^level rows).

Differs from tiling.label_dense_regions (raster segmentation) in all
three DBSCAN-specific aspects: density is the NEIGHBORHOOD sum rather
than the cell's own count, connectivity is 8-way, and non-core cells
are classified border/noise instead of dropped.

Determinism contract: grid arithmetic is cells.grid_xy, the engine's
one clamp/floor grid formula (a null coordinate lands in no cell);
cluster ids are the lexicographic min of the component's zero-padded
cell keys (format_string %0Nd — never lpad, ADVICE r3); border ties
break to the min adjacent core label.

Reference parity: geo-import has no clustering (es6-lib decoders are
row streaming only); this extends the spatial-statistics family the
north rule's engine adds on top.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geo_import_spark.functions import cells as cellmod

DBSCAN_LEVEL = 5     # 32x32 grid (eps = 1 cell ~ 11.25 x 5.6 deg here;
                     # real deployments size the grid from eps)


def adaptive_min_pts(n_points: int, max_nbr: int, level: int) -> int:
    """Density-adaptive core threshold: the midpoint between the mean
    3x3 neighborhood count (m = 9*N integer-divided by the cell count)
    and the observed maximum. A fixed min_pts flips from all-noise to
    all-core as N grows, and mean+k*sigma overshoots because the
    corpus' multiplicative-hash lattice is SUB-Poisson (sf0.001
    neighborhood range is 4..19 around mean 13); the midpoint is
    non-degenerate whenever neighborhood counts vary at all. Two exact
    integer scalars -> pure integer math, mirrored verbatim in SQL."""
    m = (9 * int(n_points)) // (1 << (2 * level))
    return (m + int(max_nbr) + 2) // 2


def grid_dbscan(
    points: DataFrame,
    level: int = DBSCAN_LEVEL,
    min_pts: int | None = None,
    max_rounds: int = 64,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(x, y, n_points, role, cluster_id) for every occupied grid cell;
    role in {'core','border','noise'}, cluster_id NULL for noise.
    min_pts=None (default) derives the adaptive_min_pts threshold from
    the point count inside the plan — a broadcast 1-row frame, no
    driver collect.

    Plan shape (the 100-TB story): ONE shuffle touches point-sized
    data — the grid histogram with map-side partial aggregation.
    The 3x3 neighborhood sum is a bounded x9 map-side explode of the
    CELL table followed by a grid-keyed aggregate; core adjacency is
    four equi-joins of the core table against itself; components run
    min-label propagation on core cells only (dedup.duplicate_clusters,
    durable-checkpointable); border assignment is one more x8 explode
    + equi-join on the grid key. Every post-histogram frame is bounded
    by 4^level regardless of input size.
    """
    n = 1 << level
    gx, gy = cellmod.grid_xy("lon", "lat", level)
    width = max(3, len(str(n - 1)))
    key = F.format_string(f"c%0{width}d%0{width}d", F.col("x"), F.col("y"))

    # Lineage-pinned (ADVICE r4): core/occ/edge joins re-expand this
    # subtree many times; without the pin the executed plan re-scans
    # the point source per expansion, breaking the touched-ONCE
    # contract (tile_pyramid's grid-bounded localCheckpoint pattern).
    hist = (
        points.groupBy(gx.alias("x"), gy.alias("y"))
        .agg(F.count("*").alias("n_points"))
        .localCheckpoint(eager=True)
    )
    # 3x3 Chebyshev neighborhood total per target cell (off-grid
    # targets are harmless: they never match an occupied cell below).
    offs = F.explode(
        F.array(*[F.lit(v) for v in (-1, 0, 1)])
    )
    contrib = (
        hist.withColumn("dx", offs)
        .withColumn("dy", offs)
        .select(
            (F.col("x") + F.col("dx")).alias("x"),
            (F.col("y") + F.col("dy")).alias("y"),
            "n_points",
        )
    )
    nbr = contrib.groupBy("x", "y").agg(F.sum("n_points").alias("nbr_total"))
    # occ is also pinned: it feeds the threshold aggregate, the four
    # core self-joins, non_core, and the border explode — eight
    # re-expansions of a <=4^level-row frame otherwise.
    occ = (
        hist.join(nbr, ["x", "y"]).withColumn("cell", key)
        .localCheckpoint(eager=True)
    )

    if min_pts is None:
        thr = occ.agg(
            F.sum("n_points").alias("n"), F.max("nbr_total").alias("mx")
        ).select(
            F.expr(
                f"((9 * n) DIV {1 << (2 * level)} + mx + 2) DIV 2"
            ).alias("thr")
        )
        occ = occ.crossJoin(F.broadcast(thr))
        core = occ.filter(F.col("nbr_total") >= F.col("thr")).drop("thr")
        occ = occ.drop("thr")
    else:
        core = occ.filter(F.col("nbr_total") >= int(min_pts))
    a, b = core.alias("a"), core.alias("b")
    dirs = [(1, -1), (1, 0), (1, 1), (0, 1)]
    half_edges = None
    for dx, dy in dirs:
        e = a.join(
            b,
            (F.col("b.x") == F.col("a.x") + dx)
            & (F.col("b.y") == F.col("a.y") + dy),
        ).select(F.col("a.cell").alias("doc_a"), F.col("b.cell").alias("doc_b"))
        half_edges = e if half_edges is None else half_edges.unionAll(e)

    from geo_import_spark.operators import dedup as dedupmod

    labels = dedupmod.duplicate_clusters(
        core.select(F.col("cell").alias("doc_id")),
        pairs=half_edges,
        max_rounds=max_rounds,
        checkpoint_dir=checkpoint_dir,
    )
    core_out = (
        core.join(labels, core["cell"] == labels["doc_id"])
        .select(
            "x", "y", "n_points",
            F.lit("core").alias("role"),
            F.col("cluster_rep").alias("cluster_id"),
        )
    )

    non_core = occ.join(core.select("x", "y"), ["x", "y"], "left_anti")
    core_lbl = (
        core.join(labels, core["cell"] == labels["doc_id"])
        .select(
            F.col("x").alias("nx"), F.col("y").alias("ny"), "cluster_rep"
        )
    )
    nbr_lbl = (
        non_core.withColumn("dx", offs)
        .withColumn("dy", offs)
        .filter((F.col("dx") != 0) | (F.col("dy") != 0))
        .join(
            core_lbl,
            (F.col("nx") == F.col("x") + F.col("dx"))
            & (F.col("ny") == F.col("y") + F.col("dy")),
        )
        .groupBy("x", "y")
        .agg(F.min("cluster_rep").alias("cluster_id"))
    )
    border_out = non_core.join(nbr_lbl, ["x", "y"]).select(
        "x", "y", "n_points", F.lit("border").alias("role"), "cluster_id"
    )
    noise_out = non_core.join(
        nbr_lbl.select("x", "y"), ["x", "y"], "left_anti"
    ).select(
        "x", "y", "n_points",
        F.lit("noise").alias("role"),
        F.lit(None).cast("string").alias("cluster_id"),
    )
    return core_out.unionAll(border_out).unionAll(noise_out)


def sql_grid_dbscan(
    sql_points: str,
    level: int = DBSCAN_LEVEL,
    min_pts: int | None = None,
) -> str:
    """DuckDB mirror: identical grid arithmetic, a VALUES-driven 3x3
    neighborhood sum, recursive-CTE components over core cells (the
    dense_regions template), min-adjacent-label border assignment,
    scalar-subquery adaptive threshold when min_pts is None."""
    n = 1 << level
    width = max(3, len(str(n - 1)))
    if min_pts is None:
        m = f"((9 * (SELECT SUM(n_points) FROM occ)) // {1 << (2 * level)})"
        thr = f"(({m} + (SELECT MAX(nbr_total) FROM occ) + 2) // 2)"
    else:
        thr = str(int(min_pts))
    return f"""
WITH RECURSIVE pts AS ({sql_points}), d AS (
  SELECT GREATEST(LEAST(CAST(FLOOR((lon + 180.0) / 360.0 * {n}.0) AS BIGINT), {n - 1}), 0) AS x,
         GREATEST(LEAST(CAST(FLOOR((90.0 - lat) / 180.0 * {n}.0) AS BIGINT), {n - 1}), 0) AS y,
         COUNT(*) AS n_points
  FROM pts GROUP BY 1, 2
), offs(o) AS (VALUES (-1), (0), (1)),
nb AS (
  SELECT d.x + ox.o AS x, d.y + oy.o AS y, SUM(n_points) AS nbr_total
  FROM d, offs ox, offs oy
  GROUP BY 1, 2
), occ AS (
  SELECT d.x, d.y, d.n_points, nb.nbr_total,
         printf('c%0{width}d%0{width}d', d.x, d.y) AS cell
  FROM d JOIN nb ON nb.x = d.x AND nb.y = d.y
), core AS (
  SELECT * FROM occ WHERE nbr_total >= {thr}
), e0 AS (
  SELECT a.cell AS src, b.cell AS dst FROM core a JOIN core b
    ON b.x = a.x + 1 AND b.y = a.y - 1
  UNION ALL
  SELECT a.cell, b.cell FROM core a JOIN core b
    ON b.x = a.x + 1 AND b.y = a.y
  UNION ALL
  SELECT a.cell, b.cell FROM core a JOIN core b
    ON b.x = a.x + 1 AND b.y = a.y + 1
  UNION ALL
  SELECT a.cell, b.cell FROM core a JOIN core b
    ON b.x = a.x AND b.y = a.y + 1
), edges AS (
  SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0
), walk(cell, label) AS (
  SELECT cell, cell FROM core
  UNION
  SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.cell
), labels AS (
  SELECT cell, MIN(label) AS cluster_id FROM walk GROUP BY cell
), core_out AS (
  SELECT c.x, c.y, c.n_points, 'core' AS role, l.cluster_id
  FROM core c JOIN labels l ON l.cell = c.cell
), non_core AS (
  SELECT o.* FROM occ o ANTI JOIN core c ON c.x = o.x AND c.y = o.y
), core_lbl AS (
  SELECT c.x AS nx, c.y AS ny, l.cluster_id
  FROM core c JOIN labels l ON l.cell = c.cell
), nbr_lbl AS (
  SELECT nc.x, nc.y, MIN(cl.cluster_id) AS cluster_id
  FROM non_core nc, offs ox, offs oy, core_lbl cl
  WHERE (ox.o != 0 OR oy.o != 0)
    AND cl.nx = nc.x + ox.o AND cl.ny = nc.y + oy.o
  GROUP BY nc.x, nc.y
), border_out AS (
  SELECT nc.x, nc.y, nc.n_points, 'border' AS role, nl.cluster_id
  FROM non_core nc JOIN nbr_lbl nl ON nl.x = nc.x AND nl.y = nc.y
), noise_out AS (
  SELECT nc.x, nc.y, nc.n_points, 'noise' AS role,
         CAST(NULL AS VARCHAR) AS cluster_id
  FROM non_core nc ANTI JOIN nbr_lbl nl ON nl.x = nc.x AND nl.y = nc.y
)
SELECT * FROM core_out
UNION ALL SELECT * FROM border_out
UNION ALL SELECT * FROM noise_out
"""
