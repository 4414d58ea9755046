"""Spatial statistics over the point corpus: Moran's I spatial
autocorrelation on the density grid, and Ripley-K-style pair counts
at multiple radii via the cell index.

Both follow the package's exactness discipline — integer lattices
until one final double expression — so the Spark plan and the DuckDB
oracle hash-match:

- **Moran's I** works on deviations scaled by the cell count:
  `d_i = n_cells·count_i − total` (BIGINT). Since
  `z_i = count_i − mean = d_i / n_cells`, the n_cells² factors cancel
  in `Σ w_ij z_i z_j / Σ z_i²`, so numerator `Σ d_i d_j` and
  denominator `Σ d_i²` stay exact integers; the statistic is one
  deterministic double expression `(n·num)/(W·den)` at the end.
- **Pair counts** compare exact squared micro-degree distances
  (`dx² + dy² ≤ r²` on BIGINTs). The Spark side buckets points into
  an integer grid sized to the largest radius and joins 3×3 neighbor
  cells — never a cross join; the DuckDB oracle brute-forces the
  same (deterministically sampled) subset, proving the bucketed plan
  equals the quadratic one.

Scale: the density grid is bounded by 4^level cells regardless of
input size, so the Moran adjacency join is dimension-sized. The pair
count shuffles points once by cell; the 9× explode is on the probe
side only, and skewed hot cells are bounded by the corpus density
cap. geo-import has no spatial statistics (reference parity: none —
engine extension per the brief, like operators/geomstats.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geo_import_spark.functions import cells as cellmod

MORAN_LEVEL = 6
_N = 1 << MORAN_LEVEL


def _grid_xy(points: DataFrame, *keep: str) -> DataFrame:
    """(*keep, x, y): each point's grid indices at MORAN_LEVEL from
    cells.grid_xy, the engine's grid formula (cell_col's arithmetic).
    A point with a null coordinate is in no cell, so it is dropped:
    it is neither counted in a real cell nor an areal unit itself."""
    gx, gy = cellmod.grid_xy("lon", "lat", MORAN_LEVEL)
    return points.select(*keep, gx.alias("x"), gy.alias("y")).where(
        "x IS NOT NULL AND y IS NOT NULL"
    )


def morans_i(points: DataFrame) -> DataFrame:
    """Global Moran's I of the point-density grid under rook
    adjacency over OCCUPIED cells (the standard occupied-lattice
    formulation; empty cells are not areal units).

    Output (one row): (n_cells, w_pairs, num, den, morans_i) where
    num = Σ_adjacent d_i·d_j (directed pairs), den = Σ d_i²,
    morans_i = (n_cells·num)/(w_pairs·den).

    Plan: one map-side-combined shuffle on (x, y) builds the grid
    (≤ 4^level rows); the scalar (total, n_cells) broadcasts back;
    rook adjacency is an EQUI-join — each cell emits its 4 neighbor
    coordinates and joins on exact (x, y) — never a theta join; the
    final aggregate is one row.
    """
    g = _grid_xy(points).groupBy("x", "y").agg(F.count("*").alias("n"))
    tot = g.agg(F.sum("n").alias("total"),
                F.count(F.lit(1)).alias("n_cells"))
    d = g.crossJoin(F.broadcast(tot)).select(
        "x", "y", "n_cells",
        (F.col("n_cells") * F.col("n") - F.col("total")).alias("di"),
    )
    neigh = d.select(
        "x", "y", "di",
        F.explode(
            F.array(
                F.struct((F.col("x") + 1).alias("nx"), F.col("y").alias("ny")),
                F.struct((F.col("x") - 1).alias("nx"), F.col("y").alias("ny")),
                F.struct(F.col("x").alias("nx"), (F.col("y") + 1).alias("ny")),
                F.struct(F.col("x").alias("nx"), (F.col("y") - 1).alias("ny")),
            )
        ).alias("nb"),
    ).select("di", F.col("nb.nx").alias("nx"), F.col("nb.ny").alias("ny"))
    pairs = neigh.join(
        d.select(F.col("x").alias("nx"), F.col("y").alias("ny"),
                 F.col("di").alias("dj")),
        ["nx", "ny"],
    )
    # COALESCE matches the oracle's num on degenerate inputs where no
    # two occupied cells are rook-adjacent (empty pairs frame -> SUM
    # is NULL); w_pairs = 0 then NULLs the statistic on both sides
    # instead of dividing by zero (ADVICE r3).
    #
    # Overflow headroom: |di| <= n_cells*N, so di*dj reaches ~1.7e7*N^2
    # — past int64 for a skewed corpus well under sf1. The products
    # and their sums accumulate as exact DECIMAL(38,0) (mirrored by
    # DuckDB's HUGEINT), and num/den are EXPOSED as doubles — both
    # engines convert the same exact integer to the same nearest
    # double, so the hash contract is unchanged by the widening.
    dd = lambda c: F.col(c).cast("decimal(19,0)")
    pstats = pairs.agg(
        F.count(F.lit(1)).alias("w_pairs"),
        F.coalesce(
            F.sum(dd("di") * dd("dj")), F.lit(0).cast("decimal(38,0)")
        ).cast("double").alias("num"),
    )
    dstats = d.agg(
        F.max("n_cells").alias("n_cells"),
        F.sum(dd("di") * dd("di")).cast("double").alias("den"),
    )
    return dstats.crossJoin(F.broadcast(pstats)).select(
        "n_cells", "w_pairs", "num", "den",
        F.when(
            F.col("w_pairs") > 0,
            (F.col("n_cells").cast("double") * F.col("num"))
            / (F.col("w_pairs").cast("double") * F.col("den")),
        ).alias("morans_i"),
    )


def gearys_c(points: DataFrame) -> DataFrame:
    """Global Geary's C of the point-density grid under rook
    adjacency over OCCUPIED cells — the local-contiguity companion to
    morans_i (C < 1: positive autocorrelation; C > 1: negative).

        C = (N−1)·Σ_adj (n_i−n_j)² / (2W·Σ (n_i−x̄)²)

    Exactness: the numerator needs NO mean (pairwise differences are
    translation-invariant) so Σ(n_i−n_j)² is an exact integer sum;
    the denominator reuses Moran's scaled deviations
    d_i = n_cells·n_i − total, with Σ z_i² = Σ d_i² / n_cells², so

        C = (n_cells−1)·num·n_cells² / (2·w_pairs·den)

    where num = Σ_adj (n_i−n_j)² and den = Σ d_i² are exact
    DECIMAL(38,0)/HUGEINT on the two engines; the statistic is ONE
    double division of two exactly-computed integers (both engines
    convert the same integer to the same nearest double — the
    morans_i discipline).

    Output (one row): (n_cells, w_pairs, num, den, gearys_c).

    Plan: identical shape to morans_i — one map-side-combined shuffle
    builds the ≤ 4^level-cell grid, rook adjacency is an exact-(x,y)
    EQUI-join of 4 exploded neighbor coordinates (never a theta
    join), two one-row aggregates, one broadcast cross of scalars.
    """
    g = _grid_xy(points).groupBy("x", "y").agg(F.count("*").alias("n"))
    tot = g.agg(F.sum("n").alias("total"),
                F.count(F.lit(1)).alias("n_cells"))
    d = g.crossJoin(F.broadcast(tot)).select(
        "x", "y", "n", "n_cells",
        (F.col("n_cells") * F.col("n") - F.col("total")).alias("di"),
    )
    neigh = d.select(
        "x", "y", "n",
        F.explode(
            F.array(
                F.struct((F.col("x") + 1).alias("nx"), F.col("y").alias("ny")),
                F.struct((F.col("x") - 1).alias("nx"), F.col("y").alias("ny")),
                F.struct(F.col("x").alias("nx"), (F.col("y") + 1).alias("ny")),
                F.struct(F.col("x").alias("nx"), (F.col("y") - 1).alias("ny")),
            )
        ).alias("nb"),
    ).select("n", F.col("nb.nx").alias("nx"), F.col("nb.ny").alias("ny"))
    pairs = neigh.join(
        d.select(F.col("x").alias("nx"), F.col("y").alias("ny"),
                 F.col("n").alias("nj")),
        ["nx", "ny"],
    )
    dd = lambda c: F.col(c).cast("decimal(19,0)")
    diff = dd("n") - dd("nj")
    pstats = pairs.agg(
        F.count(F.lit(1)).alias("w_pairs"),
        F.coalesce(
            F.sum(diff * diff), F.lit(0).cast("decimal(38,0)")
        ).alias("num_i"),
    )
    dstats = d.agg(
        F.max("n_cells").alias("n_cells"),
        F.sum(dd("di") * dd("di")).alias("den_i"),
    )
    nc = F.col("n_cells").cast("decimal(19,0)")
    return dstats.crossJoin(F.broadcast(pstats)).select(
        "n_cells", "w_pairs",
        F.col("num_i").cast("double").alias("num"),
        F.col("den_i").cast("double").alias("den"),
        F.when(
            (F.col("w_pairs") > 0) & (F.col("den_i") != 0),
            ((nc - 1) * F.col("num_i") * nc * nc).cast("double")
            / (F.lit(2).cast("decimal(19,0)")
               * F.col("w_pairs").cast("decimal(19,0)")
               * F.col("den_i")).cast("double"),
        ).alias("gearys_c"),
    )


def sql_gearys_c(sql_points: str) -> str:
    """DuckDB mirror: same integer lattice, same exact HUGEINT
    num/den, same single double division."""
    return f"""
WITH pts AS ({sql_points}), c AS (
  SELECT GREATEST(LEAST(CAST(floor((lon + 180.0) / 360.0 * {_N}.0) AS BIGINT), {_N - 1}), 0) AS x,
         GREATEST(LEAST(CAST(floor((90.0 - lat) / 180.0 * {_N}.0) AS BIGINT), {_N - 1}), 0) AS y
  FROM pts
),
g AS (SELECT x, y, count(*) AS n FROM c GROUP BY x, y),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total, count(*) AS n_cells FROM g),
d AS (SELECT x, y, n, n_cells, n_cells * n - total AS di FROM g, tot),
pairs AS (
  SELECT a.n AS n, b.n AS nj
  FROM d a JOIN d b ON abs(a.x - b.x) + abs(a.y - b.y) = 1
),
ps AS (SELECT count(*) AS w_pairs,
              COALESCE(SUM(CAST(a_diff AS HUGEINT) * a_diff),
                       CAST(0 AS HUGEINT)) AS num_i
       FROM (SELECT n - nj AS a_diff FROM pairs)),
ds AS (SELECT MAX(n_cells) AS n_cells,
              SUM(CAST(di AS HUGEINT) * di) AS den_i FROM d)
SELECT n_cells, w_pairs,
       CAST(num_i AS DOUBLE) AS num,
       CAST(den_i AS DOUBLE) AS den,
       CASE WHEN w_pairs > 0 AND den_i <> 0 THEN
         CAST((CAST(n_cells AS HUGEINT) - 1) * num_i
              * n_cells * n_cells AS DOUBLE)
           / CAST(CAST(2 AS HUGEINT) * w_pairs * den_i AS DOUBLE)
       END AS gearys_c
FROM ds, ps
"""


def sql_morans_i(sql_points: str) -> str:
    """DuckDB mirror over the same pts CTE used by the grid oracle."""
    return f"""
WITH pts AS ({sql_points}), c AS (
  SELECT GREATEST(LEAST(CAST(floor((lon + 180.0) / 360.0 * {_N}.0) AS BIGINT), {_N - 1}), 0) AS x,
         GREATEST(LEAST(CAST(floor((90.0 - lat) / 180.0 * {_N}.0) AS BIGINT), {_N - 1}), 0) AS y
  FROM pts
),
g AS (SELECT x, y, count(*) AS n FROM c GROUP BY x, y),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total, count(*) AS n_cells FROM g),
d AS (SELECT x, y, n_cells, n_cells * n - total AS di FROM g, tot),
pairs AS (
  SELECT a.di AS di, b.di AS dj
  FROM d a JOIN d b ON abs(a.x - b.x) + abs(a.y - b.y) = 1
),
ps AS (SELECT count(*) AS w_pairs,
              CAST(COALESCE(SUM(CAST(di AS HUGEINT) * dj), 0) AS DOUBLE)
                AS num FROM pairs),
ds AS (SELECT MAX(n_cells) AS n_cells,
              CAST(SUM(CAST(di AS HUGEINT) * di) AS DOUBLE) AS den FROM d)
SELECT n_cells, w_pairs, num, den,
       CASE WHEN w_pairs > 0 THEN
         (CAST(n_cells AS DOUBLE) * num)
           / (CAST(w_pairs AS DOUBLE) * den)
       END AS morans_i
FROM ds, ps
"""


# --- Ripley-style pair counts -------------------------------------------------

PAIR_SAMPLE_MOD = 8           # deterministic subset: doc number % 8 == 0
# the hashed corpus lattice is sparse at small SF (nearest sampled
# neighbors ~11° apart at sf0.001), so the radii start at 4°
PAIR_RADII_UDEG = (4_000_000, 8_000_000, 16_000_000)  # 4°, 8°, 16° in µdeg
_PAIR_CELL_UDEG = 16_000_000  # grid pitch ≥ max radius → 3×3 probe suffices


def pair_counts(points: DataFrame,
                radii_udeg: tuple[int, ...] = PAIR_RADII_UDEG) -> DataFrame:
    """Ordered point-pair counts within each planar radius (the
    Ripley's K numerator), on a deterministic 1/PAIR_SAMPLE_MOD
    subset of docs.

    Distances are EXACT: coordinates round to integer micro-degrees
    (they are µdeg-lattice values by corpus construction), and the
    test is `dx² + dy² ≤ r²` on BIGINTs — no float comparison.

    Plan: points shuffle ONCE by integer grid cell (pitch ≥ max
    radius); the left side explodes its 3×3 neighborhood and
    equi-joins on the cell key — the classic bucketed spatial join,
    never a cross join. Pairs count once via doc_a < doc_b. The
    oracle brute-forces the subset quadratically, so this query
    PROVES bucketed == all-pairs.
    """
    p = points.select(
        F.split(F.col("doc_id"), "-").getItem(1).cast("long").alias("id"),
        F.round(F.col("lon") * 1_000_000, 0).cast("long").alias("ix"),
        F.round(F.col("lat") * 1_000_000, 0).cast("long").alias("iy"),
    ).filter(F.col("id") % PAIR_SAMPLE_MOD == 0)
    cell = lambda c, off: F.expr(f"({c} + {off}) div {_PAIR_CELL_UDEG}")
    right = p.select(
        F.col("id").alias("id_b"), F.col("ix").alias("bx"),
        F.col("iy").alias("by"),
        cell("ix", 180_000_000).alias("gx"),
        cell("iy", 90_000_000).alias("gy"),
    )
    offsets = F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
        for dx in (-1, 0, 1) for dy in (-1, 0, 1)
    ])
    left = p.select(
        F.col("id").alias("id_a"), F.col("ix").alias("ax"),
        F.col("iy").alias("ay"),
        cell("ix", 180_000_000).alias("cgx"),
        cell("iy", 90_000_000).alias("cgy"),
        F.explode(offsets).alias("o"),
    ).select(
        "id_a", "ax", "ay",
        (F.col("cgx") + F.col("o.dx")).alias("gx"),
        (F.col("cgy") + F.col("o.dy")).alias("gy"),
    )
    max_r = max(radii_udeg)
    pairs = (
        left.join(right, ["gx", "gy"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            ((F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx"))
             + (F.col("ay") - F.col("by")) * (F.col("ay") - F.col("by"))
             ).alias("d2"))
        .filter(F.col("d2") <= F.lit(max_r * max_r))
    )
    # long literals: r² overflows int32 under ANSI arithmetic
    radii = F.array(*[F.lit(r).cast("long") for r in radii_udeg])
    return (
        pairs.select(F.explode(radii).alias("radius_udeg"), "d2")
        .filter(F.col("d2") <= F.col("radius_udeg") * F.col("radius_udeg"))
        .groupBy("radius_udeg")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def sql_pair_counts(sql_points: str,
                    radii_udeg: tuple[int, ...] = PAIR_RADII_UDEG) -> str:
    radii = ", ".join(str(r) for r in radii_udeg)
    return f"""
WITH pts AS ({sql_points}), p AS (
  SELECT CAST(split_part(doc_id, '-', 2) AS BIGINT) AS id,
         CAST(round(lon * 1000000, 0) AS BIGINT) AS ix,
         CAST(round(lat * 1000000, 0) AS BIGINT) AS iy
  FROM pts
  WHERE CAST(split_part(doc_id, '-', 2) AS BIGINT) % {PAIR_SAMPLE_MOD} = 0
),
d2s AS (
  SELECT (a.ix - b.ix) * (a.ix - b.ix)
       + (a.iy - b.iy) * (a.iy - b.iy) AS d2
  FROM p a JOIN p b ON a.id < b.id
),
radii AS (SELECT CAST(UNNEST(ARRAY[{radii}]) AS BIGINT) AS radius_udeg)
SELECT radius_udeg, count(*) AS n_pairs
FROM d2s JOIN radii ON d2 <= radius_udeg * radius_udeg
GROUP BY radius_udeg
"""


# --- Getis-Ord Gi* hotspot z-scores on the hex lattice --------------------------
#
# Gi* (Getis & Ord 1992, binary weights, self included) over the
# OCCUPIED hex cells: the universe is the set of non-empty cells, a
# cell's neighborhood is itself + its axial ring-1 neighbors that are
# occupied, and
#
#   z_i = (G_i - mean * W_i) / (S * sqrt((N*W_i - W_i^2) / (N - 1)))
#
# with G_i = neighborhood count sum, W_i = neighborhood size, N the
# number of occupied cells, mean = S1/N, S = sqrt(S2/N - mean^2).
# Everything up to z is exact BIGINT (N, S1, S2, G_i, W_i); z itself
# is ONE double expression template rendered identically for Spark
# and DuckDB, so even the doubles hash-match. Cells where the
# denominator degenerates (W_i = 0 never happens — self counts;
# S = 0 or N < 2) yield NULL.
#
# Scale: density is one point shuffle; contributions explode the
# 7-offset ring map-side and re-aggregate on the shifted key
# (cell-sized); the occupied filter is an equi-join of two cell-sized
# frames; the global (N, S1, S2) scalar broadcasts as a 1-row cross
# join (the tpch_q11 pattern). No point-side re-shuffle, no self-join
# of the point table.

HOTSPOT_RES = 3  # 8-degree hexes: dense enough for variance at sf0.001


def _z_expr(g: str, w: str, n: str, s1: str, s2: str) -> str:
    """The Gi* z-score as one engine-shared double expression over
    BIGINT columns."""
    d = lambda c: f"CAST({c} AS DOUBLE)"  # noqa: E731
    mean = f"({d(s1)} / {d(n)})"
    var = f"({d(s2)} / {d(n)} - {mean} * {mean})"
    num = f"({d(g)} - {mean} * {d(w)})"
    den = (
        f"(sqrt({var}) * sqrt(({d(n)} * {d(w)} - {d(w)} * {d(w)})"
        f" / ({d(n)} - CAST(1.0 AS DOUBLE))))"
    )
    return (
        f"CASE WHEN {n} > 1 AND {var} > CAST(0.0 AS DOUBLE)"
        f" AND {n} > {w} THEN {num} / {den} ELSE NULL END"
    )


def hex_hotspots(points: DataFrame, res: int = HOTSPOT_RES) -> DataFrame:
    """(hq, hr, n, w, g, z): per occupied hex cell its count, the
    occupied-neighborhood size and count sum (ring 1, self included),
    and the Gi* z-score (NULL when degenerate)."""
    from geo_import_spark.functions import hexgrid

    dens = (
        hexgrid.hex_cols(points, res)
        .groupBy("hq", "hr")
        .agg(F.count("*").alias("n"))
    )
    offs = F.array(*[
        F.struct(F.lit(dq).alias("dq"), F.lit(dr).alias("dr"))
        for dq, dr in hexgrid.kring_offsets(1)
    ])
    contrib = dens.select(
        "n", F.explode(offs).alias("o"),
        (F.col("hq") + F.col("o.dq")).alias("thq"),
        (F.col("hr") + F.col("o.dr")).alias("thr"),
    ).select("thq", "thr", "n")
    hood = contrib.groupBy("thq", "thr").agg(
        F.sum("n").alias("g"), F.count("*").alias("w")
    )
    occupied = dens.join(
        hood,
        (dens.hq == hood.thq) & (dens.hr == hood.thr),
    ).select("hq", "hr", "n", "w", "g")
    stats = dens.agg(
        F.count("*").alias("n_cells"),
        F.sum("n").alias("s1"),
        F.sum(F.col("n") * F.col("n")).alias("s2"),
    )
    z = _z_expr("g", "w", "n_cells", "s1", "s2")
    return occupied.crossJoin(F.broadcast(stats)).select(
        "hq", "hr", "n", "w", "g", F.expr(z).alias("z")
    )


def sql_hex_hotspots(sql_points: str, res: int = HOTSPOT_RES) -> str:
    from geo_import_spark.functions import hexgrid

    q, r = hexgrid.hex_qr_exprs("lon", "lat", hexgrid.size_for_res(res))
    values = ", ".join(f"({dq}, {dr})" for dq, dr in hexgrid.kring_offsets(1))
    z = _z_expr("g", "w", "n_cells", "s1", "s2")
    return f"""
WITH pts AS ({sql_points}),
dens AS (
  SELECT hq, hr, COUNT(*) AS n
  FROM (SELECT {q} AS hq, {r} AS hr FROM pts) GROUP BY hq, hr
),
off(dq, dr) AS (VALUES {values}),
hood AS (
  SELECT hq + dq AS thq, hr + dr AS thr,
         CAST(SUM(n) AS BIGINT) AS g, COUNT(*) AS w
  FROM dens CROSS JOIN off GROUP BY 1, 2
),
occupied AS (
  SELECT hq, hr, n, w, g
  FROM dens JOIN hood ON hq = thq AND hr = thr
),
stats AS (
  SELECT COUNT(*) AS n_cells, CAST(SUM(n) AS BIGINT) AS s1,
         CAST(SUM(n * n) AS BIGINT) AS s2
  FROM dens
)
SELECT hq, hr, n, w, g, {z} AS z
FROM occupied CROSS JOIN stats
"""


def zonal_stats(points: DataFrame, polygons: DataFrame,
                value_col: str = "value") -> DataFrame:
    """Zonal statistics — the standard geo-analytics reduction: for
    each polygon zone, aggregate the values of the points it contains
    (raster zonal stats with the engine's exact vector PIP as the
    zone test).

    Exactness: the value is quantized to BIGINT by the caller (the
    registered query uses the integer-valued a_num), so n / sum / min
    / max reduce exactly; mean is ONE closed-form double over the
    reduced integers — hash-identical across engines.

    Plan: pip_join's auto broadcast/shuffle cell join produces the
    (point, zone) pairs; the value rides through the join as a
    point_col (ONE pass over the point side — no join-back that would
    re-parse it), so the only extra work over the PIP itself is one
    map-side-combined aggregate keyed by poly_id (zone
    cardinality-sized output). Output:
    (poly_id, n_points, sum_val, min_val, max_val, mean_val).
    """
    from geo_import_spark.operators import pip as pipmod

    pts = points.select(
        "doc_id", "span_offset", "lon", "lat",
        F.col(value_col).cast("long").alias("v"),
    )
    joined = pipmod.pip_join(
        pts, polygons, point_cols=("doc_id", "span_offset", "v")
    )
    agg = joined.groupBy("poly_id").agg(
        F.count("*").alias("n_points"),
        F.sum("v").alias("sum_val"),
        F.min("v").alias("min_val"),
        F.max("v").alias("max_val"),
    )
    return agg.select(
        "poly_id", "n_points", "sum_val", "min_val", "max_val",
        (F.col("sum_val").cast("double") / F.col("n_points").cast("double"))
        .alias("mean_val"),
    )


def sql_zonal_stats(sql_points: str, sql_polygons: str) -> str:
    """DuckDB mirror: the strict-bbox containment oracle (the corpus
    zones are rectangles) + the identical exact aggregate tree."""
    return f"""
WITH pts AS ({sql_points}), polys AS ({sql_polygons}),
hits AS (
  SELECT g.poly_id, CAST(p.a_num AS BIGINT) AS v
  FROM pts p JOIN polys g
    ON p.lon > g.minx AND p.lon < g.maxx
   AND p.lat > g.miny AND p.lat < g.maxy
),
agg AS (
  SELECT poly_id, COUNT(*) AS n_points,
         CAST(SUM(v) AS BIGINT) AS sum_val,
         MIN(v) AS min_val, MAX(v) AS max_val
  FROM hits GROUP BY poly_id
)
SELECT poly_id, n_points, sum_val, min_val, max_val,
       CAST(sum_val AS DOUBLE) / CAST(n_points AS DOUBLE) AS mean_val
FROM agg
"""


# ---------------------------------------------------------------------------
# Local Moran's I (LISA) — per-cell spatial autocorrelation
# ---------------------------------------------------------------------------


def local_morans(points: DataFrame) -> DataFrame:
    """Per-cell Local Moran's I (Anselin 1995 LISA) of the density
    grid under rook adjacency over occupied cells — the local
    decomposition of the global morans_i (their sum relates by the
    constant W): I_i = n_cells · d_i · lag_i / Σ_k d_k², where
    d_i = n_cells·count_i − total (the module's n-scaled exact
    deviation; the n_cells factors cancel exactly as in the global
    statistic) and lag_i = Σ_{j rook-adj} d_j (binary weights).

    Output per occupied cell: (x, y, di, lag, lisa, label) with
    label the standard cluster code — HH (hot cluster), LL (cold
    cluster), HL / LH (outliers), NS where d_i or lag is 0 and on
    isolated cells.

    Exactness: di, lag exact BIGINTs; products widen to DECIMAL(38)
    (the global operators' overflow discipline — n_cells·di·lag
    brushes int64); lisa is ONE double division of two exactly-
    converted integers, so hash parity is structural. NULL lisa on
    the degenerate all-equal grid (den = 0), matching the global
    statistic's guard.

    Plan: the same dimension-sized shapes as morans_i — one grid
    shuffle, a broadcast scalar pair (total/n_cells, den), the
    4-neighbor EQUI-join, one groupBy on the cell key, and a LEFT
    join back so isolated cells keep lag = 0.
    """
    g = _grid_xy(points).groupBy("x", "y").agg(F.count("*").alias("n"))
    tot = g.agg(F.sum("n").alias("total"),
                F.count(F.lit(1)).alias("n_cells"))
    d = g.crossJoin(F.broadcast(tot)).select(
        "x", "y", "n_cells",
        (F.col("n_cells") * F.col("n") - F.col("total")).alias("di"),
    )
    dd = lambda c: F.col(c).cast("decimal(19,0)")
    den = d.agg(
        F.sum(dd("di") * dd("di")).cast("decimal(38,0)").alias("den")
    )
    contrib = d.select(
        F.col("di").alias("dj"),
        F.explode(
            F.array(
                F.struct((F.col("x") + 1).alias("x"), F.col("y").alias("y")),
                F.struct((F.col("x") - 1).alias("x"), F.col("y").alias("y")),
                F.struct(F.col("x").alias("x"), (F.col("y") + 1).alias("y")),
                F.struct(F.col("x").alias("x"), (F.col("y") - 1).alias("y")),
            )
        ).alias("nb"),
    ).select(F.col("nb.x").alias("x"), F.col("nb.y").alias("y"), "dj")
    lag = contrib.groupBy("x", "y").agg(F.sum("dj").alias("lag"))
    out = (
        d.join(lag, ["x", "y"], "left")
        .withColumn("lag", F.coalesce("lag", F.lit(0).cast("long")))
        .crossJoin(F.broadcast(den))
    )
    num = (
        F.col("n_cells").cast("decimal(38,0)")
        * F.col("di").cast("decimal(38,0)")
        * F.col("lag").cast("decimal(38,0)")
    )
    return out.select(
        "x",
        "y",
        "di",
        "lag",
        F.when(
            F.col("den") > 0,
            num.cast("decimal(38,0)").cast("double")
            / F.col("den").cast("double"),
        ).alias("lisa"),
        F.when((F.col("di") == 0) | (F.col("lag") == 0), F.lit("NS"))
        .when((F.col("di") > 0) & (F.col("lag") > 0), F.lit("HH"))
        .when((F.col("di") < 0) & (F.col("lag") < 0), F.lit("LL"))
        .when(F.col("di") > 0, F.lit("HL"))
        .otherwise(F.lit("LH"))
        .alias("label"),
    )


def sql_local_morans(sql_points: str) -> str:
    """Mirror over the same grid CTEs as sql_morans_i; HUGEINT
    products, one double division, identical label CASE."""
    return f"""
WITH pts AS ({sql_points}), c AS (
  SELECT GREATEST(LEAST(CAST(floor((lon + 180.0) / 360.0 * {_N}.0) AS BIGINT), {_N - 1}), 0) AS x,
         GREATEST(LEAST(CAST(floor((90.0 - lat) / 180.0 * {_N}.0) AS BIGINT), {_N - 1}), 0) AS y
  FROM pts
),
g AS (SELECT x, y, count(*) AS n FROM c GROUP BY x, y),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total, count(*) AS n_cells FROM g),
d AS (SELECT x, y, n_cells, n_cells * n - total AS di FROM g, tot),
den AS (SELECT SUM(CAST(di AS HUGEINT) * di) AS den FROM d),
contrib AS (
  SELECT nb.x AS x, nb.y AS y, d.di AS dj
  FROM d, LATERAL (VALUES (d.x + 1, d.y), (d.x - 1, d.y),
                          (d.x, d.y + 1), (d.x, d.y - 1)) AS nb(x, y)
),
lag AS (SELECT x, y, CAST(SUM(dj) AS BIGINT) AS lag
        FROM contrib GROUP BY x, y)
SELECT d.x AS x, d.y AS y, d.di AS di,
       COALESCE(lag.lag, 0) AS lag,
       CASE WHEN den.den > 0 THEN
         CAST(CAST(d.n_cells AS HUGEINT) * d.di
              * COALESCE(lag.lag, 0) AS DOUBLE)
           / CAST(den.den AS DOUBLE)
       END AS lisa,
       CASE WHEN d.di = 0 OR COALESCE(lag.lag, 0) = 0 THEN 'NS'
            WHEN d.di > 0 AND lag.lag > 0 THEN 'HH'
            WHEN d.di < 0 AND lag.lag < 0 THEN 'LL'
            WHEN d.di > 0 THEN 'HL'
            ELSE 'LH' END AS label
FROM d LEFT JOIN lag ON lag.x = d.x AND lag.y = d.y, den
"""


# ---------------------------------------------------------------------------
# Emerging hotspots: Mann-Kendall monthly trend per density-grid cell
# ---------------------------------------------------------------------------


def emerging_hotspots(points: DataFrame, months: DataFrame) -> DataFrame:
    """Space-time trend per occupied grid cell — the Mann-Kendall S
    statistic (Mann 1945 / Kendall 1975) over the cell's DENSE
    monthly count series, labeled like the classic emerging-hotspot
    analysis: 'inc' / 'dec' when the trend is significant at ~5%,
    else 'flat'.

    `months` maps doc_id -> month_id (the pip_month_counts calendar
    dimension); the month RANGE is global (from the calendar, not
    per cell), and missing (cell, month) pairs count 0 — trends are
    judged on the same dense series everywhere.

    Exactness end to end: S = Σ_{i<j} sign(c_j − c_i) is an exact
    integer; the normal-approximation significance test
    |S|/sqrt(Var), Var = n(n−1)(2n+5)/18, is evaluated WITHOUT sqrt
    or doubles as the equivalent integer comparison
        S² · 18 · 10⁴  >  38416 · n(n−1)(2n+5)        (1.96² = 3.8416)
    so the label is hash-stable by construction. (No tie correction:
    zero-differences simply contribute 0 to S, the plain-MK form.)

    Output: (x, y, n_months, s, label).

    Plan: points shuffle once to (cell, doc) and join the doc-keyed
    calendar; counts aggregate map-side; the dense frame is occupied
    cells × sequence(m0..m1) from a broadcast 1-row bound —
    dimension-sized (≤ 4^level · months). The pair stage self-joins
    the dense frame on the CELL key (both sides share the exchange),
    quadratic only in months-per-cell, which is calendar-bounded —
    the same bounded-quadratic argument as theil_sen after its
    guard.
    """
    cells = _grid_xy(points, "doc_id")
    hit_m = cells.join(months, "doc_id").select("x", "y", "month_id")
    # Lineage pins (the tile_pyramid/grid_dbscan discipline): counts
    # feeds three consumers (occupied, the left join, and — via dense
    # — both self-join sides); without the pins the executed plan
    # re-scans the point and calendar sources 10x (measured), with
    # them the fact tables are touched once per role.
    counts = (
        hit_m.groupBy("x", "y", "month_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )
    bounds = months.agg(
        F.min("month_id").alias("m0"), F.max("month_id").alias("m1")
    )
    occupied = counts.select("x", "y").distinct()
    dense = (
        occupied.crossJoin(F.broadcast(bounds))
        .select(
            "x", "y", "m0", "m1",
            F.explode(F.sequence("m0", "m1")).alias("month_id"),
        )
        .join(counts, ["x", "y", "month_id"], "left")
        .select(
            "x", "y", "month_id",
            (F.col("m1") - F.col("m0") + 1).alias("n_months"),
            F.coalesce("n", F.lit(0).cast("long")).alias("n"),
        )
        .localCheckpoint(eager=False)
    )
    a = dense.alias("a")
    b = dense.alias("b")
    s = (
        a.join(
            b,
            (F.col("a.x") == F.col("b.x"))
            & (F.col("a.y") == F.col("b.y"))
            & (F.col("b.month_id") > F.col("a.month_id")),
        )
        .groupBy(F.col("a.x").alias("x"), F.col("a.y").alias("y"))
        .agg(
            F.max(F.col("a.n_months")).alias("n_months"),
            F.sum(F.signum(F.col("b.n") - F.col("a.n")).cast("long"))
            .alias("s"),
        )
    )
    nm = F.col("n_months")
    var18 = nm * (nm - 1) * (2 * nm + 5)  # 18·Var, exact
    sig = (F.col("s") * F.col("s") * 18 * 10_000) > (38_416 * var18)
    return s.select(
        "x", "y", "n_months", "s",
        F.when(~sig, F.lit("flat"))
        .when(F.col("s") > 0, F.lit("inc"))
        .otherwise(F.lit("dec"))
        .alias("label"),
    )


def sql_emerging_hotspots(sql_points: str, sql_months: str) -> str:
    return f"""
WITH pts AS ({sql_points}),
mo AS ({sql_months}),
c AS (
  SELECT doc_id,
         GREATEST(LEAST(CAST(floor((lon + 180.0) / 360.0 * {_N}.0) AS BIGINT), {_N - 1}), 0) AS x,
         GREATEST(LEAST(CAST(floor((90.0 - lat) / 180.0 * {_N}.0) AS BIGINT), {_N - 1}), 0) AS y
  FROM pts
),
counts AS (
  SELECT x, y, month_id, COUNT(*) AS n
  FROM c JOIN mo USING (doc_id) GROUP BY x, y, month_id
),
bounds AS (SELECT MIN(month_id) AS m0, MAX(month_id) AS m1 FROM mo),
dense AS (
  SELECT o.x, o.y, m.month_id,
         b.m1 - b.m0 + 1 AS n_months,
         COALESCE(counts.n, 0) AS n
  FROM (SELECT DISTINCT x, y FROM counts) o
  CROSS JOIN bounds b
  CROSS JOIN LATERAL (
    SELECT unnest(generate_series(b.m0, b.m1)) AS month_id
  ) m
  LEFT JOIN counts ON counts.x = o.x AND counts.y = o.y
                  AND counts.month_id = m.month_id
),
s AS (
  SELECT a.x, a.y, MAX(a.n_months) AS n_months,
         CAST(SUM(SIGN(b.n - a.n)) AS BIGINT) AS s
  FROM dense a JOIN dense b
    ON b.x = a.x AND b.y = a.y AND b.month_id > a.month_id
  GROUP BY a.x, a.y
)
SELECT x, y, n_months, s,
       CASE WHEN NOT (s * s * 18 * 10000
                      > 38416 * n_months * (n_months - 1)
                              * (2 * n_months + 5)) THEN 'flat'
            WHEN s > 0 THEN 'inc'
            ELSE 'dec' END AS label
FROM s
"""


# ---------------------------------------------------------------------------
# Getis-Ord Gi* hotspot statistic per grid cell
# ---------------------------------------------------------------------------


def getis_ord(points: DataFrame) -> DataFrame:
    """Per-cell Getis-Ord Gi* (Getis & Ord 1992 / Ord & Getis 1995)
    of the density grid under QUEEN adjacency incl. self over
    occupied cells — the hotspot z-score the classic "hot spot
    analysis" tool computes:

        Gi* = (L_i - X_bar W_i) / (S sqrt[(n W_i - W_i^2)/(n-1)])

    with binary weights, L_i = sum of counts over the 3x3
    neighborhood's OCCUPIED cells, W_i their cell count (incl. self),
    n the occupied-cell count, X_bar = T/n, S = sqrt(nQ - T^2)/n
    (T = total points, Q = sum of squared counts). Multiplying
    through by n gives the all-integer form computed here:

        z_i = A_i * sqrt(n-1) / sqrt(B_i),
        A_i = n L_i - T W_i,   B_i = (nQ - T^2)(n W_i - W_i^2)

    Exactness: A_i is exact BIGINT; B_i widens to DECIMAL(38)
    (HUGEINT in the mirror — nQ brushes int64 at 100x counts); z is
    ONE double expression (two exact int->double casts, two
    correctly-rounded sqrts, one multiply, one divide — identical
    bits in both engines). NULL z where B_i <= 0 (the all-equal grid
    or W_i = n degeneracies). Labels at the standard Gi* confidence
    bins: |z| >= 2.576 -> hot99/cold99, >= 1.96 -> hot95/cold95,
    else ns.

    Plan: the local_morans shapes — one grid shuffle, a broadcast
    1-row scalar frame (T, n, Q), the 9-offset EQUI-join (queen +
    self, never a distance cross join), one groupBy on the cell key.
    The occupied-cell histogram is lineage-pinned (localCheckpoint,
    the tile_pyramid pattern) so its four consumers (tot, contrib,
    hood, out) share ONE point-table pass instead of re-expanding
    the scan — everything after it is dimension-sized at any scale.

    Output: (x, y, cnt, w_i, l_i, z, label).
    """
    g = (
        _grid_xy(points).groupBy("x", "y").agg(F.count("*").alias("n"))
        .localCheckpoint(eager=False)
    )
    tot = g.agg(
        F.sum("n").alias("total"),
        F.count(F.lit(1)).alias("n_cells"),
        F.sum(F.col("n").cast("decimal(19,0)") * F.col("n").cast("decimal(19,0)"))
        .cast("decimal(38,0)").alias("q"),
    )
    offsets = [
        F.struct((F.col("x") + dx).alias("x"), (F.col("y") + dy).alias("y"))
        for dx in (-1, 0, 1) for dy in (-1, 0, 1)
    ]
    contrib = g.select(
        F.col("n").alias("nj"), F.explode(F.array(*offsets)).alias("nb")
    ).select(F.col("nb.x").alias("x"), F.col("nb.y").alias("y"), "nj")
    # inner join back to occupied cells: contributions on empty cells drop
    hood = contrib.join(g.select("x", "y"), ["x", "y"]).groupBy("x", "y").agg(
        F.sum("nj").alias("l_i"), F.count(F.lit(1)).alias("w_i")
    )
    out = g.join(hood, ["x", "y"]).crossJoin(F.broadcast(tot))
    dd = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    a_i = (F.col("n_cells") * F.col("l_i") - F.col("total") * F.col("w_i"))
    b_i = (
        (dd("n_cells") * F.col("q") - dd("total") * dd("total"))
        * (dd("n_cells") * dd("w_i") - dd("w_i") * dd("w_i"))
    ).cast("decimal(38,0)")
    z = (
        a_i.cast("double")
        * F.sqrt((F.col("n_cells") - 1).cast("double"))
        / F.sqrt(b_i.cast("double"))
    )
    return out.select(
        "x", "y",
        F.col("n").alias("cnt"),
        "w_i", "l_i",
        F.when(b_i > 0, z).alias("z"),
        F.when(b_i <= 0, F.lit("ns"))
        .when(z >= 2.576, F.lit("hot99"))
        .when(z >= 1.96, F.lit("hot95"))
        .when(z <= -2.576, F.lit("cold99"))
        .when(z <= -1.96, F.lit("cold95"))
        .otherwise(F.lit("ns"))
        .alias("label"),
    )


def sql_getis_ord(sql_points: str) -> str:
    """Mirror over the same grid CTEs as sql_local_morans: 9-way
    LATERAL VALUES queen+self neighborhood, HUGEINT products, one
    double expression for z, identical label CASE."""
    return f"""
WITH pts AS ({sql_points}), c AS (
  SELECT GREATEST(LEAST(CAST(floor((lon + 180.0) / 360.0 * {_N}.0) AS BIGINT), {_N - 1}), 0) AS x,
         GREATEST(LEAST(CAST(floor((90.0 - lat) / 180.0 * {_N}.0) AS BIGINT), {_N - 1}), 0) AS y
  FROM pts
),
g AS (SELECT x, y, count(*) AS n FROM c GROUP BY x, y),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total, count(*) AS n_cells,
               SUM(CAST(n AS HUGEINT) * n) AS q
        FROM g),
contrib AS (
  SELECT nb.x AS x, nb.y AS y, g.n AS nj
  FROM g, LATERAL (VALUES
      (g.x - 1, g.y - 1), (g.x - 1, g.y), (g.x - 1, g.y + 1),
      (g.x, g.y - 1), (g.x, g.y), (g.x, g.y + 1),
      (g.x + 1, g.y - 1), (g.x + 1, g.y), (g.x + 1, g.y + 1)) AS nb(x, y)
),
hood AS (
  SELECT contrib.x AS x, contrib.y AS y,
         CAST(SUM(nj) AS BIGINT) AS l_i, count(*) AS w_i
  FROM contrib JOIN g ON g.x = contrib.x AND g.y = contrib.y
  GROUP BY contrib.x, contrib.y
),
o AS (
  SELECT g.x, g.y, g.n, hood.w_i, hood.l_i,
         tot.total, tot.n_cells, tot.q,
         n_cells * l_i - total * w_i AS a_i,
         (CAST(n_cells AS HUGEINT) * q - CAST(total AS HUGEINT) * total)
           * (CAST(n_cells AS HUGEINT) * w_i
              - CAST(w_i AS HUGEINT) * w_i) AS b_i
  FROM g JOIN hood ON hood.x = g.x AND hood.y = g.y, tot
)
SELECT x, y, n AS cnt, w_i, l_i,
       CASE WHEN b_i > 0 THEN
         CAST(a_i AS DOUBLE) * sqrt(CAST(n_cells - 1 AS DOUBLE))
           / sqrt(CAST(b_i AS DOUBLE))
       END AS z,
       CASE WHEN b_i <= 0 THEN 'ns'
            WHEN CAST(a_i AS DOUBLE) * sqrt(CAST(n_cells - 1 AS DOUBLE))
                   / sqrt(CAST(b_i AS DOUBLE)) >= 2.576 THEN 'hot99'
            WHEN CAST(a_i AS DOUBLE) * sqrt(CAST(n_cells - 1 AS DOUBLE))
                   / sqrt(CAST(b_i AS DOUBLE)) >= 1.96 THEN 'hot95'
            WHEN CAST(a_i AS DOUBLE) * sqrt(CAST(n_cells - 1 AS DOUBLE))
                   / sqrt(CAST(b_i AS DOUBLE)) <= -2.576 THEN 'cold99'
            WHEN CAST(a_i AS DOUBLE) * sqrt(CAST(n_cells - 1 AS DOUBLE))
                   / sqrt(CAST(b_i AS DOUBLE)) <= -1.96 THEN 'cold95'
            ELSE 'ns' END AS label
FROM o
"""


# ---------------------------------------------------------------------------
# Grid change detection (first vs second half of the calendar)
# ---------------------------------------------------------------------------


def grid_change(points: DataFrame, months: DataFrame) -> DataFrame:
    """Per-cell change detection — the map-update diff a tile service
    renders between two periods: each occupied density-grid cell's
    event count in the FIRST half of the global calendar vs the
    SECOND (split at the midpoint month, derived from the broadcast
    global bounds), with the standard new/gone/grown/shrunk/stable
    labels.

    Exactness: counts and the delta are exact BIGINTs; the split
    month is exact integer floor-midpoint; labels are integer sign
    tests — hash parity structural.

    Plan: ONE conditional aggregation on the cell key (two
    CASE-counts in the same map-side-combined pass — not two
    aggregates joined), after a broadcast of the 1-row month bounds;
    the month dimension joins the points BEFORE the shuffle, so the
    operator costs one point-table pass at any scale.

    Output: (x, y, n_before, n_after, delta, label).
    """
    bounds = months.agg(
        F.min("month_id").alias("m0"), F.max("month_id").alias("m1")
    ).select(F.expr("(m0 + m1) div 2").alias("mid"))
    c = (
        _grid_xy(points, "doc_id")
        .join(months, "doc_id")
        .crossJoin(F.broadcast(bounds))
    )
    agg = c.groupBy("x", "y").agg(
        F.count(F.when(F.col("month_id") <= F.col("mid"), 1)).alias(
            "n_before"),
        F.count(F.when(F.col("month_id") > F.col("mid"), 1)).alias(
            "n_after"),
    )
    delta = F.col("n_after") - F.col("n_before")
    return agg.select(
        "x", "y", "n_before", "n_after", delta.alias("delta"),
        F.when(F.col("n_before") == 0, F.lit("new"))
        .when(F.col("n_after") == 0, F.lit("gone"))
        .when(delta > 0, F.lit("grown"))
        .when(delta < 0, F.lit("shrunk"))
        .otherwise(F.lit("stable"))
        .alias("label"),
    )


def sql_grid_change(sql_points: str, sql_months: str) -> str:
    """Mirror: identical grid CTEs, one conditional aggregation,
    same midpoint split and label CASE."""
    return f"""
WITH pts AS ({sql_points}),
mo AS ({sql_months}),
b AS (SELECT (MIN(month_id) + MAX(month_id)) // 2 AS mid FROM mo),
c AS (
  SELECT doc_id,
         GREATEST(LEAST(CAST(floor((lon + 180.0) / 360.0 * {_N}.0) AS BIGINT), {_N - 1}), 0) AS x,
         GREATEST(LEAST(CAST(floor((90.0 - lat) / 180.0 * {_N}.0) AS BIGINT), {_N - 1}), 0) AS y
  FROM pts
),
agg AS (
  SELECT x, y,
         COUNT(CASE WHEN month_id <= b.mid THEN 1 END) AS n_before,
         COUNT(CASE WHEN month_id > b.mid THEN 1 END) AS n_after
  FROM c JOIN mo USING (doc_id), b
  GROUP BY x, y
)
SELECT x, y, n_before, n_after, n_after - n_before AS delta,
       CASE WHEN n_before = 0 THEN 'new'
            WHEN n_after = 0 THEN 'gone'
            WHEN n_after - n_before > 0 THEN 'grown'
            WHEN n_after - n_before < 0 THEN 'shrunk'
            ELSE 'stable' END AS label
FROM agg
"""
