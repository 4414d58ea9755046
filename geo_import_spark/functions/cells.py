"""Quadtree cell index over WGS84 lon/lat.

S2/H3-style spatial pruning index reimagined for Spark: a cell id is a
64-bit int packing (level << 58 | x << 29 | y) for an equal-angle
quadtree on the plate-carree plane. The packing is plain shifts so the
POINT side of every join computes its cell id with JVM column
expressions inside whole-stage codegen (cell_col below) — zero Python
on the big side. ``morton_key`` provides the Z-order interleave when
range partitioning wants spatial locality
(``repartitionByRange(morton_key(cell_id))`` co-locates neighboring
geometry — the property the reference's single-node stream never
needed but a 1000-executor shuffle does).

The index is used only for *pruning* (candidate generation before exact
ray-cast refinement), so hexagon-exact H3 parity is not required; the
contract is ``covering(geom) ⊇ geom`` (proven by property tests).

Level ↔ approximate H3 res mapping (equal-ish area at mid latitudes):
H3 res 7 ≈ level 13, res 9 ≈ level 15, res 12 ≈ level 18.

Capabilities mirrored from the reference: none (geo-import has no
spatial index; see SURVEY.md §2.4/§4.2 — this is the new engine's
explicit physical strategy for the cell-equi-join PIP).
"""

from __future__ import annotations

import numpy as np

LEVEL_SHIFT = np.uint64(58)
MAX_LEVEL = 28

_M16 = np.uint64(0x0000FFFF0000FFFF)
_M8 = np.uint64(0x00FF00FF00FF00FF)
_M4 = np.uint64(0x0F0F0F0F0F0F0F0F)
_M2 = np.uint64(0x3333333333333333)
_M1 = np.uint64(0x5555555555555555)


def _spread_bits(v: np.ndarray) -> np.ndarray:
    """Interleave zero bits: abcd -> 0a0b0c0d (uint64 in/out)."""
    v = v.astype(np.uint64)
    v = (v | (v << np.uint64(16))) & _M16
    v = (v | (v << np.uint64(8))) & _M8
    v = (v | (v << np.uint64(4))) & _M4
    v = (v | (v << np.uint64(2))) & _M2
    v = (v | (v << np.uint64(1))) & _M1
    return v


def lonlat_to_xy(lon: np.ndarray, lat: np.ndarray, level: int):
    """Grid coordinates (x east, y south) at `level`; clipped to grid."""
    n = np.int64(1) << np.int64(level)
    x = np.floor((np.asarray(lon, dtype=np.float64) + 180.0) / 360.0 * n).astype(np.int64)
    y = np.floor((90.0 - np.asarray(lat, dtype=np.float64)) / 180.0 * n).astype(np.int64)
    np.clip(x, 0, n - 1, out=x)
    np.clip(y, 0, n - 1, out=y)
    return x, y


XY_SHIFT = np.uint64(29)
_XY_MASK = np.uint64((1 << 29) - 1)


def encode_xy(x: np.ndarray, y: np.ndarray, level: int) -> np.ndarray:
    """Pack (level, x, y) into an int64 cell id (plain shifts —
    mirrored by the JVM expression in cell_col)."""
    xv = np.asarray(x).astype(np.uint64)
    yv = np.asarray(y).astype(np.uint64)
    return (
        (np.uint64(level) << LEVEL_SHIFT) | (xv << XY_SHIFT) | yv
    ).astype(np.int64)


def morton_key(cell: np.ndarray) -> np.ndarray:
    """Z-order interleave of a cell id's (x, y) — the range-partition
    key when spatial locality of numeric ranges matters."""
    x, y, level = cell_decode(cell)
    m = _spread_bits(x) | (_spread_bits(y) << np.uint64(1))
    return ((np.asarray(level).astype(np.uint64) << LEVEL_SHIFT) | m).astype(np.int64)


def _n_sql(level) -> str:
    """SQL for the cells per axis, 2^level, with `level` an int or an
    integer SQL expression."""
    return str(1 << level) if isinstance(level, int) else f"shiftleft(1L, {level})"


def clip_sql(i: str, n: str) -> str:
    """SQL clip of the grid index `i` to [0, n - 1]. A null stays null
    (greatest/least skip nulls, so they would give n - 1)."""
    return f"CASE WHEN {i} < 0 THEN 0 WHEN {i} > {n} - 1 THEN {n} - 1 ELSE {i} END"


def grid_sql(v: str, n: str, lat: bool, clip: bool = True) -> str:
    """SQL mirror of lonlat_to_xy on one axis: the grid index of the
    SQL expression `v` with `n` cells per axis (same double
    arithmetic, so the same bits), clipped to the grid unless `clip`
    is false. A null `v` gives a null index."""
    g = f"(90D - ({v})) / 180D" if lat else f"(({v}) + 180D) / 360D"
    i = f"floor({g} * {n})"
    return clip_sql(i, n) if clip else i


def grid_xy(lon: str, lat: str, level: int):
    """JVM column expressions (x, y): the grid indices of (lon, lat)
    at `level`, one grid_sql F.expr per axis. `lon`/`lat` are SQL
    expressions, usually column names. The Spark side's one quadtree
    grid index for operators that key by (x, y) rather than cell id;
    a null coordinate gives a null index."""
    from pyspark.sql import functions as F

    n = str(1 << level)
    return F.expr(grid_sql(lon, n, lat=False)), F.expr(grid_sql(lat, n, lat=True))


def _cell_sql(x: str, y: str, level) -> str:
    """SQL cell id from grid indices: level << 58 | x << 29 | y, with
    `level` an int or an integer SQL expression."""
    base = f"{level << 58}L" if isinstance(level, int) else f"shiftleft(cast({level} as bigint), 58)"
    return f"{base} + shiftleft({x}, 29) + {y}"


def cell_col(lon: str, lat: str, level: int):
    """JVM column expression for the cell id of (lon, lat) at `level`
    — identical arithmetic to cell_encode, kept inside whole-stage
    codegen (the point side of the PIP join never leaves the JVM).
    `lon`/`lat` are SQL expressions, usually column names; the
    expression is built as one SQL string because every PySpark
    Column operator costs driver-side round trips. A null coordinate
    gives a null cell."""
    from pyspark.sql import functions as F

    n = str(1 << level)
    x = grid_sql(lon, n, lat=False)
    y = grid_sql(lat, n, lat=True)
    return F.expr(_cell_sql(x, y, level)).alias(f"cell_l{level}")


def cover_level_col(minx: str, miny: str, maxx: str, maxy: str, base_level: int, max_cells: int):
    """JVM mirror of covering_bbox's level choice: the finest level
    <= base_level whose bbox grid cover has <= max_cells cells, else
    level 1 (identical double arithmetic and clipping, so it picks the
    NumPy level bit-for-bit). The bbox arguments are SQL expressions,
    usually column names. One lambda over the candidate levels, so
    the expression stays small whatever base_level is."""
    from pyspark.sql import functions as F

    n = _n_sql("_lv")
    nx = f"({grid_sql(maxx, n, False)} - {grid_sql(minx, n, False)} + 1)"
    ny = f"({grid_sql(miny, n, True)} - {grid_sql(maxy, n, True)} + 1)"
    fits = f"filter(sequence(1, {base_level}), _lv -> {nx} * {ny} <= {max_cells})"
    return F.expr(f"cast(coalesce(array_max({fits}), 1) as int)")


def window_col(x0: str, x1: str, y0: str, y1: str, level):
    """JVM column expression: array<long> of the cell ids in grid
    columns x0..x1 and rows y0..y1 at `level` (an int, or an integer
    SQL expression), rows north to south, each row west to east. The
    bounds are SQL expressions for unclipped grid indices: columns
    wrap (pmod), and a span of n or more columns gives the whole row
    once; rows clip to [0, n - 1]. A null bound gives a null array
    (explode drops it). The engine's one rectangle of quadtree cells:
    the PIP cover (cover_col), the kNN ring and the radius-join disk
    all go through it."""
    from pyspark.sql import functions as F

    n = _n_sql(level)
    xs = (
        f"CASE WHEN ({x1}) - ({x0}) >= {n} - 1 THEN sequence(0L, {n} - 1L) "
        f"ELSE transform(sequence({x0}, {x1}), _px -> pmod(_px, {n})) END"
    )
    ys = f"sequence({clip_sql(y0, n)}, {clip_sql(y1, n)})"
    cell = _cell_sql("_wx", "_wy", level)
    return F.expr(f"flatten(transform({ys}, _wy -> transform({xs}, _wx -> {cell})))")


def cover_col(minx: str, miny: str, maxx: str, maxy: str, level):
    """JVM column expression: array<long> of the cell ids covering the
    bbox at `level` (an int, or an integer SQL expression such as the
    name of a cover_level_col column); the bbox arguments are SQL
    expressions, usually column names. The window over cell_col's
    clipped grid indices, in covering_bbox's order (rows north to
    south, each row west to east), so it equals covering_bbox's cells
    bit-for-bit. A null bbox gives a null array (explode drops it)."""
    n = _n_sql(level)
    return window_col(
        grid_sql(minx, n, False), grid_sql(maxx, n, False),
        grid_sql(maxy, n, True), grid_sql(miny, n, True), level,
    )


def cell_encode(lon: np.ndarray, lat: np.ndarray, level: int) -> np.ndarray:
    """Cell id containing each (lon, lat) at `level`. Vectorized."""
    x, y = lonlat_to_xy(lon, lat, level)
    return encode_xy(x, y, level)


def cell_decode(cell: np.ndarray):
    """cell id -> (x, y, level)."""
    c = np.asarray(cell).astype(np.uint64)
    level = (c >> LEVEL_SHIFT).astype(np.int64)
    x = ((c >> XY_SHIFT) & _XY_MASK).astype(np.int64)
    y = (c & _XY_MASK).astype(np.int64)
    return x, y, level


def cell_bounds(cell: np.ndarray):
    """(lon_min, lat_min, lon_max, lat_max) of each cell."""
    x, y, level = cell_decode(cell)
    n = (np.int64(1) << level).astype(np.float64)
    lon0 = x / n * 360.0 - 180.0
    lon1 = (x + 1) / n * 360.0 - 180.0
    lat1 = 90.0 - y / n * 180.0
    lat0 = 90.0 - (y + 1) / n * 180.0
    return lon0, lat0, lon1, lat1


def k_ring(cell: int, k: int) -> np.ndarray:
    """All cell ids within Chebyshev grid distance k of `cell` (incl. it).

    Longitude wraps; latitude clips at the poles. Scalar cell in,
    array of ids out — the NumPy reference of the kNN ring that
    window_col builds in the JVM (SURVEY §2.5).
    """
    x, y, level = cell_decode(np.asarray([cell]))
    x, y, level = int(x[0]), int(y[0]), int(level[0])
    n = 1 << level
    dx, dy = np.meshgrid(np.arange(-k, k + 1), np.arange(-k, k + 1))
    xs = (x + dx.ravel()) % n
    ys = y + dy.ravel()
    keep = (ys >= 0) & (ys < n)
    return np.unique(encode_xy(xs[keep].astype(np.int64), ys[keep].astype(np.int64), level))


def covering_bbox(minx, miny, maxx, maxy, level: int, max_cells: int = 64):
    """Cell covering of a bbox: complete (⊇ bbox), adaptively coarsened.

    Returns (cells: int64 array, used_level). Drops to coarser levels
    until the cover has ≤ max_cells cells — bounding the candidate
    blow-up of the cell-equi join (SURVEY §4.2.1).
    """
    lv = level
    while lv > 0:
        x0, y1 = lonlat_to_xy(np.asarray([minx]), np.asarray([miny]), lv)
        x1, y0 = lonlat_to_xy(np.asarray([maxx]), np.asarray([maxy]), lv)
        nx = int(x1[0] - x0[0]) + 1
        ny = int(y1[0] - y0[0]) + 1
        if nx * ny <= max_cells or lv == 1:
            gx, gy = np.meshgrid(np.arange(x0[0], x1[0] + 1), np.arange(y0[0], y1[0] + 1))
            return encode_xy(gx.ravel(), gy.ravel(), lv), lv
        lv -= 1
    raise AssertionError("unreachable")


def parent_at(cell: np.ndarray, level: int) -> np.ndarray:
    """Ancestor cell id of each cell at a coarser `level`."""
    x, y, lv = cell_decode(cell)
    shift = (lv - level).astype(np.int64)
    return encode_xy(x >> shift, y >> shift, level)


def morton_col(lon: str, lat: str, level: int):
    """JVM column expression: Z-order (Morton) key of (lon, lat) at
    `level` (without the level bits) — cell_col's grid indices, each
    spread by 5 shift-mask steps. `lon`/`lat` are SQL expressions,
    usually column names; a null coordinate gives a null key. Use as
    the sort key of ``repartitionByRange``: contiguous key ranges are
    contiguous regions of the map, so range partitions are spatial
    partitions (the explicit "adaptive repartitioning" strategy of
    SURVEY §4.2.3 — partition bounds adapt to the data's spatial
    density via Spark's range sampling)."""
    from pyspark.sql import functions as F

    n = str(1 << level)
    steps = ", ".join(
        f"named_struct('s', {s}, 'm', {int(m)}L)"
        for s, m in ((16, _M16), (8, _M8), (4, _M4), (2, _M2), (1, _M1))
    )

    def spread(v):
        return f"aggregate(array({steps}), {v}, (_v, _e) -> (_v | shiftleft(_v, _e.s)) & _e.m)"

    x = spread(grid_sql(lon, n, lat=False))
    y = spread(grid_sql(lat, n, lat=True))
    return F.expr(f"{x} | shiftleft({y}, 1)").alias(f"morton_l{level}")


def spatial_repartition(df, num_partitions: int, level: int = 13,
                        lon_col: str = "lon", lat_col: str = "lat"):
    """Range-repartition a point DataFrame by Morton key: neighboring
    geometry lands in the same partition, partition bounds follow the
    observed density (Spark samples the key distribution), and
    downstream per-partition work (cell joins, per-unit checkpoints)
    touches contiguous map regions."""
    return df.repartitionByRange(num_partitions, morton_col(lon_col, lat_col, level))
