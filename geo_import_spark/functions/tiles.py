"""Web-Mercator raster tile (z/x/y, quadkey) assignment.

Standard slippy-map formula (OSM/Bing public spec). Used to assign
media spans to raster tiles (north rule: "raster-tile assignment
(z/x/y quadkey) for media spans"); the reference has no tiling —
this is a new-engine operator (SURVEY.md §2.7 `tile_assign`).

tile_xy and quadkey_list are the NumPy reference; the *_sql builders
state the same arithmetic as Spark SQL strings, which the operators
in operators/tiling.py evaluate in the JVM.
"""

from __future__ import annotations

import numpy as np

from geo_import_spark.functions.cells import clip_sql, grid_sql

WEBMERC_MAX_LAT = 85.05112878


def tile_xy(lon: np.ndarray, lat: np.ndarray, z: int):
    """(x, y) tile indices at zoom z. Vectorized, lat clamped to ±85.051°."""
    n = np.int64(1) << np.int64(z)
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.clip(np.asarray(lat, dtype=np.float64), -WEBMERC_MAX_LAT, WEBMERC_MAX_LAT)
    x = np.floor((lon + 180.0) / 360.0 * n).astype(np.int64)
    rad = np.radians(lat)
    y = np.floor((1.0 - np.log(np.tan(rad) + 1.0 / np.cos(rad)) / np.pi) / 2.0 * n).astype(np.int64)
    np.clip(x, 0, n - 1, out=x)
    np.clip(y, 0, n - 1, out=y)
    return x, y


def quadkey_list(x: np.ndarray, y: np.ndarray, z: int) -> list[str]:
    """Quadkey strings per (x, y) at zoom z (vectorized digit math)."""
    x = np.asarray(x, dtype=np.int64)
    y = np.asarray(y, dtype=np.int64)
    m = x.shape[0]
    digits = np.empty((m, z), dtype=np.uint8)
    for i in range(z):
        shift = z - 1 - i
        digits[:, i] = (((x >> shift) & 1) + 2 * ((y >> shift) & 1)).astype(np.uint8) + ord("0")
    flat = digits.tobytes().decode("ascii")
    return [flat[i * z : (i + 1) * z] for i in range(m)]


def tile_x_sql(lon: str, z: int) -> str:
    """SQL mirror of tile_xy's x for the SQL expression `lon`: the
    equal-angle grid index (cells.grid_sql) with 2^z columns. A null
    `lon` gives a null x."""
    return grid_sql(lon, str(1 << z), lat=False)


def tile_y_sql(lat: str, z: int) -> str:
    """SQL mirror of tile_xy's y for the SQL expression `lat`: the
    Mercator row, lat clamped to ±WEBMERC_MAX_LAT and y clipped to
    [0, 2^z - 1] with CASE (greatest/least would turn a null lat into
    a real row), so a null `lat` gives a null y."""
    m = f"{WEBMERC_MAX_LAT!r}D"
    r = f"radians(CASE WHEN ({lat}) < -{m} THEN -{m} WHEN ({lat}) > {m} THEN {m} ELSE ({lat}) END)"
    n = str(1 << z)
    return clip_sql(f"floor((1D - ln(tan({r}) + 1D / cos({r})) / pi()) / 2D * {n})", n)


def quadkey_sql(x: str, y: str, z: int) -> str:
    """SQL mirror of quadkey_list over tile indices `x`, `y` (SQL
    expressions, usually the projected x/y columns): the concat of z
    digit strings, no lambda. A null index gives a null quadkey."""
    digits = [
        f"cast((shiftright({x}, {s}) & 1) + 2 * (shiftright({y}, {s}) & 1) as string)"
        for s in range(z - 1, -1, -1)
    ]
    return f"concat({', '.join(digits)})" if digits else f"nvl2({x} + {y}, '', NULL)"
