"""Pure-NumPy kernel tests: cells, tiles, flat geometry, PIP oracle."""

import json
import math

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from geo_import_spark.functions import cells, geomkern, tiles


# ---------------------------------------------------------------- cells
def test_cell_roundtrip():
    rng = np.random.default_rng(42)
    lon = rng.uniform(-180, 180, 1000)
    lat = rng.uniform(-90, 90, 1000)
    for level in (1, 7, 13, 20, 28):
        c = cells.cell_encode(lon, lat, level)
        x, y, lv = cells.cell_decode(c)
        assert (lv == level).all()
        x2, y2 = cells.lonlat_to_xy(lon, lat, level)
        assert (x == x2).all() and (y == y2).all()
        lo0, la0, lo1, la1 = cells.cell_bounds(c)
        assert (lon >= lo0 - 1e-9).all() and (lon <= lo1 + 1e-9).all()
        assert (lat >= la0 - 1e-9).all() and (lat <= la1 + 1e-9).all()


def test_cell_ids_distinct_levels():
    c1 = cells.cell_encode(np.array([0.0]), np.array([0.0]), 10)
    c2 = cells.cell_encode(np.array([0.0]), np.array([0.0]), 11)
    assert c1[0] != c2[0]


def test_k_ring():
    c = cells.cell_encode(np.array([10.0]), np.array([45.0]), 12)[0]
    ring0 = cells.k_ring(c, 0)
    assert list(ring0) == [c]
    ring1 = cells.k_ring(c, 1)
    assert len(ring1) == 9
    ring2 = cells.k_ring(c, 2)
    assert len(ring2) == 25
    # all neighbors share the parent-ish area: same level
    _, _, lv = cells.cell_decode(ring1)
    assert (lv == 12).all()


def test_k_ring_wraps_longitude():
    c = cells.cell_encode(np.array([-179.99]), np.array([0.0]), 8)[0]
    ring = cells.k_ring(c, 1)
    assert len(ring) == 9  # wrapped, not clipped


def test_covering_bbox_complete():
    cover, lv = cells.covering_bbox(-10.0, -10.0, 10.0, 10.0, 13, max_cells=64)
    assert len(cover) <= 64 and lv < 13
    # every sample point in the bbox maps to a cover cell (via parent_at)
    rng = np.random.default_rng(7)
    lon = rng.uniform(-10, 10, 500)
    lat = rng.uniform(-10, 10, 500)
    pt_cells = cells.cell_encode(lon, lat, lv)
    assert np.isin(pt_cells, cover).all()


def test_parent_at():
    c = cells.cell_encode(np.array([10.0]), np.array([45.0]), 14)
    p = cells.parent_at(c, 10)
    cp = cells.cell_encode(np.array([10.0]), np.array([45.0]), 10)
    assert p[0] == cp[0]


# ---------------------------------------------------------------- tiles
def test_tile_known_values():
    # OSM formula: lon=13.377, lat=52.51628 (Berlin), z=17 -> x=70406, y=42987
    x, y = tiles.tile_xy(np.array([13.377]), np.array([52.51628]), 17)
    assert (x[0], y[0]) == (70406, 42987)
    # equator/prime meridian lands in the (1,0)... quadrant boundary tile
    x, y = tiles.tile_xy(np.array([0.0]), np.array([0.0]), 1)
    assert (x[0], y[0]) == (1, 1)
    # zoom 0 always tile (0,0)
    x, y = tiles.tile_xy(np.array([-179.0, 179.0]), np.array([84.0, -84.0]), 0)
    assert (x == 0).all() and (y == 0).all()


def test_quadkey_known():
    # Bing docs: tile (3,5) at level 3 -> quadkey "213"
    qk = tiles.quadkey_list(np.array([3]), np.array([5]), 3)
    assert qk == ["213"]


# ------------------------------------------------------------- geometry
def test_flatten_roundtrip_all_types():
    cases = {
        "Point": [102.0, 0.5],
        "LineString": [[0.0, 0.0], [1.0, 1.0], [2.0, 0.0]],
        "MultiPoint": [[0.0, 0.0], [1.0, 1.0]],
        "Polygon": [[[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 0.0]],
                    [[1.0, 1.0], [2.0, 1.0], [2.0, 2.0], [1.0, 1.0]]],
        "MultiLineString": [[[0.0, 0.0], [1.0, 1.0]], [[2.0, 2.0], [3.0, 3.0]]],
        "MultiPolygon": [[[[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 0.0]]],
                         [[[9.0, 9.0], [10.0, 9.0], [10.0, 10.0], [9.0, 9.0]]]],
    }
    for gtype, coords in cases.items():
        po, ro, xs, ys = geomkern.flatten_geojson_coords(gtype, coords)
        back = geomkern.unflatten_to_geojson(gtype, po, ro, xs, ys)
        assert back == coords, gtype


def test_invalid_arity_raises():
    with pytest.raises(ValueError):
        geomkern.flatten_geojson_coords("Point", [102.0])


def test_fix_semantics_linify():
    # reference unit/geometry-transforms.js: 1-point line -> duplicated point
    po, ro, xs, ys = geomkern.flatten_geojson_coords("LineString", [[1.0, 2.0]])
    g, po2, ro2, xs2, ys2 = geomkern.fix_semantics("LineString", po, ro, xs, ys)
    assert geomkern.unflatten_to_geojson(g, po2, ro2, xs2, ys2) == [[1.0, 2.0], [1.0, 2.0]]


def test_fix_semantics_close_rings():
    # unclosed ring -> first vertex appended; <4 points -> padded
    coords = [[[0.0, 0.0], [2.0, 0.0], [2.0, 2.0]]]
    po, ro, xs, ys = geomkern.flatten_geojson_coords("Polygon", coords)
    g, po2, ro2, xs2, ys2 = geomkern.fix_semantics("Polygon", po, ro, xs, ys)
    out = geomkern.unflatten_to_geojson(g, po2, ro2, xs2, ys2)
    assert out == [[[0.0, 0.0], [2.0, 0.0], [2.0, 2.0], [0.0, 0.0]]]
    # degenerate 2-point ring gets padded to 4
    coords = [[[0.0, 0.0], [1.0, 0.0]]]
    po, ro, xs, ys = geomkern.flatten_geojson_coords("Polygon", coords)
    g, po2, ro2, xs2, ys2 = geomkern.fix_semantics("Polygon", po, ro, xs, ys)
    out = geomkern.unflatten_to_geojson(g, po2, ro2, xs2, ys2)
    assert out == [[[0.0, 0.0], [1.0, 0.0], [0.0, 0.0], [0.0, 0.0]]]


def test_batch_bbox():
    ro = np.array([0, 3, 3, 5])
    xs = np.array([0.0, 5.0, -1.0, 7.0, 8.0])
    ys = np.array([1.0, 2.0, 3.0, -4.0, 0.0])
    minx, miny, maxx, maxy = geomkern.batch_bbox(ro, xs, ys)
    assert minx[0] == -1.0 and maxx[0] == 5.0 and miny[0] == 1.0 and maxy[0] == 3.0
    assert np.isnan(minx[1])
    assert minx[2] == 7.0 and miny[2] == -4.0


def _pip_single(px, py, rings):
    """Scalar reference ray casting for the property test."""
    inside = False
    for ring in rings:
        n = len(ring)
        for i in range(n):
            x1, y1 = ring[i]
            x2, y2 = ring[(i + 1) % n]
            if (y1 > py) != (y2 > py):
                xint = (x2 - x1) * (py - y1) / (y2 - y1) + x1
                if px < xint:
                    inside = not inside
    return inside


def test_batch_pip_square_with_hole():
    outer = [[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0], [0.0, 0.0]]
    hole = [[4.0, 4.0], [6.0, 4.0], [6.0, 6.0], [4.0, 6.0], [4.0, 4.0]]
    po, ro, xs, ys = geomkern.flatten_geojson_coords("Polygon", [outer, hole])
    # candidates: inside, in hole, outside — each candidate row has both rings
    px = np.array([2.0, 5.0, 11.0])
    py = np.array([2.0, 5.0, 5.0])
    nrings = len(ro) - 1
    ring_row = np.concatenate([np.full(nrings, i) for i in range(3)])
    ring_offsets = [0]
    all_xs, all_ys = [], []
    for _ in range(3):
        for r in range(nrings):
            a, b = ro[r], ro[r + 1]
            all_xs += list(xs[a:b])
            all_ys += list(ys[a:b])
            ring_offsets.append(len(all_xs))
    res = geomkern.batch_point_in_polygon(
        px, py, ring_row, np.array(ring_offsets), np.array(all_xs), np.array(all_ys)
    )
    assert list(res) == [True, False, False]


def test_single_polygon_kernel_matches_batch_kernel():
    """points_in_single_polygon (broadcast refinement path) agrees
    bit-for-bit with batch_point_in_polygon (shuffle path), incl. on
    holes and tiny edge chunks."""
    outer = [[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0], [0.0, 0.0]]
    hole = [[4.0, 4.0], [6.0, 4.0], [6.0, 6.0], [4.0, 6.0], [4.0, 4.0]]
    po, ro, xs, ys = geomkern.flatten_geojson_coords("Polygon", [outer, hole])
    rng = np.random.default_rng(7)
    px = rng.uniform(-2, 12, 200)
    py = rng.uniform(-2, 12, 200)
    single = geomkern.points_in_single_polygon(
        px, py, np.array(ro), np.array(xs), np.array(ys), edge_chunk=3
    )
    n = len(px)
    nrings = len(ro) - 1
    ring_row = np.repeat(np.arange(n), nrings)
    ring_offsets = [0]
    all_xs, all_ys = [], []
    for _ in range(n):
        for r in range(nrings):
            a, b = ro[r], ro[r + 1]
            all_xs += list(xs[a:b])
            all_ys += list(ys[a:b])
            ring_offsets.append(len(all_xs))
    batch = geomkern.batch_point_in_polygon(
        px, py, ring_row, np.array(ring_offsets), np.array(all_xs), np.array(all_ys)
    )
    np.testing.assert_array_equal(single, batch)
    assert single.sum() > 0 and (~single).sum() > 0


@settings(max_examples=50, deadline=None)
@given(st.lists(st.tuples(st.floats(-50, 50), st.floats(-50, 50)), min_size=3, max_size=8),
       st.floats(-60, 60), st.floats(-60, 60))
def test_batch_pip_matches_scalar_oracle(ring_pts, px, py):
    ring = [[float(x), float(y)] for x, y in ring_pts]
    ring.append(ring[0])
    po, ro, xs, ys = geomkern.flatten_geojson_coords("Polygon", [ring])
    res = geomkern.batch_point_in_polygon(
        np.array([px]), np.array([py]), np.array([0]),
        np.array(ro), np.array(xs), np.array(ys),
    )
    assert res[0] == _pip_single(px, py, [ring[:-1]])


def test_jvm_morton_matches_numpy(spark):
    import numpy as np
    import pandas as pd

    from geo_import_spark.functions import cells as C

    rng = np.random.RandomState(11)
    lon = rng.uniform(-180, 180, 300)
    lat = rng.uniform(-85, 85, 300)
    df = spark.createDataFrame(pd.DataFrame({"lon": lon, "lat": lat}))
    got = np.sort(
        df.select(C.morton_col("lon", "lat", 13).alias("m"))
        .toPandas()["m"].values
    )
    exp = np.sort(C.morton_key(C.cell_encode(lon, lat, 13)) & ((1 << 58) - 1))
    assert (got == exp).all()
    rp = C.spatial_repartition(df, 6)
    assert rp.rdd.getNumPartitions() == 6
    assert rp.count() == 300
