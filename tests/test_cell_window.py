"""The JVM cell window (cells.window_col), the null-safe grid index
and the JVM slippy tiles: the window equals the NumPy k-ring, a null
coordinate lands in no cell or tile, the tile SQL equals the NumPy
tile reference, and kNN, the radius join and the tile operators run
without a Python stage."""

import numpy as np
import pandas as pd
from pyspark.sql import Row
from pyspark.sql import functions as F

from geo_import_spark.functions import cells as cellmod
from geo_import_spark.functions import tiles as tilemod
from geo_import_spark.operators import dbscan, spatialstats, tiling
from geo_import_spark.operators import knn as knnmod
from geo_import_spark.operators import pip as pipmod
from geo_import_spark.plans import partitioned


def test_window_equals_k_ring(spark):
    """The window around a point's cell is cells.k_ring's set (no
    duplicates) at level 5 (n = 32), including rows touching both
    poles and cells on the antimeridian; r = 16 wraps the whole row."""
    level, n = 5, "32"
    rng = np.random.RandomState(17)
    lon = rng.uniform(-180, 180, 200)
    lat = rng.uniform(-90, 90, 200)
    lon[:8] = [-180.0, 180.0, 179.99, -179.99, 0.0, 10.0, 179.99, -179.99]
    lat[:8] = [0.0, 45.0, 89.99, -89.99, 90.0, -90.0, -89.99, 89.99]
    df = spark.createDataFrame(pd.DataFrame({"lon": lon, "lat": lat}))
    cx = cellmod.grid_sql("lon", n, lat=False)
    cy = cellmod.grid_sql("lat", n, lat=True)
    radii = (0, 1, 2, 4, 8, 16)
    out = df.select(
        "lon", "lat",
        *[cellmod.window_col(f"{cx} - {r}", f"{cx} + {r}", f"{cy} - {r}",
                             f"{cy} + {r}", level).alias(f"w{r}") for r in radii],
    ).collect()
    centre = cellmod.cell_encode(
        np.array([row["lon"] for row in out]), np.array([row["lat"] for row in out]), level
    )
    for row, c in zip(out, centre):
        for r in radii:
            got = row[f"w{r}"]
            assert len(got) == len(set(got)), (row["lon"], row["lat"], r)
            assert set(got) == set(cellmod.k_ring(int(c), r).tolist()), (row["lon"], row["lat"], r)


def test_null_coordinate_lands_in_no_cell(spark):
    """Spark's greatest/least skip nulls, so an unguarded grid formula
    put a null lon in the grid's last column and a null lat in its
    last row. A null coordinate must give a null cell, Morton key,
    partition key and tile, and no grid operator may count it in a
    real cell, tile or run: each operator's rows with non-null grid
    keys equal its output without the null points."""
    real = [("a", 10.0, 20.0), ("a2", 10.5, 20.5), ("a3", 11.0, 21.0),
            ("d", 16.0, 20.0), ("e", 10.0, 23.0), ("e2", 10.2, 23.1)]
    nulls = [("b", None, 20.0), ("c", 10.0, None), ("n", None, None)]
    schema = "doc_id string, lon double, lat double, v long"

    def frame(rows):
        return spark.createDataFrame(
            [Row(doc_id=d, lon=x, lat=y, v=i + 1) for i, (d, x, y) in enumerate(rows)],
            schema,
        )

    pts, pts_real = frame(real + nulls), frame(real)
    got = {
        r["doc_id"]: (r["cell"], r["m"], r["pcell"])
        for r in pts.select(
            "doc_id",
            cellmod.cell_col("lon", "lat", 6).alias("cell"),
            cellmod.morton_col("lon", "lat", 6).alias("m"),
            partitioned.cell_key().alias("pcell"),
        ).collect()
    }
    assert got["b"] == got["c"] == got["n"] == (None, None, None)
    assert got["a"][0] == int(cellmod.cell_encode(np.array([10.0]), np.array([20.0]), 6)[0])
    assert got["a"][1] is not None and got["a"][2] is not None

    for op in (tiling.grid_density, tiling.hot_cells):
        counts = op(pts, level=6).filter(F.col("cell_id").isNotNull()).collect()
        assert sorted((r["cell_id"], r["n_points"]) for r in counts) == sorted(
            (r["cell_id"], r["n_points"]) for r in op(pts_real, level=6).collect()
        ), op.__name__

    def months(df):
        return df.select("doc_id", (F.col("v") % 3).alias("month_id"))

    ops = {  # name -> (operator over a points frame, its grid key columns)
        "density_contours": (lambda p: tiling.density_contours(p, level=4, min_points=1),
                             ("y", "x0", "x1")),
        "idw_surface": (lambda p: tiling.idw_surface(p, F.col("v"), level=6), ("x", "y")),
        "sample_density_at_points": (lambda p: tiling.sample_density_at_points(p, level=6),
                                     ("x", "y")),
        "label_dense_regions": (lambda p: tiling.label_dense_regions(p, level=4, min_points=1),
                                ("x", "y")),
        "tile_pyramid": (lambda p: tiling.tile_pyramid(p, max_level=6), ("tx", "ty")),
        "raster_convolve": (lambda p: tiling.raster_convolve(p, level=6), ("x", "y")),
        "tile_thin": (lambda p: tiling.tile_thin(p, level=6, k=3), ("x", "y")),
        "morans_i": (spatialstats.morans_i, ()),
        "gearys_c": (spatialstats.gearys_c, ()),
        "local_morans": (spatialstats.local_morans, ("x", "y")),
        "getis_ord": (spatialstats.getis_ord, ("x", "y")),
        "emerging_hotspots": (lambda p: spatialstats.emerging_hotspots(p, months(p)),
                              ("x", "y")),
        "grid_change": (lambda p: spatialstats.grid_change(p, months(p)), ("x", "y")),
        "grid_dbscan": (lambda p: dbscan.grid_dbscan(p, level=6, min_pts=2), ("x", "y")),
    }

    def rows(df, keys):
        keep = F.lit(True)
        for k in keys:
            keep = keep & F.col(k).isNotNull()
        return sorted(tuple(r) for r in df.filter(keep).collect())

    counted = []
    for name, (op, keys) in ops.items():
        exp = rows(op(pts_real), keys)
        assert exp, name
        if rows(op(pts), keys) != exp:
            counted.append(name)
    assert counted == [], f"null point counted in a real cell by {counted}"

    # Nor is the null group a unit of its own: no hot cell, tile or
    # forced leaf, no share of the mean cell load, no salt for it.
    whole = {
        "hot_cells": lambda p: tiling.hot_cells(p, level=6),
        "tile_pyramid": lambda p: tiling.tile_pyramid(p, max_level=3),
        "adaptive_tiles": lambda p: tiling.adaptive_tiles(p, max_level=3, max_per_tile=2),
    }
    for name, op in whole.items():
        assert set(map(tuple, op(pts).collect())) == set(map(tuple, op(pts_real).collect())), name
    assert pipmod.auto_salt_factor(frame(real + nulls * 10), 6) == pipmod.auto_salt_factor(
        pts_real, 6
    )

    media = pts.select("doc_id", F.lit(2).alias("span_offset"), F.lit("m").alias("media_ref"))
    anchors = pts.select("doc_id", "lon", "lat")
    tiles = {
        r["doc_id"]: (r["x"], r["y"], r["quadkey"])
        for r in tiling.assign_tiles_from_anchors(media, anchors, z=12).collect()
    }
    assert tiles["n"] == (None, None, None)
    assert tiles["b"][0] is None and tiles["c"][1] is None  # the null axis
    assert tiles["b"][2] is None and tiles["c"][2] is None  # no quadkey
    ax, ay = tilemod.tile_xy(np.array([10.0]), np.array([20.0]), 12)
    assert tiles["a"] == (ax[0], ay[0], tilemod.quadkey_list(ax, ay, 12)[0])


def test_jvm_tiles_equal_numpy_reference(spark):
    """The tile SQL (functions/tiles.py, evaluated by
    assign_tiles_from_anchors) gives bit-equal x, y and quadkey to the
    NumPy tile_xy/quadkey_list over 100k corpus-formula points plus
    the edges: ±180° lon, the Mercator clamp ±85.05112878°, the poles
    and a city point."""
    keys = np.arange(1, 100_001, dtype=np.int64)
    lon = ((keys * 2654435761) % 360000000) / 1000000.0 - 180.0  # corpus._point_lon
    lat = ((keys * 1779033703 + 12345) % 170000000) / 1000000.0 - 85.0  # corpus._point_lat
    m = tilemod.WEBMERC_MAX_LAT
    edge_lon = [-180.0, 180.0, -180.0, 180.0, 0.0, 0.0, 13.377, 179.999999, -179.999999]
    edge_lat = [-m, m, -90.0, 90.0, m, -m, 52.51628, 0.0, 0.0]
    lon = np.concatenate([lon, edge_lon])
    lat = np.concatenate([lat, edge_lat])
    pdf = pd.DataFrame({"doc_id": np.arange(len(lon), dtype=np.int64), "lon": lon, "lat": lat})
    anchors = spark.createDataFrame(pdf).cache()
    media = anchors.select("doc_id", F.lit(0).alias("span_offset"), F.lit("m").alias("media_ref"))
    for z in (0, 1, 7, 12, 17):
        got = (
            tiling.assign_tiles_from_anchors(media, anchors, z)
            .select("doc_id", "x", "y", "quadkey").toPandas()
            .sort_values("doc_id").reset_index(drop=True)
        )
        ex, ey = tilemod.tile_xy(lon, lat, z)
        assert len(got) == len(lon), z
        assert (got["x"].values == ex).all(), z
        assert (got["y"].values == ey).all(), z
        assert got["quadkey"].tolist() == tilemod.quadkey_list(ex, ey, z), z
    anchors.unpersist()


def _executed_plans(spark, run):
    """Physical plans of every SQL execution `run` starts, read from
    the session's SQL status store once the listener bus is drained."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def executions():
        bus.waitUntilEmpty()
        seq = store.executionsList()
        return [seq.apply(i) for i in range(seq.size())]

    before = {e.executionId() for e in executions()}
    run()
    return [e.physicalPlanDescription() for e in executions() if e.executionId() not in before]


def test_knn_radius_and_tiles_have_no_python_stage(spark):
    """The kNN ring and the radius-join disk are JVM windows and the
    slippy tiles are JVM SQL, so no plan that kNN, the radius join or
    a tile operator executes evaluates Python."""
    rng = np.random.RandomState(23)
    pts = spark.createDataFrame(pd.DataFrame({
        "doc_id": np.arange(500, dtype=np.int64),
        "lon": rng.uniform(-180, 180, 500),
        "lat": rng.uniform(-85, 85, 500),
    }))
    queries = spark.createDataFrame(
        [Row(query_id="q0", qlon=179.5, qlat=10.0), Row(query_id="q1", qlon=10.0, qlat=84.0)]
    )
    docs = spark.createDataFrame(
        [Row(doc_id=i, spans=[Row(kind="media", offset=1, media_ref=f"m{i}")]) for i in range(20)],
        "doc_id long, spans array<struct<kind:string,offset:int,media_ref:string>>",
    )
    polys = spark.createDataFrame(
        [Row(poly_id="p0", minx=-10.0, miny=-5.0, maxx=12.0, maxy=30.0),
         Row(poly_id="p1", minx=170.0, miny=80.0, maxx=179.9, maxy=85.0)]
    )
    runs = {
        "knn": lambda: knnmod.knn_join(queries, pts, k=3, level=6, max_rounds=1).collect(),
        "radius": lambda: knnmod.radius_join(queries, pts, radius=6.0, level=6).collect(),
        "radius_haversine": lambda: knnmod.radius_join(
            queries, pts, radius=500_000.0, level=6, haversine=True).collect(),
        "assign_tiles": lambda: tiling.assign_tiles(docs, pts, z=12).collect(),
        "assign_tiles_from_anchors": lambda: tiling.assign_tiles_from_anchors(
            tiling.media_spans(docs), pts, z=12).collect(),
        "cover_tiles": lambda: tiling.cover_tiles(polys, z=7).collect(),
        "buffer_cells": lambda: tiling.buffer_cells(polys, z=7, k=1).collect(),
    }
    for name, run in runs.items():
        plans = _executed_plans(spark, run)
        assert plans, name
        for plan in plans:
            assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, name
