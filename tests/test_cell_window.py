"""The JVM cell window (cells.window_col) and the null-safe grid index:
the window equals the NumPy k-ring, a null coordinate lands in no
cell, and kNN and the radius join run without a Python stage."""

import numpy as np
import pandas as pd
from pyspark.sql import Row
from pyspark.sql import functions as F

from geo_import_spark.functions import cells as cellmod
from geo_import_spark.operators import knn as knnmod
from geo_import_spark.operators import tiling


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
    put a null lon in the grid's last column. A null coordinate must
    give a null cell and Morton key, and grid aggregates must count
    it in no cell."""
    pts = spark.createDataFrame(
        [Row(doc_id="a", lon=10.0, lat=20.0), Row(doc_id="b", lon=None, lat=20.0),
         Row(doc_id="c", lon=10.0, lat=None)],
        "doc_id string, lon double, lat double",
    )
    got = {
        r["doc_id"]: (r["cell"], r["m"])
        for r in pts.select(
            "doc_id",
            cellmod.cell_col("lon", "lat", 6).alias("cell"),
            cellmod.morton_col("lon", "lat", 6).alias("m"),
        ).collect()
    }
    assert got["b"] == (None, None) and got["c"] == (None, None)
    assert got["a"][0] == int(cellmod.cell_encode(np.array([10.0]), np.array([20.0]), 6)[0])
    assert got["a"][1] is not None

    dens = tiling.grid_density(pts, level=6).filter(F.col("cell_id").isNotNull()).collect()
    assert [(r["cell_id"], r["n_points"]) for r in dens] == [(got["a"][0], 1)]
    hot = tiling.hot_cells(pts, level=6).filter(F.col("cell_id").isNotNull()).collect()
    assert [(r["cell_id"], r["n_points"]) for r in hot] == [(got["a"][0], 1)]


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


def test_knn_and_radius_join_have_no_python_stage(spark):
    """The kNN ring and the radius-join disk are JVM windows, so no
    plan either operator executes evaluates Python."""
    rng = np.random.RandomState(23)
    pts = spark.createDataFrame(pd.DataFrame({
        "doc_id": np.arange(500, dtype=np.int64),
        "lon": rng.uniform(-180, 180, 500),
        "lat": rng.uniform(-85, 85, 500),
    }))
    queries = spark.createDataFrame(
        [Row(query_id="q0", qlon=179.5, qlat=10.0), Row(query_id="q1", qlon=10.0, qlat=84.0)]
    )
    runs = {
        "knn": lambda: knnmod.knn_join(queries, pts, k=3, level=6, max_rounds=1).collect(),
        "radius": lambda: knnmod.radius_join(queries, pts, radius=6.0, level=6).collect(),
        "radius_haversine": lambda: knnmod.radius_join(
            queries, pts, radius=500_000.0, level=6, haversine=True).collect(),
    }
    for name, run in runs.items():
        plans = _executed_plans(spark, run)
        assert plans, name
        for plan in plans:
            assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, name
