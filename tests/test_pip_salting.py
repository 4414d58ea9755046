"""Auto hot-cell salting in the shuffle PIP path (VERDICT r3 #6): the
salt factor is MEASURED from the point-cell histogram (the hot_cells
diagnostic reduced to a decision), the salted join's key distribution
is provably flatter, and the output is hash-identical salted or not."""

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from geo_import_spark import corpus
from geo_import_spark.functions import cells as cellmod
from geo_import_spark.operators import pip as pipmod


def _skewed_points(spark, sf_dir, n=4000, hot_frac=0.85):
    """hot_frac of the points packed into a ~0.01 deg square inside the
    corpus's polygon 0 (the planted hot polygon); the rest on a world
    lattice."""
    b = (
        corpus.polygons(spark, sf_dir)
        .select(
            "poly_id",
            F.array_min("geom.xs").alias("minx"),
            F.array_min("geom.ys").alias("miny"),
        )
        .orderBy("poly_id")
        .limit(1)
        .collect()[0]
    )
    hx, hy = b["minx"] + 0.005, b["miny"] + 0.005
    rows = []
    nh = int(n * hot_frac)
    for i in range(nh):
        rows.append(
            (f"h{i}", 0, hx + (i % 64) * 1e-4, hy + (i // 64) * 1e-4)
        )
    for i in range(nh, n):
        rows.append(
            (f"c{i}", 0, float((i * 37) % 340 - 170.0), float((i * 53) % 160 - 80.0))
        )
    return spark.createDataFrame(
        rows, "doc_id string, span_offset int, lon double, lat double"
    )


def test_auto_salt_uniform_corpus_is_one(spark):
    rows = [
        (f"u{i}", 0, float(i % 64) * 5 - 160.0, float(i // 64 % 32) * 5 - 80.0)
        for i in range(2048)
    ]
    pts = spark.createDataFrame(
        rows, "doc_id string, span_offset int, lon double, lat double"
    )
    assert pipmod.auto_salt_factor(pts, level=3) == 1


def test_auto_salt_skewed_corpus_splits_hot_cell(spark, sf_dir):
    pts = _skewed_points(spark, sf_dir)
    s = pipmod.auto_salt_factor(pts, level=6)
    assert s > 1
    # the salted key distribution is flatter: the hottest (cell, salt)
    # bucket carries a bounded share of what the hottest bare cell did
    cell = cellmod.cell_col("lon", "lat", 6)
    bare_max = (
        pts.groupBy(cell.alias("c")).count().agg(F.max("count")).collect()[0][0]
    )
    salted_max = (
        pts.withColumn("c", cell)
        .withColumn(
            "salt", F.pmod(F.hash("doc_id", "span_offset"), F.lit(s))
        )
        .groupBy("c", "salt")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    # hash splits are not perfectly even; half the ideal split is a
    # safe lower bound on the improvement
    assert salted_max <= bare_max / (s / 2.0)


def test_salted_shuffle_output_identical_and_plan_salts(spark, sf_dir):
    """Shuffle-mode pip_join with measured salting returns the exact
    row set of the unsalted shuffle AND the broadcast plan; the salted
    plan joins on (cell_id, salt) with the pmod salt visible."""
    pts = _skewed_points(spark, sf_dir, n=2000)
    polys = corpus.polygons(spark, sf_dir)
    key = lambda df: sorted(
        (r["doc_id"], r["span_offset"], r["poly_id"]) for r in df.collect()
    )
    bc = key(pipmod.pip_join(pts, polys, broadcast_polys=True))
    unsalted = key(
        pipmod.pip_join(pts, polys, broadcast_polys=False, salt_factor=1)
    )
    auto = pipmod.pip_join(pts, polys, broadcast_polys=False)  # measured salt
    assert key(auto) == unsalted == bc
    assert len(bc) > 0
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        auto.explain("formatted")
    plan = buf.getvalue()
    assert "pmod" in plan and "salt" in plan


def test_salted_plan_is_smj_at_scale(spark, sf_dir):
    """Under autoBroadcastJoinThreshold=-1 (the condition that holds
    when the polygon side is genuinely too big to broadcast) the salted
    shuffle plan is a SortMergeJoin on (cell_id, salt); the s-row salt
    replicate still broadcasts (explicit hint), never a
    CartesianProduct."""
    pts = _skewed_points(spark, sf_dir, n=1500)
    polys = corpus.polygons(spark, sf_dir)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    try:
        df = pipmod.pip_join(pts, polys, broadcast_polys=False, salt_factor=4)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        assert "SortMergeJoin" in plan
        assert "pmod" in plan
        assert "CartesianProduct" not in plan
        assert df.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
