"""The flagship checkpointed job: documents -> parse -> cell index ->
PIP join -> tile assignment, every stage resumable (north rule: run
via spark-submit --py-files, killed runs resume from per-partition
lineage without reprocessing completed cell groups).

Work units are coarse quadtree cells (level UNIT_LEVEL ancestors of
the point cell) — spatial locality means a unit's re-run touches one
contiguous Morton range. Stage outputs land in an Iceberg-style
directory tree under `out_root` with lineage JSONL per stage.

Usage (local sandbox stand-in for a cluster):
    spark-submit --py-files geo_import_spark.zip run_job.py \
        --sf-dir /root/testdata/sf0.1 --out /tmp/pipeline_out
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from geo_import_spark import corpus
from geo_import_spark.functions import cells as cellmod
from geo_import_spark.operators import pip as pipmod
from geo_import_spark.operators import tiling
from geo_import_spark.plans.checkpoint import CheckpointedStage
from geo_import_spark.sources import geojson

UNIT_LEVEL = 3  # 8x8 world grid -> at most 64 work units per stage
POINT_LEVEL = 13


def _unit_col():
    """Ancestor cell at UNIT_LEVEL from lon/lat — JVM expression."""
    from geo_import_spark.functions import cells as cellmod

    return cellmod.cell_col("lon", "lat", UNIT_LEVEL)


def run_pipeline(
    spark: SparkSession,
    sf_dir: str,
    out_root: str,
    docs_df=None,
    polys_df=None,
) -> dict:
    summary = {}

    # stage 1: parse geometry spans to typed points, unitized
    docs = docs_df if docs_df is not None else corpus.documents(spark, sf_dir)
    pts = geojson.point_spans(docs).withColumn("unit", _unit_col())
    st_points = CheckpointedStage(out_root, "points")
    summary["points"] = st_points.run(
        spark, pts, "unit", lambda df: df, input_fingerprint=sf_dir
    )

    points = st_points.read(spark)

    # stage 2: PIP join against the polygon layer
    polys = polys_df if polys_df is not None else corpus.polygons(spark, sf_dir)
    st_pip = CheckpointedStage(out_root, "pip")

    def do_pip(df):
        hits = pipmod.pip_join(
            df, polys, point_cols=("doc_id", "span_offset", "unit")
        )
        return hits

    summary["pip"] = st_pip.run(spark, points, "unit", do_pip, input_fingerprint=sf_dir)

    # stage 3: tile assignment for media spans (anchored at the doc's
    # first geometry span)
    st_tiles = CheckpointedStage(out_root, "tiles")
    anchors = tiling.first_geometry_anchor(points)
    media = tiling.media_spans(docs)

    def do_tiles(df):
        # df = anchors slice for pending units; join media spans on doc
        tiled = tiling.assign_tiles_from_anchors(media, df, z=12)
        return tiled

    # Unit comes from the anchor's OWN lon/lat — joining units in from
    # points would tag a doc with every geometry span's unit and tile
    # its media spans once per unit (duplicate rows across units).
    anchors_u = anchors.withColumn("unit", _unit_col())
    summary["tiles"] = st_tiles.run(
        spark, anchors_u, "unit", do_tiles, input_fingerprint=sf_dir
    )

    # stage 4: publish — commit the join output as an Iceberg-style
    # table whose manifest carries the WGS84 mega-bbox
    # (services/spatial.js:318-345 parent-metadata update), plus an
    # errors table for rejected rows (the ISS error-event side channel,
    # upstream/iss.js:95-140).
    import os

    from geo_import_spark.plans.table import Table

    bbox_row = points.filter(
        F.col("lon").between(-180, 180) & F.col("lat").between(-90, 90)
    ).agg(
        F.min("lon").alias("minx"),
        F.min("lat").alias("miny"),
        F.max("lon").alias("maxx"),
        F.max("lat").alias("maxy"),
    ).collect()[0]
    bbox = {k: bbox_row[k] for k in ("minx", "miny", "maxx", "maxy")}

    # Publish BY FILE REFERENCE: the pip checkpoint's parquet is
    # already immutable columnar output; the manifest snapshots those
    # files instead of rewriting them (at 100 TB, Table.commit's
    # rewrite would be a full extra copy of the dataset purely to get
    # a manifest). One stats job + a JSON write.
    import glob

    out_table = Table(os.path.join(out_root, "table_pip"))
    err_table = Table(os.path.join(out_root, "table_errors"))
    pip_files = sorted(
        glob.glob(os.path.join(st_pip.stage_dir, "**", "*.parquet"), recursive=True)
    )
    snap = out_table.commit_files(
        spark,
        pip_files,
        base_path=st_pip.stage_dir,
        properties={
            "bbox": bbox,
            "bboxCrs": "EPSG:4326",
            # Parent-metadata child-layer uid list (spatial.js:318-345
            # writes geo.layers + privateMetadata.childViews alongside
            # the bbox): the tables this run published.
            "layers": [out_table.table_id],
            "childViews": [out_table.table_id, err_table.table_id],
        },
    )

    # Error side-channel at scale: the JVM fast path drops whatever it
    # can't parse as a Point feature; only those (rare) spans re-run
    # through the full pandas decoder to get a reason — never the
    # whole corpus twice.
    gs = docs.select("doc_id", F.explode("spans").alias("span")).filter(
        F.col("span.kind") == "geometry"
    ).select("doc_id", F.col("span.offset").alias("span_offset"), F.col("span.text").alias("text"))
    dropped = gs.join(
        points.select("doc_id", "span_offset"), ["doc_id", "span_offset"], "left_anti"
    )
    errors = (
        dropped.withColumn("parsed", geojson.parse_feature("text"))
        .filter(F.col("parsed.error").isNotNull())
        .select("doc_id", "span_offset", F.col("parsed.error").alias("error"))
    )
    err_snap = err_table.commit(spark, errors)
    summary["publish"] = {
        "bbox": bbox,
        "rows": snap["rows"],
        "error_rows": err_snap["rows"],
    }
    return summary


def pipeline_metrics(out_root: str) -> list[dict]:
    rows = []
    for stage in ("points", "pip", "tiles"):
        rows.extend(CheckpointedStage(out_root, stage).metrics())
    return rows
