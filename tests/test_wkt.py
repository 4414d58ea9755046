"""WKT decoder unit + integration tests: grammar coverage, the error
side-channel contract (malformed input -> error row, never a task
crash), P5 empty semantics, the vertex guard, cross-decoder struct
equality vs the GeoJSON path, and dispatch routing."""

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geo_import_spark.functions import geomkern
from geo_import_spark.sources import dispatch, geojson, wkt


def _docs(spark, texts):
    rows = [
        (f"d-{i}", [("geometry", t, None, 0)]) for i, t in enumerate(texts)
    ]
    return spark.createDataFrame(
        rows,
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )


def test_wkt_polygon_with_hole_flattens_like_geojson(spark):
    w = ("POLYGON ((35 10, 45 45, 15 40, 10 20, 35 10), "
         "(20 30, 35 35, 30 20, 20 30))")
    gj = json.dumps({
        "type": "Feature",
        "geometry": {
            "type": "Polygon",
            "coordinates": [
                [[35, 10], [45, 45], [15, 40], [10, 20], [35, 10]],
                [[20, 30], [35, 35], [30, 20], [20, 30]],
            ],
        },
        "properties": {},
    })
    gw = wkt.wkt_spans(_docs(spark, [w])).collect()[0]
    gg = geojson.geometry_spans(_docs(spark, [gj])).collect()[0]
    assert gw.error is None and gg.error is None
    assert gw.geom == gg.geom  # identical flat struct, byte for byte


@pytest.mark.parametrize("txt,gtype,nv", [
    ("POINT (30 10)", "Point", 1),
    ("POINT ZM (30 10 5 2)", "Point", 1),
    ("MULTIPOINT ((10 40), (40 30))", "MultiPoint", 2),
    ("MULTIPOINT (10 40, 40 30)", "MultiPoint", 2),
    ("LINESTRING (30 10, 10 30, 40 40)", "LineString", 3),
    ("MULTILINESTRING ((10 10, 20 20), (40 40, 30 30, 20 10))",
     "MultiLineString", 5),
    ("MULTIPOLYGON (((30 20, 45 40, 10 40, 30 20)), "
     "((15 5, 40 10, 10 20, 15 5)))", "MultiPolygon", 8),
])
def test_wkt_grammar_coverage(spark, txt, gtype, nv):
    r = wkt.wkt_spans(_docs(spark, [txt])).collect()[0]
    assert r.error is None
    assert r.geom.gtype == gtype
    assert len(r.geom.xs) == nv


@pytest.mark.parametrize("txt", [
    "GEOMETRYCOLLECTION (POINT (1 2))",
    "POINT (30)",
    "POINT (a b)",
    "POLYGON (30 10, 40 40)",
    "LINESTRING ((30 10, 40 40)",
    "",
    "totally not wkt",
    "LINESTRING ((1 2), (3 4))",  # parenthesized positions: MULTIPOINT only
    "POLYGON ((30 10, 40 40, 20 40, 10 20))",  # unclosed ring
    "MULTIPOLYGON (((30 20, 45 40, 30 20)))",  # ring of 3 positions
])
def test_wkt_malformed_is_error_row_not_crash(spark, txt):
    rows = wkt.wkt_spans(_docs(spark, [txt, "POINT (1 2)"])).collect()
    by_id = {r.doc_id: r for r in rows}
    assert by_id["d-0"].geom is None
    assert by_id["d-0"].error is not None and "wkt" in by_id["d-0"].error
    assert by_id["d-1"].error is None  # the good row still parses


def test_wkt_empty_is_soql_null(spark):
    rows = wkt.wkt_spans(
        _docs(spark, ["POINT EMPTY", "MULTIPOLYGON EMPTY"])
    ).collect()
    for r in rows:
        assert r.geom is None and r.error is None  # P5


def test_wkt_vertex_guard(spark, monkeypatch):
    txt = "LINESTRING (" + ", ".join(f"{i} {i}" for i in range(20)) + ")"
    ok = wkt.wkt_spans(_docs(spark, [txt])).collect()[0]
    assert ok.error is None and len(ok.geom.xs) == 20
    # the guard is enforced inside the UDF via geomkern's constant;
    # build an oversized line against the real constant cheaply by
    # checking the branch directly
    assert wkt._parse_one(
        "LINESTRING ("
        + ", ".join("0 0" for _ in range(geomkern.MAX_VERTICES_PER_ROW + 1))
        + ")"
    )[4] == "too many vertices"


def test_dispatch_routes_wkt(spark):
    assert dispatch.format_for_extension("sites.wkt") == "wkt"
    assert dispatch.format_for_content_type("text/vnd.wkt") == "wkt"
    docs = _docs(spark, ["POINT (3 4)"]).withColumn("format", F.lit("wkt"))
    out = dispatch.decode_geometry_spans(docs).collect()
    assert len(out) == 1
    assert out[0].geom.gtype == "Point"
    assert (out[0].geom.xs, out[0].geom.ys) == ([3.0], [4.0])


# --- format_wkt (export) ---------------------------------------------------


@pytest.mark.parametrize("txt", [
    "POINT (30 10)",
    "LINESTRING (30 10, 10 30, 40 40)",
    "POLYGON ((30 10, 40 40, 20 40, 10 20, 30 10))",
    "POLYGON ((35 10, 45 45, 15 40, 10 20, 35 10),"
    " (20 30, 35 35, 30 20, 20 30))",
    "MULTIPOINT (10 40, 40 30)",
    "MULTILINESTRING ((10 10, 20 20), (40 40, 30 30))",
    "MULTIPOLYGON (((30 20, 45 40, 10 40, 30 20)),"
    " ((15 5, 40 10, 10 20, 15 5), (20 15, 25 20, 22 17, 20 15)))",
])
def test_format_wkt_roundtrips_canonical_text(spark, txt):
    out = (
        wkt.wkt_spans(_docs(spark, [txt]))
        .select(wkt.format_wkt(F.col("geom")).alias("w"))
        .collect()[0].w
    )
    assert out == txt


def test_format_wkt_null_geom_is_null(spark):
    out = (
        wkt.wkt_spans(_docs(spark, ["POINT EMPTY"]))
        .select(wkt.format_wkt(F.col("geom")).alias("w"))
        .collect()[0].w
    )
    assert out is None


def test_format_wkt_is_jvm_only(spark):
    import io
    import re as _re
    import contextlib

    df = wkt.wkt_spans(_docs(spark, ["POINT (1 2)"])).select(
        wkt.format_wkt(F.col("geom")).alias("w")
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    # exactly ONE Python stage: the decoder; the formatter adds none
    # (count "(n) ArrowEvalPython" node headers — each node also
    # appears once in the plan's tree summary)
    assert len(_re.findall(r"\(\d+\) ArrowEvalPython", p)) == 1


def test_format_wkt_rejects_non_lattice(spark):
    df = wkt.wkt_spans(_docs(spark, ["POINT (1.5 2)"])).select(
        wkt.format_wkt(F.col("geom")).alias("w")
    )
    with pytest.raises(Exception, match="non-integer-lattice"):
        df.collect()


@pytest.mark.parametrize("gtype, parts, rings, n, what", [
    ("Polygon", [0, 1], [0, 4, 4, 8], 8, "empty ring at offsets 4..4"),
    ("MultiLineString", [0, 3], [0, 4, 4, 8], 8, "empty ring at offsets 4..4"),
    ("MultiPolygon", [0, 1, 1, 2], [0, 4, 8], 8, "empty part at offsets 1..1"),
    ("LineString", [0, 1], [0, 0], 0, "empty ring at offsets 0..0"),
    ("Polygon", [0, 0], [0], 0, "empty ring list at offsets 0..0"),
    ("MultiPolygon", [0], [0], 0, "empty part list at offsets 0..0"),
    ("MultiPoint", [0, 1], [0, 0], 0, "empty vertex list at offsets 0..0"),
])
def test_format_wkt_rejects_empty_ring_or_part(spark, gtype, parts, rings, n, what):
    """Offsets with an empty ring, part or group (the GeoJSON decoder
    can emit them; the WKT parser cannot) raise naming the offsets.
    Spark's sequence steps backwards over an empty span, so the first
    three rows formatted reversed garbage vertices without an error."""
    xs = [float(v) for v in (0, 10, 10, 0, 20, 30, 30, 20)][:n]
    df = spark.createDataFrame(
        [((gtype, parts, rings, xs, xs),)], T.StructType([T.StructField("geom", geojson.GEOM_TYPE)])
    )
    with pytest.raises(Exception, match=what):
        df.select(wkt.format_wkt(F.col("geom")).alias("w")).collect()
