"""WKT (Well-Known Text, ISO 13249-3 / OGC Simple Features) span
decoding — the fifth source format after GeoJSON/KML/KMZ/Shapefile.

The reference stops at four decoders (es6-lib/decoders/index.js:9-24);
WKT is the interchange text format every spatial SQL engine emits
(PostGIS ST_AsText, BigQuery, DuckDB spatial), so a production
deployment ingests it on day one — an engine extension in the
dispatch.py architecture: a batched pandas UDF parses each geometry
span per Arrow batch and emits the same PARSED_FEATURE_TYPE struct as
the other decoders (so layer merge / reproject / PIP compose
unchanged), with malformed input routed to the error side-channel,
never a task crash (the G2 contract).

Grammar coverage: POINT, MULTIPOINT (both the double-paren and the
bare comma syntax), LINESTRING, MULTILINESTRING, POLYGON,
MULTIPOLYGON; optional Z/M/ZM dimension markers (extra ordinates
parsed and dropped — the shapefile decoder's Z/M policy); EMPTY at
any level -> SoQLNull geometry (the P5 empty-geometry rule). Only
MULTIPOINT may parenthesize its positions, and every polygon ring
must be closed with at least 4 positions; anything else is an error
row. Vertex guard: geomkern.MAX_VERTICES_PER_ROW, same as every other
decoder.

Coordinates pass through geomkern.flatten_geojson_coords — WKT is
parsed into GeoJSON-shaped nested lists first, so the arity checks
(G2) and the flat (xs, ys, ring_offsets, part_offsets) layout are
decided by exactly the same code path as the JSON decoder.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from geo_import_spark.functions import geomkern
from geo_import_spark.sources.geojson import DEFAULT_CRS, PARSED_FEATURE_TYPE

# WKT tag -> GeoJSON type (case-insensitive match on the tag)
_TYPES = {
    "POINT": "Point",
    "MULTIPOINT": "MultiPoint",
    "LINESTRING": "LineString",
    "MULTILINESTRING": "MultiLineString",
    "POLYGON": "Polygon",
    "MULTIPOLYGON": "MultiPolygon",
}

# nesting depth of the GeoJSON coordinate array per type (1 = list of
# positions, 2 = list of rings/lines, 3 = list of polygons)
_DEPTH = {
    "Point": 0,
    "MultiPoint": 1,
    "LineString": 1,
    "MultiLineString": 2,
    "Polygon": 2,
    "MultiPolygon": 3,
}


def _split_top(s: str) -> list[str]:
    """Split a paren-balanced string on top-level commas."""
    out, depth, start = [], 0, 0
    for i, c in enumerate(s):
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth < 0:
                raise ValueError("unbalanced ')'")
        elif c == "," and depth == 0:
            out.append(s[start:i])
            start = i + 1
    if depth != 0:
        raise ValueError("unbalanced '('")
    out.append(s[start:])
    return out


def _strip_parens(s: str) -> str:
    s = s.strip()
    if not (s.startswith("(") and s.endswith(")")):
        raise ValueError(f"expected parenthesized group, got {s[:30]!r}")
    return s[1:-1]


def _parse_position(tok: str) -> list[float]:
    parts = tok.split()
    if len(parts) < 2:
        raise ValueError(f"position needs >= 2 ordinates, got {tok!r}")
    if len(parts) > 4:
        raise ValueError(f"position has > 4 ordinates: {tok!r}")
    try:
        nums = [float(p) for p in parts]
    except ValueError:
        raise ValueError(f"non-numeric ordinate in {tok!r}") from None
    return nums[:2]  # Z/M ordinates parsed then dropped


def _parse_nested(s: str, depth: int, paren_points: bool = False) -> list:
    """Parse a paren group at the given GeoJSON nesting depth. Only a
    MULTIPOINT body (`paren_points`) may wrap its positions in
    parentheses."""
    if depth == 0:
        return _parse_position(_strip_parens(s))
    body = _strip_parens(s)
    if body.strip().upper() == "EMPTY" or body.strip() == "":
        return []
    items = _split_top(body)
    if depth == 1:
        out = []
        for it in items:
            it = it.strip()
            # MULTIPOINT accepts both "(1 2), (3 4)" and "1 2, 3 4"
            if it.startswith("("):
                if not paren_points:
                    raise ValueError(f"parenthesized position {it[:30]!r}")
                it = _strip_parens(it)
            out.append(_parse_position(it))
        return out
    return [_parse_nested(it.strip(), depth - 1) for it in items]


def _check_ring(ring: list) -> None:
    """A polygon ring is closed and has at least 4 positions."""
    if len(ring) < 4:
        raise ValueError(f"polygon ring has {len(ring)} positions, needs >= 4")
    if ring[0] != ring[-1]:
        raise ValueError("polygon ring is not closed")


def parse_wkt_text(txt: str):
    """One WKT string -> (gtype, geojson_coords) or ('EMPTY', None);
    raises ValueError on malformed input."""
    if txt is None:
        raise ValueError("null text")
    s = txt.strip()
    i = 0
    while i < len(s) and (s[i].isalpha()):
        i += 1
    tag = s[:i].upper()
    if tag not in _TYPES:
        raise ValueError(f"unknown WKT type {tag!r}")
    rest = s[i:].strip()
    # optional dimension marker(s)
    for marker in ("ZM", "Z", "M"):
        if rest.upper().startswith(marker) and (
            len(rest) == len(marker)
            or not rest[len(marker)].isalnum()
        ):
            rest = rest[len(marker):].strip()
            break
    gtype = _TYPES[tag]
    if rest.upper() == "EMPTY":
        return "EMPTY", None
    coords = _parse_nested(rest, _DEPTH[gtype], paren_points=gtype == "MultiPoint")
    if gtype in ("Polygon", "MultiPolygon"):
        for poly in [coords] if gtype == "Polygon" else coords:
            for ring in poly:
                _check_ring(ring)
    return gtype, coords


def _parse_one(txt: str):
    try:
        gtype, coords = parse_wkt_text(txt)
    except ValueError as e:
        return (None, None, None, DEFAULT_CRS, f"malformed wkt: {e}")
    if gtype == "EMPTY" or coords == []:
        return (None, "{}", [], DEFAULT_CRS, None)  # P5: empty -> SoQLNull
    try:
        po, ro, xs, ys = geomkern.flatten_geojson_coords(gtype, coords)
    except ValueError as e:
        return (None, "{}", [], DEFAULT_CRS, str(e))
    if len(xs) > geomkern.MAX_VERTICES_PER_ROW:
        return (None, "{}", [], DEFAULT_CRS, "too many vertices")
    if not xs:
        return (None, "{}", [], DEFAULT_CRS, None)
    return ((gtype, po, ro, xs, ys), "{}", [], DEFAULT_CRS, None)


@pandas_udf(PARSED_FEATURE_TYPE)
def parse_wkt(texts: pd.Series) -> pd.DataFrame:
    rows = [_parse_one(t) for t in texts]
    return pd.DataFrame(
        {
            "geom": [r[0] for r in rows],
            "properties": [r[1] for r in rows],
            "props": [r[2] for r in rows],
            "crs": [r[3] for r in rows],
            "error": [r[4] for r in rows],
        }
    )


def wkt_spans(documents: DataFrame) -> DataFrame:
    """documents(doc_id, spans) with WKT geometry spans -> the same
    parsed-feature frame the other decoders emit."""
    s = documents.select(
        "doc_id", F.explode("spans").alias("span")
    ).filter(F.col("span.kind") == "geometry")
    g = s.select(
        "doc_id",
        F.col("span.offset").alias("span_offset"),
        parse_wkt(F.col("span.text")).alias("f"),
    )
    return g.select(
        "doc_id",
        "span_offset",
        F.col("f.geom").alias("geom"),
        F.col("f.properties").alias("properties"),
        F.col("f.props").alias("props"),
        F.col("f.crs").alias("crs"),
        F.col("f.error").alias("error"),
    )


# ---------------------------------------------------------------------------
# WKT export (ST_AsText analogue) — pure Catalyst, zero Python
# ---------------------------------------------------------------------------


def format_wkt(geom) -> "F.Column":
    """Flat geometry struct -> WKT string, entirely in JVM
    expressions (nested transform/sequence/array_join — no Python
    worker anywhere). Engine-portable determinism requires
    engine-portable number formatting, so the exporter emits
    INTEGER-LATTICE coordinates (the engine's µdeg convention) and
    RAISES on a non-integral coordinate instead of silently leaking
    Spark's float formatting — a deployment exporting true doubles
    would swap the vertex formatter for a UDF and accept that its
    output is no longer hash-comparable across engines.

    NULL geom -> NULL (the P4/P5 null-geometry convention).
    """
    xs, ys, ro, po = geom["xs"], geom["ys"], geom["ring_offsets"], geom["part_offsets"]
    gt = geom["gtype"]

    def as_int(c):
        i = c.cast("long")
        return F.when(i.cast("double") == c, i).otherwise(
            F.raise_error(F.format_string(
                "format_wkt: non-integer-lattice coordinate %s",
                c)).cast("long")
        )

    def vstr(i):  # i: 0-based vertex index column
        return F.concat(
            as_int(F.element_at(xs, i + 1)).cast("string"),
            F.lit(" "),
            as_int(F.element_at(ys, i + 1)).cast("string"),
        )

    def span(lo, hi, what):
        """0-based indices lo..hi-1, raising on an empty group: Spark's
        sequence steps backwards when its start passes its stop, which
        would emit reversed garbage vertices."""
        return F.when(hi > lo, F.sequence(lo, hi - 1)).otherwise(
            F.raise_error(F.format_string(
                f"format_wkt: empty {what} at offsets %s..%s", lo, hi)
            ).cast("array<int>")
        )

    def group(lo, hi, what, fmt):  # "fmt(lo), ..., fmt(hi - 1)"
        return F.array_join(F.transform(span(lo, hi, what), fmt), ", ")

    def ring(r):  # r: 0-based ring index column -> "(x y, x y, ...)"
        lo = F.element_at(ro, r + 1)
        hi = F.element_at(ro, r + 2)
        return F.concat(F.lit("("), group(lo, hi, "ring", vstr), F.lit(")"))

    def part(p):  # 0-based part index -> "((ring), (ring))"
        lo = F.element_at(po, p + 1)
        hi = F.element_at(po, p + 2)
        return F.concat(F.lit("("), group(lo, hi, "part", ring), F.lit(")"))

    all_vertices = group(F.lit(0), F.size(xs), "vertex list", vstr)
    rings_grp = group(F.lit(0), F.size(ro) - 1, "ring list", ring)
    parts_grp = group(F.lit(0), F.size(po) - 1, "part list", part)

    out = (
        F.when(gt == "Point", F.concat(F.lit("POINT ("), vstr(F.lit(0)), F.lit(")")))
        .when(gt == "LineString", F.concat(F.lit("LINESTRING "), ring(F.lit(0))))
        .when(gt == "MultiPoint",
              F.concat(F.lit("MULTIPOINT ("), all_vertices, F.lit(")")))
        .when(gt == "Polygon", F.concat(F.lit("POLYGON ("), rings_grp, F.lit(")")))
        .when(gt == "MultiLineString",
              F.concat(F.lit("MULTILINESTRING ("), rings_grp, F.lit(")")))
        .when(gt == "MultiPolygon",
              F.concat(F.lit("MULTIPOLYGON ("), parts_grp, F.lit(")")))
        .otherwise(
            F.raise_error(F.format_string(
                "format_wkt: unknown gtype %s", gt)).cast("string"))
    )
    return F.when(geom.isNull(), F.lit(None).cast("string")).otherwise(out)
