"""Streaming point-in-polygon: the flagship spatial join over a
point STREAM (readStream) against a static polygon dimension.

The batch pip_join's broadcast mode is already the right streaming
plan: the polygon side is static, so its cover and its rings carry a
broadcast hint; the streaming point side computes its cover cells in
whole-stage codegen, joins the broadcast cover and then the broadcast
rings (stream-static BroadcastHashJoins — no state store, no
watermark needed), and the exact ray-cast refinement runs in the same
Arrow batch UDF per micro-batch. Output is append-mode: each containment
row is emitted exactly once in the micro-batch that carried its
point, so a 100-TB backfill and a live tail produce identical rows
(asserted against batch pip_join in tests/test_streaming_pip.py).

Reference parity: this is the streaming ingest shape of the
reference's long-lived import daemon (es6-lib/services/spatial.js) —
features arrive incrementally and each is classified against the
already-published polygon layers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from geo_import_spark.operators import pip as pipmod


def streaming_pip_join(
    stream_points: DataFrame,
    polygons: DataFrame,
    base_level: int = 13,
    max_cells: int = 64,
    point_cols: tuple[str, ...] = ("doc_id", "span_offset"),
) -> DataFrame:
    """stream_points: a STREAMING DataFrame with lon/lat + point_cols;
    polygons: a static polygon DataFrame (poly_id + flat geom).

    Returns a streaming DataFrame of containment rows
    (point_cols..., poly_id). The polygon side must be broadcastable
    (it is a dimension; the auto-estimator's budget still applies —
    a non-broadcastable polygon side raises rather than silently
    planning a stateful stream-stream join)."""
    if not stream_points.isStreaming:
        raise ValueError("stream_points must be a streaming DataFrame")
    if polygons.isStreaming:
        raise ValueError("polygons must be static (the broadcast dimension)")
    _, est = pipmod.estimate_polygon_side_bytes(polygons)
    if est > pipmod.BROADCAST_BUDGET_BYTES:
        raise ValueError(
            f"polygon side estimate {est} bytes exceeds the broadcast "
            f"budget ({pipmod.BROADCAST_BUDGET_BYTES}); streaming PIP "
            "requires a broadcastable polygon dimension"
        )
    return pipmod.pip_join(
        stream_points,
        polygons,
        base_level=base_level,
        max_cells=max_cells,
        point_cols=point_cols,
        broadcast_polys=True,
    )
