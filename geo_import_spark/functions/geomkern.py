"""Flat (Arrow-friendly) geometry representation + vectorized kernels.

The engine's canonical geometry value is a struct of flat arrays:

    geom struct<
      gtype:        string,       -- GeoJSON type name
      part_offsets: array<int>,   -- per Multi* part: start index into ring_offsets
      ring_offsets: array<int>,   -- per ring/line: start index into xs/ys
      xs:           array<double>,
      ys:           array<double>
    >

Point        -> part_offsets=[0,1], ring_offsets=[0,1], xs=[x], ys=[y]
LineString   -> part_offsets=[0,1], ring_offsets=[0,n]
Polygon      -> part_offsets=[0,nrings], ring_offsets per ring
MultiPolygon -> part_offsets per polygon into its rings

This mirrors Arrow list offsets, so every geometry transform is a NumPy
pass over flat coordinate ndarrays — never per-row Python — replacing
the reference's per-row JS walkers:

- fix_semantics == geo-import's SoQL fixSemantics chain
  (linify es6-lib/soql/line.js:16-29, close-rings polygon.js:14-33,
   empty-coords nullification soql/mapper.js:32-46)
- arity/vertex guards == soql/geom.js:18-21 + config maxVerticesPerRow
  (es6-lib/config/config.js:26, layer.js:254-258)
- bbox == es6-lib/util/bbox.js:40-75
- ray-cast PIP == new-engine operator (reference has no join; SURVEY §4.2.1)
"""

from __future__ import annotations

import numpy as np

GEOM_TYPES = ("Point", "LineString", "Polygon", "MultiPoint", "MultiLineString", "MultiPolygon")
MAX_VERTICES_PER_ROW = 1_000_000  # reference es6-lib/config/config.js:26


def flatten_geojson_coords(gtype: str, coords):
    """GeoJSON coordinates -> (part_offsets, ring_offsets, xs, ys).

    Raises ValueError on bad arity (reference InvalidArityError,
    es6-lib/soql/geom.js:18-21). Empty coords -> zero-length arrays
    (caller nullifies per soql/mapper.js:32-46).
    """
    if gtype == "Point":
        rings = [[coords]] if coords else [[]]
    elif gtype in ("LineString", "MultiPoint"):
        rings = [[c] for c in coords] if gtype == "MultiPoint" else [coords]
        rings = [r for r in rings]
    elif gtype == "Polygon":
        rings = list(coords)
    elif gtype == "MultiLineString":
        rings = list(coords)
    elif gtype == "MultiPolygon":
        rings = None
    else:
        raise ValueError(f"unknown geometry type {gtype!r}")

    part_offsets = [0]
    ring_offsets = [0]
    xs: list[float] = []
    ys: list[float] = []

    def add_ring(ring):
        for pt in ring:
            if len(pt) != 2:
                raise ValueError(f"invalid arity {len(pt)}")
            xs.append(float(pt[0]))
            ys.append(float(pt[1]))
        ring_offsets.append(len(xs))

    if gtype == "MultiPolygon":
        for poly in coords:
            for ring in poly:
                add_ring(ring)
            part_offsets.append(len(ring_offsets) - 1)
    elif gtype in ("Polygon", "MultiLineString"):
        for ring in rings:
            add_ring(ring)
        part_offsets.append(len(ring_offsets) - 1)
    elif gtype == "MultiPoint":
        for r in rings:
            add_ring(r)
        part_offsets.append(len(ring_offsets) - 1)
    else:  # Point / LineString
        add_ring(rings[0])
        part_offsets.append(1)

    return part_offsets, ring_offsets, xs, ys


def unflatten_to_geojson(gtype, part_offsets, ring_offsets, xs, ys):
    """Inverse of flatten_geojson_coords -> GeoJSON coordinates list."""
    def ring(i):
        a, b = ring_offsets[i], ring_offsets[i + 1]
        return [[xs[j], ys[j]] for j in range(a, b)]

    nrings = len(ring_offsets) - 1
    if gtype == "Point":
        if len(xs) == 0:
            return []
        return [xs[0], ys[0]]
    if gtype == "LineString":
        return ring(0) if nrings else []
    if gtype == "MultiPoint":
        return [r[0] for i in range(nrings) if (r := ring(i))]
    if gtype in ("Polygon", "MultiLineString"):
        return [ring(i) for i in range(nrings)]
    if gtype == "MultiPolygon":
        out = []
        for p in range(len(part_offsets) - 1):
            out.append([ring(i) for i in range(part_offsets[p], part_offsets[p + 1])])
        return out
    raise ValueError(gtype)


def fix_semantics(gtype, part_offsets, ring_offsets, xs, ys):
    """Linify + close-rings, per reference semantics. Pure-python on
    offset lists (offset surgery is O(rings), not O(vertices)).

    - LineString/MultiLineString part with 1 point -> duplicate it
      (soql/line.js:16-29, soql/multiline.js:13-16)
    - Polygon/MultiPolygon ring: last != first -> append first; rings
      with < 4 points padded by repeating first (soql/polygon.js:14-33)
    """
    if gtype in ("LineString", "MultiLineString"):
        new_xs, new_ys, new_ro = [], [], [0]
        for i in range(len(ring_offsets) - 1):
            a, b = ring_offsets[i], ring_offsets[i + 1]
            seg_x, seg_y = list(xs[a:b]), list(ys[a:b])
            if len(seg_x) == 1:
                seg_x.append(seg_x[0])
                seg_y.append(seg_y[0])
            new_xs += seg_x
            new_ys += seg_y
            new_ro.append(len(new_xs))
        return gtype, part_offsets, new_ro, new_xs, new_ys
    if gtype in ("Polygon", "MultiPolygon"):
        new_xs, new_ys, new_ro = [], [], [0]
        for i in range(len(ring_offsets) - 1):
            a, b = ring_offsets[i], ring_offsets[i + 1]
            seg_x, seg_y = list(xs[a:b]), list(ys[a:b])
            if seg_x:
                if seg_x[-1] != seg_x[0] or seg_y[-1] != seg_y[0]:
                    seg_x.append(seg_x[0])
                    seg_y.append(seg_y[0])
                while len(seg_x) < 4:
                    seg_x.append(seg_x[0])
                    seg_y.append(seg_y[0])
            new_xs += seg_x
            new_ys += seg_y
            new_ro.append(len(new_xs))
        return gtype, part_offsets, new_ro, new_xs, new_ys
    return gtype, part_offsets, ring_offsets, xs, ys


def batch_fix_rings(gtypes, ring_offsets_list, xs_list, ys_list):
    """Vectorized fix_semantics over a whole Arrow batch: linify
    (1-point line parts duplicated) + close-rings (polygon rings
    closed with their first vertex and padded to >= 4 points) — the
    same semantics as fix_semantics(), but every per-VERTEX operation
    is a NumPy pass over batch-flat arrays (per-row Python is limited
    to O(rows) offset bookkeeping). Point-only batches take a zero-
    surgery fast path (no ring ever needs an append).

    Inputs are parallel sequences over the batch's valid rows.
    Returns (new_ring_offsets: list of per-row relative offset lists,
             flat_x, flat_y: batch-concatenated fixed coordinates,
             row_bounds: int64 array, len n+1 — row i's coords are
             flat_x[row_bounds[i]:row_bounds[i+1]]).
    part_offsets are unchanged by construction (ring counts never
    change).
    """
    n = len(gtypes)
    row_lens = np.fromiter((len(x) for x in xs_list), dtype=np.int64, count=n)
    coord_base = np.concatenate([[0], np.cumsum(row_lens)])
    if coord_base[-1]:
        flat_x = np.concatenate([np.asarray(x, dtype=np.float64) for x in xs_list])
        flat_y = np.concatenate([np.asarray(y, dtype=np.float64) for y in ys_list])
    else:
        flat_x = np.zeros(0)
        flat_y = np.zeros(0)
    ring_counts = np.fromiter(
        (len(r) - 1 for r in ring_offsets_list), dtype=np.int64, count=n
    )
    ring_start = (
        np.concatenate(
            [np.asarray(r[:-1], dtype=np.int64) + b
             for r, b in zip(ring_offsets_list, coord_base[:-1])]
        )
        if n
        else np.zeros(0, dtype=np.int64)
    )
    ring_end = (
        np.concatenate(
            [np.asarray(r[1:], dtype=np.int64) + b
             for r, b in zip(ring_offsets_list, coord_base[:-1])]
        )
        if n
        else np.zeros(0, dtype=np.int64)
    )
    ring_row = np.repeat(np.arange(n), ring_counts)

    gt = np.asarray(gtypes, dtype=object)
    is_poly = np.isin(gt, ("Polygon", "MultiPolygon"))
    is_line = np.isin(gt, ("LineString", "MultiLineString"))
    L = ring_end - ring_start
    poly_ring = is_poly[ring_row] & (L > 0)
    extra = np.zeros(len(L), dtype=np.int64)
    if poly_ring.any():
        s = ring_start[poly_ring]
        e = ring_end[poly_ring] - 1
        needs_close = (
            (flat_x[s] != flat_x[e]) | (flat_y[s] != flat_y[e])
        ).astype(np.int64)
        # close first, then pad to 4 — all appended points are the first
        extra[poly_ring] = needs_close + np.maximum(
            0, 4 - (L[poly_ring] + needs_close)
        )
    extra[is_line[ring_row] & (L == 1)] = 1

    if not extra.any():  # fast path: nothing to append (e.g. all Points)
        new_ro = [list(r) for r in ring_offsets_list]
        return new_ro, flat_x, flat_y, coord_base

    out_len = L + extra
    out_starts = np.concatenate([[0], np.cumsum(out_len)])
    rep_ring = np.repeat(np.arange(len(L)), out_len)
    pos = np.arange(out_starts[-1]) - out_starts[rep_ring]
    src = np.where(
        pos < L[rep_ring], ring_start[rep_ring] + pos, ring_start[rep_ring]
    )
    new_x = flat_x[src]
    new_y = flat_y[src]
    ring_split = np.cumsum(ring_counts)[:-1] if n else np.zeros(0, dtype=np.int64)
    out_len_per_row = np.split(out_len, ring_split)
    new_ro = [
        np.concatenate([[0], np.cumsum(ol)]).astype(np.int64).tolist()
        for ol in out_len_per_row
    ]
    new_row_lens = np.fromiter(
        (ol.sum() for ol in out_len_per_row), dtype=np.int64, count=n
    )
    row_bounds = np.concatenate([[0], np.cumsum(new_row_lens)])
    return new_ro, new_x, new_y, row_bounds


# ---------------------------------------------------------------------------
# Vectorized ragged kernels (operate on a BATCH of geometries at once)
# ---------------------------------------------------------------------------

def batch_bbox(row_offsets: np.ndarray, xs: np.ndarray, ys: np.ndarray):
    """Per-row (minx, miny, maxx, maxy) over flat coords concatenated
    across a batch; row_offsets delimit rows (len = nrows+1).
    Rows with no coords -> NaN box. Mirrors util/bbox.js fold."""
    n = len(row_offsets) - 1
    minx = np.full(n, np.nan)
    miny = np.full(n, np.nan)
    maxx = np.full(n, np.nan)
    maxy = np.full(n, np.nan)
    nonempty = row_offsets[1:] > row_offsets[:-1]
    if xs.size:
        starts = row_offsets[:-1][nonempty]
        minx[nonempty] = np.minimum.reduceat(xs, starts)
        miny[nonempty] = np.minimum.reduceat(ys, starts)
        maxx[nonempty] = np.maximum.reduceat(xs, starts)
        maxy[nonempty] = np.maximum.reduceat(ys, starts)
    return minx, miny, maxx, maxy


def batch_point_in_polygon(
    px: np.ndarray,
    py: np.ndarray,
    ring_row: np.ndarray,
    ring_offsets: np.ndarray,
    xs: np.ndarray,
    ys: np.ndarray,
) -> np.ndarray:
    """Even-odd ray casting for N (point, polygon) candidate pairs.

    px/py: per-candidate point coords (len N).
    ring_row: for each ring, the candidate row it belongs to (sorted).
    ring_offsets: per-ring [start, end) into xs/ys (len nrings+1).
    xs/ys: all ring coords of the batch, concatenated.

    Fully vectorized: builds the edge list for the whole batch at once
    (Arrow-offsets style), computes the crossing test for every edge,
    then reduces crossings per candidate row. Even-odd rule => holes
    (inner rings) handled automatically.
    """
    n = px.shape[0]
    if xs.size == 0:
        return np.zeros(n, dtype=bool)
    nring = len(ring_offsets) - 1
    ring_len = ring_offsets[1:] - ring_offsets[:-1]

    # Edges: within each ring, (i -> i+1) plus closing edge (last -> first).
    # One edge per vertex; empty rings contribute no vertices, hence no edges.
    i1 = np.arange(xs.size, dtype=np.int64)          # edge start = every vertex
    i2 = i1 + 1                                       # edge end = next vertex
    nonempty = ring_len > 0
    i2[ring_offsets[1:][nonempty] - 1] = ring_offsets[:-1][nonempty]  # close rings

    edge_ring = np.repeat(np.arange(nring), ring_len)
    edge_row = ring_row[edge_ring]

    ex1, ey1 = xs[i1], ys[i1]
    ex2, ey2 = xs[i2], ys[i2]
    ppx, ppy = px[edge_row], py[edge_row]

    cond = (ey1 > ppy) != (ey2 > ppy)
    with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
        xint = (ex2 - ex1) * (ppy - ey1) / (ey2 - ey1) + ex1
    crossing = cond & (ppx < xint)

    crossings = np.zeros(n, dtype=np.int64)
    np.add.at(crossings, edge_row, crossing.astype(np.int64))
    return (crossings % 2).astype(bool) == 1


def points_in_single_polygon(
    px: np.ndarray,
    py: np.ndarray,
    ring_offsets: np.ndarray,
    xs: np.ndarray,
    ys: np.ndarray,
    edge_chunk: int = 512,
) -> np.ndarray:
    """Even-odd ray cast of M points against ONE polygon (rings incl.
    holes). Same crossing arithmetic as batch_point_in_polygon — the
    two kernels agree bit-for-bit — but the polygon's edge arrays are
    built ONCE for all M points instead of once per candidate pair
    (the broadcast PIP-refinement path; memory bounded M x edge_chunk).
    """
    m = px.shape[0]
    if m == 0 or xs.size == 0:
        return np.zeros(m, dtype=bool)
    ring_offsets = np.asarray(ring_offsets, dtype=np.int64)
    ring_len = ring_offsets[1:] - ring_offsets[:-1]
    i1 = np.arange(xs.size, dtype=np.int64)
    i2 = i1 + 1
    nonempty = ring_len > 0
    i2[ring_offsets[1:][nonempty] - 1] = ring_offsets[:-1][nonempty]
    ex1, ey1, ex2, ey2 = xs[i1], ys[i1], xs[i2], ys[i2]
    crossings = np.zeros(m, dtype=np.int64)
    ppx = px[:, None]
    ppy = py[:, None]
    for a in range(0, xs.size, edge_chunk):
        b = min(a + edge_chunk, xs.size)
        e1x, e1y = ex1[a:b][None, :], ey1[a:b][None, :]
        e2x, e2y = ex2[a:b][None, :], ey2[a:b][None, :]
        cond = (e1y > ppy) != (e2y > ppy)
        with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
            xint = (e2x - e1x) * (ppy - e1y) / (e2y - e1y) + e1x
        crossings += np.sum(cond & (ppx < xint), axis=1)
    return (crossings % 2).astype(bool)
