"""Seeded input tables for the benchmark and the numpy oracle over them.

The engine's corpus generators (`geo_import_spark.corpus`) derive every
document, polygon and kNN probe from TPC-H-shaped parquet tables with
integer formulas. The benchmark writes those tables itself, so a run
needs nothing outside its checkout, and the seed only picks which
contiguous range of order keys a run gets. Every derived coordinate is
then still an integer number of micro-degrees, so polygon edges (kept
`EDGE_EPS` off that lattice) stay tie-free and the oracle below can
recompute each result exactly with numpy, without Spark.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Keys stay below 2^31 so the corpus formulas' `key * 2654435761`
# products fit in a signed 64-bit long (Spark runs with ANSI overflow
# checks on).
KEY_LIMIT = 1 << 31
N_NATIONS = 25
N_POLY_REPLICAS = 4  # corpus.N_POLY_REPLICAS
EDGE_EPS = 0.00000045  # corpus.EDGE_EPS
STATUSES = np.array(["F", "O", "P"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])

# Order-independent digest: per-row polynomial hash mod a prime, summed.
HASH_P = 2_147_483_647
HASH_M = 1_000_003


def order_keys(seed: int, stream: int, n: int) -> np.ndarray:
    """`n` contiguous order keys starting at a seed-chosen base. A
    contiguous range keeps the corpus' key-parity rules (media span on
    even keys, priority span on k % 3 == 0, schema on k % 4) at the
    same shares on every seed."""
    rng = np.random.default_rng([seed, stream])
    base = int(rng.integers(0, KEY_LIMIT - n))
    return np.arange(base, base + n, dtype=np.int64)


def write_orders(path: str, keys: np.ndarray, seed: int, n_customers: int) -> dict:
    rng = np.random.default_rng([seed, int(keys[0])])
    n = keys.shape[0]
    cols = {
        "o_orderkey": keys,
        "o_custkey": rng.integers(0, max(n_customers, 1), n).astype(np.int64),
        "o_orderstatus": STATUSES[rng.integers(0, len(STATUSES), n)],
        "o_orderpriority": PRIORITIES[rng.integers(0, len(PRIORITIES), n)],
    }
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table(cols), os.path.join(path, "orders.parquet"))
    return cols


def write_nation(path: str) -> None:
    k = np.arange(N_NATIONS, dtype=np.int32)
    pq.write_table(
        pa.table({"n_nationkey": k, "n_regionkey": k % 5}),
        os.path.join(path, "nation.parquet"),
    )


def write_customer(path: str, n: int) -> None:
    pq.write_table(
        pa.table({"c_custkey": np.arange(n, dtype=np.int64)}),
        os.path.join(path, "customer.parquet"),
    )


# --- oracle -----------------------------------------------------------------


def digest(*cols) -> tuple[int, int]:
    """(row count, sum of per-row polynomial hashes) of integer columns."""
    n = len(cols[0])
    h = np.zeros(n, dtype=np.int64)
    for c in cols:
        h = (h * HASH_M + np.mod(np.asarray(c, dtype=np.int64), HASH_P)) % HASH_P
    return n, int(h.sum())


def point_lonlat(keys: np.ndarray):
    """corpus._point_lon / _point_lat."""
    lon = ((keys * 2654435761) % 360000000) / 1000000.0 - 180.0
    lat = ((keys * 1779033703 + 12345) % 170000000) / 1000000.0 - 85.0
    return lon, lat


def quantize(deg) -> np.ndarray:
    """Degrees -> integer 1e-4-degree bins. The +0.005 keeps lattice
    values 0.005 bins from a bin edge, far outside float noise."""
    return np.floor((np.asarray(deg) + 180.0) * 10000.0 + 0.005).astype(np.int64)


def polygon_bounds():
    """corpus.polygons: (pk, minx, miny, maxx, maxy) of the rectangles."""
    pk = np.arange(N_NATIONS * N_POLY_REPLICAS, dtype=np.int64)
    cx = ((pk * 2654435761) % 340000000) / 1000000.0 - 170.0
    cy = ((pk * 1779033703 + 777) % 150000000) / 1000000.0 - 75.0
    w = np.where(pk == 0, 200.0, (pk % 7).astype(np.float64) * 3.0 + 4.0)
    h = np.where(pk == 0, 140.0, (pk % 5).astype(np.float64) * 3.0 + 3.0)
    minx = np.maximum(cx - w / 2.0 + EDGE_EPS, -179.9999995)
    maxx = np.minimum(cx + w / 2.0 + EDGE_EPS, 179.9999995)
    miny = np.maximum(cy - h / 2.0 + EDGE_EPS, -84.9999995)
    maxy = np.minimum(cy + h / 2.0 + EDGE_EPS, 84.9999995)
    return pk, minx, miny, maxx, maxy


def pip_digest(keys: np.ndarray) -> tuple[int, int]:
    """Every (document, rectangle) containment; columns (key, pk)."""
    lon, lat = point_lonlat(keys)
    ks, pks = [], []
    for pk, x0, y0, x1, y1 in zip(*polygon_bounds()):
        m = (lon >= x0) & (lon <= x1) & (lat >= y0) & (lat <= y1)
        ks.append(keys[m])
        pks.append(np.full(int(m.sum()), pk, dtype=np.int64))
    return digest(np.concatenate(ks), np.concatenate(pks))


def tile_digest(keys: np.ndarray, z: int) -> tuple[int, int]:
    """Media spans (even keys) tiled at their document's point; columns
    (key, x, y, quadkey read as a base-4 integer)."""
    k = keys[keys % 2 == 0]
    lon, lat = point_lonlat(k)
    n = 1 << z
    lat = np.clip(lat, -85.05112878, 85.05112878)
    x = np.floor((lon + 180.0) / 360.0 * n).astype(np.int64)
    rad = np.radians(lat)
    y = np.floor((1.0 - np.log(np.tan(rad) + 1.0 / np.cos(rad)) / np.pi) / 2.0 * n).astype(np.int64)
    x = np.clip(x, 0, n - 1)
    y = np.clip(y, 0, n - 1)
    qk = np.zeros_like(x)
    for i in range(z):
        shift = z - 1 - i
        qk = qk * 4 + ((x >> shift) & 1) + 2 * ((y >> shift) & 1)
    return digest(k, x, y, qk)


def query_lonlat(n_queries: int):
    """corpus.knn_queries over customer keys 0..n-1."""
    c = np.arange(n_queries, dtype=np.int64)
    qlon = ((c * 2654435761 + 11) % 360000000) / 1000000.0 - 180.0
    qlat = ((c * 1779033703 + 7) % 170000000) / 1000000.0 - 85.0
    return c, qlon, qlat


def knn_digest(keys: np.ndarray, n_queries: int, k: int) -> tuple[int, int]:
    """Exact planar kNN by brute force, ties broken by doc_id string
    order like knn_join; columns (query key, doc key, rank)."""
    lon, lat = point_lonlat(keys)
    doc_ids = np.array([f"doc-{v}" for v in keys.tolist()])
    qs, ds, rs = [], [], []
    for c, qx, qy in zip(*query_lonlat(n_queries)):
        d = np.sqrt((lon - qx) * (lon - qx) + (lat - qy) * (lat - qy))
        near = np.argpartition(d, k + 8)[: k + 8]
        order = near[np.lexsort((doc_ids[near], d[near]))][:k]
        qs.append(np.full(k, c, dtype=np.int64))
        ds.append(keys[order])
        rs.append(np.arange(1, k + 1, dtype=np.int64))
    return digest(np.concatenate(qs), np.concatenate(ds), np.concatenate(rs))


def first_char_codes(values: np.ndarray) -> np.ndarray:
    return np.array([ord(v[0]) for v in values.tolist()], dtype=np.int64)


def mixed_layer_digests(orders: dict) -> dict[str, tuple[int, int]]:
    """corpus.mixed_documents split into its three layers, keyed by the
    layer's attribute columns; columns (key, lon bin, lat bin, attrs)."""
    k = orders["o_orderkey"]
    lon, lat = point_lonlat(k)
    qx, qy = quantize(lon), quantize(lat)
    status = first_char_codes(orders["o_orderstatus"])
    prio = first_char_codes(orders["o_orderpriority"])
    cust = orders["o_custkey"]
    r = k % 4
    out = {}
    m = (r == 0) | (r == 3)
    out["a_string,a_num"] = digest(
        k[m], qx[m], qy[m], status[m], np.where(r[m] == 3, -1, cust[m])
    )
    m = r == 1
    out["a_string,a_num,extra"] = digest(k[m], qx[m], qy[m], status[m], cust[m], cust[m] + 1)
    m = r == 2
    out["b_string"] = digest(k[m], qx[m], qy[m], prio[m])
    return out


def mercator_xy(keys: np.ndarray):
    """corpus.mercator_documents coordinates in EPSG:3857 meters."""
    mx = ((keys * 2654435761) % 35990000000) / 1000.0 - 17995000.0
    my = ((keys * 1779033703 + 999) % 39970000000) / 1000.0 - 19985000.0
    return mx, my


def mercator_wgs84(keys: np.ndarray):
    """Spherical Web-Mercator inverse of mercator_xy, written out here
    rather than taken from the engine's projection module."""
    mx, my = mercator_xy(keys)
    r = 6378137.0
    lon = np.degrees(mx / r)
    lat = np.degrees(2.0 * np.arctan(np.exp(my / r)) - np.pi / 2.0)
    return lon, lat


def mercator_table_digest(orders: dict) -> tuple[int, int]:
    """The mercator layer as published (reprojected); columns (key,
    lon bin, lat bin, a_string)."""
    k = orders["o_orderkey"]
    lon, lat = mercator_wgs84(k)
    return digest(k, quantize(lon), quantize(lat), first_char_codes(orders["o_orderstatus"]))


def reprojected_digest(mixed: dict, mercator: dict) -> tuple[int, int]:
    """Every feature after reprojection to WGS84; columns (key, lon bin,
    lat bin)."""
    k1 = mixed["o_orderkey"]
    lon1, lat1 = point_lonlat(k1)
    k2 = mercator["o_orderkey"]
    lon2, lat2 = mercator_wgs84(k2)
    return digest(
        np.concatenate([k1, k2]),
        quantize(np.concatenate([lon1, lon2])),
        quantize(np.concatenate([lat1, lat2])),
    )
