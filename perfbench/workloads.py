"""The benchmark workloads.

Each workload builds its inputs from the seed (`setup`), computes the
expected digests with numpy (`expected`), runs one pass of engine calls
whose outputs are all consumed inside the pass (`run_pass`), and checks
a pass against the expectation (`check`, outside the timed region).
Spans are opened around the calls into each engine layer; with the
NullTracer they cost nothing.
"""

from __future__ import annotations

import math
import os
import shutil

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from geo_import_spark import corpus
from geo_import_spark.operators import knn, layers, pip, reproject, tiling
from geo_import_spark.plans.table import Table
from geo_import_spark.sources import geojson

from perfbench import inputs

TILE_Z = 12
KNN_K = 10
# knn_join's cell level is picked from the point count so that a cell
# holds about this many points and most queries settle in the first
# ring round (60k points -> level 5; level 6 would hold ~15 per cell and
# need more rounds).
KNN_POINTS_PER_CELL = 60


def key(col: str):
    """Integer key of an id like 'doc-123', 'poly-7' or 'q-5'."""
    return F.substring_index(F.col(col), "-", -1).cast("long")


def quantized(col):
    """Spark twin of inputs.quantize."""
    return F.floor((col + 180.0) * 10000.0 + 0.005).cast("long")


def spark_digest(df, *cols) -> tuple[int, int]:
    """Spark twin of inputs.digest, computed in one aggregate."""
    h = F.lit(0).cast("long")
    for c in cols:
        h = F.pmod(h * inputs.HASH_M + F.pmod(c.cast("long"), F.lit(inputs.HASH_P)),
                   F.lit(inputs.HASH_P))
    row = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("s")).collect()[0]
    return int(row["n"]), int(row["s"] or 0)


class Workload:
    name = ""
    # input documents at --scale 1
    base_docs = 0

    def __init__(self, spark, workdir: str, seed: int, scale: float, tracer):
        self.spark = spark
        self.workdir = workdir
        self.seed = seed
        self.tracer = tracer
        self.n_docs = max(int(self.base_docs * scale), 200)
        self.cached: list = []

    def _cache(self, df):
        df = df.cache()
        df.count()
        self.cached.append(df)
        return df

    def release(self) -> None:
        """Drop the cached inputs of one set-up repetition."""
        for df in self.cached:
            df.unpersist(blocking=True)
        self.cached = []

    def rows(self) -> int:
        """Input rows one pass processes."""
        return self.n_docs

    def after_pass(self, index: int) -> None:
        pip.release_ring_broadcasts()

    def layer_counts(self, index: int) -> dict:
        """Per-layer counts read from what a pass left behind."""
        return {}

    def check(self, index: int, got: dict, want: dict) -> list[str]:
        return [f"{k}: got {got.get(k)} want {v}" for k, v in want.items() if got.get(k) != v]


class PipTiles(Workload):
    """Analytics user: PIP join, tile assignment and kNN over cached points."""

    name = "pip_tiles"
    base_docs = 60_000
    n_queries = 300

    @property
    def knn_level(self) -> int:
        cells = self.n_docs / KNN_POINTS_PER_CELL  # 4**level cells at a level
        return min(max(round(math.log(cells, 4)), 2), 8)

    def setup(self, rep: int) -> None:
        d = os.path.join(self.workdir, f"input{rep}")
        tr = self.tracer
        with tr.span("corpus.generate"):
            self.keys = inputs.order_keys(self.seed, 0, self.n_docs)
            inputs.write_orders(d, self.keys, self.seed, self.n_queries)
            inputs.write_nation(d)
            inputs.write_customer(d, self.n_queries)
        with tr.span("corpus.load"):
            docs = self._cache(corpus.documents(self.spark, d))
            self.polys = self._cache(corpus.polygons(self.spark, d))
            self.queries = self._cache(corpus.knn_queries(self.spark, d))
        with tr.span("sources.geojson.point_spans"):
            self.points = self._cache(geojson.point_spans(docs))
        with tr.span("operators.tiling.media_spans"):
            self.media = self._cache(tiling.media_spans(docs))

    def expected(self) -> dict:
        return {
            "pip": inputs.pip_digest(self.keys),
            "tiles": inputs.tile_digest(self.keys, TILE_Z),
            "knn": inputs.knn_digest(self.keys, self.n_queries, KNN_K),
        }

    def run_pass(self, index: int) -> dict:
        tr = self.tracer
        out = {}
        with tr.span("operators.pip.pip_join"):
            hits = pip.pip_join(self.points, self.polys)
            out["pip"] = spark_digest(hits, key("doc_id"), key("poly_id"))
        with tr.span("operators.tiling.assign_tiles_from_anchors"):
            anchors = tiling.first_geometry_anchor(self.points)
            tiles = tiling.assign_tiles_from_anchors(self.media, anchors, z=TILE_Z)
            out["tiles"] = spark_digest(
                tiles, key("doc_id"), F.col("x"), F.col("y"), F.conv("quadkey", 4, 10)
            )
        with tr.span("operators.knn.knn_join"):
            nn = knn.knn_join(self.queries, self.points, k=KNN_K, level=self.knn_level)
            out["knn"] = spark_digest(nn, key("query_id"), key("doc_id"), F.col("rank"))
        return out


def layer_label(layer) -> str:
    return f"{','.join(raw for raw, _ in layer.columns)}|{layer.crs}"


class IngestLayers(Workload):
    """Import user: a two-file upload (mixed-schema WGS84 features plus
    EPSG:3857 features) decoded, split into layers, reprojected to WGS84,
    and published as one table per layer."""

    name = "ingest_layers"
    # features per file
    base_docs = 10_000

    def rows(self) -> int:
        return 2 * self.n_docs

    def setup(self, rep: int) -> None:
        tr = self.tracer
        dm = os.path.join(self.workdir, f"input{rep}", "mixed")
        dw = os.path.join(self.workdir, f"input{rep}", "mercator")
        with tr.span("corpus.generate"):
            self.mixed = inputs.write_orders(
                dm, inputs.order_keys(self.seed, 1, self.n_docs), self.seed, 1000)
            self.mercator = inputs.write_orders(
                dw, inputs.order_keys(self.seed, 2, self.n_docs), self.seed, 1000)
        with tr.span("corpus.load"):
            self.docs = [
                self._cache(corpus.mixed_documents(self.spark, dm)),
                self._cache(corpus.mercator_documents(self.spark, dw)),
            ]

    def expected(self) -> dict:
        want = {
            f"table:{k}|{geojson.DEFAULT_CRS}": v
            for k, v in inputs.mixed_layer_digests(self.mixed).items()
        }
        want["table:a_string|EPSG:3857"] = inputs.mercator_table_digest(self.mercator)
        want["reproject"] = inputs.reprojected_digest(self.mixed, self.mercator)
        keys = np.concatenate([self.mixed["o_orderkey"], self.mercator["o_orderkey"]])
        want["parsed"] = inputs.digest(keys, np.zeros(keys.shape[0], dtype=np.int64))
        want["summary"] = {k[len("table:"):]: v[0] for k, v in want.items() if k.startswith("table:")}
        return want

    def tables_root(self, index: int) -> str:
        return os.path.join(self.workdir, "tables", f"pass{index}")

    def run_pass(self, index: int) -> dict:
        tr = self.tracer
        out = {}
        rep = None
        self.published = {}
        with tr.span("sources.geojson.geometry_spans"):
            parsed = geojson.geometry_spans(self.docs[0]).unionByName(
                geojson.geometry_spans(self.docs[1])
            ).cache()
            out["parsed"] = spark_digest(
                parsed, key("doc_id"), F.col("error").isNotNull().cast("long")
            )
        try:
            with tr.span("operators.layers.merge_layers"):
                assigned, found = layers.merge_layers(parsed)
            with tr.span("operators.reproject.reproject_layers"):
                rep = reproject.reproject_layers(assigned).cache()
                out["reproject"] = spark_digest(
                    rep, key("doc_id"), quantized(F.col("geom.xs")[0]),
                    quantized(F.col("geom.ys")[0]),
                )
            for layer in found:
                # normalize_layer only plans a projection; it runs inside
                # the commit's write job, so the commit is its child span.
                with tr.span("operators.layers.normalize_layer"):
                    norm = layers.normalize_layer(rep, layer)
                    with tr.span("plans.table.commit"):
                        root = os.path.join(self.tables_root(index), f"layer{layer.layer_idx}")
                        snap = Table(root).commit(self.spark, norm)
                self.published[layer_label(layer)] = (layer, snap)
            with tr.span("operators.layers.layer_summary"):
                summary = layers.layer_summary(assigned, found)
            by_idx = {layer.layer_idx: layer for layer in found}
            out["summary"] = {layer_label(by_idx[s["layer_idx"]]): s["count"] for s in summary}
        finally:
            parsed.unpersist()
            if rep is not None:
                rep.unpersist()
        return out

    def check(self, index: int, got: dict, want: dict) -> list[str]:
        """Adds the digest of every published table, read back from its
        snapshot's parquet files with pyarrow."""
        got = dict(got)
        for label, (layer, snap) in self.published.items():
            t = pq.ParquetDataset([f["path"] for f in snap["files"]]).read()
            geom = pc.struct_field(t[layer.out_names[0]], "xs"), pc.struct_field(
                t[layer.out_names[0]], "ys")
            cols = [_id_keys(t["doc_id"])] + [
                inputs.quantize(pc.list_element(g, 0).to_numpy()) for g in geom
            ]
            for name, (_, ctype) in zip(layer.out_names[1:], layer.columns):
                if ctype == "string":
                    cols.append(inputs.first_char_codes(np.array(t[name].to_pylist())))
                else:
                    vals = t[name].to_numpy(zero_copy_only=False).astype(np.float64)
                    cols.append(np.where(np.isnan(vals), -1, vals).astype(np.int64))
            got[f"table:{label}"] = inputs.digest(*cols) if snap["rows"] == t.num_rows else None
        return super().check(index, got, want)

    def layer_counts(self, index: int) -> dict:
        n_files = n_bytes = 0
        for dirpath, _, files in os.walk(self.tables_root(index)):
            for f in files:
                n_files += 1
                n_bytes += os.path.getsize(os.path.join(dirpath, f))
        return {"plans.table.bytes_written_mb": n_bytes / 1e6, "plans.table.files_written": n_files}

    def after_pass(self, index: int) -> None:
        super().after_pass(index)
        shutil.rmtree(self.tables_root(index), ignore_errors=True)


def _id_keys(arr) -> np.ndarray:
    return np.array([int(v[v.rindex("-") + 1:]) for v in arr.to_pylist()], dtype=np.int64)


WORKLOADS = {w.name: w for w in (PipTiles, IngestLayers)}
