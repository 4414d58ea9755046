"""Round-3 regression tests: PIP auto plan selection, JVM cover-level
parity, persisted-RDD hygiene and PIP plan shape."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geo_import_spark import corpus
from geo_import_spark.functions import cells as cellmod
from geo_import_spark.operators import pip as pipmod
from geo_import_spark.sources import geojson


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return corpus.documents(spark, sf_dir)


def test_cover_level_col_matches_numpy(spark):
    """cells.cover_level_col (a JVM expression) must pick the exact level
    cells.covering_bbox picks, bit-for-bit, for arbitrary bboxes —
    otherwise the point explode misses a level — and cells.cover_col
    must yield covering_bbox's exact cells at that level."""
    rng = np.random.RandomState(7)
    rows = []
    for _ in range(200):
        w = float(10 ** rng.uniform(-3, 2.3))
        h = float(10 ** rng.uniform(-3, 2.2))
        cx = float(rng.uniform(-170, 170))
        cy = float(rng.uniform(-80, 80))
        rows.append(
            (max(cx - w / 2, -180.0), max(cy - h / 2, -90.0),
             min(cx + w / 2, 180.0), min(cy + h / 2, 90.0))
        )
    exp = [cellmod.covering_bbox(a, b, c, d, 13, 64) for a, b, c, d in rows]
    df = spark.createDataFrame(rows, "minx double, miny double, maxx double, maxy double")
    box = ("minx", "miny", "maxx", "maxy")
    out = (
        df.withColumn("lv", cellmod.cover_level_col(*box, 13, 64))
        .select("lv", cellmod.cover_col(*box, "lv").alias("cells"))
        .collect()
    )
    assert [r["lv"] for r in out] == [lv for _, lv in exp]
    assert [set(r["cells"]) for r in out] == [set(c.tolist()) for c, _ in exp]


def test_auto_plan_selection(docs, spark, sf_dir):
    """broadcast_polys='auto' broadcasts the polygon side within budget
    and shuffles beyond it — identical results either way. Spark's own
    size-based broadcast is off here, so the join kind in the executed
    plan comes from pip_join's choice alone."""
    points = geojson.point_spans(docs)
    polys = corpus.polygons(spark, sf_dir)

    n_polys, est = pipmod.estimate_polygon_side_bytes(polys)
    assert n_polys == 100 and est > 0

    def run(budget):
        df = pipmod.pip_join(
            points, polys, broadcast_polys="auto", broadcast_budget_bytes=budget
        )
        out = df.toPandas()
        return out, df._jdf.queryExecution().executedPlan().toString()

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a, plan_a = run(pipmod.BROADCAST_BUDGET_BYTES)
        # Tiny budget forces the shuffle plan: no broadcast of the cover.
        b, plan_b = run(16)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    for key in ("cell_id", "poly_id"):
        assert f"BroadcastHashJoin [{key}#" in plan_a, key
        assert f"BroadcastHashJoin [{key}#" not in plan_b, key
        assert f"SortMergeJoin [{key}#" in plan_b, key

    key = ["doc_id", "span_offset", "poly_id"]
    pd.testing.assert_frame_equal(
        a.sort_values(key).reset_index(drop=True),
        b.sort_values(key).reset_index(drop=True),
    )


def test_no_persisted_rdds_after_shuffle_pip(docs, spark, sf_dir):
    """VERDICT r2 #7: the shuffle PIP path must not leak persisted
    RDDs (the old implementation persisted the cover and never
    unpersisted it). Directional check (after <= before): earlier
    modules' dead cached frames can be GC-unpersisted at any moment
    during this test, so an equality assert flakes on GC timing —
    only an INCREASE would be this operator's leak."""
    import gc

    points = geojson.point_spans(docs)
    polys = corpus.polygons(spark, sf_dir)
    gc.collect()
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    n = pipmod.pip_join(points, polys, broadcast_polys=False).count()
    assert n > 0
    gc.collect()
    after = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert after <= before


def test_shuffle_pip_refine_is_the_only_python_stage(docs, spark, sf_dir):
    """Both modes compute the polygon cover in the JVM
    (cells.cover_col), so in shuffle mode and in broadcast mode the
    refine is the plan's only Arrow UDF."""
    points = geojson.point_spans(docs)
    polys = corpus.polygons(spark, sf_dir)
    for broadcast in (False, True):
        out = pipmod.pip_join(points, polys, broadcast_polys=broadcast, salt_factor=1)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("ArrowEvalPython [") == 1, broadcast


@pytest.mark.parametrize("broadcast", [True, False], ids=["broadcast", "shuffle"])
def test_pip_plan_holds_the_cover_level_lambda_once(docs, spark, sf_dir, broadcast):
    """The optimized plan holds cells.cover_level_col's lambda once.
    An inner explode of the cover cells lets Spark infer
    size(cells) > 0 and push it into the polygon scan, where the
    lambda is inlined once per reference to the level (117 copies on
    this corpus)."""
    points = geojson.point_spans(docs)
    polys = corpus.polygons(spark, sf_dir)
    out = pipmod.pip_join(points, polys, broadcast_polys=broadcast, salt_factor=1)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("coalesce(array_max(filter(") == 1


def test_pip_prepares_polygon_side_in_one_job_broadcast_two_shuffle(docs, spark, sf_dir):
    """Before its result runs, pip_join spends one job in broadcast
    mode (the size estimate, which also collects the distinct cover
    levels) and at most two in shuffle mode (the same job + the
    auto-salt histogram). AQE is off here because it submits each
    shuffle stage as a job of its own; without it one action is one
    job. The polygon side is cached first so that only pip_join's own
    jobs are counted, not the ones that build the input."""
    points = geojson.point_spans(docs)
    polys = corpus.polygons(spark, sf_dir).cache()
    polys.count()
    sc = spark.sparkContext
    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for mode, budget, most in (
            ("broadcast", pipmod.BROADCAST_BUDGET_BYTES, 1),
            ("shuffle", 16, 2),
        ):
            group = f"pip-prepare-{mode}"
            sc.setJobGroup(group, "pip_join before execution")
            try:
                pipmod.pip_join(points, polys, broadcast_budget_bytes=budget)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            assert len(sc.statusTracker().getJobIdsForGroup(group)) <= most, mode
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)
        polys.unpersist()


def test_duplicate_clusters_transitive_chain(spark):
    """a~b and b~c (no a~c pair) must collapse to ONE cluster with rep
    = lexicographic min; unpaired docs stay singletons."""
    from geo_import_spark.operators import dedup as dedupmod

    docs = spark.createDataFrame(
        [("d-a",), ("d-b",), ("d-c",), ("d-solo",)], "doc_id string"
    )
    pairs = spark.createDataFrame(
        [("d-a", "d-b"), ("d-b", "d-c")], "doc_a string, doc_b string"
    )
    got = {
        r["doc_id"]: r["cluster_rep"]
        for r in dedupmod.duplicate_clusters(docs, pairs=pairs).collect()
    }
    assert got == {"d-a": "d-a", "d-b": "d-a", "d-c": "d-a", "d-solo": "d-solo"}


def test_batch_fix_rings_matches_scalar():
    """The vectorized ring surgery must be value-identical to the
    scalar fix_semantics on randomized mixed-type batches (open rings,
    degenerate <4-point rings, 1-point line parts, empties)."""
    from geo_import_spark.functions import geomkern

    rng = np.random.RandomState(11)
    gts, ros, xss, yss = [], [], [], []
    for i in range(300):
        gt = ["Point", "LineString", "Polygon", "MultiPolygon", "MultiLineString"][
            i % 5
        ]
        if gt == "Point":
            ro, xs, ys = [0, 1], [float(i)], [float(-i)]
        else:
            nrings = rng.randint(1, 4)
            ro, xs, ys = [0], [], []
            for _ in range(nrings):
                npts = int(rng.randint(1, 7))
                rx = rng.uniform(-50, 50, npts).tolist()
                ry = rng.uniform(-50, 50, npts).tolist()
                if gt in ("Polygon", "MultiPolygon") and npts >= 3 and rng.rand() < 0.5:
                    rx.append(rx[0])  # pre-closed ring
                    ry.append(ry[0])
                xs += rx
                ys += ry
                ro.append(len(xs))
        gts.append(gt)
        ros.append(ro)
        xss.append(xs)
        yss.append(ys)

    new_ro, fx, fy, bounds = geomkern.batch_fix_rings(gts, ros, xss, yss)
    for k in range(len(gts)):
        _, _, ro_exp, xs_exp, ys_exp = geomkern.fix_semantics(
            gts[k], [0, len(ros[k]) - 1], ros[k], xss[k], yss[k]
        )
        assert list(new_ro[k]) == list(ro_exp), (k, gts[k])
        np.testing.assert_array_equal(fx[bounds[k]:bounds[k + 1]], np.asarray(xs_exp))
        np.testing.assert_array_equal(fy[bounds[k]:bounds[k + 1]], np.asarray(ys_exp))


def test_knn_haversine_matches_bruteforce(spark):
    """VERDICT r2 #9: great-circle kNN vs a NumPy haversine brute
    force, including near-pole queries where the ring-settling margin
    shrinks with cos(lat) (knn.py conservative margin logic)."""
    from geo_import_spark.operators import knn as knnmod

    rng = np.random.RandomState(3)
    n = 2000
    lon = rng.uniform(-180, 180, n)
    lat = rng.uniform(-85, 85, n)
    # a cluster near the north pole so polar queries have neighbors
    lon[:100] = rng.uniform(-180, 180, 100)
    lat[:100] = rng.uniform(86, 89.9, 100)
    pts_pdf = pd.DataFrame(
        {"doc_id": [f"p-{i:05d}" for i in range(n)], "lon": lon, "lat": lat}
    )
    q_pdf = pd.DataFrame(
        {
            "query_id": ["q-pole1", "q-pole2", "q-mid", "q-edge"],
            "qlon": [12.0, -170.0, 33.3, 179.5],
            "qlat": [89.5, 88.2, -12.0, 0.5],
        }
    )
    points = spark.createDataFrame(pts_pdf)
    queries = spark.createDataFrame(q_pdf)
    got = (
        knnmod.knn_join(queries, points, k=7, level=6, haversine=True)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )

    def hav(qlon, qlat):
        rl1, rl2 = np.radians(qlat), np.radians(lat)
        dlat = np.radians(lat - qlat)
        dlon = np.radians(lon - qlon)
        a = (
            np.sin(dlat / 2) ** 2
            + np.cos(rl1) * np.cos(rl2) * np.sin(dlon / 2) ** 2
        )
        return 2.0 * knnmod.EARTH_RADIUS_M * np.arcsin(np.sqrt(a))

    rows = []
    for _, q in q_pdf.iterrows():
        d = hav(q["qlon"], q["qlat"])
        order = np.lexsort((pts_pdf["doc_id"].values, d))[:7]
        for rank, idx in enumerate(order, 1):
            rows.append((q["query_id"], pts_pdf["doc_id"].values[idx], rank))
    exp = (
        pd.DataFrame(rows, columns=["query_id", "doc_id", "rank"])
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    assert len(got) == len(exp)
    pd.testing.assert_frame_equal(
        got[["query_id", "doc_id", "rank"]], exp, check_dtype=False
    )


def test_windowed_counts_streaming_smoke(spark, sf_dir, tmp_path):
    """VERDICT r2 #10: the windowed aggregation actually runs under
    readStream + withWatermark (one file-source micro-batch into a
    memory sink) and matches the batch plan."""
    ev_batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    from geo_import_spark.streaming import events as eventsmod

    # the file stream source wants a directory of files
    import shutil

    src_dir = tmp_path / "events_src"
    src_dir.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", src_dir / "part-0.parquet")
    stream = (
        spark.readStream.schema(ev_batch.schema)
        .parquet(str(src_dir))
        # watermarks require TIMESTAMP (the parquet carries NTZ);
        # session tz is UTC so the cast is a pure reinterpretation
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "1 hour")
    )
    agg = eventsmod.windowed_counts(stream, exact_distinct=False)
    q = (
        agg.writeStream.format("memory")
        .queryName("win_smoke")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    def norm(df):
        df = df.copy()
        ws = pd.to_datetime(df["win_start"])
        if ws.dt.tz is not None:
            ws = ws.dt.tz_localize(None)
        df["win_start"] = ws
        return df.sort_values(["event_type", "win_start"]).reset_index(drop=True)

    got = norm(
        spark.table("win_smoke")
        .select("event_type", "win_start", "n", "total_micros")
        .toPandas()
    )
    exp = norm(
        eventsmod.windowed_counts(ev_batch)
        .select("event_type", "win_start", "n", "total_micros")
        .toPandas()
    )
    pd.testing.assert_frame_equal(got, exp)
    assert len(got) > 0


def test_simhash_pairs_complete_recall_vs_brute_force(spark, sf_dir):
    """Pigeonhole completeness: banded candidate generation at
    max_hamming=3 with 4 bands finds EXACTLY the brute-force set of
    pairs within Hamming distance 3 (recall 1.0, precision 1.0 after
    the popcount filter)."""
    from geo_import_spark.operators import dedup as dedupmod
    from geo_import_spark.operators import textops

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dedupmod.simhash_pairs(docs).collect()
    }
    sigs = {r["doc_id"]: r["simhash"] for r in textops.simhash(docs).collect()}
    ids = sorted(sigs)
    expect = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            h = bin(sigs[a] ^ sigs[b]).count("1")
            if h <= dedupmod.SIMHASH_MAX_HAMMING:
                expect[(a, b)] = h
    assert got == expect and len(expect) > 0
