"""Round-3 batch f: span-sequence fingerprint (north-rule span
equality), hot-cell skew diagnostic, kNN majority-vote classifier."""

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from geo_import_spark import corpus
from geo_import_spark.operators import similarity
from geo_import_spark.operators import spans as spansmod
from geo_import_spark.operators import tiling


# --- span_fingerprint -------------------------------------------------------

def test_span_fingerprint_invariant_under_array_permutation(spark, sf_dir):
    """fp orders by the stored offset, not array position: reversing
    the array changes nothing."""
    docs = corpus.documents(spark, sf_dir)
    base = spansmod.span_fingerprint(docs)
    reversed_docs = docs.select("doc_id", F.reverse("spans").alias("spans"))
    again = spansmod.span_fingerprint(reversed_docs)
    assert base.join(again, ["doc_id", "n_spans", "fp"]).count() == base.count()


def test_span_fingerprint_detects_order_swap(spark, sf_dir):
    """Swapping two spans' offsets (same content, different order) must
    change the fingerprint — order is part of span-sequence equality."""
    docs = corpus.documents(spark, sf_dir).filter(F.size("spans") >= 2)
    swapped = docs.select(
        "doc_id",
        F.transform(
            "spans",
            lambda x: F.struct(
                x["kind"].alias("kind"),
                x["text"].alias("text"),
                x["media_ref"].alias("media_ref"),
                F.when(x["offset"] == 0, F.lit(1))
                .when(x["offset"] == 1, F.lit(0))
                .otherwise(x["offset"])
                .cast("int")
                .alias("offset"),
            ),
        ).alias("spans"),
    )
    base = spansmod.span_fingerprint(docs)
    mut = spansmod.span_fingerprint(swapped)
    assert base.join(mut, ["doc_id", "fp"]).count() == 0


def test_span_fingerprint_detects_content_mutation(spark, sf_dir):
    """Flipping one media_ref byte changes exactly the docs that carry
    a media span."""
    docs = corpus.documents(spark, sf_dir)
    mut = docs.select(
        "doc_id",
        F.transform(
            "spans",
            lambda x: F.struct(
                x["kind"].alias("kind"),
                x["text"].alias("text"),
                F.when(x["kind"] == "media", F.concat(x["media_ref"], F.lit("X")))
                .otherwise(x["media_ref"])
                .alias("media_ref"),
                x["offset"].alias("offset"),
            ),
        ).alias("spans"),
    )
    base = spansmod.span_fingerprint(docs).withColumnRenamed("fp", "fp0")
    after = spansmod.span_fingerprint(mut).withColumnRenamed("fp", "fp1")
    j = base.join(after, "doc_id")
    changed = j.filter(F.col("fp0") != F.col("fp1")).count()
    with_media = docs.filter(
        F.exists("spans", lambda x: x["kind"] == "media")
    ).count()
    assert changed == with_media > 0


def test_span_fingerprint_is_pure_map(spark, sf_dir):
    """No keyed shuffle, no Python: the operator adds only projections.

    corpus.spread_scan contributes one round-robin REPARTITION exchange
    to spread the single-file test scan — that's the input's partition
    strategy, not the operator's. The operator itself must add no
    hash-partitioned exchange (no groupBy/join/window) and no Python."""
    plan = spansmod.span_fingerprint(
        corpus.documents(spark, sf_dir)
    )._jdf.queryExecution().executedPlan().toString()
    # if another test cached corpus.documents, the CacheManager swaps in
    # an InMemoryTableScan whose STORED corpus-build plan (joins and all)
    # is printed inline — everything below the scan is the input's plan,
    # not this operator's; cut there before counting
    plan = plan.split("InMemoryTableScan")[0]
    assert "hashpartitioning" not in plan
    assert plan.count("Exchange") <= 1  # only the spread repartition
    assert "Python" not in plan and "BatchEvalPython" not in plan


# --- hot_cells --------------------------------------------------------------

def test_hot_cells_flags_planted_hot_cell(spark):
    """300 points in one cell vs 1 point in each of 50 others: the hot
    cell ranks first with skew_ratio ~= 300 / mean."""
    rows = [(5.0 + i * 1e-4, 5.0) for i in range(300)]
    rows += [(-170.0 + 11.3 * j, -80.0 + 3.1 * j) for j in range(50)]
    pts = spark.createDataFrame(rows, ["lon", "lat"])
    out = tiling.hot_cells(pts, level=4, top=5).collect()
    assert out[0]["n_points"] == 300
    from geo_import_spark.functions import cells as cellmod

    n_cells = (
        pts.select(cellmod.cell_col("lon", "lat", 4).alias("c"))
        .distinct()
        .count()
    )
    assert out[0]["skew_ratio"] == pytest.approx(300 / (350 / n_cells))
    ratios = [r["skew_ratio"] for r in out]
    assert ratios[0] > 1.0
    assert all(a >= b for a, b in zip(ratios, ratios[1:]))


def test_hot_cells_deterministic_tiebreak(spark):
    """Equal-count cells order by cell_id ascending at the limit edge."""
    rows = [(-170.0 + 11.3 * j, -80.0 + 3.1 * j) for j in range(30)]
    pts = spark.createDataFrame(rows, ["lon", "lat"])
    a = [
        (r["n_points"], r["cell_id"])
        for r in tiling.hot_cells(pts, level=4, top=10).collect()
    ]
    b = [
        (r["n_points"], r["cell_id"])
        for r in tiling.hot_cells(pts, level=4, top=10).collect()
    ]
    assert a == b
    assert a == sorted(a, key=lambda t: (-t[0], t[1]))


# --- knn_classify -----------------------------------------------------------

def test_knn_classify_matches_numpy_vote(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    got = {
        r["query_id"]: (r["pred_label"], r["n_votes"])
        for r in similarity.knn_classify(emb, n_queries=8, k=10).collect()
    }
    pdf = duckdb.sql(
        f"SELECT vec_id, embedding, label FROM '{sf_dir}/embeddings.parquet' "
        "ORDER BY vec_id"
    ).df()
    vecs = np.array([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    labels = pdf["label"].to_numpy()
    vec_ids = pdf["vec_id"].to_numpy()
    norms = np.linalg.norm(vecs, axis=1)
    for q in range(8):
        qi = int(np.where(vec_ids == q)[0][0])
        cos = vecs @ vecs[qi] / (norms * norms[qi])
        # rank by (cos desc, vec_id asc); drop rank 1 (self), take 10
        order = sorted(range(len(cos)), key=lambda i: (-cos[i], vec_ids[i]))
        neigh = order[1:11]
        votes = {}
        for i in neigh:
            votes[labels[i]] = votes.get(labels[i], 0) + 1
        best = sorted(votes.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        assert got[q] == (best[0], best[1]), q


# --- nearest_poly_join ------------------------------------------------------

def test_nearest_poly_contained_point_dist_zero_min_polyid(spark):
    from geo_import_spark.operators import knn as knnmod

    polys = spark.createDataFrame(
        [("poly-a", 0.0, 0.0, 10.0, 10.0), ("poly-b", 5.0, 5.0, 15.0, 15.0),
         ("poly-c", 40.0, 40.0, 41.0, 41.0)],
        ["poly_id", "minx", "miny", "maxx", "maxy"],
    )
    pts = spark.createDataFrame(
        [("in-both", 7.0, 7.0), ("outside", 20.0, 12.0)],
        ["doc_id", "lon", "lat"],
    )
    got = {r["doc_id"]: r for r in knnmod.nearest_poly_join(pts, polys).collect()}
    # containment -> dist 0; tie between poly-a and poly-b breaks on id
    assert got["in-both"]["poly_id"] == "poly-a"
    assert got["in-both"]["dist"] == 0.0
    # outside: nearest is poly-b's right edge, dx=5, dy=0
    assert got["outside"]["poly_id"] == "poly-b"
    assert got["outside"]["dist"] == 5.0


def test_nearest_poly_matches_numpy_bruteforce(spark, sf_dir):
    import numpy as np

    from geo_import_spark import corpus
    from geo_import_spark.operators import knn as knnmod
    from geo_import_spark.sources import geojson

    docs = corpus.documents(spark, sf_dir)
    pts = geojson.point_spans(docs).select("doc_id", "lon", "lat")
    polys = corpus.polygons(spark, sf_dir)
    got = {
        r["doc_id"]: (r["poly_id"], r["dist"])
        for r in knnmod.nearest_poly_join(pts, polys).collect()
    }
    P = pts.toPandas()
    G = polys.select("poly_id", "minx", "miny", "maxx", "maxy").toPandas()
    minx, miny = G["minx"].to_numpy(), G["miny"].to_numpy()
    maxx, maxy = G["maxx"].to_numpy(), G["maxy"].to_numpy()
    ids = G["poly_id"].to_numpy()
    for _, row in P.sample(n=min(len(P), 200), random_state=7).iterrows():
        dx = np.maximum(np.maximum(minx - row.lon, row.lon - maxx), 0.0)
        dy = np.maximum(np.maximum(miny - row.lat, row.lat - maxy), 0.0)
        d = np.sqrt(dx * dx + dy * dy)
        order = sorted(range(len(d)), key=lambda i: (d[i], ids[i]))
        assert got[row.doc_id][0] == ids[order[0]], row.doc_id
        assert got[row.doc_id][1] == d[order[0]], row.doc_id


def test_nearest_poly_plan_broadcast_and_partial_agg(spark, sf_dir):
    """Polygon side broadcast (no point-side pair shuffle); the one
    Exchange carries post-partial-agg rows keyed by doc_id."""
    from geo_import_spark import corpus
    from geo_import_spark.operators import knn as knnmod
    from geo_import_spark.sources import geojson

    docs = corpus.documents(spark, sf_dir)
    pts = geojson.point_spans(docs).select("doc_id", "lon", "lat")
    df = knnmod.nearest_poly_join(pts, corpus.polygons(spark, sf_dir))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


# --- bpe_token_stats --------------------------------------------------------

def test_bpe_token_stats_hand_counts(spark):
    from geo_import_spark.operators import textops

    df = spark.createDataFrame(
        [(1, "hello world42!"), (2, "a  b"), (3, "x,y;z")],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in textops.bpe_token_stats(df).collect()}
    # "hello world42!" -> [hello][ world][42][!] = 4 bpe, 2 ws tokens
    assert (got[1]["n_ws_tokens"], got[1]["n_bpe_tokens"]) == (2, 4)
    assert got[1]["chars_per_token"] == 14 / 4
    # "a  b" -> [a][ ][ b]? no: " ?[a-zA-Z]+" takes "a", then " b" needs
    # two spaces: first " ?...": one space + "b" leaves one bare space
    # matched by " +" -> [a][ ][ b] is wrong order; actual scan:
    # "a", then at "  b": " ?[a-zA-Z]+" matches " " + ... no letter at
    # pos 2 ("  "): alternation falls to " +" matching " " (greedy to
    # just before "b"? " +" grabs both spaces), then "b".
    assert (got[2]["n_ws_tokens"], got[2]["n_bpe_tokens"]) == (2, 3)
    # "x,y;z" -> [x][,][y][;][z]
    assert (got[3]["n_ws_tokens"], got[3]["n_bpe_tokens"]) == (1, 5)


# --- source_mix_sample ------------------------------------------------------

def test_source_mix_sample_temperature_quotas(spark):
    """alpha=0.5: a 100x bigger source gets only 10x the quota."""
    from geo_import_spark.operators import trainprep

    rows = [(i, "big") for i in range(1600)] + [(9000 + i, "small") for i in range(16)]
    docs = spark.createDataFrame(rows, ["doc_id", "source"])
    out = trainprep.source_mix_sample(docs, alpha=0.5, target=110)
    counts = {r["source"]: r["n"] for r in
              out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    # weights 40 and 4, Z=44: quotas floor(110*40/44)=100, floor(110*4/44)=10
    # (10 <= 16 available, so the quota is actually fillable)
    assert counts == {"big": 100, "small": 10}


def test_source_mix_sample_deterministic(spark, sf_dir):
    from geo_import_spark.operators import trainprep

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = sorted(
        (r["doc_id"], r["source"], r["rk"])
        for r in trainprep.source_mix_sample(docs).collect()
    )
    b = sorted(
        (r["doc_id"], r["source"], r["rk"])
        for r in trainprep.source_mix_sample(docs).collect()
    )
    assert a == b and len(a) > 0


# --- streaming exact dedup ---------------------------------------------------

def test_streaming_exact_dedup_drops_in_horizon_duplicates(spark, tmp_path):
    """dropDuplicatesWithinWatermark under readStream: duplicated text
    arriving within the horizon is emitted once; state is keyed on
    md5(text)."""
    import pandas as pd

    from geo_import_spark.streaming import dedup as sdedup

    rows = []
    base = pd.Timestamp("2026-01-01 00:00:00")
    for i in range(40):
        # 20 distinct texts, each duplicated once 5 minutes later
        rows.append((i, f"text number {i % 20}", base + pd.Timedelta(minutes=i % 20)))
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "ts"])
    # Spark's parquet reader rejects TIMESTAMP(NANOS); write micros
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    src = tmp_path / "docs_src"
    src.mkdir()
    pdf.to_parquet(src / "part-0.parquet")
    batch = spark.read.parquet(str(src))
    stream = (
        spark.readStream.schema(batch.schema)
        .parquet(str(src))
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    out = sdedup.streaming_exact_dedup(stream, horizon="1 hour")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_smoke")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("SELECT text FROM dedup_smoke").toPandas()
    assert len(got) == 20
    assert sorted(got["text"]) == sorted(f"text number {i}" for i in range(20))
    # batch twin agrees on the surviving content set
    batch_out = sdedup.streaming_exact_dedup(
        batch.withColumn("ts", F.col("ts").cast("timestamp"))
    )
    assert sorted(r["text"] for r in batch_out.select("text").collect()) == sorted(
        got["text"]
    )
