"""Benchmark the shuffle-mode PIP fallback (VERDICT r3 #5): the plan
that actually runs at 100x polygon cardinality, timed against the
broadcast plan on the same input, at 1x and 10x polygon replicas, with
and without measured salting. Prints one JSON line; paste the numbers
into BASELINE.md.

Usage: python scripts/bench_pip_shuffle.py [sf_dir]
"""

import contextlib
import io
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from geo_import_spark import corpus  # noqa: E402
from geo_import_spark.operators import pip as pipmod  # noqa: E402
from geo_import_spark.session import default_cpus, get_spark  # noqa: E402
from geo_import_spark.sources import geojson  # noqa: E402


def replicate_polys(spark, polys, k: int):
    """k translated copies of each polygon (shifted along lon so the
    replicas are real extra work, not duplicate keys)."""
    reps = spark.range(k)
    shift = (F.col("id").cast("double") - (k - 1) / 2.0) * 0.37
    return polys.crossJoin(F.broadcast(reps)).select(
        F.concat("poly_id", F.lit("#"), F.col("id").cast("string")).alias("poly_id"),
        F.struct(
            F.col("geom.part_offsets").alias("part_offsets"),
            F.col("geom.ring_offsets").alias("ring_offsets"),
            F.transform("geom.xs", lambda v: F.greatest(F.lit(-180.0),
                        F.least(F.lit(180.0), v + shift))).alias("xs"),
            F.col("geom.ys").alias("ys"),
        ).alias("geom"),
    )


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    cpus = default_cpus()
    spark = get_spark(cpus=cpus, app="bench-pip-shuffle")
    docs = corpus.documents(spark, sf_dir).repartition(cpus * 4).cache()
    docs.count()
    pts = geojson.point_spans(docs).cache()
    n_pts = pts.count()
    polys1 = corpus.polygons(spark, sf_dir)
    polys10 = replicate_polys(spark, polys1, 10).cache()
    n_polys10 = polys10.count()

    runs = {
        "broadcast_1x": lambda: pipmod.pip_join(pts, polys1, broadcast_polys=True),
        "shuffle_1x_unsalted": lambda: pipmod.pip_join(
            pts, polys1, broadcast_polys=False, salt_factor=1
        ),
        "shuffle_1x_autosalt": lambda: pipmod.pip_join(
            pts, polys1, broadcast_polys=False
        ),
        "broadcast_10x": lambda: pipmod.pip_join(pts, polys10, broadcast_polys=True),
        "shuffle_10x_unsalted": lambda: pipmod.pip_join(
            pts, polys10, broadcast_polys=False, salt_factor=1
        ),
        "shuffle_10x_autosalt": lambda: pipmod.pip_join(
            pts, polys10, broadcast_polys=False
        ),
    }
    out = {"sf_dir": sf_dir, "cpus": cpus, "n_points": n_pts,
           "n_polys_10x": n_polys10, "timings": {}, "rows": {}}
    for name, fn in runs.items():
        # At bench scale the exploded polygon cover still fits the
        # broadcast threshold, so without this the "shuffle" runs
        # silently plan a BroadcastHashJoin anyway — disable the
        # threshold so the measured plan is the true at-scale
        # sort-merge/shuffled-hash join (AQE's runtime conversion
        # honors the same -1).
        if name.startswith("shuffle"):
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
        walls = []
        rows = None
        for _ in range(3):
            t0 = time.time()
            rows = fn().count()
            walls.append(round(time.time() - t0, 2))
        out["timings"][name] = walls
        out["rows"][name] = rows
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    out["auto_salt_1x"] = pipmod.auto_salt_factor(pts, 6)
    # executed-plan shape of the salted shuffle join
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        runs["shuffle_10x_autosalt"]().explain("formatted")
    plan = buf.getvalue()
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    out["salted_plan_join"] = [
        line.strip() for line in plan.splitlines()
        if "Join" in line or "Exchange" in line
    ][:10]
    print(json.dumps(out))


if __name__ == "__main__":
    main()
