"""Co-located bucketed joins (plans/bucketed.py): same key + same
bucket count => the join and the keyed aggregate plan with ZERO
Exchange, and the results are identical to the shuffled plan."""

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from geo_import_spark.plans import bucketed


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture()
def two_tables(spark, tmp_path):
    docs = spark.range(5000).select(
        F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
        (F.col("id") % 97).alias("meta"),
    )
    points = spark.range(20000).select(
        F.concat(F.lit("d"), (F.col("id") % 5000)).alias("doc_id"),
        (F.col("id") % 360 - 180).cast("double").alias("lon"),
        (F.col("id") % 170 - 85).cast("double").alias("lat"),
    )
    bucketed.write_bucketed(
        docs, "b_docs", str(tmp_path / "docs"), "doc_id",
        n_buckets=8, sort_cols="doc_id",
    )
    bucketed.write_bucketed(
        points, "b_points", str(tmp_path / "points"), "doc_id",
        n_buckets=8, sort_cols="doc_id",
    )
    yield docs, points
    bucketed.drop_bucketed(spark, "b_docs")
    bucketed.drop_bucketed(spark, "b_points")


def test_cobucketed_join_has_no_exchange(spark, two_tables):
    docs, points = two_tables
    bd = bucketed.read_bucketed(spark, "b_docs")
    bp = bucketed.read_bucketed(spark, "b_points")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)  # force SMJ shape
    try:
        joined = bp.join(bd, "doc_id")
        plan = _plan(joined)
        assert "Exchange" not in plan          # co-located: zero shuffles
        assert "SortMergeJoin" in plan
        # sortBy at write time: the merge join needs no extra Sort
        assert "(Sort" not in plan.split("SortMergeJoin")[0]
        got = joined.count()
        # identical to the shuffled plan over the raw frames
        assert got == points.join(docs, "doc_id").count() == 20000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_aggregate_has_no_exchange(spark, two_tables):
    _docs, points = two_tables
    bp = bucketed.read_bucketed(spark, "b_points")
    agg = bp.groupBy("doc_id").agg(F.count("*").alias("n"))
    plan = _plan(agg)
    assert "Exchange" not in plan
    rows = {r["doc_id"]: r["n"] for r in agg.collect()}
    assert len(rows) == 5000
    expect = {
        r["doc_id"]: r["n"]
        for r in points.groupBy("doc_id").agg(F.count("*").alias("n")).collect()
    }
    assert rows == expect


def test_mismatched_buckets_still_correct(spark, two_tables, tmp_path):
    """A 4-bucket table joined to an 8-bucket table cannot co-locate —
    Spark shuffles one side — but results stay correct (bucketing is a
    physical hint, never a semantics change)."""
    docs, _points = two_tables
    bucketed.write_bucketed(
        docs, "b_docs4", str(tmp_path / "docs4"), "doc_id", n_buckets=4
    )
    try:
        bd8 = bucketed.read_bucketed(spark, "b_docs")
        bd4 = bucketed.read_bucketed(spark, "b_docs4")
        joined = bd8.join(bd4, "doc_id")
        assert joined.count() == 5000
    finally:
        bucketed.drop_bucketed(spark, "b_docs4")
