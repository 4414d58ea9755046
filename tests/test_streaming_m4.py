"""Streaming/batch parity for the M4 rollup: the four extremes are
mergeable aggregate state, so running the identical aggregation
incrementally (one parquet file per micro-batch) must produce exactly
the batch answer — including the composite-key tie-breaks that decide
WHICH timestamp represents a min/max value."""

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from geo_import_spark.operators import timeseries as tsmod
from geo_import_spark.streaming import events as eventsmod


def _write(pdf, path):
    tbl = pa.Table.from_pandas(pdf, preserve_index=False)
    i = tbl.schema.get_field_index("ts")
    tbl = tbl.set_column(i, "ts", tbl.column("ts").cast(pa.timestamp("us")))
    pq.write_table(tbl, path)


def _mk_events():
    t = lambda s: pd.Timestamp(f"2024-01-01 {s}")
    cols = ["event_id", "ts", "user_id", "event_type", "value"]
    rows = [
        # window 00:00-04:00, type a: duplicate min value (7.0) at
        # 00:30 and 01:30 -> t_min must be the EARLIER one even when
        # the later duplicate arrives in a later micro-batch
        [1, t("00:30"), 1, "a", 7.0],
        [2, t("00:10"), 1, "a", 9.5],
        [3, t("02:00"), 2, "a", 50.0],
        # window 04:00-08:00, type a
        [4, t("04:20"), 1, "a", 1.25],
        # type b spans both windows
        [5, t("01:00"), 3, "b", 3.0],
        [6, t("05:00"), 3, "b", 2.0],
    ]
    late = [
        [7, t("01:30"), 2, "a", 7.0],   # duplicate-min, later ts
        [8, t("03:59"), 2, "a", 120.0],  # new max for window 0
        [9, t("07:00"), 1, "b", 99.0],
    ]
    return (pd.DataFrame(rows, columns=cols),
            pd.DataFrame(late, columns=cols))


def test_streaming_m4_equals_batch(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    b1, b2 = _mk_events()
    _write(b1, str(src / "000.parquet"))
    _write(b2, str(src / "001.parquet"))

    batch = spark.read.parquet(str(src))
    expect = {
        (r.event_type, str(r.win_start)): r
        for r in eventsmod.m4_windowed(batch).collect()
    }

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp_ntz, user_id long, "
            "event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    q = (
        eventsmod.m4_windowed(stream)
        .writeStream.format("memory")
        .queryName("m4_stream")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        (r.event_type, str(r.win_start)): r
        for r in spark.table("m4_stream").collect()
    }
    assert set(got) == set(expect)
    cols = ["n", "t_first_us", "v_first_mi", "t_last_us", "v_last_mi",
            "v_min_mi", "t_min_us", "v_max_mi", "t_max_us"]
    for key in expect:
        for c in cols:
            assert getattr(got[key], c) == getattr(expect[key], c), (key, c)


def test_streaming_m4_tiebreak_is_earliest(spark, tmp_path):
    # the duplicated min value 7.0 lands at 00:30 (batch 1) and 01:30
    # (batch 2); the merged state must keep the EARLIER timestamp
    src = tmp_path / "src"
    src.mkdir()
    b1, b2 = _mk_events()
    _write(b1, str(src / "000.parquet"))
    _write(b2, str(src / "001.parquet"))
    batch = spark.read.parquet(str(src))
    rows = {
        (r.event_type, str(r.win_start)): r
        for r in eventsmod.m4_windowed(batch).collect()
    }
    w0 = rows[("a", "2024-01-01 00:00:00")]
    assert w0.v_min_mi == 7_000_000
    assert w0.t_min_us == int(
        pd.Timestamp("2024-01-01 00:30:00").value // 1000)
    assert w0.v_max_mi == 120_000_000
    assert w0.n == 5


def test_m4_windowed_rejects_out_of_range_event_id(spark):
    """m4_windowed shares m4_downsample's composite-key range guard: a
    negative event_id would alias another row's key, so it raises."""
    b1, _ = _mk_events()
    b1.loc[0, "event_id"] = -1
    with pytest.raises(Exception, match="m4_windowed"):
        eventsmod.m4_windowed(spark.createDataFrame(b1)).collect()
