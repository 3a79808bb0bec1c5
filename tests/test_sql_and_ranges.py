"""SQL view surface, range iterators, FULL-resolution raw query shape."""

from pyspark.sql import functions as F

from blueflood_spark.operators import granularity as G
from blueflood_spark.plans.query_api import series_frame_full
from blueflood_spark.plans.sql_catalog import register_views

DAY = 86_399_000  # the reference test uses [0, 86399000]


def test_ranges_for_interval_counts():
    # GranularityTest.java:116-121
    assert len(G.ranges_for_interval(G.FULL, 0, DAY)) == 288  # full uses 5m slots
    assert len(G.ranges_for_interval(G.MIN_5, 0, DAY)) == 288
    assert len(G.ranges_for_interval(G.MIN_20, 0, DAY)) == 72
    assert len(G.ranges_for_interval(G.MIN_60, 0, DAY)) == 24
    assert len(G.ranges_for_interval(G.MIN_240, 0, DAY)) == 6
    assert len(G.ranges_for_interval(G.MIN_1440, 0, DAY)) == 1


def test_derive_range_roundtrip():
    # a slot derived from a time must map back to that time's window
    ref = 1_700_000_123_456
    for g in (G.MIN_20, G.MIN_240):
        ws = g.snap_millis(ref - 3 * g.milliseconds)
        slot = g.slot(ws)
        lo, hi = G.derive_range(g, slot, ref)
        assert lo == ws and hi == ws + g.milliseconds - 1


def test_register_views_and_sql(spark):
    raw = spark.createDataFrame(
        [("t1", "a.b.c", 1000, 1.5, "bytes", 60)],
        "tenant_id string, metric_name string, ts long, value double, unit string, ttl_seconds int",
    )
    created = register_views(spark, raw_df=raw)
    assert {"raw_metrics", "metric_catalog", "metric_tokens"} <= set(created)
    n = spark.sql("SELECT count(*) AS n FROM metric_tokens WHERE is_leaf").collect()[0]["n"]
    assert n == 1
    row = spark.sql(
        "SELECT unit FROM metric_catalog WHERE tenant_id='t1' AND metric_name='a.b.c'"
    ).collect()[0]
    assert row["unit"] == "bytes"


def test_series_frame_full_raw_shape(spark):
    raw = spark.createDataFrame(
        [("t1", "m", 100, 7.0, None, None), ("t1", "m", 200, 9.0, None, None)],
        "tenant_id string, metric_name string, ts long, value double, unit string, ttl_seconds int",
    )
    out = series_frame_full(raw, "t1", ["m"], 0, 1000, ["average", "numPoints", "variance"]).collect()
    out.sort(key=lambda r: r["timestamp"])  # the frame is unordered; responses sort on the driver
    assert len(out) == 2
    # raw sample echoes value as average, numPoints 1, variance 0 (serializer raw branch)
    assert out[0]["average"] == 7.0 and out[0]["numPoints"] == 1 and out[0]["variance"] == 0.0
    assert out[0]["timestamp"] == 100
