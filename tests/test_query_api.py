"""Query API: param parsing, stat selection/legality, response shaping,
repair-on-read (SURVEY §2.11, A8, O2/O3)."""

import pytest
from pyspark.sql import functions as F

from blueflood_spark.operators import granularity as G
from blueflood_spark.operators import repair as REP
from blueflood_spark.operators import rollup as R
from blueflood_spark.plans import query_api as Q

MIN = 60_000


@pytest.fixture(scope="module")
def rollups(spark):
    raw = spark.createDataFrame(
        [("t1", "m.a", i * MIN, float(i)) for i in range(60)],
        "tenant_id string, metric_name string, ts long, value double",
    )
    return R.basic_from_raw(raw, G.MIN_5).withColumn("resolution", F.lit("5m"))


def test_parse_params_happy():
    p = Q.parse_params({"from": ["0"], "to": ["100"], "points": ["10"]})
    assert p.points == 10 and p.from_ms == 0 and p.to_ms == 100
    p2 = Q.parse_params({"from": ["0"], "to": ["100"], "resolution": ["MIN5"]})
    assert p2.resolution is G.MIN_5


def test_parse_params_errors():
    with pytest.raises(Q.InvalidRequestError):
        Q.parse_params({})
    with pytest.raises(Q.InvalidRequestError):
        Q.parse_params({"from": ["0"], "to": ["100"]})  # neither points nor resolution
    with pytest.raises(Q.InvalidRequestError):
        Q.parse_params({"from": ["100"], "to": ["100"], "points": ["1"]})  # to <= from
    with pytest.raises(Q.InvalidRequestError):
        Q.parse_params({"from": ["x"], "to": ["100"], "points": ["1"]})
    with pytest.raises(Q.InvalidRequestError):
        Q.parse_params({"from": ["0"], "to": ["100"], "resolution": ["MIN7"]})


def test_parse_select_stats():
    p = Q.parse_params(
        {"from": ["0"], "to": ["9"], "points": ["1"], "select": ["average,min", "bogus", "MAX"]}
    )
    assert p.stats == ["average", "min", "max"]  # unknown silently dropped, case-folded


def test_effective_stats_legality():
    # illegal per-type stats silently dropped (serializer :166-168)
    assert Q.effective_stats(["average", "latest"], "basic") == ["average"]
    assert Q.effective_stats(["average", "latest"], "gauge") == ["latest"]
    assert Q.effective_stats([], "timer") == ["rate", "numPoints", "average"]  # defaults
    assert Q.effective_stats([], "set") == ["numPoints"]


def test_get_view_shape(rollups):
    p = Q.parse_params({"from": ["0"], "to": [str(60 * MIN)], "resolution": ["MIN5"]})
    out = Q.get_view(rollups, "t1", "m.a", p, unit="bytes")
    assert out["unit"] == "bytes"
    assert out["metadata"]["count"] == 12
    v0 = out["values"][0]
    assert set(v0) == {"timestamp", "average", "numPoints", "sum"}  # basic defaults
    assert v0["average"] == 2.0 and v0["numPoints"] == 5


def test_get_views_multi_and_limit(rollups):
    p = Q.parse_params({"from": ["0"], "to": [str(60 * MIN)], "resolution": ["MIN5"]})
    out = Q.get_views_multi(rollups, "t1", ["m.a", "m.missing"], p)
    assert out["m.a"]["metadata"]["count"] == 12
    assert out["m.missing"]["metadata"]["count"] == 0
    with pytest.raises(Q.InvalidRequestError):
        Q.get_views_multi(rollups, "t1", ["a", "b", "c"], p, max_metrics=2)


def test_points_budget_selection(rollups):
    p = Q.parse_params({"from": ["0"], "to": [str(86_400_000)], "points": ["288"]})
    assert Q.select_granularity(p).name == "5m"


def test_repair_on_read(spark, rollups):
    raw = spark.createDataFrame(
        [("t1", "m.a", i * MIN, float(i)) for i in range(60)],
        "tenant_id string, metric_name string, ts long, value double",
    )
    # stored rollups missing two windows
    stored = rollups.filter(~F.col("window_start").isin([10 * 5 * MIN, 0]))
    out = REP.repair_on_read(stored, raw, G.MIN_5, 0, 60 * MIN)
    rows = {r["window_start"]: r for r in out.collect()}
    assert len(rows) == 12  # all windows present again
    assert rows[0]["source"] == "repaired"
    assert rows[5 * MIN]["source"] == "stored"
    # repaired values equal what a full recompute gives
    assert rows[0]["avg"] == 2.0 and rows[0]["num_points"] == 5


def test_metadata_driven_rollup_type(spark, rollups):
    """J2: catalog decides the stat family — a gauge metric gets gauge
    defaults (numPoints, latest) without the caller naming the type."""
    cat = spark.createDataFrame(
        [("t1", "m.a", None, "gauge")],
        "tenant_id string, metric_name string, unit string, rollup_type string",
    )
    gauge_rollups = rollups.withColumn("latest_value", F.col("avg") * 2)
    p = Q.parse_params({"from": ["0"], "to": [str(60 * MIN)], "resolution": ["MIN5"]})
    out = Q.get_view(gauge_rollups, "t1", "m.a", p, rollup_type=None, catalog=cat)
    assert set(out["values"][0]) == {"timestamp", "numPoints", "latest"}  # gauge defaults
    # unknown metric falls back to basic defaults
    out2 = Q.get_view(gauge_rollups, "t1", "m.zzz", p, rollup_type=None, catalog=cat)
    assert out2["metadata"]["count"] == 0


def test_get_view_full_resolution_dispatch(spark):
    """FULL granularity selection must serve from the raw table (the
    rollups table has no 'full' rows) — and fail loudly without it."""
    import pytest as _pytest

    from blueflood_spark.plans import query_api as QA

    now = 1_700_000_000_000
    frm, to = now - 3_600_000, now  # 1 hour, recent
    raw = spark.createDataFrame(
        [("t1", "m.cpu", frm + i * 60_000, float(i)) for i in range(60)],
        "tenant_id string, metric_name string, ts long, value double",
    )
    rollups = spark.createDataFrame(
        [], "tenant_id string, metric_name string, resolution string,"
            " window_start long, num_points long, avg double, var_pop double,"
            " min double, max double, sum double",
    )
    params = QA.parse_params(
        {"points": ["500"], "from": [str(frm)], "to": [str(to)]}
    )
    # 1h at the 30s assumed interval → FULL provides 120 points; 5m only 12
    assert QA.select_granularity(params, now_ms=now).name == "full"
    resp = QA.get_view(rollups, "t1", "m.cpu", params, now_ms=now, raw=raw)
    assert len(resp["values"]) == 60
    assert resp["values"][0]["numPoints"] == 1  # raw sample shaped as point
    with _pytest.raises(QA.InvalidRequestError, match="FULL"):
        QA.get_view(rollups, "t1", "m.cpu", params, now_ms=now)


def test_points_zero_selects_last_like_reference(spark):
    from blueflood_spark.operators import granularity as G

    assert G.from_points_in_interval(0, 7_200_000, 0).name == "1440m"


def test_get_view_full_resolution_preagg_family_is_loud(spark):
    """A preagg-family metric whose budget selects FULL must raise (the
    basic metrics_full table cannot serve it), never silently return an
    empty series."""
    import pytest as _pytest

    from blueflood_spark.plans import query_api as QA

    now = 1_700_000_000_000
    frm, to = now - 3_600_000, now
    raw = spark.createDataFrame(
        [("t1", "m.req", frm + 60_000, 1.0)],
        "tenant_id string, metric_name string, ts long, value double",
    )
    rollups = spark.createDataFrame(
        [], "tenant_id string, metric_name string, resolution string,"
            " window_start long, num_points long, avg double, var_pop double,"
            " min double, max double, sum double",
    )
    params = QA.parse_params({"points": ["500"], "from": [str(frm)], "to": [str(to)]})
    assert QA.select_granularity(params, now_ms=now).name == "full"
    with _pytest.raises(QA.InvalidRequestError, match="preaggregated family 'timer'"):
        QA.get_view(rollups, "t1", "m.req", params, rollup_type="timer",
                    now_ms=now, raw=raw)
    with _pytest.raises(QA.InvalidRequestError, match="preaggregated family 'counter'"):
        QA.get_views_multi(rollups, "t1", ["m.req"], params, rollup_type="counter",
                           now_ms=now, raw=raw)


def test_responses_are_time_ordered_over_unordered_files(spark, tmp_path):
    """O1: the frames carry no global sort, so get_view/get_views_multi
    order the collected rows themselves. The fixtures are written as
    several parquet files whose rows run in descending time, so a scan
    returns them out of order."""
    names = ["m.a", "m.b", "m.c"]
    raw = spark.createDataFrame(
        [("t1", m, i * MIN, float(i * (k + 1))) for k, m in enumerate(names) for i in range(120)],
        "tenant_id string, metric_name string, ts long, value double",
    )
    rollups = R.basic_from_raw(raw, G.MIN_5).withColumn("resolution", F.lit("5m"))
    raw_dir, rollups_dir = str(tmp_path / "raw"), str(tmp_path / "rollups")
    raw.repartition(4).sortWithinPartitions(F.desc("ts")).write.parquet(raw_dir)
    rollups.repartition(4).sortWithinPartitions(F.desc("window_start")).write.parquet(rollups_dir)
    raw_p, rollups_p = spark.read.parquet(raw_dir), spark.read.parquet(rollups_dir)

    def ascending(resp, n):
        ts = [v["timestamp"] for v in resp["values"]]
        assert len(ts) == n and all(a < b for a, b in zip(ts, ts[1:])), ts

    for res, n in (("MIN5", 24), ("FULL", 120)):
        p = Q.parse_params({"from": ["0"], "to": [str(120 * MIN)], "resolution": [res]})
        ascending(Q.get_view(rollups_p, "t1", "m.b", p, raw=raw_p), n)
        multi = Q.get_views_multi(rollups_p, "t1", names, p, raw=raw_p)
        assert set(multi) == set(names)
        for m in names:
            ascending(multi[m], n)


# ---------------------------------------------------------------------------
# the driver read: same JSON as the Spark job, on both stored layouts
# ---------------------------------------------------------------------------

PARITY_RES = ["FULL", "MIN5", "MIN20", "MIN60", "MIN240", "MIN1440"]
DAY = 86_400_000
ROLLUP_COLS = (
    "tenant_id string, metric_name string, resolution string, window_start long,"
    " num_points long, avg double, var_pop double, min double, max double, sum double,"
    " rate double, latest_value double, percentiles map<string,double>"
)


def _parity_rows():
    """Rollups of a basic (m.a), gauge (m.g) and timer (m.t) series at every
    resolution over five days, every fifth window with numPoints == 0, plus a
    second tenant; and one hour of raw samples per series."""
    rollups, raw = [], []
    for tenant in ("t1", "t2"):
        for g in G.GRANULARITIES[1:]:
            for i in range(min(5 * DAY // g.milliseconds, 60)):
                for k, m in enumerate(("m.a", "m.g", "m.t")):
                    x = i + k / 4 + (tenant == "t2")
                    pct = {"50": x, "99": 2 * x, "999": None} if m == "m.t" else None
                    rollups.append((tenant, m, g.name, i * g.milliseconds, 0 if i % 5 == 3 else 5,
                                    x, x / 3, x - 1, x + 1, 5 * x, x / 60, -x, pct))
        for i in range(90):
            for k, m in enumerate(("m.a", "m.g")):
                raw.append((tenant, m, i * MIN, i + k / 8, "bytes", 86_400))
    return rollups, raw


@pytest.fixture(scope="module")
def parity_stores(spark, tmp_path_factory):
    """{layout: (rollups frame, raw frame)}: "tables" is the
    tables.write_rollups / write_raw layout read by plain spark.read.parquet
    (resolution and date are directories); "sinks" is the streaming sinks'
    batch_id=N layout read with an explicit schema (resolution is a data
    column, num_points is stored as int and read as long)."""
    from blueflood_spark.sources import tables as TB
    from blueflood_spark.streaming import pipeline as PL

    root = tmp_path_factory.mktemp("parity")
    rollup_rows, raw_rows = _parity_rows()
    rollups = spark.createDataFrame(rollup_rows, ROLLUP_COLS)
    raw = spark.createDataFrame(raw_rows, "tenant_id string, metric_name string, ts long, value double,"
                                          " unit string, ttl_seconds int")
    TB.write_rollups(rollups, f"{root}/tables/rollups", mode="overwrite")
    TB.write_raw(raw, f"{root}/tables/raw", mode="overwrite")
    for b in (0, 1):
        part = F.col("window_start") % 2 == b
        PL._overwrite_batch(rollups.filter(part).withColumn("num_points", F.col("num_points").cast("int")),
                            f"{root}/sinks/rollups", b)
        PL._overwrite_batch(TB.with_date_partition(raw.filter(F.col("ts") % 2 == b), "ts"),
                            f"{root}/sinks/raw", b, partition_by="date")
    return {
        "tables": (spark.read.parquet(f"{root}/tables/rollups"), spark.read.parquet(f"{root}/tables/raw")),
        "sinks": (spark.read.schema(ROLLUP_COLS + ", batch_id long").parquet(f"{root}/sinks/rollups"),
                  spark.read.schema(PL.RAW_SINK_SCHEMA).parquet(f"{root}/sinks/raw")),
    }


def _series_calls(rollups, raw, res):
    """The requests of one resolution: (name, zero-arg call)."""
    p = lambda select=None: Q.parse_params(  # noqa: E731
        {"from": ["0"], "to": [str(5 * DAY)], "resolution": [res], **({"select": [select]} if select else {})})
    basic = "average,numPoints,sum,min,max,variance"
    calls = [
        ("view default", lambda: Q.get_view(rollups, "t1", "m.a", p(), raw=raw)),
        ("view basic", lambda: Q.get_view(rollups, "t1", "m.a", p(basic), raw=raw, unit="bytes")),
        ("view missing", lambda: Q.get_view(rollups, "t1", "m.missing", p(basic), raw=raw)),
        ("multi", lambda: Q.get_views_multi(rollups, "t1", ["m.a", "m.missing", "m.g"], p(basic), raw=raw)),
    ]
    if res != "FULL":
        calls += [
            ("view gauge", lambda: Q.get_view(rollups, "t2", "m.g", p("numPoints,latest"), rollup_type="gauge")),
            ("view timer", lambda: Q.get_view(rollups, "t1", "m.t", p("percentiles,rate,numPoints,average"),
                                              rollup_type="timer")),
            ("multi timer", lambda: Q.get_views_multi(rollups, "t2", ["m.t", "m.a"], p(), rollup_type="timer")),
        ]
    return calls


@pytest.mark.parametrize("res", PARITY_RES)
@pytest.mark.parametrize("layout", ["tables", "sinks"])
def test_driver_read_matches_spark_job(parity_stores, read_gate, layout, res):
    """get_view / get_views_multi answer with identical JSON whether the
    rows come from the driver read or from the Spark job (forced by a size
    gate of 0): FULL's literals, numPoints == 0 nulling, percentiles,
    latest, a missing metric, and a user-given read schema."""
    import json

    rollups, raw = parity_stores[layout]
    gate = read_gate(Q.__name__)
    seen = set()
    for name, call in _series_calls(rollups, raw, res):
        driver, job = gate.both(lambda: json.dumps(call()))
        assert driver == job, name
        seen.add(driver)
    text = "".join(seen)
    assert '"count": 0' in text  # the missing metric
    if res != "FULL":
        assert '"average": null, "numPoints": 0' in text  # numPoints == 0 nulls the stats
        assert '"pct_99": ' in text and '"latest": ' in text
    else:
        assert '"numPoints": 1, ' in text and '"variance": 0.0' in text


def _store_view(df):
    """A zero-arg get_view over `df` (the 5m rollups of m.a)."""
    p = Q.parse_params({"from": ["0"], "to": [str(60 * MIN)], "resolution": ["MIN5"]})
    return lambda: Q.get_view(df, "t1", "m.a", p)


@pytest.fixture()
def small_store(spark, rollups, tmp_path):
    path = str(tmp_path / "rollups")
    rollups.write.partitionBy("resolution").parquet(path)
    return path


def test_driver_read_degrades_without_file_listing(spark, small_store, monkeypatch, read_gate):
    """No inputFiles() (Spark Connect, API drift), an inputFiles() that
    raises, or a file that is not local: the Spark job serves the request."""
    df = spark.read.parquet(small_store)
    call = _store_view(df)
    gate = read_gate(Q.__name__)
    expected = gate.spark_only(call)
    assert expected["metadata"]["count"] == 12
    cls = type(df)

    def boom(self):
        raise RuntimeError("inputFiles is not supported")

    for patch in (
        lambda m: m.delattr(cls, "inputFiles"),
        lambda m: m.setattr(cls, "inputFiles", boom),
        lambda m: m.setattr(cls, "inputFiles", lambda self: ["hdfs://nn:8020/rollups/resolution=5m/part-0.parquet"]),
    ):
        with monkeypatch.context() as m:
            patch(m)
            assert gate.taken(call) == (expected, {"spark"})


@pytest.mark.parametrize("damage", ["deleted", "corrupt"])
def test_driver_read_degrades_to_the_spark_error(spark, small_store, read_gate, damage):
    """A file deleted after listing (os.stat fails) or one Arrow cannot
    read: the request runs the Spark job, which raises today's error."""
    import glob
    import os

    df = spark.read.parquet(small_store)  # lists the files now
    victim = sorted(glob.glob(f"{small_store}/resolution=5m/*.parquet"))[0]
    if damage == "deleted":
        os.remove(victim)
    else:
        with open(victim, "wb") as fh:
            fh.write(b"not a parquet file")
    call = _store_view(df)
    gate = read_gate(Q.__name__)
    errors = []
    for run in (call, lambda: gate.spark_only(call)):
        gate.caplog.clear()
        with pytest.raises(Exception) as e:
            run()
        assert set(gate.paths()) == {"spark"}
        errors.append(type(e.value))
    assert errors[0] is errors[1], errors


def test_lookup_rollup_type_reads_the_catalog_on_the_driver(spark, tmp_path, read_gate, request_jobs):
    """The (tenant, name) catalog lookup of get_view runs no Spark job on a
    small plain parquet catalog and answers as the Spark plan does: the
    stored type, or basic when the row is missing or its type is null."""
    path = str(tmp_path / "catalog")
    spark.createDataFrame(
        [("t1", "m.g", "B", "gauge"), ("t1", "m.n", "B", None), ("t2", "m.g", None, "timer")],
        "tenant_id string, metric_name string, unit string, rollup_type string",
    ).write.parquet(path)
    cat = spark.read.parquet(path)
    gate = read_gate(Q.__name__)
    lookups = [("t1", "m.g"), ("t1", "m.n"), ("t1", "m.missing"), ("t2", "m.g"), ("t3", "m.g")]
    for tenant, name in lookups:
        jobs, answer = request_jobs(lambda: Q.lookup_rollup_type(cat, tenant, name))
        assert answer and jobs == 0
        driver, job = gate.both(lambda: Q.lookup_rollup_type(cat, tenant, name))
        assert driver == job
    assert [Q.lookup_rollup_type(cat, t, n) for t, n in lookups] == ["gauge", "basic", "basic", "timer", "basic"]
