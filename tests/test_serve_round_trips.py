"""What a serve request costs on the driver path of the read gate
(plans/scan.py) in py4j round trips, and the two memos that keep it low
against stale answers: the facts of a table handle and the output schema
of an endpoint's plan."""

import threading

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from blueflood_spark import catalog as C
from blueflood_spark.operators import granularity as G
from blueflood_spark.operators import rollup as R
from blueflood_spark.plans import events_api as EA
from blueflood_spark.plans import query_api as Q
from blueflood_spark.plans import scan as S

MIN = 60_000
NAMES = [f"{svc}.host{h:02d}.{res}" for svc in ("api", "db") for h in range(3) for res in ("cpu", "mem")]
EVENTS_SCHEMA = pa.schema([("tenant_id", pa.string()), ("when", pa.int64()), ("what", pa.string()),
                           ("data", pa.string()), ("tags", pa.string())])


def _write_events(path: str, tenant: str, whens: range) -> None:
    rows = [{"tenant_id": tenant, "when": w, "what": f"e{w}", "data": "x", "tags": "deploy"} for w in whens]
    pq.write_table(pa.Table.from_pylist(rows, schema=EVENTS_SCHEMA), path)


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    """One parquet file per table (per resolution for the rollups): the
    catalog, the events and the 5m rollups of one hour of samples."""
    root = tmp_path_factory.mktemp("round_trips")
    (root / "events").mkdir()
    _write_events(str(root / "events" / "part-0.parquet"), "t0", range(0, 7200, 60))
    catalog = [{"tenant_id": t, "metric_name": n, "unit": "percent"} for t in ("t0", "t1") for n in NAMES]
    (root / "catalog").mkdir()
    pq.write_table(pa.Table.from_pylist(catalog), str(root / "catalog" / "part-0.parquet"))
    raw = spark.createDataFrame([("t0", n, i * MIN, float(i)) for n in NAMES[:3] for i in range(60)],
                                "tenant_id string, metric_name string, ts long, value double")
    R.basic_from_raw(raw, G.MIN_5).withColumn("resolution", F.lit("5m")).coalesce(1) \
        .write.partitionBy("resolution").parquet(str(root / "rollups"))
    return {t: spark.read.parquet(str(root / t)) for t in ("catalog", "events", "rollups")}


def _requests(store) -> dict:
    """One zero-arg request per serve kind, each collected as perfbench's
    serve() does."""
    p = Q.parse_params({"from": ["0"], "to": [str(60 * MIN)], "resolution": ["MIN5"]})
    return {
        "events": lambda: EA.get_events(store["events"], "t0", "3600", None, "deploy").collect(),
        "search": lambda: C.search_metrics(store["catalog"], "t0", "api.*").collect(),
        "names": lambda: C.search_metric_names(store["catalog"], "t0", "*.host01.*").collect(),
        "view": lambda: Q.get_view(store["rollups"], "t0", NAMES[0], p),
        "multi": lambda: Q.get_views_multi(store["rollups"], "t0", NAMES[:3], p),
    }


MODULES = {"events": EA, "search": C, "names": C, "view": Q, "multi": Q}


@pytest.fixture()
def round_trips(monkeypatch):
    """round_trips(call) -> (py4j commands call() sent from this thread,
    its result). Counts at the connection's send_command: ClientServer
    Connection under the pinned-thread mode PySpark starts by default,
    GatewayConnection without it. The finalizer thread's object releases
    are not counted."""
    from py4j.clientserver import ClientServerConnection
    from py4j.java_gateway import GatewayConnection

    me, sent = threading.get_ident(), [0]
    for cls in (ClientServerConnection, GatewayConnection):
        def counted(self, command, _send=cls.send_command):
            if threading.get_ident() == me:
                sent[0] += 1
            return _send(self, command)
        monkeypatch.setattr(cls, "send_command", counted)

    def run(call):
        sent[0] = 0
        out = call()
        return sent[0], out

    return run


@pytest.mark.parametrize("kind,most", [("events", 40), ("search", 40), ("names", 40), ("view", 30), ("multi", 30)])
def test_driver_path_round_trips(store, read_gate, round_trips, kind, most):
    """After a warm call, a driver-path request (collect included) makes
    at most `most` py4j round trips: the handle's facts and the plan's
    schema come from the memos, and no Spark frame is built."""
    call = _requests(store)[kind]
    gate = read_gate(MODULES[kind].__name__)
    _, paths = gate.taken(call)
    assert paths == {"driver"}
    n, out = round_trips(call)
    assert out
    assert n <= most, f"{kind}: {n} round trips"


def test_driver_path_builds_no_spark_frame(store, monkeypatch, read_gate):
    """Once the schema memo holds an endpoint's schema, its driver path
    builds no Spark frame: scan_frame is not called."""
    reqs = _requests(store)
    for kind in ("events", "search", "names"):
        reqs[kind]()
    built = []
    for mod in (C, EA):
        monkeypatch.setattr(mod, "scan_frame", lambda spec, _f=mod.scan_frame: built.append(spec) or _f(spec))
    for kind in ("events", "search", "names"):
        _, paths = read_gate(MODULES[kind].__name__).taken(reqs[kind])
        assert paths == {"driver"}, kind
    assert built == []


def test_spark_path_returns_the_lazy_plan(store, read_gate, request_jobs):
    """On the Spark path each endpoint returns its plan function's frame,
    built lazily: no Spark job runs before the caller collects."""
    cat, events = store["catalog"], store["events"]
    cases = [
        (C, lambda: C.search_metrics(cat, "t0", "api.*", include_enum_values=True),
         lambda: C.search_metrics_frame(cat, "t0", "api.*", include_enum_values=True)),
        (C, lambda: C.search_metric_names(cat, "t0", "*.host01.*"),
         lambda: C.search_metric_names_frame(cat, "t0", "*.host01.*")),
        (EA, lambda: EA.get_events(events, "t0", "3600", None, "deploy"),
         lambda: EA.events_frame(events, "t0", "3600", None, "deploy")),
    ]
    for mod, call, plan in cases:
        gate = read_gate(mod.__name__)
        jobs, got = request_jobs(lambda: gate.spark_only(call))  # noqa: B023
        assert jobs == 0
        assert got.sameSemantics(plan())
        assert "LocalRelation" not in got._jdf.queryExecution().analyzed().toString()


# ---------------------------------------------------------------------------
# the memos against stale answers
# ---------------------------------------------------------------------------


def test_handle_cached_after_a_driver_request_takes_the_spark_path(spark, store, read_gate, caplog):
    """The cache state is read on every request: a handle cached after a
    driver-path request runs its next request as a Spark job, and reads on
    the driver again once unpersisted."""
    events = spark.read.parquet(store["events"].inputFiles()[0])
    gate = read_gate(EA.__name__)
    call = lambda: EA.get_events(events, "t0", "3600").collect()  # noqa: E731
    want, paths = gate.taken(call)
    assert paths == {"driver"}
    events.cache()
    try:
        got, paths = gate.taken(call)
        assert paths == {"spark"}
        assert any("(cached)" in r.getMessage() for r in caplog.records if r.name == EA.__name__)
        assert got == want
    finally:
        events.unpersist()
    got, paths = gate.taken(call)
    assert paths == {"driver"} and got == want


def test_new_file_after_refresh_shows_up_on_the_driver_path(spark, tmp_path, read_gate):
    """The file listing is read on every request: a file added under the
    table shows up in the next driver-path result once Spark's listing of
    the handle is refreshed. refreshByPath refreshes only the listings of
    cached plans; the handle's own listing refreshes with them while it is
    cached. Until then both paths keep the listing they had."""
    path = str(tmp_path / "events")
    (tmp_path / "events").mkdir()
    _write_events(f"{path}/part-0.parquet", "t0", range(0, 600, 60))
    events = spark.read.parquet(path)
    gate = read_gate(EA.__name__)
    call = lambda: [r["when"] for r in EA.get_events(events, "t0").collect()]  # noqa: E731
    before, paths = gate.taken(call)
    assert paths == {"driver"} and before == list(range(0, 600, 60))
    _write_events(f"{path}/part-1.parquet", "t0", range(600, 900, 60))
    spark.catalog.refreshByPath(path)
    assert call() == gate.spark_only(call) == before
    events.cache()
    try:
        spark.catalog.refreshByPath(path)
    finally:
        events.unpersist()
    after, paths = gate.taken(call)
    assert paths == {"driver"}
    assert after == gate.spark_only(call) == list(range(0, 900, 60))


@pytest.mark.parametrize("unit", [pa.string(), pa.int64()])
def test_driver_schema_is_the_tables_own_plan_schema(spark, tmp_path, read_gate, unit):
    """Two catalogs whose `unit` columns differ each answer with their own
    Spark plan's schema: the schema memo is keyed by the table's schema."""
    rows = [{"tenant_id": "t0", "metric_name": n, "unit": None if unit == pa.int64() else "percent"}
            for n in NAMES]
    pq.write_table(pa.Table.from_pylist(rows, schema=pa.schema([("tenant_id", pa.string()),
                                                                ("metric_name", pa.string()),
                                                                ("unit", unit)])),
                   str(tmp_path / "catalog.parquet"))
    cat = spark.read.parquet(str(tmp_path / "catalog.parquet"))
    driver, job = read_gate(C.__name__).both(lambda: C.search_metrics(cat, "t0", "api.*"))
    assert driver.schema == job.schema == C.search_metrics_frame(cat, "t0", "api.*").schema
    assert sorted(map(tuple, driver.collect())) == sorted(map(tuple, job.collect()))


def test_plan_schema_is_keyed_by_nullability(spark, store, monkeypatch):
    """Spark reads every parquet column as nullable, so two plain catalogs
    cannot differ in the nullability of `unit` here; two handles whose
    memoized table facts do still get each their own plan's schema."""
    monkeypatch.setattr(S, "_PLAN_SCHEMAS", {})
    cat = store["catalog"]
    facts = S._table(cat)
    strict = T.StructType([T.StructField(f.name, f.dataType, f.nullable and f.name != "unit") for f in facts.schema])
    twin = spark.read.parquet(*cat.inputFiles())
    monkeypatch.setitem(S._TABLES, twin, S._Table(facts.dirs, strict))
    for df, schema in ((cat, facts.schema), (twin, strict)):
        spec = S.ScanSpec(df, partition=(), where=(), select=())
        got = S.plan_schema(spec, ("search_metrics", False), lambda s=schema: spark.createDataFrame([], s))
        assert got == schema
