"""Discovery catalog, token index, and glob search (SURVEY S9/S10, F1/F2)."""

import ast
import os

import pytest
from pyspark.sql import functions as F

from blueflood_spark import catalog as C
from blueflood_spark.catalog import build_catalog, build_tokens, search_metric_names, search_metrics
from blueflood_spark.plans import scan as S


def cat_df(spark):
    rows = [
        ("t1", "foo.bar.xxx", 1000, 1.0, "bytes"),
        ("t1", "foo.bar.baz.qux", 2000, 2.0, "seconds"),
        ("t1", "other.top", 3000, 3.0, None),
        ("t2", "foo.bar.other", 4000, 4.0, None),
    ]
    return spark.createDataFrame(
        rows, "tenant_id string, metric_name string, ts long, value double, unit string"
    )


def test_build_catalog_unit(spark):
    cat = build_catalog(cat_df(spark)).collect()
    by_name = {(r["tenant_id"], r["metric_name"]): r["unit"] for r in cat}
    assert by_name[("t1", "foo.bar.xxx")] == "bytes"
    assert len(cat) == 4


def test_tokens(spark):
    toks = build_tokens(build_catalog(cat_df(spark)))
    rows = {(r["tenant_id"], r["path"], r["is_leaf"]): r for r in toks.collect()}
    assert ("t1", "foo", False) in rows
    assert ("t1", "foo.bar", False) in rows
    assert ("t1", "foo.bar.xxx", True) in rows
    assert rows[("t1", "foo.bar.baz", False)]["parent"] == "foo.bar"
    # leaf + depth
    leaf = rows[("t1", "foo.bar.baz.qux", True)]
    assert leaf["depth"] == 4 and leaf["token"] == "qux"


def test_search_metrics_tenant_isolation(spark):
    cat = build_catalog(cat_df(spark))
    names = {r["metric_name"] for r in search_metrics(cat, "t1", "foo.bar.*").collect()}
    assert names == {"foo.bar.xxx", "foo.bar.baz.qux"}  # '*' crosses levels in full search
    names_t2 = {r["metric_name"] for r in search_metrics(cat, "t2", "foo.bar.*").collect()}
    assert names_t2 == {"foo.bar.other"}


def test_search_metrics_include_enum_values(spark):
    """Deprecated enum-metrics param: API shape served (empty enum_values
    column), dead feature not resurrected (HttpMetricsIndexHandler)."""
    cat = build_catalog(cat_df(spark))
    out = search_metrics(cat, "t1", "foo.bar.*", include_enum_values=True)
    assert "enum_values" in out.columns
    assert all(r["enum_values"] == [] for r in out.collect())
    # default shape unchanged
    assert "enum_values" not in search_metrics(cat, "t1", "foo.bar.*").columns


def test_search_metric_names_next_level(spark):
    # AbstractElasticIO javadoc example: foo.bar.* → (foo.bar.xxx leaf), (foo.bar.baz non-leaf)
    cat = build_catalog(cat_df(spark))
    rows = {r["metric_name"]: r for r in search_metric_names(cat, "t1", "foo.bar.*").collect()}
    assert set(rows) == {"foo.bar.xxx", "foo.bar.baz"}
    assert rows["foo.bar.xxx"]["is_leaf"] is True
    assert rows["foo.bar.baz"]["is_leaf"] is False
    assert rows["foo.bar.baz"]["has_next_level"] is True


# ---------------------------------------------------------------------------
# the driver read: same rows and schema as the Spark plan
# ---------------------------------------------------------------------------

BENCH_SERVE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench", "serve.py")


def _bench_globs(name: str) -> list[str]:
    """A glob template list of perfbench's request mix, read without
    importing the benchmark."""
    with open(BENCH_SERVE) as fh:
        tree = ast.parse(fh.read())
    for node in tree.body:
        if isinstance(node, ast.Assign) and [t.id for t in node.targets] == [name]:
            return ast.literal_eval(node.value)
    raise LookupError(name)


SERVICES, RESOURCES = ["api", "db", "cache", "queue", "web"], ["cpu", "mem", "disk", "net"]
TWO_UNITS = ("api.host00.cpu.user", {"percent", "ratio"})
ODD_NAME = "odd.a+b$(c)|d},e"


@pytest.fixture(scope="module")
def catalog_store(spark, tmp_path_factory):
    """The benchmark's name space for two tenants (svc.hostNN.res.stat),
    plus shallower and deeper names, one name with two units (in two
    files), a name of regex metacharacters, and a tenant whose names hold
    Java line terminators."""
    names = [f"{s}.host{h:02d}.{r}.{st}" for s in SERVICES for h in range(8) for r in RESOURCES
             for st in ("user", "system", "rx")]
    names += ["api.host00", "api.host00.cpu.user.p99", "db.host03.mem", ODD_NAME]
    rows = [(t, n, f"u{i % 3}" if i % 5 else None, "basic") for t in ("t1", "t2") for i, n in enumerate(names)]
    rows = [r if r[:2] != ("t1", TWO_UNITS[0]) else ("t1", TWO_UNITS[0], "percent", "basic") for r in rows]
    rows += [(t, n, "x", None) for t, odd in (("t8", "a.b\u2028c"), ("t9", "a.b\rc")) for n in (odd, "a.b c", "a.bc")]
    path = str(tmp_path_factory.mktemp("catalog") / "catalog")
    df = spark.createDataFrame(rows, "tenant_id string, metric_name string, unit string, rollup_type string")
    df.coalesce(1).write.parquet(path)
    df.filter(F.col("metric_name") == TWO_UNITS[0]).withColumn("unit", F.lit("ratio")).coalesce(1) \
        .write.mode("append").parquet(path)
    return path


def _formatted(templates: list[str]) -> list[str]:
    return sorted({t.format(svc=svc, h=h, res=res) for t in templates
                   for svc, h, res in (("api", 0, "cpu"), ("db", 3, "mem"), ("cache", 7, "net"))})


def _without_unit(rows) -> list[str]:
    return sorted(str([v for k, v in r.asDict().items() if k != "unit"]) for r in rows)


@pytest.mark.parametrize("enum", [False, True])
@pytest.mark.parametrize("glob", _formatted(_bench_globs("SEARCH_GLOBS")) + ["odd.a+b$(c)|d},*", "*"])
def test_search_metrics_driver_read_matches_spark(spark, catalog_store, read_gate, glob, enum):
    """search_metrics over every benchmark search template (and a glob of
    regex metacharacters) answers with the same schema and names on both
    paths; a name with two units returns one of them."""
    cat = spark.read.parquet(catalog_store)
    driver, job = read_gate(C.__name__).both(lambda: C.search_metrics(cat, "t1", glob, include_enum_values=enum))
    assert driver.schema == job.schema
    got, want = driver.collect(), job.collect()
    assert _without_unit(got) == _without_unit(want)
    units = {r["metric_name"]: r["unit"] for r in want}
    for r in got:
        if r["metric_name"] == TWO_UNITS[0]:
            assert r["unit"] in TWO_UNITS[1]
        else:
            assert r["unit"] == units[r["metric_name"]]
    if glob == "odd.a+b$(c)|d},*":
        assert [r["metric_name"] for r in got] == [ODD_NAME]
    if glob == "*":
        assert TWO_UNITS[0] in units


@pytest.mark.parametrize("glob", _formatted(_bench_globs("NAME_GLOBS")) + ["api.*", "api.host00.*", "*"])
def test_search_metric_names_driver_read_matches_spark(spark, catalog_store, read_gate, glob):
    """search_metric_names over every benchmark browse template answers
    with the same schema and rows on both paths."""
    cat = spark.read.parquet(catalog_store)
    driver, job = read_gate(C.__name__).both(lambda: C.search_metric_names(cat, "t2", glob))
    assert driver.schema == job.schema
    assert sorted(map(tuple, driver.collect())) == sorted(map(tuple, job.collect()))


@pytest.mark.parametrize("case", ["glob [", "glob \\", "name \\r", "name \\u2028", "filtered", "cached", "hdfs",
                                  "over the row bound"])
def test_search_outside_the_gate_takes_the_spark_path(spark, catalog_store, monkeypatch, read_gate, case):
    """Globs whose regex Python's re may read differently from Java's, a
    tenant with line terminators in its names, non-plain tables and files
    of more rows than a LocalRelation answer may come from keep the rlike
    plan, with the same rows as the forced Spark path."""
    cat = spark.read.parquet(catalog_store)
    tenant, glob = "t1", "api.host00.*"
    if case == "over the row bound":
        monkeypatch.setattr(S, "_LOCAL_FRAME_MAX_ROWS", 5)
    elif case == "glob [":
        glob = "api.host0[03].*"
    elif case == "glob \\":
        glob = "api\\.host00.*"
    elif case.startswith("name"):
        tenant, glob = ("t9" if case == "name \\r" else "t8"), "a.*"
    elif case == "filtered":
        cat = cat.filter("unit is not null")
    elif case == "cached":
        cat = cat.cache()
    else:
        monkeypatch.setattr(type(cat), "inputFiles", lambda self: ["hdfs://nn:8020/catalog/part-0.parquet"])
    gate = read_gate(C.__name__)
    try:
        for search in (C.search_metrics, C.search_metric_names):
            call = lambda: sorted(map(tuple, search(cat, tenant, glob).collect()), key=str)  # noqa: E731
            got, paths = gate.taken(call)
            assert paths == {"spark"}, search.__name__
            assert got == gate.spark_only(call), search.__name__
            assert got, search.__name__
        if case.startswith("name"):
            # Java's `.` stops at the line terminator; Python's would not
            assert {r["metric_name"] for r in search_metrics(cat, tenant, glob).collect()} == {"a.b c", "a.bc"}
    finally:
        cat.unpersist()
