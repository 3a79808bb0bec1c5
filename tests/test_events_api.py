"""Events endpoint with human date grammar (SURVEY §2.11, F3)."""

from datetime import datetime

import pytest

from blueflood_spark.plans import events_api as EA
from blueflood_spark.plans.events_api import get_events

NOW = datetime(2024, 3, 14, 10, 0, 0)


@pytest.fixture(scope="module")
def events(spark):
    def ts(d, h):
        return int(datetime(2024, 3, d, h).timestamp())

    rows = [
        ("t1", ts(13, 9), "deploy", "v1 rollout", "deploy"),
        ("t1", ts(13, 22), "alarm", "cpu spike", "alert"),
        ("t1", ts(14, 8), "deploy", "v2 rollout", "deploy"),
        ("t2", ts(14, 8), "deploy", "other tenant", "deploy"),
    ]
    return spark.createDataFrame(rows, "tenant_id string, when long, what string, data string, tags string")


def test_range_with_human_dates(events):
    out = get_events(events, "t1", "yesterday", "now", now=NOW).collect()
    # yesterday 00:00 .. now 10:00 → the two 3/13 events + 3/14 08:00
    assert [r["what"] for r in out] == ["deploy", "alarm", "deploy"]


def test_offset_grammar(events):
    out = get_events(events, "t1", "now-3h", None, now=NOW).collect()
    assert len(out) == 1 and out[0]["data"] == "v2 rollout"


def test_tag_filter_and_tenant_isolation(events):
    out = get_events(events, "t1", "yesterday", "tomorrow", tags="deploy", now=NOW).collect()
    assert len(out) == 2
    assert all(r["tags"] == "deploy" and r["tenant_id"] == "t1" for r in out)


# ---------------------------------------------------------------------------
# the driver read: same rows and schema as the Spark plan
# ---------------------------------------------------------------------------

T0 = int(datetime(2024, 3, 13, 0, 0).timestamp())


@pytest.fixture(scope="module")
def events_store(tmp_path_factory):
    """Two parquet files written with pyarrow: part-0 in descending `when`
    order with ties on `when`; part-1 holds a second tenant, null tags and
    t1 events tied with part-0's."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = tmp_path_factory.mktemp("events")
    schema = pa.schema([("tenant_id", pa.string()), ("when", pa.int64()), ("what", pa.string()),
                        ("data", pa.string()), ("tags", pa.string())])
    tags = ["deploy", "alert", None]
    desc = [("t1", T0 + 3600 * (40 - i) - 3600 * (i % 2), f"e{i}", f"d{i % 7}", tags[i % 3]) for i in range(40)]
    other = [("t2", T0 + 3600 * i, f"o{i}", None, tags[i % 3]) for i in range(10)]
    other += [("t1", T0 + 3600 * 10, "tie", "x", "deploy"), ("t1", T0 + 3600 * 20, "tie", "y", None)]
    for i, rows in enumerate((desc, other)):
        pq.write_table(pa.Table.from_pylist([dict(zip(schema.names, r)) for r in rows], schema=schema),
                       root / f"part-{i}.parquet")
    return str(root)


EVENT_CASES = [
    ("all", "t1", None, None, None),
    ("from", "t1", "yesterday", None, None),
    ("until", "t1", None, "now", None),
    ("range", "t1", "yesterday", "now", None),
    ("range+tags", "t1", "yesterday", "tomorrow", "deploy"),
    ("tags", "t2", None, None, "alert"),
    ("empty tenant", "t3", None, None, None),
    ("empty range", "t1", "now+1d", None, None),
]


@pytest.mark.parametrize("case", EVENT_CASES, ids=[c[0] for c in EVENT_CASES])
def test_events_driver_read_matches_spark(spark, events_store, read_gate, case):
    """get_events answers with the same schema and the same rows in `when`
    order on both paths; rows tied on `when` may come in either order, as
    orderBy leaves them."""
    _, tenant, frm, until, tags = case
    events = spark.read.parquet(events_store)
    driver, job = read_gate(EA.__name__).both(lambda: EA.get_events(events, tenant, frm, until, tags, now=NOW))
    assert driver.schema == job.schema
    got, want = [tuple(r) for r in driver.collect()], [tuple(r) for r in job.collect()]
    assert [r[1] for r in got] == [r[1] for r in want] == sorted(r[1] for r in want)
    assert sorted(got, key=str) == sorted(want, key=str)
    if case[0].startswith("empty"):
        assert got == []
    elif case[0] == "all":
        assert len(got) == 42 and len(set(r[1] for r in got)) < 42  # ties on `when` are served


@pytest.mark.parametrize("shape", ["filtered", "cached", "hdfs", "over the row bound"])
def test_events_non_plain_tables_take_the_spark_path(spark, events_store, monkeypatch, read_gate, shape):
    """Filtered or cached frames, non-local files and files of more rows
    than a LocalRelation answer may come from keep the Spark plan, with
    the same rows as the forced Spark path."""
    from blueflood_spark.plans import scan as S

    df = spark.read.parquet(events_store)
    if shape == "over the row bound":
        monkeypatch.setattr(S, "_LOCAL_FRAME_MAX_ROWS", 5)
    elif shape == "filtered":
        df = df.filter("what != 'e3'")
    elif shape == "cached":
        df = df.cache()
    else:
        monkeypatch.setattr(type(df), "inputFiles", lambda self: ["hdfs://nn:8020/events/part-0.parquet"])
    gate = read_gate(EA.__name__)
    call = lambda: EA.get_events(df, "t1", "yesterday", "tomorrow", now=NOW).collect()  # noqa: E731
    try:
        got, paths = gate.taken(call)
        assert paths == {"spark"}
        want = gate.spark_only(call)
        assert [r["when"] for r in got] == [r["when"] for r in want]
        assert sorted(map(tuple, got), key=str) == sorted(map(tuple, want), key=str)
    finally:
        df.unpersist()


def test_row_bound_counts_the_rows_of_the_files(spark, events_store, monkeypatch, read_gate):
    """The bound on a LocalRelation answer counts every row the files hold
    (52 here), from their footers, whatever the request keeps of them."""
    from blueflood_spark.plans import scan as S

    events = spark.read.parquet(events_store)
    gate = read_gate(EA.__name__)
    call = lambda: EA.get_events(events, "t2", None, None, "alert").collect()  # noqa: E731
    for bound, path in ((52, "driver"), (51, "spark")):
        monkeypatch.setattr(S, "_LOCAL_FRAME_MAX_ROWS", bound)
        got, paths = gate.taken(call)
        assert paths == {path} and len(got) == 3, bound
