"""Concurrent serving on one session: 8 threads issue a seeded mix of
series, events and catalog requests against one small plain-parquet store,
and every response equals the serial run's."""

import json
import random
import sys
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from blueflood_spark import catalog as C
from blueflood_spark.plans import events_api as EA
from blueflood_spark.plans import query_api as Q
from blueflood_spark.sources import tables as TB

MIN = 60_000
HOURS = 12
TENANTS = ["t0", "t1"]
NAMES = [f"{svc}.host{h:02d}.{res}" for svc in ("api", "db") for h in range(4) for res in ("cpu", "mem")]
NOW = datetime(1970, 1, 1, HOURS)


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    """Raw samples every minute for HOURS hours, their 5m and 60m rollups,
    the catalog and an events table, each written as plain parquet."""
    root = tmp_path_factory.mktemp("serve_store")
    tenant = F.element_at(F.array(*[F.lit(t) for t in TENANTS]), (F.col("id") % 2 + 1).cast("int"))
    name = F.element_at(F.array(*[F.lit(n) for n in NAMES]), (F.col("id") / 2 % len(NAMES) + 1).cast("int"))
    n_series = len(TENANTS) * len(NAMES)
    raw = spark.range(n_series * HOURS * 60).select(
        tenant.alias("tenant_id"), name.alias("metric_name"),
        (F.floor(F.col("id") / n_series) * MIN).alias("ts"),
        (F.col("id") % 97 / 7).alias("value"),
    )
    TB.write_raw(raw, f"{root}/raw", mode="overwrite")
    rollups = None
    for res, ms in (("5m", 5 * MIN), ("60m", 60 * MIN)):
        level = raw.groupBy("tenant_id", "metric_name", (F.floor(F.col("ts") / ms) * ms).alias("window_start")).agg(
            F.count("value").alias("num_points"), F.avg("value").alias("avg"), F.sum("value").alias("sum"),
        ).withColumn("resolution", F.lit(res))
        rollups = level if rollups is None else rollups.unionByName(level)
    TB.write_rollups(rollups, f"{root}/rollups", mode="overwrite")
    C.build_catalog(raw.withColumn("unit", F.lit("percent"))).write.parquet(f"{root}/catalog")
    spark.range(300).select(
        tenant.alias("tenant_id"), (F.col("id") * 137 % (HOURS * 3600)).alias("when"),
        F.concat(F.lit("event "), F.col("id").cast("string")).alias("what"),
        F.lit("payload").alias("data"),
        F.element_at(F.array(F.lit("deploy"), F.lit("alert")), (F.col("id") % 2 + 1).cast("int")).alias("tags"),
    ).write.parquet(f"{root}/events")
    return {t: spark.read.parquet(f"{root}/{t}") for t in ("raw", "rollups", "catalog", "events")}


def _requests(seed: int, n: int) -> list[tuple]:
    rng = random.Random(seed)
    out = []
    for _ in range(n):
        kind = rng.choice(["view", "view", "multi", "events", "search", "names"])
        tenant = rng.choice(TENANTS)
        if kind in ("view", "multi"):
            res, hours = rng.choice([("FULL", 1), ("MIN5", 6), ("MIN60", HOURS)])
            to = rng.randrange(hours, HOURS + 1) * 60 * MIN
            names = rng.sample(NAMES, 1 if kind == "view" else rng.randrange(2, len(NAMES)))
            out.append((kind, tenant, names, res, to - hours * 60 * MIN, to))
        elif kind == "events":
            out.append((kind, tenant, rng.choice([None, "now-6h", "now-3h"]), rng.choice([None, "now-1h"]),
                        rng.choice([None, "deploy", "alert"])))
        else:
            out.append((kind, tenant, rng.choice(["api.*", "*.host01.*", "{api,db}.host0?.mem", "db.*"])))
    return out


def _serve(store, req):
    """One request through the public endpoints, as a comparable value."""
    kind, tenant = req[:2]
    if kind in ("view", "multi"):
        _, _, names, res, frm, to = req
        p = Q.parse_params({"from": [str(frm)], "to": [str(to)], "resolution": [res],
                            "select": ["average,numPoints,sum"]})
        if kind == "view":
            resp = Q.get_view(store["rollups"], tenant, names[0], p, raw=store["raw"])
        else:
            resp = Q.get_views_multi(store["rollups"], tenant, names, p, raw=store["raw"])
        return json.dumps(resp, sort_keys=True)
    if kind == "events":
        df = EA.get_events(store["events"], tenant, req[2], req[3], req[4], now=NOW)
    elif kind == "search":
        df = C.search_metrics(store["catalog"], tenant, req[2])
    else:
        df = C.search_metric_names(store["catalog"], tenant, req[2])
    return [tuple(r) for r in df.collect()]


def test_concurrent_requests_match_the_serial_run(store):
    """More threads than cores, with a short switch interval so that the
    threads interleave inside the driver reads."""
    reqs = _requests(seed=11, n=64)
    serial = [_serve(store, r) for r in reqs]
    assert all(serial[i] for i, r in enumerate(reqs) if r[0] in ("view", "multi", "search"))
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            concurrent = list(pool.map(lambda r: _serve(store, r), reqs, timeout=300))
    finally:
        sys.setswitchinterval(interval)
    for req, want, got in zip(reqs, serial, concurrent):
        assert got == want, req
