"""`serve_dashboard`: the read path dashboards wait on.

Set-up writes the generated corpus through the engine's own writers
(`tables.write_raw`, `rollup.cascade` + `tables.write_rollups`,
`catalog.build_catalog`, the events table). Then `cores` closed-loop
clients share one session and issue a seeded request mix through the
public query functions: `query_api.get_view`, `query_api.get_views_multi`,
`catalog.search_metrics` / `search_metric_names` and
`events_api.get_events`. Sampled responses are checked against DuckDB
aggregates over the generated parquet, outside the timed region.
"""

from __future__ import annotations

import os
import re
import statistics
import threading
import time
from datetime import datetime, timezone

import duckdb
import numpy as np

import gen
import harness as H

# The traffic shares and sizes below are assumptions; README.md ("Input
# assumptions") gives the reason for each.
# granularity → (range duration, points budget, share in 20): the geometric
# selection picks exactly that granularity; short, recent ranges dominate
RANGES = [
    ("full", 3_600_000, 120, 5),
    ("5m", 6 * 3_600_000, 72, 5),
    ("20m", gen.DAY_MS, 72, 4),
    ("60m", gen.DAY_MS, 24, 3),
    ("240m", gen.DAY_MS, 6, 2),
    ("1440m", gen.DAY_MS, 1, 1),
]
# request kind → share in 20
KINDS = [("view", 10), ("multi", 4), ("search", 2), ("names", 1), ("events", 3)]
MULTI_SIZES = [10, 25, 50, 75, 100]
SEARCH_GLOBS = ["{svc}.*", "{svc}.host0*.*.*", "*.host0{h}.cpu.*", "{{db,cache}}.*.mem.*", "*.*.{res}.?x"]
NAME_GLOBS = ["{svc}.*", "{svc}.host0{h}.*", "*.host0{h}.{res}.*"]
EVENT_RANGES = [("now-6h", "now"), ("now-1d", "now"), ("yesterday", "now"), ("now-3d", "now-1d")]
STATS = ["average", "numPoints", "sum"]
CHECKS_PER_KIND = 3  # per client and request kind


def _zipf_weights(n: int, s: float = 1.1) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


class Deck:
    """Draws items in exact proportions: each round deals every item its
    count times in a freshly shuffled order. A short run then sees the
    same mix on every seed, so the seed varies parameters, not the mix."""

    def __init__(self, rng, counts: list[tuple[object, int]]):
        self.rng = rng
        self.cards = [item for item, n in counts for _ in range(n)]
        self.hand: list = []

    def draw(self):
        if not self.hand:
            self.hand = [self.cards[i] for i in self.rng.permutation(len(self.cards))]
        return self.hand.pop()


class RequestMix:
    """One client's seeded request stream (`numpy` generator per client)."""

    def __init__(self, seed: int, client: int, shape: gen.CorpusShape):
        self.rng = np.random.default_rng([seed, client])
        self.tenants = gen.tenant_ids(shape.tenants)
        self.names = gen.series_names(shape.series_per_tenant)
        self.w_tenant = _zipf_weights(len(self.tenants))
        self.w_series = _zipf_weights(len(self.names))
        self.span_ms = shape.days * gen.DAY_MS
        self.kinds = Deck(self.rng, KINDS)
        self.ranges = Deck(self.rng, [(r[:3], r[3]) for r in RANGES])
        self.sizes = Deck(self.rng, [(k, 1) for k in MULTI_SIZES])

    def _range(self) -> tuple[str, int, int, int]:
        gran, dur, points = self.ranges.draw()
        # recent data is favoured: exponential age of the range end
        age = int(min(self.rng.exponential(6 * 3_600_000), self.span_ms - dur - 3_600_000))
        to_ms = gen.CORPUS_NOW_MS - age // 60_000 * 60_000
        return gran, to_ms - dur, to_ms, points

    def next(self) -> dict:
        kind = self.kinds.draw()
        tenant = self.tenants[self.rng.choice(len(self.tenants), p=self.w_tenant)]
        req = {"kind": kind, "tenant": tenant}
        if kind in ("view", "multi"):
            gran, frm, to, points = self._range()
            req.update(gran=gran, params={"from": [str(frm)], "to": [str(to)], "points": [str(points)],
                                          "select": [",".join(STATS)]})
            if kind == "view":
                req["metrics"] = [self.names[self.rng.choice(len(self.names), p=self.w_series)]]
            else:
                k = min(self.sizes.draw(), len(self.names))
                idx = self.rng.choice(len(self.names), size=k, replace=False)
                req["metrics"] = [self.names[i] for i in sorted(idx)]
        elif kind in ("search", "names"):
            templates = SEARCH_GLOBS if kind == "search" else NAME_GLOBS
            t = templates[self.rng.integers(len(templates))]
            req["glob"] = t.format(
                svc=gen.SERVICES[self.rng.integers(len(gen.SERVICES))],
                h=int(self.rng.integers(8)),
                res=gen.RESOURCES[self.rng.integers(len(gen.RESOURCES))],
            )
        else:
            frm, until = EVENT_RANGES[self.rng.integers(len(EVENT_RANGES))]
            tags = gen.EVENT_TAGS[self.rng.integers(len(gen.EVENT_TAGS))] if self.rng.random() < 0.5 else None
            req.update(frm=frm, until=until, tags=tags)
        return req


CORPUS_NOW = datetime.fromtimestamp(gen.CORPUS_NOW_MS / 1000, tz=timezone.utc).replace(tzinfo=None)


class Store:
    """Handles on the stored tables, opened once like a server would."""

    def __init__(self, spark, root: str):
        self.root = root
        self.rollups = spark.read.parquet(f"{root}/rollups")
        self.raw = spark.read.parquet(f"{root}/raw")
        self.catalog = spark.read.parquet(f"{root}/catalog")
        self.events = spark.read.parquet(f"{root}/events")


def build_store(spark, inputs: dict, root: str) -> dict[str, float]:
    """Write the generated corpus through the engine's writers; returns
    the wall of the plain writes and of the rollup cascade."""
    from blueflood_spark import catalog as C
    from blueflood_spark.operators import rollup as R
    from blueflood_spark.sources import tables as T

    t0 = time.perf_counter()
    T.write_raw(spark.read.parquet(inputs["raw"]), f"{root}/raw", mode="overwrite")
    raw = spark.read.parquet(f"{root}/raw")
    C.build_catalog(raw).write.mode("overwrite").parquet(f"{root}/catalog")
    spark.read.parquet(inputs["events"]).write.mode("overwrite").parquet(f"{root}/events")
    t1 = time.perf_counter()
    T.write_rollups(R.union_cascade(R.cascade(raw)), f"{root}/rollups", mode="overwrite")
    t2 = time.perf_counter()
    return {"gen_write_s": t1 - t0, "cascade_s": t2 - t1}


def serve(store: Store, req: dict):
    """Issue one request through the public query functions; returns the
    response (dict, or rows for frame-returning endpoints)."""
    from blueflood_spark import catalog as C
    from blueflood_spark.plans import events_api as EA
    from blueflood_spark.plans import query_api as Q

    kind = req["kind"]
    if kind in ("view", "multi"):
        params = Q.parse_params(req["params"])
        if kind == "view":
            return Q.get_view(store.rollups, req["tenant"], req["metrics"][0], params,
                              now_ms=gen.CORPUS_NOW_MS, raw=store.raw)
        return Q.get_views_multi(store.rollups, req["tenant"], req["metrics"], params,
                                 now_ms=gen.CORPUS_NOW_MS, raw=store.raw)
    if kind == "search":
        df = C.search_metrics(store.catalog, req["tenant"], req["glob"])
    elif kind == "names":
        df = C.search_metric_names(store.catalog, req["tenant"], req["glob"])
    else:
        df = EA.get_events(store.events, req["tenant"], req["frm"], req["until"], req["tags"], now=CORPUS_NOW)
    return df.collect()


def install_spans(tracer: H.Tracer, on_frame) -> list:
    """Traced runs only: spans around the plan-layer functions the
    requests look up at call time; every frame they build goes to
    `on_frame`. Returns the undo callables."""
    from blueflood_spark import catalog as C
    from blueflood_spark.plans import events_api as EA
    from blueflood_spark.plans import query_api as Q

    wrap = H.wrap_module_function
    return [
        wrap(tracer, Q, "parse_params", "plans.parse"),
        wrap(tracer, Q, "select_granularity", "plans.parse"),
        wrap(tracer, EA, "parse_datetime", "plans.parse"),
        wrap(tracer, C, "glob_to_regex", "plans.parse"),
        wrap(tracer, C, "next_level_regex", "plans.parse"),
        wrap(tracer, Q, "series_frame", "plans.build", on_frame),
        wrap(tracer, Q, "series_frame_full", "plans.build", on_frame),
        wrap(tracer, C, "search_metrics", "plans.build", on_frame),
        wrap(tracer, C, "search_metric_names", "plans.build", on_frame),
        wrap(tracer, EA, "get_events", "plans.build", on_frame),
        wrap(tracer, Q, "shape_response", "plans.shape"),
    ]


# ---------------------------------------------------------------------------
# correctness: sampled responses vs DuckDB over the generated parquet
# ---------------------------------------------------------------------------


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    return a == b


def _expected_series(con, req: dict) -> dict[str, list[dict]]:
    """{metric: expected values} for a view/multi request, aggregated by
    DuckDB straight from the raw samples (FULL: the samples themselves)."""
    from blueflood_spark.operators import granularity as G

    frm, to = int(req["params"]["from"][0]), int(req["params"]["to"][0])
    names = ", ".join(f"'{m}'" for m in req["metrics"])
    if req["gran"] == "full":
        rows = con.execute(
            f"SELECT metric_name, ts, value, 1, value FROM raw WHERE tenant_id = ? AND metric_name IN ({names}) "
            "AND ts >= ? AND ts < ? ORDER BY metric_name, ts",
            [req["tenant"], frm, to],
        ).fetchall()
    else:
        ms = G.BY_NAME[req["gran"]].milliseconds
        rows = con.execute(
            f"SELECT metric_name, ts // {ms} * {ms} AS w, avg(value), count(value), sum(value) FROM raw "
            f"WHERE tenant_id = ? AND metric_name IN ({names}) GROUP BY metric_name, w "
            "HAVING w >= ? AND w < ? ORDER BY metric_name, w",
            [req["tenant"], frm // ms * ms, to],
        ).fetchall()
    out: dict[str, list[dict]] = {m: [] for m in req["metrics"]}
    for m, t, a, n, s in rows:
        out[m].append({"timestamp": t, "average": a, "numPoints": n, "sum": s})
    return out


def _series_ok(got: dict, want: list[dict]) -> bool:
    vals = got["values"]
    if len(vals) != len(want):
        return False
    for g, w in zip(vals, want):
        if set(g) != set(w) or not all(_close(g[k], w[k]) for k in w):
            return False
    return True


def check(inputs: dict, samples: list[tuple[dict, object]]) -> list[str]:
    """Compare sampled responses with DuckDB over the generated parquet;
    returns one line per mismatch."""
    from blueflood_spark.functions.datetime_parser import parse_datetime
    from blueflood_spark.functions.glob import anchored, glob_to_regex, next_level_regex

    con = duckdb.connect()
    con.execute(f"CREATE VIEW raw AS SELECT * FROM read_parquet('{inputs['raw']}')")
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{inputs['events']}')")
    bad = []
    for req, resp in samples:
        kind = req["kind"]
        if kind == "view":
            ok = _series_ok(resp, _expected_series(con, req)[req["metrics"][0]])
        elif kind == "multi":
            want = _expected_series(con, req)
            ok = set(resp) == set(want) and all(_series_ok(resp[m], want[m]) for m in want)
        else:
            names = [r[0] for r in con.execute(
                "SELECT DISTINCT metric_name FROM raw WHERE tenant_id = ?", [req["tenant"]]).fetchall()]
            if kind == "search":
                rx = re.compile(anchored(glob_to_regex(req["glob"])))
                want = sorted(n for n in names if rx.match(n))
                ok = sorted(r["metric_name"] for r in resp) == want
            elif kind == "names":
                rx = re.compile(anchored(next_level_regex(req["glob"])))
                base = len(req["glob"].split("."))
                exp: dict[str, list[bool]] = {}
                for n in names:
                    if rx.match(n):
                        parts = n.split(".")
                        e = exp.setdefault(".".join(parts[:base]), [False, False])
                        e[0] |= len(parts) == base
                        e[1] |= len(parts) > base
                want = sorted((k, v[0], v[1]) for k, v in exp.items())
                ok = sorted((r["metric_name"], r["is_leaf"], r["has_next_level"]) for r in resp) == want
            else:
                lo = int(parse_datetime(req["frm"], CORPUS_NOW).timestamp())
                hi = int(parse_datetime(req["until"], CORPUS_NOW).timestamp())
                sql = "SELECT tenant_id, \"when\", what, data, tags FROM events WHERE tenant_id = ? AND \"when\" >= ? AND \"when\" < ?"
                args = [req["tenant"], lo, hi]
                if req["tags"]:
                    sql += " AND tags = ?"
                    args.append(req["tags"])
                want = sorted(con.execute(sql, args).fetchall())
                got = [tuple(r) for r in resp]
                ok = sorted(got) == want and [r[1] for r in got] == sorted(r[1] for r in got)
        if not ok:
            bad.append(f"{kind} mismatch: {req}")
    con.close()
    return bad


# ---------------------------------------------------------------------------
# the workload
# ---------------------------------------------------------------------------


def run(spark, ctx) -> None:
    """Set up, warm up, serve for ctx.seconds with ctx.profile.cores
    closed-loop clients, check, and fill ctx.e2e / ctx.layers."""
    tracer = ctx.tracer
    shape = ctx.corpus_shape
    t0 = time.perf_counter()
    inputs = gen.write_metric_corpus(ctx.seed, os.path.join(ctx.work, "inputs"), shape)
    gen_inputs_s = time.perf_counter() - t0
    built = build_store(spark, inputs, os.path.join(ctx.work, "store"))
    store = Store(spark, os.path.join(ctx.work, "store"))

    t0 = time.perf_counter()
    _run_clients(ctx.profile.cores, lambda cid: _warm(store, RequestMix(ctx.seed, 10_000 + cid, shape),
                                                      ctx.warmup_requests // ctx.profile.cores))
    warmup_s = time.perf_counter() - t0
    ctx.setup_s = ctx.session_start_s + gen_inputs_s + built["gen_write_s"] + built["cascade_s"] + warmup_s

    frames = threading.local()
    undo = install_spans(tracer, lambda df: frames.dfs.append(df)) if tracer.enabled else []
    sc = spark.sparkContext
    lat_ms: list[float] = []
    samples: list[tuple[dict, object]] = []
    per_req: list[dict] = []
    errors: list[str] = []
    lock = threading.Lock()
    deadline = time.perf_counter() + ctx.seconds

    def client(cid: int) -> None:
        mix = RequestMix(ctx.seed, cid, shape)
        kept: dict[str, int] = {}
        n = 0
        while time.perf_counter() < deadline:
            req = mix.next()
            rid = f"c{cid}-{n}"
            n += 1
            frames.dfs = []
            if tracer.enabled:
                sc.setJobGroup(f"serve:{rid}", req["kind"])
            t = time.perf_counter()
            try:
                with tracer.span("serve.request", rid):
                    resp = serve(store, req)
            except Exception as e:  # a failed request counts, the client keeps going
                with lock:
                    errors.append(f"{req['kind']}: {type(e).__name__}: {e}")
                continue
            dt = (time.perf_counter() - t) * 1000.0
            rec = {"rid": rid, "rows": _rows_returned(req["kind"], resp)}
            if tracer.enabled:
                ph = [H.query_phases_ms(df) for df in frames.dfs]
                rec.update({p: sum(x.get(p, 0.0) for x in ph) for p in ("analysis", "optimization", "planning")})
            with lock:
                lat_ms.append(dt)
                per_req.append(rec)
                if kept.get(req["kind"], 0) < CHECKS_PER_KIND:
                    kept[req["kind"]] = kept.get(req["kind"], 0) + 1
                    samples.append((req, resp))

    t_start = time.perf_counter()
    _run_clients(ctx.profile.cores, client)
    wall = time.perf_counter() - t_start
    for u in undo:
        u()
    if tracer.enabled:
        sc.setJobGroup(None, None)

    ctx.attempted += len(lat_ms) + len(errors)
    ctx.failed += len(errors)
    ctx.notes.extend(errors[:5])
    ctx.peak_rss_mb = H.peak_rss_mb(spark)
    mismatches = check(inputs, samples)
    ctx.attempted += len(samples)
    ctx.failed += len(mismatches)
    ctx.correct = not mismatches and not errors and len(lat_ms) > 0
    ctx.notes.extend(mismatches[:5])

    qps = len(lat_ms) / wall
    ctx.e2e.update(
        {
            "latency_p50_ms": H.pctl(lat_ms, 50),
            "latency_p90_ms": H.pctl(lat_ms, 90),
            "throughput_per_s": qps,
        }
    )
    ctx.named.update(
        {
            "serve.p50_ms": (H.pctl(lat_ms, 50), "ms"),
            "serve.p95_ms": (H.pctl(lat_ms, 95), "ms"),
            "serve.qps": (qps, "1/s"),
            "serve.samples": (len(lat_ms), "count"),
        }
    )
    if not tracer.enabled:
        return
    files_out, bytes_out = H.dir_stats(store.root)
    bytes_in = sum(os.path.getsize(p) for p in inputs.values())
    tot = H.sum_counts(H.RestStats(spark).by_group(), lambda g: g.startswith("serve:"))
    n_req = max(1, len(per_req))
    rows_out = sum(r["rows"] for r in per_req)

    def per_request(span: str) -> float:
        by_rid = tracer.total_ms_by_request(span)
        return statistics.median([by_rid.get(r["rid"], 0.0) for r in per_req])

    action_ms = statistics.median(_action_ms(tracer, per_req))
    phases = {p: statistics.median([r.get(p, 0.0) for r in per_req]) for p in ("analysis", "optimization", "planning")}
    ctx.layers.update(
        {
            "session.start_s": ctx.session_start_s,
            "session.warmup_s": warmup_s,
            "sources.gen_write_s": built["gen_write_s"],
            "operators.cascade_s": built["cascade_s"],
            "plans.parse_ms": per_request("plans.parse"),
            "plans.build_ms": per_request("plans.build"),
            "plans.shape_ms": statistics.median(list(tracer.total_ms_by_request("plans.shape").values()) or [0.0]),
            "spark.analysis_ms": phases["analysis"],
            "spark.optimization_ms": phases["optimization"],
            "spark.planning_ms": phases["planning"],
            # analysis already ran inside plans.build: frames are analyzed when built
            "spark.exec_ms": max(0.0, action_ms - phases["optimization"] - phases["planning"]),
            "spark.jobs_per_op": tot["jobs"] / n_req,
            "spark.stages_per_op": tot["stages"] / n_req,
            "spark.tasks_per_op": tot["tasks"] / n_req,
            "spark.task_time_s": tot["run_s"],
            "spark.core_busy_frac": tot["run_s"] / (wall * ctx.profile.cores),
            "spark.shuffle_read_mb": tot["shuffle_read_b"] / 1e6 / n_req,
            "spark.shuffle_write_mb": tot["shuffle_write_b"] / 1e6 / n_req,
            "sources.scan_files_per_req": tot["files_read"] / n_req,
            "sources.scan_mb_per_req": tot["input_b"] / 1e6 / n_req,
            "sources.rows_read_per_row_returned": tot["input_rows"] / max(1, rows_out),
            "sources.files_written": files_out,
            "sources.bytes_written_per_input_byte": bytes_out / bytes_in,
        }
    )


def _warm(store: Store, mix: RequestMix, n: int) -> None:
    for _ in range(n):
        serve(store, mix.next())


def _run_clients(n: int, target) -> None:
    """Run target(client_id) on n threads and wait for all of them."""
    threads = [threading.Thread(target=target, args=(c,)) for c in range(n)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()


def _rows_returned(kind: str, resp) -> int:
    if kind == "view":
        return len(resp["values"])
    if kind == "multi":
        return sum(len(r["values"]) for r in resp.values())
    return len(resp)


def _action_ms(tracer: H.Tracer, per_req: list[dict]) -> list[float]:
    """Per request: the request span minus its direct plan-layer child
    spans, i.e. the wall of the Spark action(s) the request ran."""
    requests = {s["id"]: s for s in tracer.spans if s["name"] == "serve.request"}
    out = {s["request_id"]: s["end"] - s["start"] for s in requests.values()}
    for s in tracer.spans:
        if s["parent"] in requests:
            out[s["request_id"]] -= s["end"] - s["start"]
    return [out.get(r["rid"], 0.0) * 1000.0 for r in per_req]
