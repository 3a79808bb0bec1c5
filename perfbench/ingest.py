"""`ingest_rollup`: the write path, with a reader beside the writes.

`pipeline.start_ingest` (with a discovery catalog) and
`pipeline.start_streaming_rollup` (with a rollup-events sink, for
`emitted_at_ms`) run on one session. An open-loop generator thread
renames pre-rendered payload files into the watched directory at a
fixed rate; one closed-loop client runs `query_api.get_view` against the
freshly written rollups and raw data. A final drain phase drops a fixed
backlog of files at once and times it until the ingest query has
committed it.

Event-time compression: file i carries event time [base + i*span,
base + (i+1)*span) and is due at t0 + i/rate, so event time runs
span*rate times faster than the wall clock (12.5 min x 6/s = 75 event
minutes per second, 4500x). That finalizes about 225 5-minute windows
in a 15 s open loop. `validate` accepts collectionTime only inside
[now - 3 d, now + 10 min], so the event clock starts 2.9 days back and
stays in the past; every valid row is therefore older than the 5-minute
rollup delay and is also routed to the delayed-locator sink.

Lag is read from the streaming checkpoint itself: the source log lists
the files of each micro-batch, and the mtime of `commits/<batch>` is when
that batch committed.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time

import duckdb
import numpy as np

import gen
import harness as H

DELAY_MS = 300_000
WINDOW_MS = 300_000
# the sinks' layouts, as a server holding the table definitions would open them
RAW_SINK_SCHEMA = ("tenant_id string, metric_name string, ts long, value double, unit string,"
                   " ttl_seconds int, batch_id long, date date")
ROLLUP_SINK_SCHEMA = ("tenant_id string, metric_name string, window_start long, resolution string,"
                      " num_points long, avg double, var_pop double, min double, max double, sum double,"
                      " sum_sq double, batch_id long")


class Paths:
    def __init__(self, work: str):
        j = lambda *p: os.path.join(work, *p)  # noqa: E731
        self.staging = j("staging")
        self.watch = j("watch")
        self.raw = j("sinks", "raw")
        self.rejected = j("sinks", "rejected")
        self.delayed = j("sinks", "delayed")
        self.catalog = j("sinks", "catalog")
        self.rollups = j("sinks", "rollups")
        self.events = j("sinks", "rollup_events")
        self.ckpt_ingest = j("ckpt", "ingest")
        self.ckpt_rollup = j("ckpt", "rollup")

    def sinks(self) -> list[str]:
        return [self.raw, self.rejected, self.delayed, self.catalog, self.rollups, self.events]


def source_log(ckpt: str) -> tuple[dict[str, int], dict[int, float]]:
    """Read a file-source query's checkpoint: ({file name: micro-batch id}
    for every file a batch has taken, {batch id: commit wall time} for
    every committed batch)."""
    commits = {}
    cdir = os.path.join(ckpt, "commits")
    if os.path.isdir(cdir):
        for f in os.listdir(cdir):
            if f.isdigit():
                commits[int(f)] = os.stat(os.path.join(cdir, f)).st_mtime
    files = {}
    sdir = os.path.join(ckpt, "sources", "0")
    if os.path.isdir(sdir):
        for f in os.listdir(sdir):
            if f.startswith(".") or not f.split(".")[0].isdigit():
                continue
            with open(os.path.join(sdir, f)) as fh:
                for line in fh:
                    if line.startswith("{"):
                        entry = json.loads(line)
                        files[os.path.basename(entry["path"])] = entry["batchId"]
    return files, commits


def committed_files(ckpt: str) -> dict[str, float]:
    """{file name: commit wall time of its micro-batch}, committed files only."""
    files, commits = source_log(ckpt)
    return {f: commits[b] for f, b in files.items() if b in commits}


def wait_committed(ckpt: str, names: set[str], timeout: float) -> dict[str, float]:
    """Wait up to `timeout` s for `names` to commit; returns committed_files."""
    _wait(lambda: names <= committed_files(ckpt).keys(), timeout, raise_=False)
    return committed_files(ckpt)


def _move(paths: Paths, name: str) -> None:
    os.rename(os.path.join(paths.staging, name), os.path.join(paths.watch, name))


def reader_request(spark, paths: Paths, rng, shape: gen.IngestShape, event_now_ms: int):
    """One dashboard read of fresh data: 5m rollups over the last hour of
    event time, or FULL-resolution raw samples over the last ten minutes."""
    from blueflood_spark.plans import query_api as Q

    tenant = gen.tenant_ids(shape.tenants)[rng.integers(shape.tenants)]
    name = gen.series_names(shape.series_per_tenant)[rng.integers(shape.series_per_tenant)]
    if rng.random() < 0.5:
        params = Q.parse_params({"from": [str(event_now_ms - 3_600_000)], "to": [str(event_now_ms)],
                                 "points": ["12"]})
        return Q.get_view(spark.read.schema(ROLLUP_SINK_SCHEMA).parquet(paths.rollups), tenant, name, params)
    params = Q.parse_params({"from": [str(event_now_ms - 600_000)], "to": [str(event_now_ms)],
                             "points": ["20"]})
    return Q.get_view(None, tenant, name, params, raw=spark.read.schema(RAW_SINK_SCHEMA).parquet(paths.raw))


def check(paths: Paths, offered_rows: int, offered_invalid: int, watermark_ms: float) -> list[str]:
    """valid + rejected == offered, rejected == generated invalid rows, no
    window is emitted twice, and the finalized 5m rollups equal DuckDB's
    aggregates over the raw sink: every emitted window matches, and every
    window that ends before the rollup query's final watermark was emitted."""
    con = duckdb.connect()
    q = lambda sql: con.execute(sql).fetchall()  # noqa: E731
    pq = lambda p: f"read_parquet('{p}/**/*.parquet', hive_partitioning = true, union_by_name = true)"  # noqa: E731
    bad = []
    n_valid = q(f"SELECT count(*) FROM {pq(paths.raw)}")[0][0]
    n_rej = q(f"SELECT count(*) FROM {pq(paths.rejected)}")[0][0]
    if n_valid + n_rej != offered_rows:
        bad.append(f"valid {n_valid} + rejected {n_rej} != offered {offered_rows}")
    if n_rej != offered_invalid:
        bad.append(f"rejected {n_rej} != generated invalid rows {offered_invalid}")
    dup = q(f"SELECT count(*) FROM (SELECT tenant_id, metric_name, window_start FROM {pq(paths.rollups)} "
            "GROUP BY ALL HAVING count(*) > 1)")[0][0]
    if dup:
        bad.append(f"{dup} windows emitted more than once")
    want = f"""
        want AS (
          SELECT tenant_id, metric_name, ts // {WINDOW_MS} * {WINDOW_MS} AS window_start,
                 count(value) AS n, sum(value) AS s, min(value) AS lo, max(value) AS hi
          FROM {pq(paths.raw)} GROUP BY ALL)"""
    diff = q(f"""
        WITH {want}
        SELECT count(*) FROM {pq(paths.rollups)} g LEFT JOIN want w USING (tenant_id, metric_name, window_start)
        WHERE w.n IS NULL OR g.num_points != w.n OR g.min != w.lo OR g.max != w.hi
           OR abs(g.sum - w.s) > 1e-9 * greatest(1, abs(w.s))""")[0][0]
    if diff:
        bad.append(f"{diff} finalized 5m rollups differ from DuckDB over the raw sink")
    if watermark_ms <= 0:
        bad.append("the rollup query reported no watermark")
    # a window is final once the watermark passes its end; strict, so the
    # check does not depend on how Spark treats a window ending exactly on it
    missing = q(f"""
        WITH {want}
        SELECT count(*) FROM want w ANTI JOIN {pq(paths.rollups)} g USING (tenant_id, metric_name, window_start)
        WHERE w.window_start + {WINDOW_MS} < {int(watermark_ms)}""")[0][0]
    if missing:
        bad.append(f"{missing} windows ending before the final watermark were never emitted")
    n_roll = q(f"SELECT count(*) FROM {pq(paths.rollups)}")[0][0]
    if n_roll == 0:
        bad.append("no 5m rollup was finalized")
    con.close()
    return bad


def run(spark, ctx) -> None:
    from blueflood_spark.streaming import pipeline as P

    tracer = ctx.tracer
    shape = ctx.ingest_shape
    paths = Paths(ctx.work)
    for d in (paths.watch, paths.raw):
        os.makedirs(d, exist_ok=True)
    rate = ctx.ingest_rate
    n_open = int(round(rate * ctx.seconds))
    n_warm, n_drain = ctx.warmup_files, ctx.drain_files
    span = shape.file_event_span_ms
    now_ms = int(time.time() * 1000)
    event_base = (now_ms - int(2.9 * gen.DAY_MS)) // WINDOW_MS * WINDOW_MS
    n_files = n_warm + n_open + n_drain
    if event_base + n_files * span > now_ms - 3_600_000:
        raise ValueError(f"{n_files} payload files of {span // 60_000} event minutes do not fit in "
                         "validate's 3-day window; use fewer --seconds")

    t0 = time.perf_counter()
    rendered = gen.render_payloads(ctx.seed, paths.staging, n_files, event_base, shape)
    gen_inputs_s = time.perf_counter() - t0
    names = [os.path.basename(f) for f in rendered["files"]]
    # event time runs through warm-up, open loop and drain in that order
    warm, open_loop, drain = names[:n_warm], names[n_warm:n_warm + n_open], names[n_warm + n_open:]
    rows_per_file = shape.rows_per_file

    # warm-up: start both queries, let the warm-up files through ingest and
    # at least one rollup emission, and serve a few reads
    t0 = time.perf_counter()
    q_ingest = P.start_ingest(spark, paths.watch, paths.raw, paths.rejected, paths.delayed,
                              paths.ckpt_ingest, available_now=False, catalog_path=paths.catalog)
    q_rollup = P.start_streaming_rollup(spark, paths.raw, paths.rollups, paths.ckpt_rollup,
                                        available_now=False, events_path=paths.events)
    queries = [q_ingest, q_rollup]
    idle = lambda: not any(q.status["isTriggerActive"] for q in queries)  # noqa: E731
    try:
        for n in warm:
            _move(paths, n)
        wait_committed(paths.ckpt_ingest, set(warm), 120)
        _wait(lambda: H.dir_stats(paths.events)[0] > 0, 120)
        rng_warm = np.random.default_rng([ctx.seed, 10_000])
        for _ in range(2):
            reader_request(spark, paths, rng_warm, shape, event_base + n_warm * span)
        warmup_s = time.perf_counter() - t0
        ctx.setup_s = ctx.session_start_s + gen_inputs_s + warmup_s

        # open loop: file k of the phase is due at t_open + k / rate
        due: dict[str, float] = {}
        late_ms: list[float] = []
        read_ms: list[float] = []
        read_rows: list[int] = []
        errors: list[str] = []
        stop_reader = threading.Event()
        t_open = time.time() + 0.2
        sc = spark.sparkContext

        def generator() -> None:
            for k, n in enumerate(open_loop):
                t_due = t_open + k / rate
                pause = t_due - time.time()
                if pause > 0:
                    time.sleep(pause)
                _move(paths, n)
                due[n] = t_due
                late_ms.append(max(0.0, (time.time() - t_due) * 1000.0))

        def reader() -> None:
            rng = np.random.default_rng([ctx.seed, 0])
            n = 0
            while not stop_reader.is_set():
                event_now = event_base + (n_warm + int((time.time() - t_open) * rate)) * span
                rid = f"r-{n}"
                n += 1
                if tracer.enabled:
                    sc.setJobGroup(f"serve:{rid}", "reader")
                t = time.perf_counter()
                try:
                    with tracer.span("serve.request", rid):
                        resp = reader_request(spark, paths, rng, shape, event_now)
                    read_rows.append(len(resp["values"]))
                except Exception as e:  # counts as a failed read; the reader goes on
                    errors.append(f"reader: {type(e).__name__}: {e}")
                    continue
                read_ms.append((time.perf_counter() - t) * 1000.0)

        gen_thread = threading.Thread(target=generator)
        read_thread = threading.Thread(target=reader)
        gen_thread.start()
        read_thread.start()
        gen_thread.join()
        stop_reader.set()
        read_thread.join()

        # drain: once the batch holding the last open-loop files is running,
        # a fixed backlog lands at once and is taken whole by the next
        # micro-batch; timed from the later of the drop and the previous
        # commit to the backlog batch's commit
        _wait(lambda: set(open_loop) <= source_log(paths.ckpt_ingest)[0].keys(), 120)
        t_drop = time.time()
        for n in drain:
            _move(paths, n)
        done = wait_committed(paths.ckpt_ingest, set(names), 120)
        drain_start = max(t_drop, max(done.get(n, t_drop) for n in open_loop))
        drain_s = max(done.get(n, float("nan")) for n in drain) - drain_start
    finally:
        # stop between triggers where possible: interrupting a running
        # micro-batch only adds noise to the log
        _wait(idle, 10, raise_=False)
        for q in queries:
            q.stop()
        for q in queries:
            q.awaitTermination(60)
    progress = {"ingest": q_ingest.recentProgress, "rollup": q_rollup.recentProgress}
    watermark_ms = H.epoch_s(((q_rollup.lastProgress or {}).get("eventTime") or {}).get("watermark")) * 1000.0

    lag_s = [done[n] - due[n] for n in open_loop if n in done and n in due]
    missing = [n for n in names if n not in done]
    drain_rows_per_s = len(drain) * rows_per_file / drain_s
    fresh_s = _freshness(paths, event_base, span, due, open_loop, n_warm)

    offered = len(names) * rows_per_file
    ctx.attempted += len(names) + len(read_ms) + len(errors)
    ctx.failed += len(missing) + len(errors)
    ctx.notes.extend(errors[:5])
    if missing:
        ctx.notes.append(f"{len(missing)} files never committed")
    ctx.peak_rss_mb = H.peak_rss_mb(spark)
    mismatches = check(paths, offered, rendered["invalid"], watermark_ms)
    ctx.notes.extend(mismatches)
    ctx.attempted += 1
    ctx.failed += 1 if mismatches else 0
    ctx.correct = not (missing or errors or mismatches) and len(lag_s) > 0 and len(fresh_s) > 0

    lag_ms = [x * 1000.0 for x in lag_s]
    ctx.e2e.update(
        {
            "latency_p50_ms": H.pctl(lag_ms, 50),
            "latency_p90_ms": H.pctl(lag_ms, 90),
            "throughput_per_s": drain_rows_per_s,
        }
    )
    named = {
        "ingest.lag_p50_s": (H.pctl(lag_s, 50), "s"),
        "ingest.lag_p95_s": (H.pctl(lag_s, 95), "s"),
        "ingest.lag_samples": (len(lag_s), "count"),
        "rollup.freshness_p50_s": (H.pctl(fresh_s, 50), "s"),
        "rollup.freshness_p95_s": (H.pctl(fresh_s, 95), "s"),
        "rollup.windows": (len(fresh_s), "count"),
        "ingest.drain_rows_per_s": (drain_rows_per_s, "rows/s"),
        "ingest.offered_rows_per_s": (rate * rows_per_file, "rows/s"),
        "ingest.event_compression": (span * rate / 1000.0, "x"),
    }
    if read_ms:
        named.update({
            "serve.p50_ms": (H.pctl(read_ms, 50), "ms"),
            "serve.p95_ms": (H.pctl(read_ms, 95), "ms"),
            "serve.qps": (len(read_ms) / ctx.seconds, "1/s"),
            "serve.samples": (len(read_ms), "count"),
        })
    ctx.named.update(named)
    if not tracer.enabled:
        return

    # batches that started in the open loop or later and read rows
    ing = [p for p in progress["ingest"] if p.get("numInputRows", 0) > 0 and H.epoch_s(p["timestamp"]) >= t_open]
    rol = [p for p in progress["rollup"] if p.get("numInputRows", 0) > 0 and H.epoch_s(p["timestamp"]) >= t_open]
    dur = lambda ps, k: statistics.median([p["durationMs"].get(k, 0) for p in ps] or [0])  # noqa: E731
    state = [p["stateOperators"][0] for p in rol if p.get("stateOperators")]
    groups = H.RestStats(spark).by_group(since=t_open)
    reads = H.sum_counts(groups, lambda g: g.startswith("serve:"))
    everything = H.sum_counts(groups, lambda g: True)
    n_reads = max(1, len(read_ms))
    files_out, bytes_out = H.dir_stats(*paths.sinks())
    bytes_in = sum(os.path.getsize(os.path.join(paths.watch, n)) for n in names)
    wall = max(done.values()) - t_open
    ctx.layers.update(
        {
            "session.start_s": ctx.session_start_s,
            "session.warmup_s": warmup_s,
            "spark.jobs_per_op": reads["jobs"] / n_reads,
            "spark.stages_per_op": reads["stages"] / n_reads,
            "spark.tasks_per_op": reads["tasks"] / n_reads,
            "spark.task_time_s": everything["run_s"],
            "spark.core_busy_frac": everything["run_s"] / (wall * ctx.profile.cores),
            "spark.shuffle_read_mb": reads["shuffle_read_b"] / 1e6 / n_reads,
            "spark.shuffle_write_mb": reads["shuffle_write_b"] / 1e6 / n_reads,
            "sources.scan_files_per_req": reads["files_read"] / n_reads,
            "sources.scan_mb_per_req": reads["input_b"] / 1e6 / n_reads,
            "sources.rows_read_per_row_returned": reads["input_rows"] / max(1, sum(read_rows)),
            "sources.files_written": files_out,
            "sources.bytes_written_per_input_byte": bytes_out / bytes_in,
            "streaming.ingest_batch_ms": dur(ing, "triggerExecution"),
            "streaming.ingest_addbatch_ms": dur(ing, "addBatch"),
            "streaming.ingest_planning_ms": dur(ing, "queryPlanning"),
            "streaming.ingest_rows_per_batch": statistics.median([p["numInputRows"] for p in ing] or [0]),
            "streaming.backlog_files": _max_backlog(due, done),
            "streaming.rollup_batch_ms": dur(rol, "triggerExecution"),
            "streaming.rollup_state_rows": statistics.median([s.get("numRowsTotal", 0) for s in state] or [0]),
            "streaming.rollup_state_mb": statistics.median([s.get("memoryUsedBytes", 0) for s in state] or [0]) / 1e6,
            "streaming.watermark_lag_s": _watermark_lag_s(rol, event_base, span, rate, t_open, n_warm),
            "streaming.gen_late_ms": statistics.median(late_ms),
        }
    )


def _wait(cond, timeout: float, raise_: bool = True) -> None:
    deadline = time.time() + timeout
    while not cond():
        if time.time() > deadline:
            if raise_:
                raise TimeoutError(f"waited {timeout} s for the streaming queries")
            return
        time.sleep(0.05)


def _freshness(paths: Paths, event_base: int, span: int, due: dict, open_loop: list, n_warm: int) -> list[float]:
    """Per finalized 5m window whose eligibility fell in the open loop:
    seconds from the generator due time of the first file whose event
    time passes window end + delay, to the window's `emitted_at_ms`."""
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT window_start, max(emitted_at_ms) FROM read_parquet('{paths.events}/**/*.parquet', "
        "hive_partitioning = true) GROUP BY window_start"
    ).fetchall()
    con.close()
    out = []
    for w, emitted in rows:
        k = (w + WINDOW_MS + DELAY_MS - event_base) // span - n_warm
        if 0 <= k < len(open_loop) and open_loop[k] in due:
            out.append(emitted / 1000.0 - due[open_loop[k]])
    return out


def _max_backlog(due: dict, done: dict) -> float:
    """Most files due but not yet committed, seen at any due instant."""
    best = 0
    times = sorted(due.values())
    commits = sorted(done[n] for n in due if n in done)
    for t in times:
        arrived = sum(1 for x in times if x <= t)
        finished = sum(1 for c in commits if c <= t)
        best = max(best, arrived - finished)
    return float(best)


def _watermark_lag_s(progress: list, event_base: int, span: int, rate: float, t_open: float, n_warm: int) -> float:
    """Median over rollup batches of how far (in wall seconds) the
    watermark trails the generator's event clock at batch start."""
    lags = []
    for p in progress:
        wm = (p.get("eventTime") or {}).get("watermark")
        if not wm:
            continue
        t_batch = H.epoch_s(p["timestamp"])
        wm_ms = H.epoch_s(wm) * 1000.0
        clock_ms = event_base + (n_warm + (t_batch - t_open) * rate) * span
        lags.append((clock_ms - wm_ms) / (span * rate))
    return statistics.median(lags) if lags else 0.0
