"""The repository benchmark: one command, one workload, one JSON line.

    python3 perfbench/run.py --workload serve_dashboard --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. It generates the workload's inputs from
the seed, starts the engine's session with a pinned profile, measures for
`--seconds`, checks the outputs against DuckDB outside the timed region,
prints every metric by name with its unit, and ends with one JSON line:
`{"correct", "attempted", "failed", "metrics"}`. `--trace 0` reports the
end-to-end metrics; `--trace 1` is the separate traced run that reports
the per-layer metrics (and writes its spans under
`.perfbench_work/traces/`). The exit code is 0 only when every check
passed. Everything the run writes stays under `.perfbench_work/` in the
checkout and is removed at the end, except the span files.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import harness as H  # noqa: E402

WORKLOADS = ("serve_dashboard", "ingest_rollup")

E2E = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
    "throughput_per_s": "1/s",
}

LAYERS = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "sources.gen_write_s": "s",
    "operators.cascade_s": "s",
    "plans.parse_ms": "ms",
    "plans.build_ms": "ms",
    "plans.shape_ms": "ms",
    "spark.analysis_ms": "ms",
    "spark.optimization_ms": "ms",
    "spark.planning_ms": "ms",
    "spark.exec_ms": "ms",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.task_time_s": "s",
    "spark.core_busy_frac": "fraction",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "sources.scan_files_per_req": "count",
    "sources.scan_mb_per_req": "MB",
    "sources.rows_read_per_row_returned": "ratio",
    "sources.files_written": "count",
    "sources.bytes_written_per_input_byte": "ratio",
    "streaming.ingest_batch_ms": "ms",
    "streaming.ingest_addbatch_ms": "ms",
    "streaming.ingest_planning_ms": "ms",
    "streaming.ingest_rows_per_batch": "count",
    "streaming.backlog_files": "count",
    "streaming.rollup_batch_ms": "ms",
    "streaming.rollup_state_rows": "count",
    "streaming.rollup_state_mb": "MB",
    "streaming.watermark_lag_s": "s",
    "streaming.gen_late_ms": "ms",
    "ingest.lag_p50_s": "s",
    "ingest.lag_p95_s": "s",
    "rollup.freshness_p50_s": "s",
    "rollup.freshness_p95_s": "s",
    "ingest.drain_rows_per_s": "rows/s",
    "serve.p50_ms": "ms",
    "serve.p95_ms": "ms",
    "serve.qps": "1/s",
    "trace.setup_s": "s",
    "trace.latency_p50_ms": "ms",
    "trace.latency_p90_ms": "ms",
    "trace.throughput_per_s": "1/s",
}


@dataclass
class Context:
    """What a workload reads (seed, sizes, profile, tracer) and fills in
    (metrics, counts, verdict)."""

    seed: int
    seconds: float
    work: str
    profile: H.Profile
    tracer: H.Tracer
    session_start_s: float = 0.0
    warmup_requests: int = 16
    corpus_shape: gen.CorpusShape = gen.CorpusShape()
    ingest_shape: gen.IngestShape = gen.IngestShape()
    ingest_rate: float = 6.0
    warmup_files: int = 8
    drain_files: int = 120
    setup_s: float = 0.0
    peak_rss_mb: float = 0.0
    attempted: int = 0
    failed: int = 0
    correct: bool = False
    e2e: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    named: dict = field(default_factory=dict)
    notes: list = field(default_factory=list)


def tiny(ctx: Context) -> None:
    """Smoke-test sizes: same code paths, a fraction of the work."""
    ctx.warmup_requests = 5
    ctx.corpus_shape = gen.CorpusShape(tenants=2, series_per_tenant=12, days=8, interval_ms=60 * gen.MIN_MS,
                                       events_per_tenant=50)
    ctx.ingest_shape = gen.IngestShape(tenants=2, series_per_tenant=4)
    ctx.ingest_rate = 8.0
    ctx.warmup_files = 4
    ctx.drain_files = 10


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true", help="smoke-test sizes")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "blueflood_spark", "__init__.py")):
        print(f"perfbench: no blueflood_spark package next to {HERE}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    profile = H.Profile.detect()
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    ctx = Context(args.seed, args.seconds, work, profile, H.Tracer(bool(args.trace)))
    if args.tiny:
        tiny(ctx)
    print(f"# perfbench workload={args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} profile={json.dumps(profile.describe())}", flush=True)

    if args.workload == "serve_dashboard":
        import serve as workload
    else:
        import ingest as workload

    spark, ctx.session_start_s = H.start_session(profile, work, ui=bool(args.trace))
    try:
        workload.run(spark, ctx)
    finally:
        H.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    if ctx.tracer.enabled:
        ctx.tracer.write(os.path.join(work_root, "traces", f"{args.workload}-{args.seed}.jsonl"))

    ctx.e2e["setup_s"] = ctx.setup_s
    ctx.e2e["peak_rss_mb"] = ctx.peak_rss_mb
    for name, (value, unit) in sorted(ctx.named.items()):
        print(f"{name} {value:.6g} {unit}")
    for note in ctx.notes:
        print(f"! {note}")
    print(f"error_rate {ctx.failed / max(1, ctx.attempted):.6g} failed/attempted")
    if args.trace:
        # the workload's named figures, as measured with tracing on
        ctx.layers.update({k: v for k, (v, _) in ctx.named.items() if k in LAYERS})
        ctx.layers.update({f"trace.{k}": ctx.e2e[k] for k in
                           ("setup_s", "latency_p50_ms", "latency_p90_ms", "throughput_per_s")})
        metrics = {k: {"value": float(ctx.layers.get(k, 0.0)), "unit": u} for k, u in LAYERS.items()}
    else:
        metrics = {k: {"value": float(ctx.e2e[k]), "unit": u} for k, u in E2E.items()}
    for k, m in metrics.items():
        print(f"{k} {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": ctx.correct, "attempted": ctx.attempted, "failed": ctx.failed,
                      "metrics": metrics}), flush=True)
    return 0 if ctx.correct else 1


if __name__ == "__main__":
    t_main = time.perf_counter()
    code = main()
    print(f"# wall {time.perf_counter() - t_main:.1f} s", file=sys.stderr)
    sys.exit(code)
