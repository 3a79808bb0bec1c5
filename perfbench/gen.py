"""Seeded input generators. Everything the program reads is written here
from `numpy.random.default_rng(seed)`; the same seed (and, for ingest
payloads, the same time base) gives byte-identical files.

Two input sets:

- the dashboard corpus (`write_metric_corpus`): raw samples of random
  walks under dotted, hierarchical metric names, plus an events table,
  as single parquet files written by pyarrow;
- the ingest payloads (`render_payloads`): JSON-lines files in the
  `INGEST_PAYLOAD` shape whose `collectionTime` follows a compressed
  event clock, with a fixed share of invalid rows.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MIN_MS = 60_000
DAY_MS = 86_400_000

# Fixed "now" of the dashboard corpus: data ends here, requests are
# relative to it, so granularity selection never depends on the wall clock.
CORPUS_NOW_MS = 1_767_225_600_000  # 2026-01-01T00:00:00Z

SERVICES = ["api", "db", "cache", "queue", "web"]
RESOURCES = ["cpu", "mem", "disk", "net"]
STATS = ["user", "system", "idle", "wait", "rx", "tx"]
EVENT_TAGS = ["deploy", "restart", "alert", "scale"]


# Sizes of both input sets: README.md ("Input assumptions") gives the
# source of each, or the reason it was assumed.
@dataclass(frozen=True)
class CorpusShape:
    tenants: int = 3
    series_per_tenant: int = 100
    days: int = 2
    interval_ms: int = MIN_MS
    events_per_tenant: int = 400


def series_names(n: int) -> list[str]:
    """Dotted names `svc.hostNN.resource.stat`: the first n of all 960
    combinations in a fixed (seed-independent) shuffled order, so every
    tenant has the same names and globs like `api.*.cpu.*` or
    `{db,cache}.host0*.*` match at every depth."""
    combos = [
        f"{svc}.host{host:02d}.{res}.{stat}"
        for svc in SERVICES
        for host in range(8)
        for res in RESOURCES
        for stat in STATS
    ]
    order = np.random.default_rng(0).permutation(len(combos))
    return [combos[i] for i in order[:n]]


def tenant_ids(n: int) -> list[str]:
    return [f"tenant{t}" for t in range(n)]


def write_metric_corpus(seed: int, out_dir: str, shape: CorpusShape = CorpusShape()) -> dict:
    """Raw samples (`tenant_id, metric_name, ts, value, unit,
    ttl_seconds`) on a fixed grid ending at CORPUS_NOW_MS, one random walk
    per series, and an events table (`tenant_id, when, what, data,
    tags`). Returns the file paths."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    names = series_names(shape.series_per_tenant)
    n_steps = shape.days * DAY_MS // shape.interval_ms
    start = CORPUS_NOW_MS - n_steps * shape.interval_ms
    ts = start + np.arange(n_steps, dtype=np.int64) * shape.interval_ms
    n_series = shape.tenants * len(names)
    walks = np.cumsum(rng.normal(0.0, 1.0, size=(n_series, n_steps)), axis=1)
    values = np.round(50.0 + walks, 3)
    tenants = np.repeat(np.array(tenant_ids(shape.tenants)), len(names) * n_steps)
    metrics = np.tile(np.repeat(np.array(names), n_steps), shape.tenants)
    raw = pa.table(
        {
            "tenant_id": pa.array(tenants, pa.string()),
            "metric_name": pa.array(metrics, pa.string()),
            "ts": pa.array(np.tile(ts, n_series), pa.int64()),
            "value": pa.array(values.reshape(-1), pa.float64()),
            "unit": pa.array(np.where(np.char.endswith(metrics.astype(str), "x"), "bytes", "percent")),
            "ttl_seconds": pa.array(np.full(n_series * n_steps, 86_400 * 30), pa.int32()),
        }
    )
    raw_path = os.path.join(out_dir, "raw_samples.parquet")
    pq.write_table(raw, raw_path)

    n_ev = shape.tenants * shape.events_per_tenant
    # events skew recent: exponential age, capped at the corpus span
    age_s = np.minimum(rng.exponential(DAY_MS / 1000, n_ev), shape.days * DAY_MS / 1000 - 1)
    when = (CORPUS_NOW_MS // 1000 - age_s).astype(np.int64)
    events = pa.table(
        {
            "tenant_id": pa.array(np.repeat(np.array(tenant_ids(shape.tenants)), shape.events_per_tenant)),
            "when": pa.array(when, pa.int64()),
            "what": pa.array([f"event {i}" for i in range(n_ev)]),
            "data": pa.array([f"payload {i % 97}" for i in range(n_ev)]),
            "tags": pa.array(rng.choice(np.array(EVENT_TAGS), n_ev)),
        }
    )
    events_path = os.path.join(out_dir, "events.parquet")
    pq.write_table(events, events_path)
    return {"raw": raw_path, "events": events_path}


@dataclass(frozen=True)
class IngestShape:
    tenants: int = 4
    series_per_tenant: int = 10
    sample_every_event_ms: int = 150_000
    file_event_span_ms: int = 750_000
    invalid_share: float = 0.02

    @property
    def series(self) -> int:
        return self.tenants * self.series_per_tenant

    @property
    def rows_per_file(self) -> int:
        return self.series * (self.file_event_span_ms // self.sample_every_event_ms)


def render_payloads(
    seed: int, out_dir: str, n_files: int, event_base_ms: int, shape: IngestShape = IngestShape()
) -> dict:
    """Render `n_files` JSON-lines payload files. File i carries every
    series' samples for event time [base + i*span, base + (i+1)*span);
    `invalid_share` of rows are made invalid in one of three ways
    (missing metricName, ttlInSeconds 0, collectionTime ten days in the
    future), so they must land in the rejected sink.

    Returns {"files": [...], "rows": offered, "invalid": n_invalid}."""
    rng = np.random.default_rng(seed + 1)
    os.makedirs(out_dir, exist_ok=True)
    names = series_names(shape.series_per_tenant)
    tenants = tenant_ids(shape.tenants)
    per_span = shape.file_event_span_ms // shape.sample_every_event_ms
    files, n_rows, n_invalid = [], 0, 0
    for i in range(n_files):
        lo = event_base_ms + i * shape.file_event_span_ms
        jitter = rng.integers(0, shape.sample_every_event_ms, size=(shape.series, per_span))
        vals = np.round(rng.normal(50.0, 10.0, size=(shape.series, per_span)), 3)
        bad = rng.random((shape.series, per_span)) < shape.invalid_share
        kind = rng.integers(0, 3, size=(shape.series, per_span))
        lines = []
        for s in range(shape.series):
            tenant, name = tenants[s // len(names)], names[s % len(names)]
            for k in range(per_span):
                row = {
                    "tenantId": tenant,
                    "metricName": name,
                    "metricValue": float(vals[s, k]),
                    "collectionTime": int(lo + k * shape.sample_every_event_ms + jitter[s, k]),
                    "ttlInSeconds": 86_400,
                    "unit": "percent",
                }
                if bad[s, k]:
                    n_invalid += 1
                    if kind[s, k] == 0:
                        row["metricName"] = None
                    elif kind[s, k] == 1:
                        row["ttlInSeconds"] = 0
                    else:
                        row["collectionTime"] += 10 * DAY_MS
                lines.append(json.dumps(row, separators=(",", ":")))
        path = os.path.join(out_dir, f"payload_{i:05d}.json")
        with open(path, "w") as f:
            f.write("\n".join(lines) + "\n")
        files.append(path)
        n_rows += len(lines)
    return {"files": files, "rows": n_rows, "invalid": n_invalid}
