"""Reproducible ingest-throughput benchmark — the repo's counterpart of
the reference's published single-node sample (15,388 metrics/s,
BASELINE.md). Three measurements over the SAME generated payload:

1. `streaming_full_topology`: the full Structured Streaming topology
   (validate → raw append + delayed side-channel + rejected + discovery
   upsert) in ONE availableNow micro-batch.
2. `streaming_multi_batch`: a validate→write stream forced through 4
   micro-batches (maxFilesPerTrigger) — per-batch fixed overhead ×4 at
   this corpus size, so it reads LOWER here; at production batch sizes
   the fixed cost amortizes toward the batch_path bound.
3. `batch_path`: parse → validate → raw write, no streaming engine —
   the upper bound micro-batches approach as they grow.

Usage: python tools/bench_ingest.py [n_rows] (default 200000)
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from blueflood_spark.session import get_spark  # noqa: E402
from blueflood_spark.sources import ingest as I  # noqa: E402
from blueflood_spark.streaming import pipeline as P  # noqa: E402

BASE = "/tmp/bench_ingest"


def gen(spark, n_rows: int, n_files: int = 32) -> str:
    # row-count-keyed path: the warm-up corpus must NOT overwrite the
    # measurement corpus (a shared path silently re-pointed every run
    # at the warm-up's 1k rows while throughput divided by n_rows)
    path = f"{BASE}/input_{n_rows}"
    shutil.rmtree(path, ignore_errors=True)
    now_ms = int(time.time() * 1000)
    # deterministic payload: 200 tenants × 50 metrics, ts within the
    # valid window, ~2% rejected (bad ttl / future ts) to exercise the
    # split like real traffic
    df = spark.range(n_rows).selectExpr(
        "concat('t', CAST(id % 200 AS STRING)) AS tenantId",
        "concat('servers.host', CAST(id % 50 AS STRING), '.cpu') AS metricName",
        "CAST(id % 1000 AS DOUBLE) / 10.0 AS metricValue",
        f"{now_ms}L - (id % 3600) * 1000 AS collectionTime",
        "CASE WHEN id % 100 = 37 THEN -1 ELSE 86400 END AS ttlInSeconds",
        "'requests' AS unit",
    )
    df.repartition(n_files).write.mode("overwrite").json(path)
    return path


def run_stream(spark, input_path: str, tag: str, max_files: int | None) -> float:
    out = f"{BASE}/{tag}"
    shutil.rmtree(out, ignore_errors=True)
    start = time.perf_counter()
    q = P.start_ingest(
        spark,
        input_path,
        raw_path=f"{out}/raw",
        rejected_path=f"{out}/rejected",
        delayed_path=f"{out}/delayed",
        checkpoint=f"{out}/ckpt",
        available_now=True,
        catalog_path=f"{out}/catalog",
    ) if max_files is None else _start_multi(spark, input_path, out, max_files)
    q.awaitTermination()
    return time.perf_counter() - start


def _start_multi(spark, input_path: str, out: str, max_files: int):
    from pyspark.sql import functions as F  # noqa: F401

    stream = spark.readStream.schema(I.INGEST_PAYLOAD).option(
        "maxFilesPerTrigger", str(max_files)
    ).json(input_path)
    stream = I.parse_ingest_json(spark, stream)

    def process(batch, batch_id):
        now_ms = int(time.time() * 1000)
        valid, rejected = I.validate(batch, now_ms)
        valid.write.mode("append").parquet(f"{out}/raw")
        if rejected.limit(1).count() > 0:
            rejected.write.mode("append").parquet(f"{out}/rejected")

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", f"{out}/ckpt")
        .trigger(availableNow=True)
        .start()
    )


def run_batch(spark, input_path: str) -> float:
    out = f"{BASE}/batch"
    shutil.rmtree(out, ignore_errors=True)
    start = time.perf_counter()
    raw = I.parse_ingest_json(spark, input_path)
    valid, rejected = I.validate(raw, int(time.time() * 1000))
    valid.write.mode("overwrite").parquet(f"{out}/raw")
    rejected.write.mode("overwrite").parquet(f"{out}/rejected")
    return time.perf_counter() - start


def main() -> None:
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    spark = get_spark("bench-ingest", shuffle_partitions=16)
    path = gen(spark, n_rows)
    # warm the streaming machinery once (tiny run) so measurement isn't
    # first-query JVM warmup
    warm = gen(spark, 1000)
    run_stream(spark, warm, "warm", None)

    single = run_stream(spark, path, "single", None)
    steady = run_stream(spark, path, "steady", 8)  # 32 files / 8 = 4 batches
    batch = run_batch(spark, path)
    print(
        json.dumps(
            {
                "metric": "ingest_rows_per_sec",
                "n_rows": n_rows,
                "streaming_full_topology": round(n_rows / single),
                "streaming_multi_batch": round(n_rows / steady),
                "batch_path": round(n_rows / batch),
                "reference_sample": 15388,
            }
        )
    )


if __name__ == "__main__":
    main()
