"""Iterate on per-query latency under the same conditions bench.py uses
(warm session, no block-cache pinning, 16 shuffle partitions, min of 2 passes, noop sink).

Usage: python tools/bench_subset.py q1 [q2 ...]
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as E  # noqa: E402
from blueflood_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = sys.argv[1:]
    spark = get_spark("bench-subset", shuffle_partitions=16)
    E.q01_pricing_summary(spark, sf_dir).write.mode("overwrite").format("noop").save()
    warm = spark.range(0, 1024, 1, 32)
    warm.mapInPandas(lambda it: it, schema="id long").write.mode("overwrite").format("noop").save()
    for tbl in ("region", "nation", "customer", "supplier", "part",
                "orders", "lineitem", "events", "documents", "embeddings"):
        E._t(spark, sf_dir, tbl).write.mode("overwrite").format("noop").save()
    qs = E.queries()
    for name in names:
        best = None
        for _ in range(2):
            t = time.perf_counter()
            qs[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
            el = time.perf_counter() - t
            best = el if best is None else min(best, el)
            spark.sparkContext._jvm.System.gc()
        print(f"{name}: {best:.3f}s")


if __name__ == "__main__":
    main()
