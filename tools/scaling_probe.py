"""Scale validation: run the most expensive queries at sf0.1 AND the
self-generated sf1 (tools/gen_sf1.py — 10× rows), recording wall time
and physical-plan shape (exchange/broadcast/codegen counts) at each SF.
The claim under test (VERDICT r2 missing #3): plans keep the same shape
as data grows 10× — no cascade gaining exchanges, no candidate-pair
blowup, wall time growing ~linearly (sub-linear constants amortize).

Usage: python tools/scaling_probe.py [query ...]   (default: headline set)
Emits a markdown table on stdout (pasted into SCALING.md).
"""

from __future__ import annotations

import os
import re
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as E  # noqa: E402
from blueflood_spark.session import get_spark  # noqa: E402
from gen_sf1 import DST, SRC  # noqa: E402

SFS = [("sf0.1", SRC), ("sf1", DST)]

DEFAULT = [
    "q01_pricing_summary",
    "q05_region_revenue",
    "q_sole_late_supplier",
    "bf_rollup_cascade_60m",
    "bf_basic_rollup_5m",
    "ev_retention_cohorts",
    "llm_dedup_exact",
    "llm_minhash_lsh",
    "llm_dedup_clusters",
    "llm_simhash_near_pairs",
    "llm_ngram_stats",
    "llm_quality_gate",
    "llm_ann_lsh_topk",
    "llm_kmeans_clusters",
    "llm_embedding_near_dups",
    "llm_pipeline_output",
]


def plan_shape(df) -> dict[str, int]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return {
        "exchanges": len(re.findall(r"Exchange (?:hash|range|SinglePartition|RoundRobin)", plan)),
        "broadcasts": plan.count("BroadcastExchange"),
        "sorts": plan.count("Sort ["),
    }


def main() -> None:
    names = sys.argv[1:] or DEFAULT
    spark = get_spark("scaling-probe", shuffle_partitions=32)
    qs = E.queries()
    rows = []
    for label, sf_dir in SFS:
        # warm the I/O path (OS page cache + parquet footers), mirroring
        # bench.py — no block-cache pinning
        E.q01_pricing_summary(spark, sf_dir).write.mode("overwrite").format("noop").save()
        for tbl in ("region", "nation", "customer", "supplier", "part",
                    "orders", "lineitem", "events", "documents", "embeddings"):
            E._t(spark, sf_dir, tbl).write.mode("overwrite").format("noop").save()
        for name in names:
            best = None
            for _ in range(2):
                t = time.perf_counter()
                qs[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
                el = time.perf_counter() - t
                best = el if best is None else min(best, el)
                import gc as _gc

                _gc.collect()
                spark.sparkContext._jvm.System.gc()
            shape = plan_shape(qs[name](spark, sf_dir))
            rows.append((name, label, round(best, 3), shape))
            print(f"## {name} @ {label}: {best:.3f}s {shape}", flush=True)

    by_name: dict[str, dict] = {}
    for name, label, sec, shape in rows:
        by_name.setdefault(name, {})[label] = (sec, shape)
    print("\n| query | sf0.1 s | sf1 s | ×10-data ratio | plan shape same? |")
    print("|---|---|---|---|---|")
    for name, d in by_name.items():
        s01, sh01 = d.get("sf0.1", (None, None))
        s1, sh1 = d.get("sf1", (None, None))
        if s01 is None or s1 is None:
            continue
        same = "yes" if sh01 == sh1 else f"no: {sh01} vs {sh1}"
        print(f"| {name} | {s01:.2f} | {s1:.2f} | {s1 / s01:.1f}× | {same} |")


if __name__ == "__main__":
    main()
