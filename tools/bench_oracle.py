"""Time the DuckDB oracle suite at a given SF — the denominator of the
"bench within 2× of oracle" target. Prints one JSON line shaped like
bench.py's, with BOTH a serial sum of per-query minima and a 4-way
concurrent suite wall (symmetric with bench.py's two numbers, so
serial/serial and concurrent/concurrent ratios are both honest).
Usage: python tools/bench_oracle.py [sf_dir]"""

from __future__ import annotations

import json
import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as E  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _connect(sf_dir: str, threads: int) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"PRAGMA threads={threads}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # same median-of-3 calibration query as bench.py (imported, not
    # copied), so oracle totals can be ambient-normalized round-over-
    # round exactly like Spark's (r7 verdict task 8)
    from bench import ambient_probe

    ambient_sec = ambient_probe(sf_dir)
    con = _connect(sf_dir, 32)
    suite = list(E.oracle_sql().items())

    # Pass 1 over everything, then a de-noising pass 2 ONLY for queries
    # slow enough for noise to matter (>0.15s — above that, run-to-run
    # variance is a visible fraction of the suite total; below it, the
    # contribution is bounded by 175 × 0.15s regardless). Keeps the whole
    # tool inside a 10-min budget at sf0.1 (r4 verdict item 8: the old
    # 2-full-pass shape stopped fitting once heavy twins joined the
    # registry).
    timings: dict[str, float] = {}
    for name, sql in suite:
        start = time.perf_counter()
        con.execute(sql).fetchall()
        timings[name] = round(time.perf_counter() - start, 4)
    for name, sql in suite:
        if timings[name] <= 0.15:
            continue
        start = time.perf_counter()
        con.execute(sql).fetchall()
        elapsed = time.perf_counter() - start
        if elapsed < timings[name]:
            timings[name] = round(elapsed, 4)
    serial_total = sum(timings.values())

    # Concurrent suite wall at TWO client counts: DuckDB's own optimum
    # (4 clients × 8 threads, measured r4 sweep) AND the same client
    # count bench.py's headline uses (8), so the headline wall ratio is
    # apples-to-apples (r5 verdict: the two tools printed different
    # concurrency levels). Each worker uses a cursor of a shared
    # connection (shared catalog + buffer pool, DuckDB's documented
    # multi-thread pattern) and threads are split so total CPU budget
    # matches the serial pass. One pass per arm: the serial passes above
    # already warmed the page cache, and the wall is dominated by the
    # slowest twins, which de-noise poorly anyway.
    def conc_wall(concurrency: int) -> float:
        con_conc = _connect(sf_dir, max(1, 32 // concurrency))

        def run_one(item):
            _name, sql = item
            con_conc.cursor().execute(sql).fetchall()

        start = time.perf_counter()
        with ThreadPoolExecutor(max_workers=concurrency) as pool:
            list(pool.map(run_one, suite))
        return time.perf_counter() - start

    arms = {c: conc_wall(c) for c in (4, 8)}
    headline = int(os.environ.get("SPARK_GRAFT_BENCH_CONCURRENCY", "8"))

    print(
        json.dumps(
            {
                "metric": "oracle_total_wall_sec",
                "value": round(arms.get(headline) or conc_wall(headline), 4),
                "unit": "sec",
                "queries": timings,
                "serial_total_sec": round(serial_total, 4),
                "concurrency": headline,
                "wall_sec_by_concurrency": {str(c): round(v, 4) for c, v in arms.items()},
                "ambient_probe_sec": ambient_sec,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            }
        )
    )


if __name__ == "__main__":
    main()
