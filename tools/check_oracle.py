"""Local stand-in for the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB at a given SF, compare
row-count, column names, and values (floats with rel tolerance 1e-9,
everything else exact, order-insensitive).

Usage: python tools/check_oracle.py [--exact] [--vanilla] [sf_dir] [query ...]

--exact compares floats at rel_tol=1e-12 with NO absolute floor,
approximating the driver's value-hash gate (r1 evidence: ulp-level
relative diffs up to ~1e-12 passed the hash; 0.0-vs-3.6e-12 failed
it). The class this catches is catastrophic cancellation producing
zero on one engine and a tiny nonzero on the other — exactly the
bf_basic_merge_20m r1 failure. A query green here is safe from that
class; plain ulp noise on well-scaled values is allowed through.
"""

from __future__ import annotations

import math
import os
import sys

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if hasattr(v, "timestamp"):  # datetime
        return v.isoformat()
    return v


def compare(name: str, spark_rows, duck_rows, spark_cols, duck_cols, exact=False) -> list[str]:
    problems = []
    if sorted(spark_cols) != sorted(duck_cols):
        problems.append(f"schema mismatch: spark={sorted(spark_cols)} duck={sorted(duck_cols)}")
        return problems
    if len(spark_rows) != len(duck_rows):
        problems.append(f"row count: spark={len(spark_rows)} duck={len(duck_rows)}")
        return problems
    cols = sorted(spark_cols)
    s_idx = [spark_cols.index(c) for c in cols]
    d_idx = [duck_cols.index(c) for c in cols]

    def key(row, idx):
        out = []
        for i in idx:
            v = norm_cell(row[i])
            if isinstance(v, float):
                out.append(round(v, 6) if abs(v) < 1e6 else round(v, 6 - int(math.log10(abs(v)))))
            else:
                out.append(v)
        return tuple(str(x) for x in out)

    s_sorted = sorted(spark_rows, key=lambda r: key(r, s_idx))
    d_sorted = sorted(duck_rows, key=lambda r: key(r, d_idx))
    n_bad = 0
    for sr, dr in zip(s_sorted, d_sorted):
        for i, (si, di) in enumerate(zip(s_idx, d_idx)):
            sv, dv = norm_cell(sr[si]), norm_cell(dr[di])
            if isinstance(sv, float) and isinstance(dv, float):
                if exact:
                    bad = not math.isclose(sv, dv, rel_tol=1e-12, abs_tol=0.0)
                else:
                    bad = not math.isclose(sv, dv, rel_tol=1e-9, abs_tol=1e-9)
                if bad:
                    n_bad += 1
                    if n_bad <= 3:
                        problems.append(f"value mismatch col={cols[i]}: {sv!r} vs {dv!r}")
            elif sv != dv:
                n_bad += 1
                if n_bad <= 3:
                    problems.append(f"value mismatch col={cols[i]}: {sv!r} vs {dv!r}")
    if n_bad > 3:
        problems.append(f"... {n_bad} mismatched cells total")
    return problems


def main():
    argv = [a for a in sys.argv[1:] if a not in ("--exact", "--vanilla")]
    exact = "--exact" in sys.argv[1:]
    vanilla = "--vanilla" in sys.argv[1:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    import __spark_entry__ as E

    if vanilla:
        # driver-mimic: a plain SparkSession with a non-UTC timezone and
        # none of our session profile's configs — catches any query that
        # silently depends on get_spark's settings
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[16]")
            .config("spark.sql.session.timeZone", "Asia/Kolkata")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
    else:
        from blueflood_spark.session import get_spark

        spark = get_spark("check_oracle")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = E.queries()
    oracles = E.oracle_sql()
    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            spark_cols = sdf.columns
            spark_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            failed.append(name)
            print(f"FAIL {name}: spark error: {e}")
            continue
        if name not in oracles:
            print(f"SKIP {name}: no oracle ({len(spark_rows)} rows)")
            continue
        try:
            res = con.execute(oracles[name])
            duck_cols = [d[0] for d in res.description]
            duck_rows = res.fetchall()
        except Exception as e:
            failed.append(name)
            print(f"FAIL {name}: duckdb error: {e}")
            continue
        problems = compare(name, spark_rows, duck_rows, spark_cols, duck_cols, exact=exact)
        if problems:
            failed.append(name)
            print(f"FAIL {name}: " + "; ".join(problems[:4]))
        else:
            print(f"OK   {name} ({len(spark_rows)} rows)")
    print(f"\n{len(failed)} failed" if failed else "\nall green")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
