"""Self-generated sf1 (10× sf0.1) for SCALING validation — testdata has
no sf1, so we tile sf0.1 ten times with key offsets and content
perturbation. This is a scaling HARNESS, not a correctness oracle: the
goal is 10× row counts with realistic distributions, so plan shapes and
wall-time scaling can be measured (VERDICT r2 "What's missing" #3).

Perturbations chosen so operator work scales the way a real corpus
does:
- facts (lineitem/orders/events): key offsets, identical value
  distributions; events keep their timestamps (same query windows, 10×
  series/users inside them) and spread user_id in multiples of 4 so the
  tenant mapping user_id % 4 keeps its distribution.
- documents: per-copy Caesar rotation of letters (JVM-side translate).
  Identical replication would put 10 exact copies in every MinHash/
  SimHash bucket — a quadratic pair-count pathology no real corpus has;
  rotation destroys shingle overlap so dedup candidate counts scale
  linearly like real data.
- embeddings: per-copy cyclic dimension roll — preserves norms and the
  pairwise-distance distribution within a copy, decorrelates across
  copies.

Output: <repo>/testdata_sf1/*.parquet (gitignored).
"""

from __future__ import annotations

import os
import string
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import DataFrame, functions as F  # noqa: E402

import __spark_entry__ as E  # noqa: E402
from blueflood_spark.session import get_spark  # noqa: E402

SRC = "/root/testdata/sf0.1"
DST = os.path.join(REPO, "testdata_sf1")
COPIES = 10


def _caesar(k: int) -> tuple[str, str]:
    low = string.ascii_lowercase
    up = string.ascii_uppercase
    src = low + up
    dst = low[k % 26:] + low[: k % 26] + up[k % 26:] + up[: k % 26]
    return src, dst


def main() -> None:
    spark = get_spark("gen-sf1", shuffle_partitions=32)
    os.makedirs(DST, exist_ok=True)

    # dims that stay fixed at any SF
    for tbl in ("region", "nation"):
        E._t(spark, SRC, tbl).write.mode("overwrite").parquet(f"{DST}/{tbl}.parquet")

    def tile(tbl: str, fn) -> None:
        base = E._t(spark, SRC, tbl)
        out: DataFrame | None = None
        for k in range(COPIES):
            c = fn(base, k)
            out = c if out is None else out.unionByName(c)
        (out.repartition(32)
            .write.mode("overwrite").parquet(f"{DST}/{tbl}.parquet"))
        print(f"{tbl}: {spark.read.parquet(f'{DST}/{tbl}.parquet').count()} rows")

    def off(col: str, k: int, step: int) -> F.Column:
        return (F.col(col) + F.lit(k * step)).alias(col)

    # key spaces are offset by 10M per copy — far above any sf0.1 max key
    STEP = 10_000_000

    tile("customer", lambda df, k: df.withColumn("c_custkey", off("c_custkey", k, STEP)))
    tile("supplier", lambda df, k: df.withColumn("s_suppkey", off("s_suppkey", k, STEP)))
    tile("part", lambda df, k: df.withColumn("p_partkey", off("p_partkey", k, STEP)))
    tile(
        "orders",
        lambda df, k: df.withColumn("o_orderkey", off("o_orderkey", k, STEP)).withColumn(
            "o_custkey", off("o_custkey", k, STEP)
        ),
    )
    tile(
        "lineitem",
        lambda df, k: df.withColumn("l_orderkey", off("l_orderkey", k, STEP))
        .withColumn("l_partkey", off("l_partkey", k, STEP))
        .withColumn("l_suppkey", off("l_suppkey", k, STEP)),
    )
    # events: user_id offsets in multiples of 4 keep tenant_id = user_id % 4
    tile(
        "events",
        lambda df, k: df.withColumn("event_id", off("event_id", k, STEP)).withColumn(
            "user_id", (F.col("user_id") + F.lit(k * STEP * 4)).alias("user_id")
        ),
    )
    tile(
        "documents",
        lambda df, k: df.withColumn("doc_id", off("doc_id", k, STEP)).withColumn(
            "text", F.translate(F.col("text"), *_caesar(k))
        ),
    )

    dims = E._t(spark, SRC, "embeddings").select(F.size("embedding")).first()[0]

    def roll(df: DataFrame, k: int) -> DataFrame:
        r = k % dims
        if r == 0:
            rolled = F.col("embedding")
        else:
            rolled = F.concat(
                F.slice(F.col("embedding"), r + 1, dims - r),
                F.slice(F.col("embedding"), 1, r),
            )
        return df.withColumn("vec_id", off("vec_id", k, STEP)).withColumn(
            "embedding", rolled
        )

    tile("embeddings", roll)
    print("done ->", DST)


if __name__ == "__main__":
    main()
