"""Shard hashing and safe division.

- Shard: ``int(md5Hex(locator)[30:32], 16) % 128`` — reference
  /root/reference/blueflood-core/.../utils/Util.java:47-48 with
  NUMBER_OF_SHARDS=128 (io/Constants.java:56). In Spark this role is played
  by shuffle hash partitioning; we keep the column for parity tests and as
  an optional low-cardinality bucketing key.
- safe_div: 0 when divisor is 0 (utils/Util.java safeDiv) — used by all
  rate merges (SURVEY A3/A5, F6).

Both have three renditions that must agree: a Python scalar (driver-side),
a Spark Column (JVM-side, codegen'd — no UDF), and a DuckDB SQL snippet
(the oracle).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F

NUMBER_OF_SHARDS = 128


def locator(tenant_id: str, metric_name: str) -> str:
    return f"{tenant_id},{metric_name}"


def shard_of(s: str) -> int:
    """Python scalar version (driver-side)."""
    h = hashlib.md5(s.encode("utf-8")).hexdigest()
    return int(h[30:32], 16) % NUMBER_OF_SHARDS


def shard_expr(col: Column) -> Column:
    """Spark Column version — md5 → hex substring [31,2] (1-based) → int % 128."""
    return F.pmod(F.conv(F.substring(F.md5(col), 31, 2), 16, 10).cast("int"), F.lit(NUMBER_OF_SHARDS))


def shard_sql(expr: str) -> str:
    """DuckDB SQL version of the same computation."""
    return f"(CAST(('0x' || substr(md5({expr}), 31, 2)) AS INTEGER) % {NUMBER_OF_SHARDS})"


def safe_div(num: Column, den: Column) -> Column:
    """0 when divisor is 0 or NULL (Util.safeDiv)."""
    return F.when((den.isNull()) | (den == 0), F.lit(0.0)).otherwise(num / den)


def md5_bucket(col: Column, salt: str, mod: int = 100) -> Column:
    """Deterministic uniform bucket in [0, mod): first 8 md5-hex chars of
    the salted id, as a long, mod `mod`. THE sampling primitive for
    train/val/test splits and stratified rates — stable across runs,
    engines, partitionings, and retries (never rand()), and monotone
    under rate changes. Keep in lockstep with md5_bucket_sql."""
    return F.pmod(
        F.conv(F.substring(F.md5(F.concat(F.lit(salt), col.cast("string"))), 1, 8), 16, 10).cast(
            "long"
        ),
        F.lit(mod),
    )


def md5_bucket_sql(expr: str, salt: str, mod: int = 100) -> str:
    """DuckDB rendition of md5_bucket."""
    return f"CAST(('0x' || substr(md5('{salt}' || CAST({expr} AS VARCHAR)), 1, 8)) AS BIGINT) % {mod}"


def md5_uniform(col: Column, salt: str) -> Column:
    """Deterministic uniform double in [0, 1): the same salted 8-hex-char
    draw scaled by 2^-32 (weighted-sampling keys). Keep in lockstep with
    md5_uniform_sql."""
    return (
        F.conv(F.substring(F.md5(F.concat(F.lit(salt), col.cast("string"))), 1, 8), 16, 10).cast(
            "double"
        )
        / F.lit(float(2**32))
    )


def md5_uniform_sql(expr: str, salt: str) -> str:
    """DuckDB rendition of md5_uniform."""
    return (
        f"CAST(CAST(('0x' || substr(md5('{salt}' || CAST({expr} AS VARCHAR)), 1, 8)) AS BIGINT)"
        f" AS DOUBLE) / 4294967296.0"
    )
