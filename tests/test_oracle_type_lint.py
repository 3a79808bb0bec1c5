"""Permanent oracle type-hygiene gate (r4 verdict item 2).

The driver's value hash is TYPE-SENSITIVE while its schema check matches
column NAMES only, so a DuckDB oracle whose terminal column is HUGEINT
(DuckDB's integer sum() result), DECIMAL (unnest of decimal literals), or
an unnamed NULL will hash-mismatch a bit-identical Spark BIGINT/DOUBLE
column with rows/schema green — the r4 red-row class (bf_unit_changes,
ev_props_extract, bf_histogram_buckets, llm_source_stats, plus three
latent). This lint runs DuckDB DESCRIBE over every oracle_sql() entry and
fails on any such terminal column, so the class can never ship again.

No Spark session needed — pure DuckDB, runs in seconds at sf0.001.
"""

import re

import duckdb
import pytest


SF_DIR = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# Types the driver-side Spark schema can never emit: any DECIMAL (Spark
# outputs here are BIGINT/DOUBLE by repo convention) and HUGEINT.
_BANNED = re.compile(r"HUGEINT|DECIMAL", re.IGNORECASE)
# A column literally named NULL / unnamed comes from an un-aliased
# F.lit(None)-style projection and can't be matched by name.
_BAD_NAME = re.compile(r"^(NULL|CAST\(|sum\(|count\(|min\(|max\(|avg\()", re.IGNORECASE)


@pytest.fixture(scope="module")
def oracle_types():
    import __spark_entry__ as E

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    out = {}
    for name, sql in E.oracle_sql().items():
        rows = con.execute(f"DESCRIBE {sql}").fetchall()
        out[name] = [(r[0], r[1]) for r in rows]  # (column_name, column_type)
    con.close()
    return out


def test_no_hugeint_or_decimal_terminal_columns(oracle_types):
    bad = []
    for name, cols in oracle_types.items():
        for col, typ in cols:
            if _BANNED.search(typ):
                bad.append(f"{name}.{col}: {typ}")
    assert not bad, (
        "oracle twins emit driver-hash-hostile types (CAST them to "
        "BIGINT/DOUBLE per repo convention):\n  " + "\n  ".join(bad)
    )


def test_no_unnamed_or_expression_named_columns(oracle_types):
    bad = []
    for name, cols in oracle_types.items():
        for col, typ in cols:
            if _BAD_NAME.match(col):
                bad.append(f"{name}.{col!r}: {typ}")
    assert not bad, (
        "oracle twins emit unnamed/expression-named columns (alias them "
        "to match the Spark side):\n  " + "\n  ".join(bad)
    )


def test_every_query_has_an_oracle_or_is_documented():
    """Contract audit: every queries() entry has an oracle twin (the repo
    has zero rows-only entries as of r4b — keep it that way, or document
    an exception here)."""
    import __spark_entry__ as E

    missing = sorted(set(E.queries()) - set(E.oracle_sql()))
    assert not missing, f"queries without oracle twins: {missing}"
