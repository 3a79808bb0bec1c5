"""Metric discovery catalog + hierarchical token index (SURVEY S9/S10/A10,
F1/F2).

Replaces the reference's Elasticsearch indices:
- discovery docs {tenantId, metric_name, unit}
  (/root/reference/blueflood-elasticsearch/.../Discovery.java:22-62,
  ESFieldLabel.java:19-26, writer inputs/processors/DiscoveryWriter.java:44-150)
  → `metric_catalog` table: dropDuplicates upsert, broadcast-joined at query
  time for units enrichment (J1, RollupHandler.java:146-180).
- token index {token, parent, isLeaf}
  (ElasticTokensIO.java, types/Token.java:36-79) → `metric_tokens` derived
  view via split + posexplode; glob browse queries become rlike filters
  (AbstractElasticIO.java:286-326).

At 100 TB the catalog is tiny relative to data (distinct locators, not
samples) — it broadcasts; the token explode is linear in catalog size, not
data size.

Search execution: each search reads the tenant's rows as a ScanSpec
(plans/scan.py), and its Spark plan (search_metrics_frame /
search_metric_names_frame: rlike filter, dedup or grouping) defines the
result. When the catalog is a small plain parquet scan whose files hold at
most _LOCAL_FRAME_MAX_ROWS rows (plans/scan.py) and the glob's regex reads
alike in Python's re (glob.python_matcher), the search reads the rows
eagerly, at call time, on the driver, does the match, the dedup or the
next-level grouping in Python and returns a LocalRelation frame of the
plan's schema, taken from the schema memo (scan.plan_schema): it builds no
Spark frame, and collecting it runs no Spark job. Otherwise it returns the
lazy plan, as before. The path is logged at DEBUG on this module's logger.
"""

from __future__ import annotations

import logging
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from blueflood_spark.functions.glob import anchored, glob_to_regex, next_level_regex, python_matcher
from blueflood_spark.plans.scan import (
    ScanSpec,
    SparkOnly,
    local_frame,
    plan_schema,
    scan_frame,
    through_gate,
    to_rows,
)

if TYPE_CHECKING:
    import pyarrow as pa

log = logging.getLogger(__name__)


def build_catalog(raw: DataFrame) -> DataFrame:
    """Distinct locators with last-seen unit (S9). One shuffle on the
    locator key; at scale this is the `foreachBatch` upsert target."""
    return (
        raw.groupBy("tenant_id", "metric_name")
        .agg(F.max_by("unit", "ts").alias("unit"))
    )


def build_tokens(catalog: DataFrame) -> DataFrame:
    """Token index: explode each dotted name into path prefixes
    (types/Token.java:36-79). For `a.b.c.d`: tokens a, b, c, d with parents
    '', a, a.b, a.b.c; only the final token is a leaf."""
    parts = F.split(F.col("metric_name"), r"\.")
    exploded = catalog.select(
        "tenant_id",
        "metric_name",
        F.posexplode(parts).alias("pos", "token"),
        F.size(parts).alias("n_tokens"),
    )
    return exploded.select(
        "tenant_id",
        "token",
        F.when(F.col("pos") == 0, F.lit("")).otherwise(
            F.concat_ws(".", F.slice(F.split(F.col("metric_name"), r"\."), 1, F.col("pos")))
        ).alias("parent"),
        F.concat_ws(
            ".", F.slice(F.split(F.col("metric_name"), r"\."), 1, F.col("pos") + 1)
        ).alias("path"),
        (F.col("pos") + 1).alias("depth"),
        (F.col("pos") == F.col("n_tokens") - 1).alias("is_leaf"),
    ).dropDuplicates(["tenant_id", "path", "is_leaf"])


def _tenant_scan(catalog: DataFrame, tenant_id: str, columns: tuple[str, ...]) -> ScanSpec:
    return ScanSpec(catalog, partition=(), where=(("tenant_id", "==", tenant_id),),
                    select=tuple((c, c) for c in columns))


def _matching(table: pa.Table, glob: str, regex: str) -> list[dict]:
    """The rows of a driver read whose metric_name `regex` matches, as
    rlike would; raises SparkOnly when Python's re is not proven to agree
    with it."""
    rows = to_rows(table)
    rx = python_matcher(glob, regex, (r["metric_name"] for r in rows))
    if rx is None:
        raise SparkOnly("regex outside the Python-parity subset")
    return [r for r in rows if r["metric_name"] is not None and rx.search(r["metric_name"])]


def search_metrics_frame(
    catalog: DataFrame, tenant_id: str, glob: str, include_enum_values: bool = False
) -> DataFrame:
    """The Spark plan of a search_metrics request: the tenant's rows whose
    name the glob's regex matches, deduped by name."""
    spec = _tenant_scan(catalog, tenant_id, ("tenant_id", "metric_name", "unit"))
    out = (
        scan_frame(spec)
        .filter(F.col("metric_name").rlike(anchored(glob_to_regex(glob))))
        .dropDuplicates(["tenant_id", "metric_name"])
    )
    if include_enum_values:
        out = out.withColumn("enum_values", F.array().cast("array<string>"))
    return out


def search_metrics(
    catalog: DataFrame, tenant_id: str, glob: str, include_enum_values: bool = False
) -> DataFrame:
    """`GET /v2.0/:tenantId/metrics/search?query=<glob>` (SURVEY §2.11;
    HttpMetricsIndexHandler.java:40-60): full-name glob match, deduped
    (one row per name; which unit a name with several keeps is
    unspecified, as in dropDuplicates).

    include_enum_values (r5 audit): the reference AT THIS VERSION has no
    enum-metrics surface at all — SearchResult.java:24-43 carries only
    (tenant, name, unit) and ESFieldLabel.java:19-26 defines no enum
    field; the param existed only in other/later Blueflood lines. It is
    kept as a compatibility flag for callers of those lines: the
    response gains an `enum_values` column that is always an empty array
    (this engine ingests no enum type). Documented as dropped-deprecated
    in README's coverage table — the API shape is served, the dead
    feature is not."""
    regex = anchored(glob_to_regex(glob))
    spec = _tenant_scan(catalog, tenant_id, ("tenant_id", "metric_name", "unit"))
    plan = lambda: search_metrics_frame(catalog, tenant_id, glob, include_enum_values)  # noqa: E731

    def on_driver(table: pa.Table) -> DataFrame:
        first: dict[str, dict] = {}
        for r in _matching(table, glob, regex):
            first.setdefault(r["metric_name"], r)
        found = [first[n] for n in sorted(first)]
        if include_enum_values:
            found = [dict(r, enum_values=[]) for r in found]
        schema = plan_schema(spec, ("search_metrics", include_enum_values), plan)
        return local_frame(catalog.sparkSession, schema, found)

    return through_gate(spec, on_driver, plan, log, "metric search", bounded=True)


def search_metric_names_frame(catalog: DataFrame, tenant_id: str, glob: str) -> DataFrame:
    """The Spark plan of a search_metric_names request: the tenant's names
    that the glob's next-level regex matches, truncated to the glob's
    depth plus one and grouped."""
    base_level = len(glob.split("."))
    spec = _tenant_scan(catalog, tenant_id, ("metric_name",))
    matched = scan_frame(spec).filter(F.col("metric_name").rlike(anchored(next_level_regex(glob))))
    parts = F.split(F.col("metric_name"), r"\.")
    truncated = matched.select(
        F.concat_ws(".", F.slice(parts, 1, base_level)).alias("name"),
        (F.size(parts) == base_level).alias("is_complete"),
    )
    # a truncated name is a leaf iff a complete metric exists at base level;
    # it has a next level iff some metric extends past base level
    return (
        truncated.groupBy("name")
        .agg(
            F.max(F.when(F.col("is_complete"), 1).otherwise(0)).alias("has_complete"),
            F.max(F.when(~F.col("is_complete"), 1).otherwise(0)).alias("has_next"),
        )
        .select(
            F.col("name").alias("metric_name"),
            (F.col("has_complete") == 1).alias("is_leaf"),
            (F.col("has_next") == 1).alias("has_next_level"),
        )
    )


def search_metric_names(catalog: DataFrame, tenant_id: str, glob: str) -> DataFrame:
    """`GET /v2.0/:tenantId/metric_name/search?query=<glob>` token browse
    (HttpMetricNamesHandler.java:50-106, AbstractElasticIO.java:136-185):
    returns names at the query's depth plus one, with is_leaf flags.

    For metrics foo.bar.xxx & foo.bar.baz.qux and query=foo.bar.*:
    → (foo.bar.xxx, leaf), (foo.bar.baz, non-leaf).
    """
    regex = anchored(next_level_regex(glob))
    base_level = len(glob.split("."))
    spec = _tenant_scan(catalog, tenant_id, ("metric_name",))
    plan = lambda: search_metric_names_frame(catalog, tenant_id, glob)  # noqa: E731

    def on_driver(table: pa.Table) -> DataFrame:
        flags: dict[str, list[bool]] = {}
        for r in _matching(table, glob, regex):
            tokens = r["metric_name"].split(".")
            f = flags.setdefault(".".join(tokens[:base_level]), [False, False])
            f[0] |= len(tokens) == base_level
            f[1] |= len(tokens) != base_level
        return local_frame(catalog.sparkSession, plan_schema(spec, ("search_metric_names",), plan), [
            {"metric_name": n, "is_leaf": leaf, "has_next_level": nxt}
            for n, (leaf, nxt) in sorted(flags.items())
        ])

    return through_gate(spec, on_driver, plan, log, "metric name browse", bounded=True)
