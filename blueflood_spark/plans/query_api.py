"""Query API surface (SURVEY §2.11, §3.1): the reference's HTTP query
endpoints re-expressed as a thin Python layer = parameter parse →
granularity selection → pruned DataFrame pipeline → JSON shaping.

Reference semantics:
- param parse: exactly one of points|resolution; from < to
  (/root/reference/blueflood-http/.../PlotRequestParser.java:61-125)
- select stats with per-type defaults and per-type legality — illegal
  stats silently dropped (PlotRequestParser.java:26-59,
  BasicRollupsOutputSerializer.java:32-241,
  JSONBasicRollupsOutputSerializer.java:166-168)
- output JSON {unit, values: [...], metadata: {count, limit, marker,
  next_href}} with all stats null when numPoints == 0
  (JSONBasicRollupsOutputSerializer.java:55-151, nulls :133-142)
- timer percentiles flatten to pct_<label> (:158-162)

Ordering: the reference walks `Points<T>`, an in-memory TreeMap keyed by
timestamp, so time order is a property of the few rows sent back, not of
the scan. The frames here are plain pruned projections; get_view and
get_views_multi sort the bounded rows they collect by timestamp on the
driver. A global orderBy on the frame would cost a range-bounds sampling
job (a second scan) plus a shuffle exchange on every request.

Execution: a series read is stated once, as a ScanSpec (plans/scan.py).
Its Spark plan (series_frame / series_frame_full) is the definition of the
result; scan.through_gate reads the same spec on the driver when the table
is a small plain parquet scan, so a dashboard read of tens of rows costs no
Spark job. Both paths share shape_response, and each request logs the path
it took at DEBUG on this module's logger.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass, field
from operator import itemgetter

from pyspark.sql import DataFrame

from blueflood_spark.operators import granularity as G
from blueflood_spark.plans.scan import Lit, ScanSpec, scan_frame, through_gate, to_rows

log = logging.getLogger(__name__)

# stat name → (legal rollup types). 'sum' maps to counter count (serializer SUM case).
STAT_LEGALITY = {
    "average": {"basic", "timer"},
    "variance": {"basic", "timer"},
    "min": {"basic", "timer"},
    "max": {"basic", "timer"},
    "numPoints": {"basic", "timer", "counter", "gauge", "set"},
    "sum": {"basic", "timer", "counter"},
    "rate": {"timer", "counter"},
    "latest": {"gauge"},
    "percentiles": {"timer"},
}

# case-folded select name → canonical stat name (fromStringList is case-insensitive)
CANONICAL_STATS = {k.lower(): k for k in STAT_LEGALITY}

DEFAULT_STATS = {
    "basic": ["average", "numPoints", "sum"],
    "counter": ["numPoints", "sum"],
    "gauge": ["numPoints", "latest"],
    "set": ["numPoints"],
    "timer": ["rate", "numPoints", "average"],
}

# stat → rollups-table column
STAT_COLUMNS = {
    "average": "avg",
    "variance": "var_pop",
    "min": "min",
    "max": "max",
    "numPoints": "num_points",
    "sum": "sum",
    "rate": "rate",
    "latest": "latest_value",
}


class InvalidRequestError(ValueError):
    pass


@dataclass
class RollupsQueryParams:
    from_ms: int
    to_ms: int
    points: int | None = None
    resolution: G.Granularity | None = None
    stats: list[str] = field(default_factory=list)

    @property
    def is_points(self) -> bool:
        return self.points is not None


def parse_params(params: dict[str, list[str]]) -> RollupsQueryParams:
    """PlotRequestParser.parseParams port: same required params, same
    error conditions; unknown select stats are ignored (fromStringList
    drops unknown names)."""
    if not params:
        raise InvalidRequestError("No query parameters present.")
    points = params.get("points")
    res = params.get("resolution")
    frm = params.get("from")
    to = params.get("to")
    select = params.get("select")
    if points is None and res is None:
        raise InvalidRequestError("Either 'points' or 'resolution' is required.")
    if points is not None and len(points) != 1:
        raise InvalidRequestError(f"Invalid parameter: points={points}")
    if res is not None and len(res) != 1:
        raise InvalidRequestError(f"Invalid parameter: resolution={res}")
    if frm is None or len(frm) != 1:
        raise InvalidRequestError(f"Invalid parameter: from={frm}")
    if to is None or len(to) != 1:
        raise InvalidRequestError(f"Invalid parameter: to={to}")
    try:
        from_ms = int(frm[0])
    except ValueError:
        raise InvalidRequestError("parameter 'from' must be a valid long")
    try:
        to_ms = int(to[0])
    except ValueError:
        raise InvalidRequestError("parameter 'to' must be a valid long")
    if to_ms <= from_ms:
        raise InvalidRequestError("parameter 'to' must be greater than 'from'")
    stats = []
    if select:
        seen = set()
        for item in select:
            for s in item.split(","):
                k = CANONICAL_STATS.get(s.strip().lower())
                if k and k not in seen:
                    seen.add(k)
                    stats.append(k)
    if points is not None:
        try:
            return RollupsQueryParams(from_ms, to_ms, points=int(points[0]), stats=stats)
        except ValueError:
            raise InvalidRequestError("parameter 'points' must be a valid integer")
    try:
        gran = G.RESOLUTION_ALIASES[res[0].strip().lower()]
    except KeyError:
        raise InvalidRequestError(
            "parameter 'resolution' is not valid. Allowed values ['FULL', 'MIN5', 'MIN20', 'MIN60', 'MIN240', 'MIN1440']"
        )
    return RollupsQueryParams(from_ms, to_ms, resolution=gran, stats=stats)


def effective_stats(requested: list[str], rollup_type: str) -> list[str]:
    """Per-type defaults + silent drop of per-type-illegal stats
    (JSONBasicRollupsOutputSerializer.java:166-168)."""
    stats = requested or DEFAULT_STATS.get(rollup_type, DEFAULT_STATS["basic"])
    return [s for s in stats if rollup_type in STAT_LEGALITY.get(s, set())]


def select_granularity(params: RollupsQueryParams, now_ms: int | None = None) -> G.Granularity:
    if params.resolution is not None:
        return params.resolution
    return G.from_points_in_interval(params.from_ms, params.to_ms, params.points, now_ms=now_ms)


def series_scan(
    rollups: DataFrame,
    tenant_id: str,
    metric_names: list[str],
    gran: G.Granularity,
    from_ms: int,
    to_ms: int,
    stats: list[str],
    rollup_type: str = "basic",
) -> ScanSpec:
    """The rollup series read: partition-pruned by resolution, locator +
    window predicates, stat-projected."""
    select = [("metric_name", "metric_name"), ("timestamp", "window_start")]
    select += [(s, STAT_COLUMNS.get(s, s)) for s in effective_stats(stats, rollup_type)]
    return ScanSpec(
        rollups,
        partition=(("resolution", gran.name),),
        where=(
            ("tenant_id", "==", tenant_id),
            ("metric_name", "isin", list(metric_names)),
            ("window_start", ">=", gran.snap_millis(from_ms)),
            ("window_start", "<", to_ms),
        ),
        select=tuple(select),
    )


def series_frame(
    rollups: DataFrame,
    tenant_id: str,
    metric_names: list[str],
    gran: G.Granularity,
    from_ms: int,
    to_ms: int,
    stats: list[str],
    rollup_type: str = "basic",
) -> DataFrame:
    """series_scan as a Spark frame. Unordered: the O1 time order is
    applied to the collected rows by get_view/get_views_multi."""
    return scan_frame(
        series_scan(rollups, tenant_id, metric_names, gran, from_ms, to_ms, stats, rollup_type)
    )


def shape_response(
    rows: list,
    stats: list[str],
    unit: str | None = None,
) -> dict:
    """JSON shaping for one series (JSONBasicRollupsOutputSerializer.java:
    55-151): values list in the order of `rows`, which callers pass
    timestamp-ordered; every stat null when numPoints == 0 (:133-142);
    percentiles flatten to pct_<label>."""
    values = []
    for r in rows:
        d = dict(r.asDict()) if hasattr(r, "asDict") else dict(r)
        d.pop("metric_name", None)
        n = d.get("numPoints")
        if n == 0:
            d = {k: (0 if k == "numPoints" else None) for k in d if k != "percentiles"}
        pct = d.pop("percentiles", None)
        if pct:
            for label, mean in sorted(pct.items()):
                d[f"pct_{label}"] = mean
        values.append(d)
    return {
        "unit": unit or "unknown",
        "type": "number",
        "values": values,
        "metadata": {
            "count": len(values),
            "limit": None,
            "marker": None,
            "next_href": None,
        },
    }


def series_scan_full(
    raw: DataFrame,
    tenant_id: str,
    metric_names: list[str],
    from_ms: int,
    to_ms: int,
    stats: list[str],
) -> ScanSpec:
    """FULL resolution = raw samples shaped like rollup points
    (BasicRollupsOutputSerializer convertRawSampleToObject: average/min/
    max/sum echo the sample value, numPoints is 1, variance is 0)."""
    select = [("metric_name", "metric_name"), ("timestamp", "ts")]
    for s in effective_stats(stats, "basic"):
        select.append((s, Lit(1) if s == "numPoints" else Lit(0.0) if s == "variance" else "value"))
    return ScanSpec(
        raw,
        partition=(),
        where=(
            ("tenant_id", "==", tenant_id),
            ("metric_name", "isin", list(metric_names)),
            ("ts", ">=", from_ms),
            ("ts", "<", to_ms),
        ),
        select=tuple(select),
    )


def series_frame_full(
    raw: DataFrame,
    tenant_id: str,
    metric_names: list[str],
    from_ms: int,
    to_ms: int,
    stats: list[str],
) -> DataFrame:
    """series_scan_full as a Spark frame. Unordered, like series_frame."""
    return scan_frame(series_scan_full(raw, tenant_id, metric_names, from_ms, to_ms, stats))


# O1: responses list values in timestamp order (the reference's TreeMap walk)
_BY_TIME = itemgetter("timestamp")


def lookup_rollup_type(catalog: DataFrame, tenant_id: str, metric_name: str) -> str:
    """J2 metadata-driven dispatch: the per-locator rollup type from the
    catalog decides which family's stats are legal — the reference's
    MetadataCache lookup (RollupRunnable.java:100-112,
    MetricsRWDelegator.java:87-101). Missing/unknown → basic. The
    (tenant, name) row is read through the same gate as a series read."""
    spec = ScanSpec(
        catalog,
        partition=(),
        where=(("tenant_id", "==", tenant_id), ("metric_name", "==", metric_name)),
        select=(("rollup_type", "rollup_type"),),
    )
    rows = through_gate(spec, lambda t: to_rows(t.slice(0, 1)), lambda: scan_frame(spec).limit(1).collect(),
                        log, "rollup type lookup")
    if rows and rows[0]["rollup_type"]:
        return rows[0]["rollup_type"]
    return "basic"


def _series_rows(
    rollups: DataFrame | None,
    raw: DataFrame | None,
    tenant_id: str,
    metric_names: list[str],
    params: RollupsQueryParams,
    rollup_type: str,
    now_ms: int | None,
) -> list:
    """Unordered rows of a series request: granularity selection, the FULL
    dispatch to `raw`, and the read gate, once for get_view and
    get_views_multi. The frame is built through series_frame /
    series_frame_full, looked up at call time, so wrappers around those
    names see every frame a request builds."""
    gran = select_granularity(params, now_ms)
    if gran.name != "full":
        args = (rollups, tenant_id, metric_names, gran, params.from_ms, params.to_ms,
                params.stats, rollup_type)
        return through_gate(series_scan(*args), to_rows, lambda: series_frame(*args).collect(),
                            log, "series read")
    if rollup_type != "basic":
        # the reference serves preagg FULL from its own table
        # (metrics_preaggregated_full, AstyanaxReader.getColumnFamily
        # Mapper full-resolution branch); this surface wires only the
        # basic metrics_full table, and series_scan_full's sample-echo
        # shaping is basic-specific — serving a preagg family from it
        # would silently return an empty series, the exact failure mode
        # this dispatch exists to make loud.
        raise InvalidRequestError(
            f"FULL-resolution serving for preaggregated family "
            f"'{rollup_type}' requires the preaggregated-full table, "
            "which this API does not wire; request a coarser point "
            "budget (5m+) or query the family's full table directly"
        )
    if raw is None:
        raise InvalidRequestError(
            "granularity selection chose FULL resolution; pass raw= (the "
            "metrics_full table) to serve it — the rollups table has no full rows"
        )
    args = (raw, tenant_id, metric_names, params.from_ms, params.to_ms, params.stats)
    return through_gate(series_scan_full(*args), to_rows, lambda: series_frame_full(*args).collect(),
                        log, "series read")


def get_view(
    rollups: DataFrame,
    tenant_id: str,
    metric_name: str,
    params: RollupsQueryParams,
    rollup_type: str | None = "basic",
    unit: str | None = None,
    now_ms: int | None = None,
    catalog: DataFrame | None = None,
    raw: DataFrame | None = None,
) -> dict:
    """GET /v2.0/:tenantId/views/:metricName end-to-end
    (HttpRollupsQueryHandler.java:89-161). Pass catalog (and
    rollup_type=None) to resolve the family from metadata (J2).

    When granularity selection picks FULL (short recent ranges with high
    point budgets), the scan dispatches to `raw` — the metrics_full
    equivalent — via series_scan_full; the rollups table only holds
    5m..1440m rows (schemas.ROLLUPS), so serving FULL from it would
    silently return an empty series. Callers that can serve FULL must
    pass `raw`; if they can't, the error is loud."""
    if rollup_type is None:
        if catalog is None:
            rollup_type = "basic"
        else:
            rollup_type = lookup_rollup_type(catalog, tenant_id, metric_name)
    rows = _series_rows(rollups, raw, tenant_id, [metric_name], params, rollup_type, now_ms)
    return shape_response(sorted(rows, key=_BY_TIME), params.stats, unit)


def get_views_multi(
    rollups: DataFrame,
    tenant_id: str,
    metric_names: list[str],
    params: RollupsQueryParams,
    rollup_type: str = "basic",
    max_metrics: int = 100,
    now_ms: int | None = None,
    raw: DataFrame | None = None,
) -> dict[str, dict]:
    """POST /v2.0/:tenantId/views multi-series
    (HttpMultiRollupsQueryHandler.java:80-151) — one pruned scan for all
    series (the reference's per-locator fetches collapse into one isin
    semi-filter), O2 limit enforced up front. FULL-resolution selection
    dispatches to `raw` like get_view (loud error when absent)."""
    if len(metric_names) > max_metrics:
        raise InvalidRequestError(f"Too many metrics fetched in a single call ({len(metric_names)} > {max_metrics})")
    by_name: dict[str, list] = {m: [] for m in metric_names}
    for r in _series_rows(rollups, raw, tenant_id, metric_names, params, rollup_type, now_ms):
        by_name.setdefault(r["metric_name"], []).append(r)
    return {
        m: shape_response(sorted(rows, key=_BY_TIME), params.stats)
        for m, rows in by_name.items()
    }
