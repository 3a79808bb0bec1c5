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

Execution: a series read is stated once, as a ScanSpec (table, partition
equalities, predicates, projection). Its Spark plan (series_frame /
series_frame_full) is the definition of the result. Reading the same spec
on the driver with pyarrow.dataset is a gated shortcut, taken only when
the table is a plain, uncached parquet file scan of local files whose
partition-pruned files total at most _DRIVER_READ_MAX_BYTES; a dashboard
read of tens of rows then costs no Spark job. Every other table, and any
failure on the way to a driver read, runs the Spark job. Both paths
share shape_response, and each request logs the path it took at DEBUG.
"""

from __future__ import annotations

import logging
import os
from collections.abc import Callable
from dataclasses import dataclass, field
from functools import reduce
from operator import and_, itemgetter
from urllib.parse import unquote, urlparse

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from blueflood_spark.operators import granularity as G

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


@dataclass(frozen=True)
class Lit:
    """A constant output column: FULL's numPoints (1) and variance (0.0)."""

    value: object


# predicate operators, each written once: they apply alike to a Spark
# Column (scan_frame) and to a pyarrow.compute field (the driver read)
_OPS = {
    "==": lambda c, v: c == v,
    "isin": lambda c, v: c.isin(v),
    ">=": lambda c, v: c >= v,
    "<": lambda c, v: c < v,
}


@dataclass(frozen=True)
class ScanSpec:
    """One series read, stated once. `scan_frame` turns it into the Spark
    frame that defines the result; the driver read takes its file pruning,
    row filter and projection from the same fields.

    - partition: (column, value) equalities on a column that a table may
      store as `column=value` directories (rollups: `resolution`);
    - where: (column, op, value) predicates, op a key of _OPS;
    - select: (output name, source column or Lit), in output order."""

    table: DataFrame
    partition: tuple[tuple[str, str], ...]
    where: tuple[tuple[str, str, object], ...]
    select: tuple[tuple[str, str | Lit], ...]


def scan_frame(spec: ScanSpec) -> DataFrame:
    """The Spark frame of a scan spec: one filter, one projection."""
    preds = [(c, "==", v) for c, v in spec.partition] + list(spec.where)
    cond = reduce(and_, (_OPS[op](F.col(c), v) for c, op, v in preds))
    cols = [
        F.lit(src.value).alias(name) if isinstance(src, Lit)
        else F.col(src) if src == name else F.col(src).alias(name)
        for name, src in spec.select
    ]
    return spec.table.filter(cond).select(*cols)


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
    MetricsRWDelegator.java:87-101). Missing/unknown → basic."""
    rows = (
        catalog.filter(
            (F.col("tenant_id") == tenant_id) & (F.col("metric_name") == metric_name)
        )
        .select("rollup_type")
        .limit(1)
        .collect()
    )
    if rows and rows[0]["rollup_type"]:
        return rows[0]["rollup_type"]
    return "basic"


# ---------------------------------------------------------------------------
# the driver read: a gated shortcut for small plain parquet scans
# ---------------------------------------------------------------------------

# Largest summed size of the pruned parquet files that a series read serves
# on the driver with pyarrow.dataset instead of as a Spark job. Below it the
# job's fixed cost dominates; CHANGES.md records the probe it was picked from.
_DRIVER_READ_MAX_BYTES = 16 << 20

_NUMERIC_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.FloatType, T.DoubleType)
# Spark types whose values a driver read returns exactly as a Spark Row does
_PLAIN_TYPES = (T.StringType, T.BooleanType) + _NUMERIC_TYPES


class _SparkOnly(Exception):
    """Why a series read must run as its Spark job."""


def _returns_plain(dt: T.DataType) -> bool:
    if isinstance(dt, T.MapType):
        return _returns_plain(dt.keyType) and _returns_plain(dt.valueType)
    return isinstance(dt, _PLAIN_TYPES)


def _compares_plain(dt: T.DataType, value) -> bool:
    """Arrow compares `value` with a column of type `dt` as Spark does:
    strings with binary-collated strings, numbers with numbers."""
    values = value if isinstance(value, list) else [value]
    if dt == T.StringType():
        return all(isinstance(v, str) for v in values)
    return isinstance(dt, _NUMERIC_TYPES) and all(
        isinstance(v, (int, float)) and not isinstance(v, bool) for v in values
    )


def _dir_value(path: str, column: str) -> str | None:
    """The value of the innermost `column=value` directory of a file path,
    unescaped as Spark escapes partition values."""
    for seg in reversed(path.split("/")[:-1]):
        key, eq, value = seg.partition("=")
        if eq and key == column:
            return unquote(value)
    return None


def _local_scan(spec: ScanSpec) -> tuple[list[str], list, T.StructType]:
    """What a driver read of `spec` scans: the local parquet files left
    after pruning partition directories, the predicates left for the rows,
    and the Spark schema of the columns it reads. Raises _SparkOnly when
    the table is not a plain, uncached parquet file scan, a file is not
    local, or a column would not compare or convert exactly as in Spark.

    The files come from `inputFiles()`, Spark's own cached listing, so both
    paths see the same files. That listing is not pruned by partition
    filters on path-based tables, hence the pruning here."""
    df = spec.table
    plan = df._jdf.queryExecution().analyzed()
    rel = plan.relation() if plan.getClass().getSimpleName() == "LogicalRelation" else None
    if (
        rel is None
        or rel.getClass().getSimpleName() != "HadoopFsRelation"
        or rel.fileFormat().getClass().getSimpleName() != "ParquetFileFormat"
    ):
        raise _SparkOnly("not a plain parquet scan")
    if df.storageLevel != StorageLevel.NONE:
        raise _SparkOnly("cached")
    dirs = set(rel.partitionSchema().fieldNames())
    types = {f.name: f.dataType for f in df.schema.fields}
    # a partition equality prunes directories when its column is one;
    # otherwise (e.g. `resolution` in a batch_id=N/ sink) it filters rows
    prune = {c: v for c, v in spec.partition if c in dirs}
    preds = [(c, "==", v) for c, v in spec.partition if c not in dirs] + list(spec.where)
    sources = [src for _, src in spec.select if not isinstance(src, Lit)]
    needed = list(dict.fromkeys([c for c, _, _ in preds] + sources))
    if any(c not in types or c in dirs for c in needed):
        raise _SparkOnly("reads a partition or unknown column")
    if not (
        all(types[c] == T.StringType() and isinstance(v, str) for c, v in prune.items())
        and all(_compares_plain(types[c], v) for c, _, v in preds)
        and all(_returns_plain(types[c]) for c in sources)
    ):
        raise _SparkOnly("a column type Arrow may treat differently")
    files = []
    for uri in df.inputFiles():
        u = urlparse(uri)
        if u.scheme != "file":
            raise _SparkOnly(f"non-local file {uri}")
        path = unquote(u.path)
        if all(_dir_value(path, c) == v for c, v in prune.items()):
            files.append(path)
    return sorted(files), preds, T.StructType([df.schema[c] for c in needed])


def _read_on_driver(spec: ScanSpec, files: list[str], preds: list, schema: T.StructType) -> list[dict]:
    """Rows of `spec` read from `files` with pyarrow.dataset: the read
    schema is Spark's, converted to Arrow, so types match under a
    user-given schema; a file whose column Spark would resolve differently
    (a case-only name match, a type other than the schema's or one Spark's
    reader widens to it) raises _SparkOnly."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as ds
    from pyspark.sql.pandas.types import to_arrow_schema

    want = to_arrow_schema(schema)
    widens = {(pa.int32(), pa.int64()), (pa.float32(), pa.float64())}
    dataset = ds.dataset(files, schema=want, format="parquet")
    for frag in dataset.get_fragments():
        physical = frag.physical_schema
        for f in want:
            i = physical.get_field_index(f.name)
            got = physical.field(i).type if i >= 0 else None
            if got is None:
                if any(n.lower() == f.name.lower() for n in physical.names):
                    raise _SparkOnly(f"{frag.path}: column {f.name} differs in case")
            elif not (
                got == f.type
                or (got, f.type) in widens
                or (pa.types.is_map(got) and pa.types.is_map(f.type)
                    and (got.key_type, got.item_type) == (f.type.key_type, f.type.item_type))
            ):
                raise _SparkOnly(f"{frag.path}: column {f.name} is {got}, not {f.type}")
    cond = reduce(and_, (_OPS[op](pc.field(c), v) for c, op, v in preds)) if preds else None
    table = dataset.to_table(filter=cond)
    cols = {}
    for f in schema.fields:
        vals = table.column(f.name).to_pylist()
        if isinstance(f.dataType, T.MapType):  # Arrow gives a map as a list of pairs
            vals = [None if m is None else dict(m) for m in vals]
        cols[f.name] = vals
    n = table.num_rows
    names = [name for name, _ in spec.select]
    columns = [[src.value] * n if isinstance(src, Lit) else cols[src] for _, src in spec.select]
    return [dict(zip(names, vals)) for vals in zip(*columns)]


def _collect(spec: ScanSpec, frame: Callable[[], DataFrame]) -> list:
    """Rows of `spec`: read on the driver when its table is a plain parquet
    scan whose pruned files total at most _DRIVER_READ_MAX_BYTES, else
    collected from the Spark job of `frame()`. Anything that fails on the
    way to a driver read also runs the job, so the result, or the error,
    is the Spark plan's."""
    files: list[str] = []
    nbytes = 0
    try:
        files, preds, schema = _local_scan(spec)
        nbytes = sum(os.path.getsize(p) for p in files)
        if nbytes > _DRIVER_READ_MAX_BYTES:
            raise _SparkOnly("over the size gate")
        rows = _read_on_driver(spec, files, preds, schema)
    except _SparkOnly as e:
        why = str(e)
    except Exception as e:  # no listing (Spark Connect, API drift), a file gone, an Arrow error
        log.debug("driver read failed; running the Spark job", exc_info=True)
        why = f"driver read failed: {type(e).__name__}"
    else:
        log.debug("series read on the driver: %d files, %d bytes", len(files), nbytes)
        return rows
    log.debug("series read as a Spark job (%s): %d files, %d bytes", why, len(files), nbytes)
    return frame().collect()


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
    dispatch to `raw`, and the read gate (_collect), once for get_view and
    get_views_multi. The frame is built through series_frame /
    series_frame_full, looked up at call time, so wrappers around those
    names see every frame a request builds."""
    gran = select_granularity(params, now_ms)
    if gran.name != "full":
        args = (rollups, tenant_id, metric_names, gran, params.from_ms, params.to_ms,
                params.stats, rollup_type)
        return _collect(series_scan(*args), lambda: series_frame(*args))
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
    return _collect(series_scan_full(*args), lambda: series_frame_full(*args))


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
