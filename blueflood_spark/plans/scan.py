"""The read gate of the serve endpoints: a request's scan stated once, as a
ScanSpec (table, partition equalities, predicates, projection).

Its Spark frame (scan_frame, plus whatever the endpoint applies on top) is
the definition of the result. Reading the same spec on the driver with
pyarrow.dataset is a gated shortcut, taken only when the table is a plain,
uncached parquet file scan of local files whose partition-pruned files
total at most _DRIVER_READ_MAX_BYTES; a dashboard request over tens or
hundreds of rows then costs no Spark job. Every other table, and any
failure on the way to a driver result (no file listing under Spark
Connect, a file deleted or unreadable, an Arrow error, an endpoint's own
SparkOnly), runs the Spark plan instead. through_gate applies this rule
and logs the path each request took at DEBUG on the caller's logger.

The driver read hands its endpoint an Arrow table of the spec's output
columns; to_rows turns it into Row-like dicts. Endpoints that return a
DataFrame wrap their driver result with local_frame: a LocalRelation of
the Spark frame's schema, so the caller's collect() runs no job and sees
the same schema either way. They build their Spark frame only on the Spark
path: the LocalRelation's schema comes from plan_schema, a memo keyed by
everything that schema depends on and filled by building the plan once.
Their reads are bounded: files that hold more than _LOCAL_FRAME_MAX_ROWS
rows in all run the Spark plan.

A driver-path request makes few py4j round trips: the facts a table
handle fixes (a plain parquet scan, its partition columns, its schema) are
memoized per handle; only its cache state and its file listing, which can
change under the handle, are read per request.
"""

from __future__ import annotations

import logging
import os
import weakref
from collections.abc import Callable
from dataclasses import dataclass
from functools import reduce
from operator import and_
from typing import TYPE_CHECKING, TypeVar
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

if TYPE_CHECKING:
    import pyarrow as pa

# Largest summed size of the pruned parquet files that a request serves on
# the driver with pyarrow.dataset instead of as a Spark job. Below it the
# job's fixed cost dominates; CHANGES.md records the probe it was picked from.
_DRIVER_READ_MAX_BYTES = 16 << 20

# Most rows the files of a bounded driver read (through_gate's `bounded`)
# may hold. The endpoints that answer with a LocalRelation frame (events,
# the catalog searches) decode every row of a tenant or time range, send
# each row they return from Python back to the JVM, and a search matches
# each name with Python's re: past a few ten thousand rows the Spark job is
# faster. Counted from the parquet footers, before any data is read.
# CHANGES.md records the probe it was picked from.
_LOCAL_FRAME_MAX_ROWS = 10_000


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
    """One read, stated once. `scan_frame` turns it into the Spark frame
    that defines the result; the driver read takes its file pruning, row
    filter and projection from the same fields.

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


_NUMERIC_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.FloatType, T.DoubleType)
# Spark types whose values a driver read returns exactly as a Spark Row does
_PLAIN_TYPES = (T.StringType, T.BooleanType) + _NUMERIC_TYPES


class SparkOnly(Exception):
    """Why a request must run as its Spark plan."""


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


@dataclass(frozen=True)
class _Table:
    """The facts of a plain parquet table handle that _local_scan needs:
    its partition columns and its schema."""

    dirs: frozenset[str]
    schema: T.StructType


# Per table handle: its _Table, or why it is not a plain parquet file scan.
# A DataFrame's analyzed plan never changes, so neither do these facts;
# DataFrames hash by identity, and a handle's entry goes with it. What
# can change under a handle (its cache state, its file listing) is read
# per request. No lock: two requests that fill the same handle at once
# store equal facts.
_TABLES: weakref.WeakKeyDictionary[DataFrame, _Table | str] = weakref.WeakKeyDictionary()


def _table(df: DataFrame) -> _Table:
    """`df`'s memoized _Table; raises SparkOnly when `df` is not a plain
    parquet file scan (a LogicalRelation over a parquet HadoopFsRelation)."""
    facts = _TABLES.get(df)
    if facts is None:
        plan = df._jdf.queryExecution().analyzed()
        rel = plan.relation() if plan.getClass().getSimpleName() == "LogicalRelation" else None
        if (
            rel is None
            or rel.getClass().getSimpleName() != "HadoopFsRelation"
            or rel.fileFormat().getClass().getSimpleName() != "ParquetFileFormat"
        ):
            facts = "not a plain parquet scan"
        else:
            facts = _Table(frozenset(rel.partitionSchema().fieldNames()), df.schema)
        _TABLES[df] = facts
    if isinstance(facts, str):
        raise SparkOnly(facts)
    return facts


def _local_scan(spec: ScanSpec) -> tuple[list[str], list, T.StructType]:
    """What a driver read of `spec` scans: the local parquet files left
    after pruning partition directories, the predicates left for the rows,
    and the Spark schema of the columns it reads. Raises SparkOnly when
    the table is not a plain, uncached parquet file scan, a file is not
    local, or a column would not compare or convert exactly as in Spark.

    The files come from `inputFiles()`, Spark's own cached listing, so both
    paths see the same files. That listing is not pruned by partition
    filters on path-based tables, hence the pruning here. The table's
    facts are memoized per handle (_table); its cache state and listing
    are read on every call."""
    df = spec.table
    table = _table(df)
    # an uncached plan's storage level is NONE, the one level that holds no data
    if df._jdf.storageLevel().isValid():
        raise SparkOnly("cached")
    dirs = table.dirs
    types = {f.name: f.dataType for f in table.schema.fields}
    # a partition equality prunes directories when its column is one;
    # otherwise (e.g. `resolution` in a batch_id=N/ sink) it filters rows
    prune = {c: v for c, v in spec.partition if c in dirs}
    preds = [(c, "==", v) for c, v in spec.partition if c not in dirs] + list(spec.where)
    sources = [src for _, src in spec.select if not isinstance(src, Lit)]
    needed = list(dict.fromkeys([c for c, _, _ in preds] + sources))
    if any(c not in types or c in dirs for c in needed):
        raise SparkOnly("reads a partition or unknown column")
    if not (
        all(types[c] == T.StringType() and isinstance(v, str) for c, v in prune.items())
        and all(_compares_plain(types[c], v) for c, _, v in preds)
        and all(_returns_plain(types[c]) for c in sources)
    ):
        raise SparkOnly("a column type Arrow may treat differently")
    files = []
    for uri in df.inputFiles():
        u = urlparse(uri)
        if u.scheme != "file":
            raise SparkOnly(f"non-local file {uri}")
        path = unquote(u.path)
        if all(_dir_value(path, c) == v for c, v in prune.items()):
            files.append(path)
    return sorted(files), preds, T.StructType([table.schema[c] for c in needed])


def _read_on_driver(
    spec: ScanSpec, files: list[str], preds: list, schema: T.StructType, max_rows: int | None = None
) -> pa.Table:
    """`spec` read from `files` with pyarrow.dataset, as an Arrow table of
    its output columns: Arrow applies the row filter, and the read
    schema is Spark's, converted to Arrow, so types match under a
    user-given schema; a file whose column Spark would resolve differently
    (a case-only name match, a type other than the schema's or one Spark's
    reader widens to it) raises SparkOnly, as do files that hold more than
    `max_rows` rows in all."""
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
                    raise SparkOnly(f"{frag.path}: column {f.name} differs in case")
            elif not (
                got == f.type
                or (got, f.type) in widens
                or (pa.types.is_map(got) and pa.types.is_map(f.type)
                    and (got.key_type, got.item_type) == (f.type.key_type, f.type.item_type))
            ):
                raise SparkOnly(f"{frag.path}: column {f.name} is {got}, not {f.type}")
    if max_rows is not None:
        nrows = sum(frag.metadata.num_rows for frag in dataset.get_fragments())
        if nrows > max_rows:
            raise SparkOnly(f"files hold {nrows} rows, over {max_rows}")
    cond = reduce(and_, (_OPS[op](pc.field(c), v) for c, op, v in preds)) if preds else None
    table = dataset.to_table(filter=cond)
    return pa.table({
        name: pa.repeat(src.value, table.num_rows) if isinstance(src, Lit) else table.column(src)
        for name, src in spec.select
    })


def to_rows(table: pa.Table) -> list[dict]:
    """A driver read's Arrow table as rows, valued as a Spark Row's
    asDict() would be (Arrow gives a map as a list of pairs)."""
    import pyarrow as pa

    cols = {}
    for f in table.schema:
        col = table.column(f.name)
        # a string column is read through numpy: the same str / None values, ~10x faster
        vals = col.to_numpy(zero_copy_only=False).tolist() if pa.types.is_string(f.type) else col.to_pylist()
        if pa.types.is_map(f.type):
            vals = [None if m is None else dict(m) for m in vals]
        cols[f.name] = vals
    return [dict(zip(cols, vals)) for vals in zip(*cols.values())]


R = TypeVar("R")


def through_gate(
    spec: ScanSpec,
    on_driver: Callable[[pa.Table], R],
    on_spark: Callable[[], R],
    log: logging.Logger,
    what: str,
    bounded: bool = False,
) -> R:
    """on_driver(`spec` read on the driver, as an Arrow table) when
    `spec`'s table is a plain parquet scan whose pruned files total at
    most _DRIVER_READ_MAX_BYTES, else on_spark(). Anything that fails on the
    way to on_driver's result also runs on_spark(), so the result, or the
    error, is the Spark plan's. The path taken is logged on `log`.

    bounded: on_driver answers with a LocalRelation frame (local_frame);
    files that hold more than _LOCAL_FRAME_MAX_ROWS rows run on_spark()."""
    files: list[str] = []
    nbytes = 0
    try:
        files, preds, schema = _local_scan(spec)
        nbytes = sum(os.path.getsize(p) for p in files)
        if nbytes > _DRIVER_READ_MAX_BYTES:
            raise SparkOnly("over the size gate")
        max_rows = _LOCAL_FRAME_MAX_ROWS if bounded else None
        out = on_driver(_read_on_driver(spec, files, preds, schema, max_rows))
    except SparkOnly as e:
        why = str(e)
    except Exception as e:  # no listing (Spark Connect, API drift), a file gone, an Arrow error
        log.debug("driver read failed; running the Spark plan", exc_info=True)
        why = f"driver read failed: {type(e).__name__}"
    else:
        log.debug("%s on the driver: %d files, %d bytes", what, len(files), nbytes)
        return out
    log.debug("%s as a Spark job (%s): %d files, %d bytes", what, why, len(files), nbytes)
    return on_spark()


# The output schema of a frame-returning endpoint's plan, keyed by the
# endpoint, its options that change the schema, and the schema of the
# table it reads: everything the schema depends on. Filled by building the
# plan once, so the Spark plan stays the only source of the schema. No
# lock: two requests that fill the same key at once store equal schemas.
_PLAN_SCHEMAS: dict[tuple, T.StructType] = {}


def plan_schema(spec: ScanSpec, key: tuple, plan: Callable[[], DataFrame]) -> T.StructType:
    """The schema of `plan()`, an endpoint's Spark frame over `spec`'s
    plain parquet table, memoized under `key` (the endpoint and its
    schema-changing options) and the table's schema."""
    full = (*key, _table(spec.table).schema)
    schema = _PLAN_SCHEMAS.get(full)
    if schema is None:
        schema = _PLAN_SCHEMAS[full] = plan().schema
    return schema


def local_frame(spark: SparkSession, schema: T.StructType, data: pa.Table | list[dict]) -> DataFrame:
    """`data` (an Arrow table with `schema`'s columns, or rows) as a
    LocalRelation-backed frame of `schema`: its collect() runs no Spark
    job."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    want = to_arrow_schema(schema)
    table = data.cast(want) if isinstance(data, pa.Table) else pa.Table.from_pylist(data, schema=want)
    return spark.createDataFrame(table, schema=schema)
