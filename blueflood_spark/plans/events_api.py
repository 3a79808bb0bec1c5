"""Events query endpoint (SURVEY §2.11):
`GET /v2.0/:tenantId/events/getEvents?from&until[&tags]`.

Reference: /root/reference/blueflood-http/.../HttpEventsQueryHandler.java:
45-75 — from/until accept the human date grammar (DateTimeParser, F3) and
are converted to epoch SECONDS at the query boundary (:72-75); the tags
parameter is an exact term filter (EventElasticSearchIO.java:60-100).

Execution: the request is a ScanSpec (events_scan, plans/scan.py) whose
Spark plan, events_frame, ordered by `when`, defines the result. When the
events table is a small plain parquet scan whose files hold at most
_LOCAL_FRAME_MAX_ROWS rows (plans/scan.py), get_events reads the rows
eagerly, at call time, on the driver, sorts them by `when` in Arrow and
returns them as a LocalRelation frame of the plan's schema, taken from the
schema memo (scan.plan_schema): it builds no Spark frame, and collecting
it runs no Spark job. Otherwise it returns the lazy events_frame, as
before. The path is logged at DEBUG on this module's logger.
"""

from __future__ import annotations

import logging
from datetime import datetime
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame

from blueflood_spark.functions.datetime_parser import parse_datetime
from blueflood_spark.plans.scan import ScanSpec, local_frame, plan_schema, scan_frame, through_gate

if TYPE_CHECKING:
    import pyarrow as pa

log = logging.getLogger(__name__)


def events_scan(
    events: DataFrame,
    tenant_id: str,
    from_str: str | None = None,
    until_str: str | None = None,
    tags: str | None = None,
    now: datetime | None = None,
) -> ScanSpec:
    """The scan of a get_events request: the events table (schemas.EVENTS:
    when is epoch seconds) filtered by tenant, parsed time range, and
    optional exact tag match (an equality drops null tags)."""
    where = [("tenant_id", "==", tenant_id)]
    if from_str:
        where.append(("when", ">=", int(parse_datetime(from_str, now).timestamp())))
    if until_str:
        where.append(("when", "<", int(parse_datetime(until_str, now).timestamp())))
    if tags:
        # reference tags filter is a term match on the tags field
        where.append(("tags", "==", tags))
    return ScanSpec(events, partition=(), where=tuple(where), select=tuple((c, c) for c in events.columns))


def events_frame(
    events: DataFrame,
    tenant_id: str,
    from_str: str | None = None,
    until_str: str | None = None,
    tags: str | None = None,
    now: datetime | None = None,
) -> DataFrame:
    """The Spark plan of a get_events request: its scan, ordered by `when`."""
    return scan_frame(events_scan(events, tenant_id, from_str, until_str, tags, now)).orderBy("when")


def get_events(
    events: DataFrame,
    tenant_id: str,
    from_str: str | None = None,
    until_str: str | None = None,
    tags: str | None = None,
    now: datetime | None = None,
) -> DataFrame:
    """The events of `tenant_id` in the parsed time range, with an
    optional exact tag match, ordered by `when` (events_frame)."""
    args = (events, tenant_id, from_str, until_str, tags, now)
    spec = events_scan(*args)
    plan = lambda: events_frame(*args)  # noqa: E731

    def on_driver(table: pa.Table) -> DataFrame:
        # as Spark's ascending sort: nulls first; ties may come in any order
        rows = table.sort_by([("when", "ascending")], null_placement="at_start")
        return local_frame(events.sparkSession, plan_schema(spec, ("get_events",), plan), rows)

    return through_gate(spec, on_driver, plan, log, "events read", bounded=True)
