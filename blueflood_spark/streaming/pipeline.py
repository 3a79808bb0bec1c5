"""Structured Streaming ingest + watermarked rollup (SURVEY §2.9, §3.2/§3.3).

The reference's hand-built streaming engine — Netty ingest → async fan-out
(metadata analyzer, discovery writer, batch writer) → dirty-slot marking →
scheduled rollup with delay tiers
(/root/reference/blueflood-core/.../service/ScheduleContext.java:193-298,
ShardStateManager.java:369-409, RollupService.java:246-294,
inputs/processors/BatchWriter.java:77-148) — collapses into:

- ONE streaming topology: readStream → validation split → foreachBatch
  {raw + delayed side-channel + rejected + catalog upsert}.
  The async fan-out becomes concurrent sink writes: each micro-batch is
  parsed and scanned ONCE into a cache, and its independent sinks are
  written from that cache at the same time (`_write_sinks`), so a batch
  costs about its slowest write, not the sum of all of them.
  Checkpointing replaces shard-state push/pull (S11); ~1500 LoC of
  scheduling machinery becomes engine-provided state.
- ONE sink rule for every stream, in place of the reference's same-key
  Cassandra overwrite (T7). foreachBatch is at-least-once: a crash
  between the writes and the checkpoint commit replays the micro-batch
  with the SAME batch_id. Every foreachBatch write therefore goes
  through `_overwrite_batch`, a static overwrite of
  `<sink>/batch_id=<id>` even when the frame is empty, so a replay
  rewrites its own directories instead of adding a second copy (the
  idempotent-sink recipe of Structured Streaming, SIGMOD 2018). The one
  exception is the discovery catalog, whose left-anti join makes its
  append idempotent. Stateful operators whose output is append-only
  (slot tracker, sessions, interval join, alert, CUSUM) keep Spark's
  file sink, whose commit log is exactly-once by itself. Readers see
  each foreachBatch sink as a table partitioned by batch_id; spark.read
  infers that column as INT from the directory names, so pin it with an
  explicit schema where the long type matters downstream. Every stream
  starts through `_start`.
- The rollup writer (rollup + events) stays serial: on a 4-core box,
  running its two writes concurrently as well gave the ingest stream no
  gain (traced ingest batch 2.6 s, against 1.5 s with only the ingest
  sinks concurrent), because both streams compete for the same cores.
- Watermarked windowed aggregation in APPEND mode: a window is emitted
  once the watermark (= ROLLUP_DELAY_MILLIS, 5 min) passes — the same
  "wait for quiet, then finalize" contract as slot eligibility (T3).
- Late data beyond the watermark (T4): ingest flags rows older than the
  delay (P2) into a `delayed` table (≈ metrics_delayed_locator, S8); the
  batch `reroll` job recomputes exactly the affected (series, window)
  groups from the raw table — mirroring the reference's delayed-locator
  re-roll at :145-174 of LocatorFetchRunnable.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from blueflood_spark.operators import granularity as G
from blueflood_spark.operators import rollup as R
from blueflood_spark.sources.ingest import INGEST_PAYLOAD, parse_ingest_json, validate

ROLLUP_DELAY_MS = 300_000  # CoreConfig.java:222


def read_ingest_stream(spark: SparkSession, input_path: str) -> DataFrame:
    """S1/S2 ingest source: file-based JSON stream with the fixed payload
    schema (tests feed files; production would swap in Kafka — the rest of
    the topology is source-agnostic)."""
    stream = spark.readStream.schema(INGEST_PAYLOAD).json(input_path)
    return parse_ingest_json(spark, stream)


def discovery_upsert(batch: DataFrame, catalog_path: str) -> None:
    """S9 discovery sink with the P7 locator-cache filter
    (cache/LocatorCache.java, DiscoveryWriter.java:44-150): only locators
    NOT already in the stored catalog are appended. The left-anti join
    plays the reference's in-memory cache role — without it every
    micro-batch re-upserts its whole locator set, which at 100 TB means
    rewriting a billion-row catalog once per batch. The catalog side of
    the anti-join is distinct locators (tiny vs samples) and arrives
    pruned to two columns."""
    spark = batch.sparkSession
    new_locs = (
        batch.groupBy("tenant_id", "metric_name").agg(F.max_by("unit", "ts").alias("unit"))
    )
    from pyspark.errors import AnalysisException

    try:
        existing = spark.read.parquet(catalog_path).select("tenant_id", "metric_name")
        new_locs = new_locs.join(existing, ["tenant_id", "metric_name"], "left_anti")
    except AnalysisException as e:  # first batch: no catalog yet
        # ONLY the missing-path case may pass — a corrupt footer, storage
        # timeout, or schema drift must surface, not silently disable the
        # anti-join and duplicate the catalog every batch
        if "PATH_NOT_FOUND" not in str(e) and "Path does not exist" not in str(e):
            raise
    # append only when the anti-join left something: an empty append still
    # writes a schema-only file, and every later anti-join and catalog
    # search would have to list one such file per micro-batch
    new_locs = new_locs.cache()
    try:
        if not new_locs.isEmpty():
            new_locs.write.mode("append").parquet(catalog_path)
    finally:
        new_locs.unpersist()


def _start(writer: DataStreamWriter, checkpoint: str, available_now: bool) -> StreamingQuery:
    """Start a stream on its checkpoint. available_now=True processes the
    input present at start and stops (tests); False runs until stopped."""
    writer = writer.option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _overwrite_batch(
    df: DataFrame, path: str, batch_id: int, partition_by: str | None = None
) -> None:
    """The sink rule (module docstring): statically overwrite
    `<path>/batch_id=<batch_id>`, even when `df` is empty. A replay runs
    with the same batch_id but a LATER wall clock, and ingest's
    validation and delay routing read that clock, so a row can change
    sinks between attempts. Rewriting every sink's whole directory on
    every attempt removes it from its old sink; a dynamic overwrite of
    the `partition_by` partitions, or skipping empty frames, would leave
    the first attempt's rows in place. The overwrite mode is pinned so a
    session-wide dynamic setting cannot change that."""
    writer = df.write.mode("overwrite").option("partitionOverwriteMode", "static")
    if partition_by is not None:
        writer = writer.partitionBy(partition_by)
    writer.parquet(f"{path.rstrip('/')}/batch_id={batch_id}")


def _write_sinks(cached: DataFrame, writes: list[Callable[[], None]]) -> None:
    """Run a micro-batch's independent sink writes concurrently, one
    thread per write, all reading the micro-batch's `cached` frame — the
    reference's async processor fan-out (Processor.apply hands a batch to
    the discovery and batch writers at once).

    Each write is wrapped on its own by inheritable_thread_target(session),
    which clones the stream thread's local properties per wrap: every
    thread carries the query's run-id job group (stop() cancels sink
    jobs) and gets its own SQL execution id. One shared wrapper would give
    all threads the same Properties object, and concurrent writes would
    overwrite each other's execution id. The session form also works
    under Spark Connect.

    Every write finishes before the first failure (in `writes` order) is
    raised, so no write of a failed attempt is still running when the
    replay starts; `cached` is unpersisted only after that."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    session = cached.sparkSession
    try:
        with ThreadPoolExecutor(max_workers=len(writes)) as pool:
            futures = [pool.submit(inheritable_thread_target(session)(w)) for w in writes]
        for f in futures:
            f.result()
    finally:
        cached.unpersist()


# the raw sink's layout as start_ingest writes it: the payload columns,
# then the batch_id and date partition columns
RAW_SINK_SCHEMA = (
    "tenant_id string, metric_name string, ts long, value double, unit string,"
    " ttl_seconds int, batch_id long, date date"
)


def read_raw_stream(spark: SparkSession, raw_path: str) -> DataFrame:
    """The raw sink as a stream: the source of the rollup, slot-tracker,
    alert, CUSUM and sketch streams."""
    return spark.readStream.schema(RAW_SINK_SCHEMA).parquet(raw_path)


def start_ingest(
    spark: SparkSession,
    input_path: str,
    raw_path: str,
    rejected_path: str,
    delayed_path: str,
    checkpoint: str,
    available_now: bool = True,
    dedup: bool = False,
    catalog_path: str | None = None,
):
    """Ingest topology via foreachBatch: validate (P1) with the batch-time
    clock, split valid/rejected, write raw, side-channel delayed rows
    (P2/S8), and (when catalog_path is given) upsert NEW locators to the
    discovery catalog behind the P7 cache filter. foreachBatch gives us
    the multi-sink fan-out the reference implements with async processors:
    the parsed micro-batch is cached once, valid and rejected both come
    from that cache (the source is scanned once, not once per sink), and
    the raw, delayed, rejected and catalog writes run concurrently through
    `_write_sinks`. The batch therefore costs about its slowest write
    instead of the sum of four write jobs.

    dedup=True drops duplicate samples (same locator + collection time)
    across the stream via dropDuplicatesWithinWatermark — the streaming
    form of the reference's idempotent same-key overwrite (T7): a client
    retrying an ingest POST cannot double-count."""
    stream = read_ingest_stream(spark, input_path)
    if dedup:
        stream = (
            stream.withColumn("event_time", F.timestamp_millis(F.col("ts")))
            .withWatermark("event_time", f"{ROLLUP_DELAY_MS // 1000} seconds")
            .dropDuplicatesWithinWatermark(["tenant_id", "metric_name", "ts"])
            .drop("event_time")
        )

    def process(batch: DataFrame, batch_id: int) -> None:
        import time

        now_ms = int(time.time() * 1000)
        batch = batch.cache()
        valid, rejected = validate(batch, now_ms)
        # validation and delay routing read the clock, so a replay may
        # route a row differently: every sink rewrites its batch_id
        # directory (_overwrite_batch). The discovery upsert is idempotent
        # by construction: its left-anti join filters out locators a
        # previous attempt already appended.
        writes = [
            lambda: _overwrite_batch(
                valid.withColumn("date", F.to_date(F.timestamp_millis(F.col("ts")))),
                raw_path,
                batch_id,
                partition_by="date",
            ),
            # record the affected 20m slot per delayed locator (S8: DELAYED_METRICS_REROLL_GRANULARITY)
            lambda: _overwrite_batch(
                valid.filter(F.col("ts") < F.lit(now_ms - ROLLUP_DELAY_MS))
                .select(
                    "tenant_id",
                    "metric_name",
                    R.window_start(F.col("ts"), G.MIN_20).alias("slot_window_start"),
                )
                .distinct(),
                delayed_path,
                batch_id,
            ),
            lambda: _overwrite_batch(rejected, rejected_path, batch_id),
        ]
        if catalog_path is not None:
            writes.append(lambda: discovery_upsert(valid, catalog_path))
        _write_sinks(batch, writes)

    return _start(stream.writeStream.foreachBatch(process), checkpoint, available_now)


def start_streaming_rollup(
    spark: SparkSession,
    raw_path: str,
    rollup_path: str,
    checkpoint: str,
    gran: G.Granularity = G.MIN_5,
    delay_ms: int = ROLLUP_DELAY_MS,
    available_now: bool = True,
    events_path: str | None = None,
):
    """T3/T5: watermarked 5m rollup in APPEND mode — a window's rollup is
    emitted once event time passes window_end + delay, the streaming
    equivalent of 'slot eligible when now − lastUpdate > ROLLUP_DELAY'.

    events_path (T6, RollupEventEmitter.java / RollupEvent.java): when
    set, each finalized window also emits a rollup-completion event row
    {locator, window_start, resolution, emitted_at_ms, batch_id} — the
    hook external consumers (the reference's Esper/event feeds) subscribe
    to. Emission rides the same foreachBatch as the rollup write, so an
    event exists iff its rollup batch committed."""
    agg = (
        read_raw_stream(spark, raw_path)
        .withColumn("event_time", F.timestamp_millis(F.col("ts")))
        .withWatermark("event_time", f"{delay_ms // 1000} seconds")
        .groupBy(
            F.window("event_time", f"{gran.milliseconds // 1000} seconds"),
            "tenant_id",
            "metric_name",
        )
        .agg(*R._basic_moments(F.col("value")))
        .select(
            "tenant_id",
            "metric_name",
            F.unix_millis(F.col("window.start")).alias("window_start"),
            F.lit(gran.name).alias("resolution"),
            "num_points",
            "avg",
            "var_pop",
            "min",
            "max",
            "sum",
            "sum_sq",
        )
    )

    def write(batch: DataFrame, batch_id: int) -> None:
        import time

        batch = batch.cache()
        _overwrite_batch(batch, rollup_path, batch_id)
        if events_path is not None:
            events = batch.select(
                "tenant_id",
                "metric_name",
                "window_start",
                "resolution",
                F.lit(int(time.time() * 1000)).alias("emitted_at_ms"),
            )
            _overwrite_batch(events, events_path, batch_id)
        batch.unpersist()

    return _start(
        agg.writeStream.outputMode("append").foreachBatch(write), checkpoint, available_now
    )


def start_slot_tracker(
    spark: SparkSession,
    raw_path: str,
    slots_out_path: str,
    checkpoint: str,
    gran: G.Granularity = G.MIN_20,
    delay_ms: int = ROLLUP_DELAY_MS,
    available_now: bool = True,
):
    """T2/T3 dirty-slot tracking as a CUSTOM STATEFUL OPERATOR
    (applyInPandasWithState): per (tenant, metric, slot) the state holds
    {n_samples, last_update}; a slot is emitted as "eligible" once no new
    sample has arrived for `delay_ms` (processing-time timeout) — exactly
    the reference's slot-eligibility rule 'now − lastUpdate > ROLLUP_DELAY'
    (ShardStateManager.java:369-409, ScheduleContext.java:234-269), with
    Spark's state store replacing metrics_state + the shard-state
    push/pull loop (S11).

    Emitted rows are the work queue a downstream rollup job consumes; in
    availableNow tests the timeout fires on the next start over the same
    checkpoint (≈ the reference's 60 s poll cycle)."""
    import pandas as pd

    slotted = read_raw_stream(spark, raw_path).withColumn(
        "slot_window_start", R.window_start(F.col("ts"), gran)
    )

    out_schema = (
        "tenant_id string, metric_name string, slot_window_start long,"
        " n_samples long, last_update_ms long"
    )
    state_schema = "n_samples long, last_update_ms long"

    def track(key, pdfs, state):
        import time as _t

        if state.hasTimedOut:
            n, last = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "tenant_id": [key[0]],
                    "metric_name": [key[1]],
                    "slot_window_start": [key[2]],
                    "n_samples": [n],
                    "last_update_ms": [last],
                }
            )
        else:
            n_new = 0
            for pdf in pdfs:
                n_new += len(pdf)
            now_ms = int(_t.time() * 1000)
            if state.exists:
                n, _ = state.get
                state.update((n + n_new, now_ms))
            else:
                state.update((n_new, now_ms))
            state.setTimeoutDuration(delay_ms)
            yield pd.DataFrame(
                {
                    "tenant_id": pd.Series([], dtype="str"),
                    "metric_name": pd.Series([], dtype="str"),
                    "slot_window_start": pd.Series([], dtype="int64"),
                    "n_samples": pd.Series([], dtype="int64"),
                    "last_update_ms": pd.Series([], dtype="int64"),
                }
            )

    eligible = slotted.groupBy("tenant_id", "metric_name", "slot_window_start").applyInPandasWithState(
        track,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf="ProcessingTimeTimeout",
    )
    return _start(
        eligible.writeStream.outputMode("append").format("parquet").option("path", slots_out_path),
        checkpoint,
        available_now,
    )


def reroll(
    spark: SparkSession,
    raw_path: str,
    delayed_path: str,
    gran: G.Granularity = G.MIN_5,
) -> DataFrame:
    """T4 batch re-roll: recompute rollups for exactly the (series, window)
    groups touched by post-watermark stragglers. The delayed table is tiny
    (distinct slots, not samples) → broadcast semi-join prunes the raw
    scan before the aggregation."""
    delayed = spark.read.parquet(delayed_path)
    raw = spark.read.parquet(raw_path)
    affected = delayed.select("tenant_id", "metric_name", "slot_window_start").distinct()
    pruned = raw.join(
        F.broadcast(affected),
        (raw.tenant_id == affected.tenant_id)
        & (raw.metric_name == affected.metric_name)
        & (R.window_start(raw.ts, G.MIN_20) == affected.slot_window_start),
        "left_semi",
    )
    return R.basic_from_raw(pruned, gran)


def reroll_preagg(
    spark: SparkSession,
    tables_dir: str,
    delayed_path: str,
    grans=(G.MIN_5, G.MIN_20),
    families=("counter", "gauge", "timer", "set"),
) -> dict[str, dict[str, DataFrame]]:
    """T4 batch re-roll for the PREAGGREGATED families (r7 verdict task
    9): recompute per-family rollups for exactly the (locator, family,
    20m slot) groups that start_preagg_ingest's delayed side-channel
    recorded — `reroll`'s shape, dispatched through the same
    preagg_cascade the serving path uses, so re-rolled windows are
    BIT-IDENTICAL to a from-scratch batch cascade over the slot's rows
    (the merge functions are exact integer/dyadic arithmetic; the
    differential test in test_streaming.py proves it per family).

    Scale: the delayed set is distinct slots, not samples → broadcast
    semi-join prunes each family table before any aggregation; re-roll
    cost tracks straggler volume, not corpus size."""
    delayed = spark.read.parquet(delayed_path)
    affected = delayed.select(
        "tenant_id", "metric_name", "rollup_type", "slot_window_start"
    ).distinct()
    parts = None
    for fam in families:
        p = spark.read.parquet(f"{tables_dir}/preagg_{fam}").drop("batch_id", "date")
        parts = p if parts is None else parts.unionByName(p)
    pruned = parts.join(
        F.broadcast(affected),
        (parts.tenant_id == affected.tenant_id)
        & (parts.metric_name == affected.metric_name)
        & (parts.rollup_type == affected.rollup_type)
        & (R.window_start(parts.ts, G.MIN_20) == affected.slot_window_start),
        "left_semi",
    )
    return R.preagg_cascade(pruned, grans=grans, families=families)


def start_preagg_ingest(
    spark: SparkSession,
    input_path: str,
    tables_dir: str,
    checkpoint: str,
    available_now: bool = True,
    catalog_path: str | None = None,
    delayed_path: str | None = None,
):
    """S3 aggregated (statsd) streaming ingest: JSON payloads with the
    AGGREGATED_PAYLOAD shape stream in, normalize_aggregated explodes
    them to flat preagg rows (PreaggregateConversions.java:48-129), and
    route_by_type (P4) fans each family out to its own table — the
    metrics_preaggregated_full equivalents (CassandraModel.java:68-80).
    Same topology as start_ingest: one stream, foreachBatch multi-sink
    fan-out. The normalized batch is cached once, and the delayed sink,
    the four family tables (partitioned by date inside each batch_id
    directory) and the catalog are written from it concurrently through
    `_write_sinks`."""
    from blueflood_spark.sources.ingest import (
        AGGREGATED_PAYLOAD,
        normalize_aggregated,
        route_by_type,
    )

    stream = spark.readStream.schema(AGGREGATED_PAYLOAD).json(input_path)

    def process(batch: DataFrame, batch_id: int) -> None:
        import time

        now_ms = int(time.time() * 1000)
        preagg = normalize_aggregated(batch).cache()

        # T4 for the preagg families (r7 verdict task 9): a flush whose
        # timestamp predates the rollup delay lands AFTER its window was
        # rolled — record the affected (locator, family, 20m slot) so
        # reroll_preagg can recompute exactly those groups
        writes = [] if delayed_path is None else [
            lambda: _overwrite_batch(
                preagg.filter(F.col("ts") < F.lit(now_ms - ROLLUP_DELAY_MS))
                .select(
                    "tenant_id",
                    "metric_name",
                    "rollup_type",
                    R.window_start(F.col("ts"), G.MIN_20).alias("slot_window_start"),
                )
                .distinct(),
                delayed_path,
                batch_id,
            )
        ]
        writes += [
            partial(
                _overwrite_batch,
                df.withColumn("date", F.to_date(F.timestamp_millis(F.col("ts")))),
                f"{tables_dir}/preagg_{fam}",
                batch_id,
                partition_by="date",
            )
            for fam, df in route_by_type(preagg).items()
        ]
        if catalog_path is not None:
            locs = preagg.withColumn("unit", F.lit(None).cast("string"))
            writes.append(lambda: discovery_upsert(locs, catalog_path))
        _write_sinks(preagg, writes)

    return _start(stream.writeStream.foreachBatch(process), checkpoint, available_now)


DOC_INGEST_SCHEMA = "doc_id LONG, text STRING, lang STRING, source STRING"


def start_doc_ingest(
    spark: SparkSession,
    input_path: str,
    kept_path: str,
    rejected_path: str,
    checkpoint: str,
    dedup_horizon: str = "1 hour",
    min_tokens: int = 5,
    available_now: bool = True,
):
    """Streaming training-corpus ingest: JSON document stream → stateful
    exact dedup → quality gate → kept/rejected parquet fan-out.

    Dedup is `dropDuplicatesWithinWatermark` on the content md5: the
    engine's state store holds one fingerprint per distinct document seen
    within `dedup_horizon` of processing time, deduping across
    micro-batches AND restarts (checkpointed state) with BOUNDED state —
    the streaming contract. Global all-time dedup is deliberately a batch
    job (operators/dedup.py exact_dedup over the materialized corpus);
    the stream guards the ingest edge, the batch pass owns history — the
    same split the metric path uses for rollups vs re-rolls.

    The quality gate runs inside foreachBatch (its signals are per-doc
    independent — a per-doc aggregation, no cross-doc state), splitting
    kept/rejected with the deterministic first-failing-rule verdict.

    INVARIANT NOTE: kept_path is NOT doc_id-unique across micro-batches.
    The duplicate-doc_id guard below is per-batch only; the same doc_id
    re-ingested with EDITED text in a later batch has a different
    content_md5, survives the content dedup, and writes a second row.
    That is the documented stream/batch split: the batch exact_dedup pass
    over the materialized corpus owns the doc_id-uniqueness invariant."""
    from blueflood_spark.operators.text import quality_gate

    stream = (
        spark.readStream.schema(DOC_INGEST_SCHEMA)
        .json(input_path)
        .filter(F.col("text").isNotNull())
        .withColumn("content_md5", F.md5(F.col("text")))
        .withColumn("ingest_ts", F.current_timestamp())
        .withWatermark("ingest_ts", dedup_horizon)
        .dropDuplicatesWithinWatermark(["content_md5"])
        .drop("ingest_ts")
    )

    def process(batch: DataFrame, batch_id: int) -> None:
        # doc_id is the downstream key: two surviving rows sharing an id
        # (same id re-ingested with EDITED text — different md5, so the
        # content dedup keeps both) would cross-multiply through the
        # verdict join and corrupt quality_gate's per-doc aggregation.
        # Keep one deterministically (lowest content hash).
        w = Window.partitionBy("doc_id").orderBy("content_md5")
        batch = (
            batch.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
            .cache()
        )
        verdicts = quality_gate(batch, min_tokens=min_tokens).select("doc_id", "keep", "drop_reason")
        joined = batch.join(verdicts, "doc_id").cache()
        kept = joined.filter(F.col("keep")).drop("keep", "drop_reason")
        _overwrite_batch(kept, kept_path, batch_id)
        _overwrite_batch(joined.filter(~F.col("keep")).drop("keep"), rejected_path, batch_id)
        joined.unpersist()
        batch.unpersist()

    return _start(stream.writeStream.foreachBatch(process), checkpoint, available_now)


def start_session_stream(
    spark: SparkSession,
    events_path: str,
    sessions_path: str,
    checkpoint: str,
    gap_seconds: int = 1800,
    watermark_seconds: int = 300,
    available_now: bool = True,
):
    """Streaming sessionization — the live counterpart of the batch
    session_window query (bf_sessionize): gap-based per-user sessions
    over an event stream via F.session_window, Spark's native stateful
    session operator. Events within `gap_seconds` of each other merge
    into one growing session; a session FINALIZES (append-mode emit)
    once the watermark passes its end + gap, so late events inside the
    watermark still extend their session instead of fragmenting it.

    Input parquet schema: user_id long, ts_ms long (epoch ms),
    event_type string. Output: one row per closed session —
    (user_id, session_start, session_end, n_events, span_ms).

    Scale shape: state is keyed by (user, open session) and bounded by
    the watermark — closed sessions leave the store; the shuffle is the
    session operator's own user-key exchange, identical to what the
    batch query pays. availableNow caveat (NOTES): the watermark
    advances BETWEEN micro-batches, so a single-batch run emits
    nothing — tests restart the stream (same checkpoint) after writing
    a watermark-advancing trailing file."""
    ev = spark.readStream.schema("user_id long, ts_ms long, event_type string").parquet(
        events_path
    )
    agg = (
        ev.withColumn("event_time", F.timestamp_millis(F.col("ts_ms")))
        .withWatermark("event_time", f"{watermark_seconds} seconds")
        .groupBy("user_id", F.session_window(F.col("event_time"), f"{gap_seconds} seconds"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts_ms").alias("session_start"),
            F.max("ts_ms").alias("session_end"),
        )
        .select(
            "user_id",
            "session_start",
            "session_end",
            "n_events",
            (F.col("session_end") - F.col("session_start")).alias("span_ms"),
        )
    )
    return _start(
        agg.writeStream.outputMode("append").format("parquet").option("path", sessions_path),
        checkpoint,
        available_now,
    )


def start_corpus_guard(
    spark: SparkSession,
    input_path: str,
    corpus_path: str,
    kept_path: str,
    dup_path: str,
    checkpoint: str,
    threshold: float = 0.12,
    available_now: bool = True,
):
    """Streaming corpus-membership guard — the live face of
    operators/dedup.incremental_dedup: every micro-batch of incoming
    documents is checked against a MATERIALIZED reference corpus (exact
    md5 identity + minhash-LSH near-dup with true-Jaccard verify);
    fresh docs land in kept_path, duplicates in dup_path with their
    matched corpus id and best Jaccard. The corpus is read once at
    stream start and cached — in production it is a persisted signature
    table; the per-batch cost is the incoming batch's own signatures
    plus band-index equi-joins (incremental_dedup's asymmetric shape),
    never a corpus rescan.

    Contract notes: the guard checks batch-vs-corpus only; intra-batch
    and intra-stream duplicates are start_doc_ingest's
    dropDuplicatesWithinWatermark's job (compose the two streams for
    both guarantees). The corpus index (hashes/bands/shingles/sizes) is
    built ONCE at stream start and cached — per-batch work is the
    batch's own signatures plus index equi-joins, never a corpus
    recompute; in production the index is the persisted output of
    write_dedup_index and stream start just reads it."""
    from blueflood_spark.operators.dedup import build_dedup_index, probe_dedup_index

    corpus = spark.read.parquet(corpus_path).select("doc_id", "text")
    index = build_dedup_index(corpus).cache().materialize()

    stream = (
        spark.readStream.schema(DOC_INGEST_SCHEMA)
        .json(input_path)
        .filter(F.col("text").isNotNull())
    )

    def process(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        # doc_id is the join-back key: two rows sharing an id in one
        # micro-batch would cross-multiply through the flags join and a
        # fresh text could inherit the other's dup verdict (same guard,
        # same reason as start_doc_ingest's). Keep one deterministically.
        w = Window.partitionBy("doc_id").orderBy(F.md5(F.col("text")))
        batch = (
            batch.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
            .cache()
        )
        flags = probe_dedup_index(batch, index, threshold=threshold)
        joined = batch.join(flags, "doc_id", "left").cache()
        dup = F.coalesce(F.col("exact_dup"), F.lit(False)) | F.coalesce(
            F.col("near_dup"), F.lit(False)
        )
        _overwrite_batch(joined.filter(~dup).select(*batch.columns), kept_path, batch_id)
        _overwrite_batch(joined.filter(dup), dup_path, batch_id)
        joined.unpersist()
        batch.unpersist()

    return _start(stream.writeStream.foreachBatch(process), checkpoint, available_now)


def start_touch_join_stream(
    spark: SparkSession,
    touches_path: str,
    conversions_path: str,
    out_path: str,
    checkpoint: str,
    within_seconds: int = 3600,
    watermark_seconds: int = 300,
    available_now: bool = True,
):
    """Stream-stream INTERVAL join — the live primitive behind
    attribution (the batch last_touch_attribution reduces these pairs to
    the latest per conversion): each conversion joins every touch of the
    same user from the preceding `within_seconds`. Watermarks on BOTH
    input streams plus the time-bound join condition let Spark derive a
    state TTL — a buffered touch is evicted once no future conversion
    can reach back to it, so join state is bounded by (touch rate ×
    interval), never by stream history. Inner-join matches emit eagerly
    (no watermark holdback), so an availableNow pass produces output in
    its first run, unlike the windowed aggregations (NOTES caveat).

    Input parquet schema (both sides): event_id long, user_id long,
    ts_ms long (epoch ms), event_type string. Output: one row per
    qualifying (conversion, touch) pair with the wait."""
    schema = "event_id long, user_id long, ts_ms long, event_type string"
    touches = (
        spark.readStream.schema(schema)
        .parquet(touches_path)
        .select(
            F.col("event_id").alias("touch_id"),
            F.col("user_id").alias("t_user"),
            F.col("ts_ms").alias("touch_ms"),
            F.col("event_type").alias("touch_type"),
            F.timestamp_millis(F.col("ts_ms")).alias("t_time"),
        )
        .withWatermark("t_time", f"{watermark_seconds} seconds")
    )
    convs = (
        spark.readStream.schema(schema)
        .parquet(conversions_path)
        .select(
            F.col("event_id").alias("conv_id"),
            F.col("user_id").alias("user_id"),
            F.col("ts_ms").alias("conv_ms"),
            F.timestamp_millis(F.col("ts_ms")).alias("c_time"),
        )
        .withWatermark("c_time", f"{watermark_seconds} seconds")
    )
    joined = convs.join(
        touches,
        F.expr(
            f"""
            t_user = user_id AND
            t_time >= c_time - INTERVAL {int(within_seconds)} SECONDS AND
            t_time < c_time
            """
        ),
        "inner",
    ).select(
        "conv_id",
        "user_id",
        "conv_ms",
        "touch_id",
        "touch_type",
        "touch_ms",
        (F.col("conv_ms") - F.col("touch_ms")).alias("wait_ms"),
    )
    return _start(
        joined.writeStream.outputMode("append").format("parquet").option("path", out_path),
        checkpoint,
        available_now,
    )


def _close_windows(pdfs, open_w, max_ts, closed_hi, window_ms, close_delay_ms, empty, add):
    """Per-series event-time window closing, shared by the alert and
    CUSUM machines. Folds each (ts, cents) sample into its open window
    with `add(acc, cents)`, starting from `empty`; drops samples for a
    window at or before `closed_hi`, the last window already consumed
    (the watermark rule — `close_delay_ms` is the allowed lateness); and
    raises the series' event-time high-water mark `max_ts`. Then pops,
    in ascending order, every open window that `max_ts` has passed by
    `window_ms + close_delay_ms`, so the machine never replays out of
    order. Returns ([(window_start, acc), ...], max_ts, closed_hi)."""
    for pdf in pdfs:
        ws_col = (pdf["ts"] // window_ms) * window_ms
        for ws, cents in zip(ws_col, pdf["cents"]):
            if int(ws) > closed_hi:  # watermark rule: too-late → drop
                open_w[int(ws)] = add(open_w.get(int(ws), empty), int(cents))
        if len(pdf):
            max_ts = max(max_ts, int(pdf["ts"].max()))
    closed = [
        (ws, open_w.pop(ws))
        for ws in sorted(w for w in open_w if w + window_ms + close_delay_ms <= max_ts)
    ]
    return closed, max_ts, closed[-1][0] if closed else closed_hi


def _event_frame(key, names, events):
    """A machine's output rows: the series key, then one column per name
    from the `events` tuples."""
    import pandas as pd

    cols = {"tenant_id": [key[0]] * len(events), "metric_name": [key[1]] * len(events)}
    cols.update(zip(names, map(list, zip(*events))))
    return pd.DataFrame(cols)


def _start_series_machine(
    spark, raw_path, out_path, checkpoint, available_now, machine, out_schema, state_schema
):
    """Run a per-series machine (alert, CUSUM) over the raw sink's
    samples in integer cents. The shuffle key is the series locator,
    exactly the rollup pipeline's partitioning; the machine's rows go to
    an append-only file sink."""
    samples = read_raw_stream(spark, raw_path).select(
        "tenant_id",
        "metric_name",
        "ts",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    out = samples.groupBy("tenant_id", "metric_name").applyInPandasWithState(
        machine,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf="NoTimeout",
    )
    return _start(
        out.writeStream.outputMode("append").format("parquet").option("path", out_path),
        checkpoint,
        available_now,
    )


def start_alert_stream(
    spark: SparkSession,
    raw_path: str,
    alerts_out_path: str,
    checkpoint: str,
    window_ms: int = 3_600_000,
    k_breach: int = 3,
    m_clear: int = 2,
    thresh_cents: int = 7000,
    close_delay_ms: int = 0,
    available_now: bool = True,
):
    """Streaming face of bf_alert_hysteresis: the K-consecutive-breach /
    M-consecutive-clear alert state machine as a CUSTOM STATEFUL
    OPERATOR (applyInPandasWithState). Per series the state carries the
    machine registers (alarm, current run flag/length), the OPEN
    windows' partial cent sums, and the series' event-time high-water
    mark; a window is CLOSED — and only then fed to the machine, in
    ascending order — once the series has seen a sample at least
    `window_ms + close_delay_ms` past its start (per-series event-time
    closing, `_close_windows`, the same discipline the batch twin gets
    for free from completed windows). Emits one row per OFF→ON / ON→OFF
    transition.

    Divergence note vs the batch twin: the stream emits the transition
    EVENTS (trigger/resolve timestamps — identical to the batch
    episodes' boundaries on the closed-window prefix); the batch
    episode's n_breach_windows (full triggering-run length) isn't known
    at trigger time in a stream, so it is not emitted here. Samples for
    a window the machine has already consumed are DROPPED (the
    watermark rule — `close_delay_ms` is the allowed lateness).

    Scale shape: state per series is O(open windows) — bounded by
    out-of-orderness, not history; the machine registers are O(1)."""
    import json as _json

    def machine(key, pdfs, state):
        if state.exists:
            alarm, run_flag, run_len, open_json, max_ts, closed_hi = state.get
            open_w = {int(k): int(v) for k, v in _json.loads(open_json).items()}
        else:
            alarm, run_flag, run_len, open_w, max_ts = 0, -1, 0, {}, 0
            closed_hi = -(2**62)
        closed, max_ts, closed_hi = _close_windows(
            pdfs, open_w, max_ts, closed_hi, window_ms, close_delay_ms, 0, lambda s, c: s + c
        )
        events = []
        for ws, cents in closed:
            flag = 1 if cents >= thresh_cents else 0
            if flag == run_flag:
                run_len += 1
            else:
                run_flag, run_len = flag, 1
            if flag == 1 and run_len == k_breach and alarm == 0:
                alarm = 1
                events.append((ws, "trigger"))
            elif flag == 0 and run_len == m_clear and alarm == 1:
                alarm = 0
                events.append((ws, "resolve"))
        state.update(
            (
                alarm,
                run_flag,
                run_len,
                _json.dumps({str(k): v for k, v in open_w.items()}),
                max_ts,
                closed_hi,
            )
        )
        if events:
            yield _event_frame(key, ("event_ms", "event"), events)

    return _start_series_machine(
        spark,
        raw_path,
        alerts_out_path,
        checkpoint,
        available_now,
        machine,
        "tenant_id string, metric_name string, event_ms long, event string",
        "alarm int, run_flag int, run_len int, open_json string, max_ts long, closed_hi long",
    )


def start_cusum_stream(
    spark: SparkSession,
    raw_path: str,
    changes_out_path: str,
    checkpoint: str,
    window_ms: int = 300_000,
    calib_windows: int = 12,
    h_mult: int = 6,
    close_delay_ms: int = 0,
    available_now: bool = True,
):
    """Streaming face of bf_change_cusum: Page's CUSUM as a CUSTOM
    STATEFUL OPERATOR (applyInPandasWithState). The batch twin scores a
    FINISHED series against its global mean; a stream cannot know that
    mean, so this is the standard online form — the first
    `calib_windows` CLOSED windows calibrate the reference (integer mean
    μ and threshold h = h_mult × integer mean absolute deviation), then
    each later closed window updates the classic one-sided accumulators
    C⁺ = max(0, C⁺ + (v−μ)) / C⁻ = max(0, C⁻ + (μ−v)) and emits an
    'up'/'down' change event when one crosses h (both reset after an
    event so the detector re-arms). All arithmetic is exact BIGINT on
    micro-quantized window means — the same fixed-point discipline as
    the batch twin, so the machine is bit-deterministic and
    replay-safe.

    Window closing, late-data, and state-size discipline are
    start_alert_stream's (`_close_windows`): per-series event-time
    closing at window_ms + close_delay_ms, samples for already-consumed
    windows dropped (watermark rule), state O(open windows) + O(1)
    registers.

    Divergence note vs the batch twin: the batch query flags against
    the whole-series mean (retrospective change-point analysis); the
    stream calibrates prospectively on its first windows — on a series
    whose calibration prefix matches the global mean the two agree on
    the shift point (asserted by the differential test)."""
    import json as _json

    def machine(key, pdfs, state):
        if state.exists:
            (n_closed, mu, h, calib_json, cpos, cneg,
             open_json, max_ts, closed_hi) = state.get
            calib = _json.loads(calib_json)
            open_w = {
                int(k): (int(v[0]), int(v[1]))
                for k, v in _json.loads(open_json).items()
            }
        else:
            n_closed, mu, h, calib, cpos, cneg = 0, 0, 0, [], 0, 0
            open_w, max_ts, closed_hi = {}, 0, -(2**62)
        closed, max_ts, closed_hi = _close_windows(
            pdfs, open_w, max_ts, closed_hi, window_ms, close_delay_ms,
            (0, 0), lambda a, c: (a[0] + c, a[1] + 1),
        )
        events = []
        for ws, (s, c) in closed:
            # window mean in micro units: cents → micro is ×10_000; the
            # integer division floors exactly like the batch twin's
            # floor(avg*1e6) on non-negative sums
            v = (s * 10_000) // c
            n_closed += 1
            if n_closed <= calib_windows:
                calib.append(v)
                if n_closed == calib_windows:
                    mu = sum(calib) // calib_windows
                    h = h_mult * (sum(abs(x - mu) for x in calib) // calib_windows)
                continue
            cpos = max(0, cpos + (v - mu))
            cneg = max(0, cneg + (mu - v))
            if cpos > h:
                events.append((ws, "up", cpos, h))
                cpos, cneg = 0, 0
            elif cneg > h:
                events.append((ws, "down", cneg, h))
                cpos, cneg = 0, 0
        state.update(
            (
                n_closed,
                mu,
                h,
                _json.dumps(calib),
                cpos,
                cneg,
                _json.dumps({str(k): list(v) for k, v in open_w.items()}),
                max_ts,
                closed_hi,
            )
        )
        if events:
            yield _event_frame(key, ("window_start", "direction", "cusum", "threshold"), events)

    return _start_series_machine(
        spark,
        raw_path,
        changes_out_path,
        checkpoint,
        available_now,
        machine,
        "tenant_id string, metric_name string, window_start long,"
        " direction string, cusum long, threshold long",
        "n_closed int, mu long, h long, calib_json string, cpos long,"
        " cneg long, open_json string, max_ts long, closed_hi long",
    )


def start_sketch_maintenance(
    spark: SparkSession,
    raw_path: str,
    sketch_path: str,
    checkpoint: str,
    depth: int = 4,
    width: int = 64,
    p: int = 8,
    available_now: bool = True,
):
    """Streaming maintenance of the monitoring sketches (foreachBatch):
    each micro-batch builds PARTIAL sketches with the exact batch
    operators — CMS cells over metric_name (hot-key tracking) and HLL
    registers of metric_name per tenant (cardinality) — and writes them
    under `cms/batch_id=<id>` and `hll/batch_id=<id>`. The merge happens
    at READ time and is trivial because both sketches are mergeable by
    design — CMS is linear (sum cells), HLL is a lattice (max registers)
    — so the merged table is bit-identical to the batch sketch over the
    same rows regardless of how the stream was chopped into micro-batches
    (asserted by the differential test). This is the 'streaming = batch'
    claim for the sketch family: same operators, same values, any
    arrival order."""
    from blueflood_spark.operators.sketches import count_min_sketch, hll_registers

    def merge(batch: DataFrame, batch_id: int) -> None:
        base = sketch_path.rstrip("/")
        cms = count_min_sketch(batch, "metric_name", depth=depth, width=width)
        hll = hll_registers(batch, "metric_name", ["tenant_id"], p=p)
        _overwrite_batch(cms, f"{base}/cms", batch_id)
        _overwrite_batch(hll, f"{base}/hll", batch_id)

    return _start(
        read_raw_stream(spark, raw_path).writeStream.foreachBatch(merge), checkpoint, available_now
    )


def read_cms_sketch(spark: SparkSession, sketch_path: str) -> DataFrame:
    """Merged CMS over all maintained partials: linear merge = sum per
    cell — one tiny agg over depth × width × n_batches rows."""
    parts = spark.read.parquet(sketch_path.rstrip("/") + "/cms")
    return parts.groupBy("j", "b").agg(F.sum("cell").alias("cell"))


def read_hll_sketch(spark: SparkSession, sketch_path: str) -> DataFrame:
    """Merged HLL registers: lattice merge = element-wise max."""
    parts = spark.read.parquet(sketch_path.rstrip("/") + "/hll")
    return parts.groupBy("tenant_id", "reg").agg(F.max("max_rho").alias("max_rho"))


def start_bloom_maintenance(
    spark: SparkSession,
    docs_path: str,
    bloom_path: str,
    checkpoint: str,
    m_bits: int = 4096,
    k: int = 3,
    available_now: bool = True,
):
    """Streaming maintenance of the corpus Bloom filter (foreachBatch):
    each micro-batch of documents builds a PARTIAL filter with the exact
    batch operator (sketches.bloom_words over md5(text) content keys)
    and writes it under `batch_id=<id>`. Merge happens at READ time and
    is the lattice bit_or — the merged word table is bit-identical to
    the batch filter over the same rows regardless of micro-batch
    chopping (same 'streaming = batch' contract as
    start_sketch_maintenance; asserted by the differential test). This
    is the day-2 ingestion shape for llm_bloom_dedup at 100 TB: history
    never rescans — the new batch probes the merged O(m/32)-row filter
    map-only, then appends its own partial."""
    from blueflood_spark.operators.sketches import bloom_words

    docs = spark.readStream.schema(
        "doc_id long, text string, lang string, source string, n_chars long"
    ).parquet(docs_path)

    def merge(batch: DataFrame, batch_id: int) -> None:
        keyed = batch.select(F.md5(F.col("text")).alias("key"))
        _overwrite_batch(bloom_words(keyed, "key", m_bits=m_bits, k=k), bloom_path, batch_id)

    return _start(docs.writeStream.foreachBatch(merge), checkpoint, available_now)


def read_bloom_filter(spark: SparkSession, bloom_path: str) -> DataFrame:
    """Merged Bloom filter over all maintained partials: lattice merge =
    per-word bit_or — one tiny agg over (m/32) × n_batches rows."""
    parts = spark.read.parquet(bloom_path.rstrip("/"))
    return parts.groupBy("word_idx").agg(F.expr("bit_or(word)").alias("word"))


def start_kmv_maintenance(
    spark: SparkSession,
    events_path: str,
    kmv_path: str,
    checkpoint: str,
    k: int = 64,
    value_col: str = "user_id",
    group_col: str = "event_type",
    available_now: bool = True,
):
    """Streaming maintenance of per-group KMV sketches (foreachBatch):
    each micro-batch builds a PARTIAL sketch with the exact batch
    operator (sketches.kmv_sketch — the k smallest md5 hashes of the
    batch's distinct values per group) under `batch_id=<id>`.
    Merge happens at READ time and is the k-minimum lattice: the k
    smallest of the union of per-batch k-smallest sets IS the k
    smallest of the union (any global top-k hash is in its own batch's
    top-k), so the merged sketch is bit-identical to the batch sketch
    over the same rows regardless of micro-batch chopping — the same
    'streaming = batch' contract as the CMS/HLL/Bloom maintenance.
    Day-2 shape for bf_kmv_overlap at 100 TB: overlap questions read k
    rows per group per batch, never the event history."""
    from blueflood_spark.operators.sketches import kmv_sketch

    ev = spark.readStream.schema(
        "event_id long, ts long, user_id long, event_type string,"
        " value double, props string"
    ).parquet(events_path)

    def merge(batch: DataFrame, batch_id: int) -> None:
        _overwrite_batch(kmv_sketch(batch, value_col, [group_col], k=k), kmv_path, batch_id)

    return _start(ev.writeStream.foreachBatch(merge), checkpoint, available_now)


def read_kmv_sketch(
    spark: SparkSession, kmv_path: str, k: int = 64, group_col: str = "event_type"
) -> DataFrame:
    """Merged KMV sketch over all maintained partials: k-minimum lattice
    merge — distinct hashes (the same value lands in several batches'
    sketches), then one rank window over ≤ k × n_batches rows/group.

    CONTRACT: `k` must be ≤ the k the maintenance job wrote with — the
    partials only retain their writer's k smallest hashes, so a larger
    read-side k would silently return values that are NOT the true
    k-minimum set (rank > writer-k rows can be wrong)."""
    parts = spark.read.parquet(kmv_path.rstrip("/"))
    w = Window.partitionBy(group_col).orderBy("h")
    return (
        parts.select(group_col, "h")
        .distinct()
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def start_exp_histogram_maintenance(
    spark: SparkSession,
    raw_path: str,
    hist_path: str,
    checkpoint: str,
    available_now: bool = True,
):
    """Streaming maintenance of the exponential-bucket histogram rollup
    (foreachBatch): each micro-batch builds PARTIAL 5m histograms with
    the exact batch operator (rollup.exp_histogram_from_raw) under
    `batch_id=<id>`. Merge at READ time is bucket-count ADDITION
    (exp_histogram_merge at the same granularity — the window snap is
    idempotent), so merged counts are bit-identical to the batch rollup
    over the same rows under any chopping. This is the constant-memory
    streaming alternative to the exact-percentile timer path: O(64)
    state per series-window."""

    def merge(batch: DataFrame, batch_id: int) -> None:
        _overwrite_batch(R.exp_histogram_from_raw(batch, G.MIN_5), hist_path, batch_id)

    return _start(
        read_raw_stream(spark, raw_path).writeStream.foreachBatch(merge), checkpoint, available_now
    )


def read_exp_histogram(spark: SparkSession, hist_path: str) -> DataFrame:
    """Merged exponential histogram over all maintained partials: counts
    ADD per (locator, window, bucket) — one tiny agg over the partials."""
    parts = spark.read.parquet(hist_path.rstrip("/"))
    return R.exp_histogram_merge(parts, G.MIN_5)
