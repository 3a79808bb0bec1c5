"""SparkSession factory tuned for this engine.

Local test profile runs on local[N]; the same settings (AQE, shuffle
partitions sized to cores, Arrow for the few pandas exchanges) are the
ones we'd set cluster-side at 100 TB — shuffle partition count and
maxPartitionBytes would scale with executor count, not be hardcoded.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "blueflood_spark",
    shuffle_partitions: int | None = None,
    **extra_confs: str,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        env_shuffle = os.environ.get("SPARK_GRAFT_SHUFFLE", "")
        if env_shuffle.isdigit():
            shuffle_partitions = int(env_shuffle)
        else:
            shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # PySpark 4's per-op origin capture (error call-site tracking)
        # costs ~3 extra py4j round trips on EVERY DataFrame/Column op:
        # PySparkCurrentOrigin.set, a conf.get, and .clear per call
        # (pyspark/errors/utils.py _with_origin). Profiled on the timer
        # ladder: 2850 py4j round trips ≈ 0.5 s of a 1.37 s warm query
        # was plan CONSTRUCTION, most of it this bookkeeping. A query
        # service builds thousands of plans per second — debug origin
        # tracking belongs in dev sessions, not the serving path.
        # Changes no plans; error messages just lose the Python-side
        # call-site annotation. (The process-global cache in
        # is_debugging_enabled() reads this at the FIRST DataFrame op,
        # so it must be set at session build, as here.)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # 16g, measured: 32g was tried to damp the ±15% run-to-run
        # serial drift and made things WORSE — bench calls System.gc()
        # after heavy queries, and an explicit full GC on a 32g heap is
        # a multi-second stop-the-world (the 120 calls blew the bench
        # past its 10-min budget). The drift is ambient, not heap.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # managed tables (bucketed rollup storage) land outside the repo
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/blueflood_spark_warehouse"),
        )
    )
    for k, v in extra_confs.items():
        builder = builder.config(k.replace("__", "."), v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# ---------------------------------------------------------------------------
# loop session: AQE-off clone for iterative fixed-point loops
# ---------------------------------------------------------------------------
#
# Under AQE, `localCheckpoint(eager=False)` is NOT lazy: marking calls
# queryExecution.toRdd, and AQE's toRdd EXECUTES every shuffle stage of
# the subtree right then, one driver-scheduled job each (the r7 finding
# — 85 jobs per connected-components query). Iterative loops therefore
# need AQE off while they mark. Toggling spark.sql.adaptive.enabled on
# the CALLER's session is session-global: a query planned concurrently
# in that session loses AQE for the loop's duration, and two overlapping
# toggles can each capture the other's "false" on restore. Instead each
# loop runs in a clone of the caller's session that it alone owns: AQE
# off from creation, the caller's planning conf copied at creation, and
# dropped with the loop. No other loop or thread can see the clone, so
# a loop may set its width there without a lock, a marker or a restore.
# A fresh newSession() per loop measured no slower than one memoized
# clone per parent (clone + rebind + lazy mark of a small aggregate:
# median 93-101 ms fresh vs 90-98 ms memoized, two runs each; PySpark
# 4.1.2, local[4] on a 4-core box), and after 1 000 loops the post-GC
# heap (62 MB) and the listener bus (3 listeners) read the same as with
# the memo.

# runtime (conf.set) settings that shape loop plans or row values; the
# clone re-merges builder-level spark.sql.* from the shared SparkConf by
# itself, but RUNTIME overrides are session-scoped and must be copied
# (the driver's vanilla sessions set the timezone at runtime; the
# SPARK_GRAFT_SHUFFLE arm proves plan-shape independence of the width).
_LOOP_CONF_COPY = (
    "spark.sql.shuffle.partitions",
    "spark.sql.session.timeZone",
)


def loop_session(spark: SparkSession) -> SparkSession:
    """A new AQE-off clone of `spark` for one iterative fixed-point loop
    (connected components, PageRank, self-join-subtree checkpoint
    marks). `newSession()` shares the SparkContext, persistent catalog
    and cached RDDs; only SQL conf and temp views are fresh. The clone
    takes the caller's _LOOP_CONF_COPY values as they are at this call,
    and belongs to the caller alone: every call returns a distinct
    clone, and asking for the loop session of a clone clones the clone.

    Under Spark Connect (or any session without classic-JVM internals)
    there is no clone: the parent itself is returned, rebind becomes an
    identity, and loops degrade to the plain same-session checkpoint
    path — eager marks, correct results."""
    try:
        child = spark.newSession()
        child.conf.set("spark.sql.adaptive.enabled", "false")
        for key in _LOOP_CONF_COPY:
            child.conf.set(key, spark.conf.get(key))
    except Exception:  # Connect mode / API drift
        return spark
    return child


# rows per loop-shuffle partition for fit_loop_width: 2e6 rows of
# 16-24 B label/edge tuples ≈ 32-48 MB — the same ballpark as AQE's
# advisory partition size, which is the mechanism this replaces.
_LOOP_ROWS_PER_PARTITION = 2_000_000


def fit_loop_width(
    child: SparkSession, parent: SparkSession, n_rows: int
) -> int | None:
    """Set the loop clone `child`'s shuffle width from the MEASURED row
    count of the loop's largest frame (the optimization guide's rule:
    derive partitioning from input size, never from a constant tuned
    for one box), and return it. The AQE-off clone plans every round's
    exchange statically, so it cannot coalesce post-shuffle partitions
    at runtime the way the caller's AQE does — without this, a loop over
    a few thousand label rows pays conf-width near-empty tasks in EVERY
    round stage (measured: llm_embedding_dup_clusters −50%,
    llm_dup_pagerank −25% wall min-vs-min when the loop width fits the
    data; sf0.1, 3-round interleaved A/B, every new-arm run of the CC
    query beat every old-arm run).

    Width = ceil(n_rows / _LOOP_ROWS_PER_PARTITION) clamped to
    [1, parent's width]: at corpus scale the clamp returns the
    CONFIGURED width unchanged — the production setting stays
    authoritative, exactly like AQE coalescing which only ever merges
    below-target partitions. Loop results are width-independent
    (integer min/sum fixpoints; the SPARK_GRAFT_SHUFFLE=3 oracle arm
    proves it), so a mis-fit can only cost time, never rows. Nothing is
    restored: the clone is the loop's own.

    Sets nothing and returns None when `child is parent` (the Connect
    fallback of loop_session: fitting there would shrink the CALLER's
    width for every query it plans) or when the parent's width cannot
    be read — a guessed width is never installed."""
    if child is parent:
        return None
    try:
        parent_width = int(parent.conf.get("spark.sql.shuffle.partitions"))
    except Exception:  # Connect mode / API drift
        return None
    fitted = (max(0, n_rows) + _LOOP_ROWS_PER_PARTITION - 1) // _LOOP_ROWS_PER_PARTITION
    width = max(1, min(fitted, parent_width))
    child.conf.set("spark.sql.shuffle.partitions", str(width))
    return width


def rebind(df: DataFrame, session: SparkSession) -> DataFrame:
    """Re-home a DataFrame's ANALYZED logical plan onto another session
    of the same SparkContext, via public API only: a uniquely-named
    global temp view (global temp views store the analyzed plan and are
    application-scoped, so they resolve from any session), dropped
    before returning — classic Spark analyzes eagerly at Dataset
    construction, so the returned frame and everything derived from it
    never consult the catalog again. The plan is unchanged; only the
    session whose SQL conf governs physical planning switches, which is
    what lets a loop mark lazy checkpoints statically (AQE off) in
    `loop_session()` while the caller keeps AQE for everything else.
    uuid view names make concurrent rebinds collision-free."""
    src = df.sparkSession
    try:
        if src._jsparkSession.equals(session._jsparkSession):
            return df
    except Exception:  # pragma: no cover - connect-mode / mock sessions
        if src is session:
            return df
        # Connect analyzes table() reads LAZILY, so the view would be
        # dropped before the plan resolves it — the round trip cannot
        # work there. Internal callers never reach this (loop_session
        # returns the parent itself under Connect, making every rebind
        # an identity); fail loudly for external cross-session use.
        raise RuntimeError(
            "rebind() across sessions requires classic (JVM) Spark; "
            "under Spark Connect run the loop in the caller's session"
        )
    name = "bf_rebind_" + uuid.uuid4().hex
    df.createOrReplaceGlobalTempView(name)
    try:
        gdb = session.conf.get("spark.sql.globalTempDatabase", "global_temp")
        return session.table(f"`{gdb}`.`{name}`")
    finally:
        src.catalog.dropGlobalTempView(name)


def lazy_mark(df: DataFrame) -> DataFrame:
    """`localCheckpoint(eager=False)` that actually STAYS lazy under
    AQE: the mark happens in the AQE-off loop-session clone (where
    toRdd compiles the plan without executing its query stages), and
    the RDD-backed frame is handed straight back to the caller's
    session, so every join/aggregate built on top plans under the
    caller's own conf. Use for shared-subtree marks on hot query paths;
    a plain mark on an AQE session executes the whole subtree eagerly
    as separate driver-scheduled jobs at plan-build time (NOTES.md r7).
    Broadcast-exchange prepare futures may still kick 1-2 small async
    jobs — those are collect-to-driver broadcasts, not subtree runs.

    SELF-JOIN HAZARD, CLOSED (r8 measured, r9 fixed): a bare
    mark-and-rebind hands back an RDD-scan whose output attributes keep
    the ORIGINAL subtree's exprIds. Join two such frames derived from
    the same base relation and then touch that relation a third time
    (the probe_dedup_index shape: exact branch, near branch, final
    attach — minimal repro in tests/test_loop_session.py) and Spark's
    relation dedup gives up with INTERNAL_ERROR "conflicting references
    in Join". The fix is a projection that re-aliases every column —
    Alias mints fresh exprIds, so the marked frame's output can never
    collide with a sibling's — verified to convert the measured failure
    into a plain success. Zero-cost: a Project over the RDD scan, no
    job, no shuffle. The re-alias is POSITIONAL (`toDF(*cols)` aliases
    the plan's output attributes in order, exactly Dataset.toDF's
    contract), so frames with duplicate column names get fresh exprIds
    too — the r9 version silently skipped them, leaving the hazard open
    on that path with no signal (r10 ADVICE).

    Under Spark Connect loop_session() returns the caller itself and
    both rebinds are identities: the mark degrades to a plain
    localCheckpoint(eager=False) — eager under AQE, but correct."""
    caller = df.sparkSession
    out = rebind(
        rebind(df, loop_session(caller)).localCheckpoint(eager=False), caller
    )
    return out.toDF(*out.columns)
