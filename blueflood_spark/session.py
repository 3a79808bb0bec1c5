"""SparkSession factory tuned for this engine.

Local test profile runs on local[N]; the same settings (AQE, shuffle
partitions sized to cores, Arrow for the few pandas exchanges) are the
ones we'd set cluster-side at 100 TB — shuffle partition count and
maxPartitionBytes would scale with executor count, not be hardcoded.
"""

from __future__ import annotations

import contextlib
import os
import threading
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
        .config("spark.sql.adaptive.enabled", os.environ.get("SPARK_GRAFT_AQE", "true"))
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
# need AQE off while they mark. r7 toggled spark.sql.adaptive.enabled on
# the CALLER's session (restore in finally) — a session-global mutation
# with two documented costs: a query planned CONCURRENTLY in the same
# session during the loop planned without AQE, and two overlapping
# toggles could each capture the other's "false" and leave AQE off for
# the rest of the session (the r7 ADVICE restore-race). Instead, loops
# now run in a dedicated CLONE of the caller's session whose AQE is
# permanently off: no toggle, no restore, no race — concurrent loops
# simply share the clone, and the caller's session is never mutated.

_LOOP_SESSIONS: dict = {}
_LOOP_LOCK = threading.Lock()

# runtime (conf.set) settings that shape loop plans or row values; the
# clone re-merges builder-level spark.sql.* from the shared SparkConf by
# itself, but RUNTIME overrides are session-scoped and must be copied
# (the driver's vanilla sessions set the timezone at runtime; the
# SPARK_GRAFT_SHUFFLE arm proves plan-shape independence of the width).
_LOOP_CONF_COPY = (
    "spark.sql.shuffle.partitions",
    "spark.sql.session.timeZone",
)

# custom conf keys (no Spark behavior attached): `_TOKEN` stamps a uuid
# on each parent so the memo key is collision-free (java hashCode() of
# two live sessions can collide and silently share a clone carrying the
# other parent's copied confs — r9 ADVICE); `_MARKER` tags a clone so
# loop_session(clone) is idempotent instead of minting nested clones.
_LOOP_TOKEN_KEY = "spark.blueflood.loop.token"
_LOOP_CLONE_MARKER = "spark.blueflood.loop.clone"
# the PARENT's configured shuffle width, stamped on the clone at every
# loop_session(parent) access: fitted_loop_width restores from THIS and
# fit_loop_width caps at it, not at a read of the live value — two loops
# interleaving their set/restore on the shared clone can otherwise
# capture each other's fitted width and leave it installed after both
# finish (r10 ADVICE)
_LOOP_PARENT_WIDTH_KEY = "spark.blueflood.loop.parentWidth"


def loop_session(spark: SparkSession) -> SparkSession:
    """AQE-off clone of `spark` for iterative fixed-point loops
    (connected components, PageRank, self-join-subtree checkpoint
    marks). `newSession()` shares the SparkContext, persistent catalog
    and cached RDDs; only SQL conf and temp views are fresh. One clone
    per (application, parent-session) pair, memoized; entries from dead
    applications are evicted on access (same discipline as the
    trained-artifact caches in operators/similarity.py).

    Idempotent: asking for the loop session OF a loop session returns
    it unchanged, so an operator whose caller already pre-rebound its
    inputs into the clone (llm_dup_pagerank) reuses the same clone
    instead of minting a nested one per app (r9 ADVICE). The caller's
    _LOOP_CONF_COPY values are re-copied on EVERY access — a parent
    conf.set between loops propagates to the next loop's plans (only
    `spark.blueflood.loop.token`, a plain uuid tag with no planning
    behavior, is ever written to the parent).

    Under Spark Connect (or any session without classic-JVM internals)
    there is no clone: the parent itself is returned, rebind becomes an
    identity, and loops degrade to the plain same-session checkpoint
    path — eager marks, correct results (the artifact-cache "Connect or
    API drift: skip the memo" discipline)."""
    try:
        if spark.conf.get(_LOOP_CLONE_MARKER, "") == "true":
            return spark
        app = spark.sparkContext.applicationId
    except Exception:  # pragma: no cover - Connect mode / API drift
        return spark
    with _LOOP_LOCK:
        # token read-then-mint lives INSIDE the lock (r10 ADVICE): two
        # threads first-calling on the same parent outside it could both
        # see an empty token, mint different uuids, and leak one clone
        # in the memo under the losing token until app eviction.
        try:
            token = spark.conf.get(_LOOP_TOKEN_KEY, "")
            if not token:
                token = uuid.uuid4().hex
                spark.conf.set(_LOOP_TOKEN_KEY, token)
        except Exception:  # pragma: no cover - Connect mode / API drift
            return spark
        key = (app, token)
        for stale in [k for k in _LOOP_SESSIONS if k[0] != app]:
            del _LOOP_SESSIONS[stale]
        child = _LOOP_SESSIONS.get(key)
        if child is None:
            child = spark.newSession()
            child.conf.set("spark.sql.adaptive.enabled", "false")
            child.conf.set(_LOOP_CLONE_MARKER, "true")
            _LOOP_SESSIONS[key] = child
        for conf_key in _LOOP_CONF_COPY:
            try:
                child.conf.set(conf_key, spark.conf.get(conf_key))
            except Exception:
                pass
        try:
            child.conf.set(
                _LOOP_PARENT_WIDTH_KEY,
                spark.conf.get("spark.sql.shuffle.partitions"),
            )
        except Exception:
            pass
        return child


# rows per loop-shuffle partition for fit_loop_width: 2e6 rows of
# 16-24 B label/edge tuples ≈ 32-48 MB — the same ballpark as AQE's
# advisory partition size, which is the mechanism this replaces.
_LOOP_ROWS_PER_PARTITION_KEY = "spark.blueflood.loop.rowsPerPartition"
_LOOP_ROWS_PER_PARTITION_DEFAULT = 2_000_000


def fit_loop_width(n_rows: int, session: SparkSession) -> int | None:
    """Shuffle width for a fixpoint loop's exchanges, derived from the
    MEASURED row count of the loop's largest frame (the optimization
    guide's rule: derive partitioning from input size, never from a
    constant tuned for one box). The AQE-off loop clone plans every
    round's exchange statically, so it cannot coalesce post-shuffle
    partitions at runtime the way the caller's AQE does — without this,
    a loop over a few thousand label rows pays conf-width near-empty
    tasks in EVERY round stage (measured: llm_embedding_dup_clusters
    −50%, llm_dup_pagerank −25% wall min-vs-min when the loop width
    fits the data; sf0.1, 3-round interleaved A/B, every new-arm run
    of the CC query beat every old-arm run).

    Width = ceil(n_rows / rowsPerPartition) clamped to [1, conf width]:
    at corpus scale the clamp returns the CONFIGURED width unchanged —
    the production setting stays authoritative, exactly like AQE
    coalescing which only ever merges below-target partitions. On a loop
    clone the conf width is the parent's stamped width
    (_LOOP_PARENT_WIDTH_KEY), not the clone's live value: a concurrent
    loop may have installed its own tiny fitted width there, and capping
    at that would hold this whole loop at it. The row
    target is conf-tunable (spark.blueflood.loop.rowsPerPartition).
    Loop results are width-independent (integer min/sum fixpoints; the
    SPARK_GRAFT_SHUFFLE=3 oracle arm proves it), so a mis-fit can only
    cost time, never rows.

    Returns None when the session's configured width cannot be read
    (Connect mode / API drift) — the caller must then skip the
    set/restore entirely rather than install a guessed width over
    whatever the session actually had (r10 ADVICE; the old fallback
    silently wrote a hardcoded 200)."""
    try:
        conf_width = int(
            session.conf.get(_LOOP_PARENT_WIDTH_KEY, "")
            or session.conf.get("spark.sql.shuffle.partitions")
        )
    except Exception:  # pragma: no cover - Connect mode / API drift
        return None
    try:
        target = int(
            session.conf.get(
                _LOOP_ROWS_PER_PARTITION_KEY,
                str(_LOOP_ROWS_PER_PARTITION_DEFAULT),
            )
        )
    except Exception:
        target = _LOOP_ROWS_PER_PARTITION_DEFAULT
    target = max(1, target)
    fitted = (max(0, n_rows) + target - 1) // target
    return max(1, min(fitted, conf_width))


@contextlib.contextmanager
def fitted_loop_width(child: SparkSession, n_rows: int):
    """Scoped fit of the loop clone's shuffle width to a measured row
    count (fit_loop_width), with the three r10-ADVICE hazards closed:

    - NO-OP when `child` is not actually a loop clone (no clone marker):
      under Spark Connect / API drift loop_session() returns the parent
      itself, and fitting there would transiently shrink the CALLER's
      live width for every concurrently-planned query.
    - NO-OP when the width cannot be read (fit_loop_width → None): never
      installs a guessed width.
    - Restores the PARENT's stamped width (_LOOP_PARENT_WIDTH_KEY, set
      at every loop_session(parent) access), not the pre-loop live read:
      two loops interleaving set/restore on the shared clone would each
      capture the other's fitted value and leave a stale tiny width
      installed after both finish. Mid-flight a concurrent loop may
      still plan at this loop's fitted width — perf-only by design
      (fixpoint results are width-independent, SPARK_GRAFT_SHUFFLE=3
      oracle arm).

    Nesting fitted scopes on one clone is unsupported: the inner scope's
    exit restores the parent's width, so the outer scope would plan its
    remaining rounds at that width instead of its own fit."""
    width_key = "spark.sql.shuffle.partitions"
    try:
        is_clone = child.conf.get(_LOOP_CLONE_MARKER, "") == "true"
    except Exception:  # pragma: no cover - Connect mode / API drift
        is_clone = False
    fitted = fit_loop_width(n_rows, child) if is_clone else None
    if fitted is None:
        yield
        return
    pre = child.conf.get(width_key)
    child.conf.set(width_key, str(fitted))
    try:
        yield
    finally:
        try:
            restore = child.conf.get(_LOOP_PARENT_WIDTH_KEY, "") or pre
        except Exception:  # pragma: no cover
            restore = pre
        child.conf.set(width_key, restore)


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
