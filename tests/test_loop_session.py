"""session.loop_session / session.rebind — the r8 mechanism that runs
iterative fixed-point loops in an AQE-off clone instead of toggling
spark.sql.adaptive.enabled on the caller's session. These are the
contract tests the loop operators (connected components, PageRank, KMV
sketch marks) build on; the operators' own differentials live in
test_cc_distributed.py / test_graph_curation.py / test_r5_ops.py."""

import pytest
from pyspark.sql import functions as F

from blueflood_spark.session import loop_session, rebind


def test_clone_is_aqe_off_and_new_per_call(spark):
    caller_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    child = loop_session(spark)
    assert child.conf.get("spark.sql.adaptive.enabled") == "false"
    # every call returns a clone of its own: no other loop can see it
    assert loop_session(spark) is not child
    # caller's AQE conf untouched (the whole point of the clone —
    # loop_session must NEVER mutate the parent's planning conf)
    assert spark.conf.get("spark.sql.adaptive.enabled") == caller_aqe
    # and the clone keeps the caller's planning conf
    assert child.conf.get("spark.sql.shuffle.partitions") == spark.conf.get(
        "spark.sql.shuffle.partitions"
    )
    assert child.conf.get("spark.sql.session.timeZone") == spark.conf.get(
        "spark.sql.session.timeZone"
    )


def test_loop_session_of_clone_is_a_new_clone(spark):
    """loop_session(clone) clones the clone (pagerank called from
    llm_dup_pagerank, whose inputs already live in the entry's clone):
    a distinct AQE-off session that plans at the clone's width."""
    child = loop_session(spark)
    child.conf.set("spark.sql.shuffle.partitions", "5")
    grandchild = loop_session(child)
    assert grandchild is not child
    assert grandchild.conf.get("spark.sql.adaptive.enabled") == "false"
    assert grandchild.conf.get("spark.sql.shuffle.partitions") == "5"


def test_loop_session_repropagates_parent_conf(spark):
    """Each clone takes the parent's _LOOP_CONF_COPY values as they are
    at ITS call: a parent conf.set between loops governs the next
    loop's plans, and an earlier clone keeps the values it was made
    with."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        at_five = loop_session(spark)
        assert at_five.conf.get("spark.sql.shuffle.partitions") == "5"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert loop_session(spark).conf.get("spark.sql.shuffle.partitions") == old
    assert at_five.conf.get("spark.sql.shuffle.partitions") == "5"


def test_rebind_same_session_is_identity(spark):
    df = spark.range(10)
    assert rebind(df, spark) is df


def test_rebind_round_trip_values_and_cleanup(spark):
    child = loop_session(spark)
    agg = (
        spark.range(100)
        .withColumn("g", F.col("id") % 5)
        .groupBy("g")
        .agg(F.sum("id").alias("s"))
    )
    over = rebind(agg, child)
    # the view is dropped before rebind returns, yet the frame and
    # everything derived from it keep working (eager analysis).
    # listTables("global_temp") also shows session-LOCAL temp views
    # other queries register, so scope the leak check to rebind's own.
    assert not [
        t.name
        for t in spark.catalog.listTables("global_temp")
        if t.name.startswith("bf_rebind_")
    ]
    got = {(r.g, r.s) for r in over.filter(F.col("g") < 3).collect()}
    want = {(g, sum(i for i in range(100) if i % 5 == g)) for g in range(3)}
    assert got == want
    # and back: a checkpoint-backed child frame joins parent frames
    back = rebind(over.localCheckpoint(eager=False), spark)
    base = spark.range(5).withColumnRenamed("id", "g")
    assert base.join(back, "g").count() == 5


def test_child_plans_without_adaptive(spark):
    child = loop_session(spark)
    df = rebind(
        spark.range(1000).withColumn("g", F.col("id") % 3).groupBy("g").count(),
        child,
    )
    plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "simple")
    assert "AdaptiveSparkPlan" not in plan, plan[:500]


def test_lazy_mark_launches_no_jobs_in_clone(spark):
    """The reason loop_session exists: under AQE a lazy localCheckpoint
    mark executes its shuffle stages eagerly (r7 finding); in the clone
    it must stay lazy. Broadcast-join plans kick async broadcast
    futures at prepare time, so the probe plan is shuffle-only."""
    child = loop_session(spark)
    tracker = spark.sparkContext.statusTracker()

    def njobs():
        return len(tracker.getJobIdsForGroup(None) or [])

    shuffle_only = (
        spark.range(50_000).withColumn("g", F.col("id") % 7).groupBy("g").count()
    )
    before = njobs()
    rebind(shuffle_only, child).localCheckpoint(eager=False)
    assert njobs() == before, "mark executed eagerly in the AQE-off clone"


def test_concurrent_rebinds_do_not_collide(spark):
    from concurrent.futures import ThreadPoolExecutor

    child = loop_session(spark)

    def one(i):
        df = rebind(spark.range(i, i + 100).selectExpr("sum(id) AS s"), child)
        return df.collect()[0].s

    with ThreadPoolExecutor(8) as ex:
        got = list(ex.map(one, range(0, 800, 100)))
    want = [sum(range(i, i + 100)) for i in range(0, 800, 100)]
    assert got == want
    assert not [
        t.name
        for t in spark.catalog.listTables("global_temp")
        if t.name.startswith("bf_rebind_")
    ]


def test_rebind_empty_frame_and_exotic_columns(spark):
    child = loop_session(spark)
    empty = spark.range(10).filter("id < 0").selectExpr("id AS `dotted.name`", "id AS `space name`")
    over = rebind(empty, child)
    assert over.count() == 0
    assert over.columns == ["dotted.name", "space name"]
    back = rebind(over.localCheckpoint(eager=False), spark)
    assert back.count() == 0 and back.columns == ["dotted.name", "space name"]


def test_lazy_mark_self_join_hazard_is_closed(spark):
    """The r8 measured hazard, minimized: two separately-marked frames
    off the same base relation, joined, then the base touched a THIRD
    time — with bare mark-and-rebind (exprIds preserved) Spark's
    relation dedup dies with INTERNAL_ERROR 'conflicting references in
    Join'; lazy_mark's fresh-exprId re-alias must make the same shape
    just work, with the same rows as the unmarked plan."""
    from blueflood_spark.session import lazy_mark, loop_session

    d = spark.range(100).select(
        F.col("id").alias("doc_id"), (F.col("id") % 5).alias("g")
    )
    # the bare round trip (what lazy_mark did before r9) really does
    # fail on this shape — prove the hazard is live, not hypothetical
    child = loop_session(spark)

    def bare(df):
        return rebind(rebind(df, child).localCheckpoint(eager=False), spark)

    b1, b2 = bare(d.filter("g < 3")), bare(d.filter("g >= 1"))
    with pytest.raises(Exception, match="conflicting references|INTERNAL"):
        d.join(
            b1.join(b2.select("doc_id", F.col("g").alias("g2")), "doc_id"),
            "doc_id",
            "left",
        )

    m1, m2 = lazy_mark(d.filter("g < 3")), lazy_mark(d.filter("g >= 1"))
    out = d.join(
        m1.join(m2.select("doc_id", F.col("g").alias("g2")), "doc_id"),
        "doc_id",
        "left",
    )
    plain = d.join(
        d.filter("g < 3").join(
            d.filter("g >= 1").select("doc_id", F.col("g").alias("g2")), "doc_id"
        ),
        "doc_id",
        "left",
    )
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, plain.collect()))


def test_lazy_mark_keeps_exotic_column_names(spark):
    from blueflood_spark.session import lazy_mark

    df = spark.range(3).selectExpr("id AS `dotted.name`", "id AS `with``tick`")
    m = lazy_mark(df)
    assert m.columns == ["dotted.name", "with`tick"]
    assert m.count() == 3


def test_loop_session_is_per_parent(spark):
    """Two parent sessions of one SparkContext get DISTINCT clones, each
    inheriting its own parent's runtime conf (the driver's vanilla
    sessions set shuffle width / timezone differently than get_spark)."""
    other = spark.newSession()
    other.conf.set("spark.sql.shuffle.partitions", "3")
    other.conf.set("spark.sql.session.timeZone", "America/Chicago")
    c1, c2 = loop_session(spark), loop_session(other)
    assert c1 is not c2
    assert c2.conf.get("spark.sql.shuffle.partitions") == "3"
    assert c2.conf.get("spark.sql.session.timeZone") == "America/Chicago"
    assert c1.conf.get("spark.sql.shuffle.partitions") == spark.conf.get(
        "spark.sql.shuffle.partitions"
    )
    # cross-parent rebind still round-trips values
    from pyspark.sql import functions as F
    df = other.range(7).groupBy((F.col("id") % 2).alias("g")).count()
    assert {(r.g, r["count"]) for r in rebind(df, c2).collect()} == {(0, 4), (1, 3)}


def test_loop_session_degrades_without_jvm_internals(spark):
    """Spark Connect shape (r9 ADVICE): a session without classic-JVM
    internals gets NO clone — loop_session returns the session itself,
    so loops fall back to the plain same-session (eager-mark) path
    instead of hard-failing on sparkContext/_jsparkSession access."""

    class FakeConnectSession:
        class _Conf:
            def get(self, key, default=None):
                return default

            def set(self, key, value):  # pragma: no cover - not reached
                raise AssertionError("loop_session must not set conf here")

        conf = _Conf()

        @property
        def sparkContext(self):
            raise Exception("sparkContext is not supported in Connect")

    fake = FakeConnectSession()
    assert loop_session(fake) is fake


def test_rebind_cross_session_without_jvm_raises_clearly(spark):
    """Without JVM internals a cross-session rebind cannot use the
    global-temp-view round trip (Connect analyzes table() lazily, after
    the view is dropped) — it must fail with a CLEAR error, not an
    opaque dropped-view failure downstream (r9 ADVICE)."""

    class FakeFrame:
        class _S:
            pass

        sparkSession = _S()

    with pytest.raises(RuntimeError, match="classic .JVM. Spark"):
        rebind(FakeFrame(), spark)


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@given(
    marks=st.lists(st.booleans(), min_size=2, max_size=3),
    extra_touch=st.booleans(),
    filters=st.permutations(["g < 3", "g >= 1", "g % 2 = 0"]),
)
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
def test_lazy_mark_random_self_join_shapes(spark, marks, extra_touch, filters):
    """Property net over the r9 hazard class: ANY mix of lazy-marked and
    unmarked branches off one base relation, chain-joined, optionally
    re-touching the base — must analyze, run, and match the all-unmarked
    plan row-for-row. (The specific r8 failure was two marked branches
    plus a third touch; this sweeps the neighborhood.)"""
    from blueflood_spark.session import lazy_mark

    d = spark.range(60).select(
        F.col("id").alias("doc_id"), (F.col("id") % 5).alias("g")
    )

    def build(mark):
        branches = []
        for i, m in enumerate(marks):
            b = d.filter(filters[i % len(filters)]).select(
                "doc_id", F.col("g").alias(f"g{i}")
            )
            branches.append(lazy_mark(b) if (m and mark) else b)
        out = branches[0]
        for b in branches[1:]:
            out = out.join(b, "doc_id")
        if extra_touch:
            out = d.join(out, "doc_id", "left")
        return out

    got = sorted(map(tuple, build(True).collect()))
    want = sorted(map(tuple, build(False).collect()))
    assert got == want


@pytest.mark.parametrize("width", ["3", "8", "32"])
def test_lazy_mark_shapes_width_independent(spark, width):
    """r9 verdict task 8 (run r10): the fresh-exprId re-alias fix is
    shuffle-width independent — the hazard shapes (two+ marked branches
    off one base relation, chain-joined, base re-touched) must analyze
    and match the unmarked plan at widths 3/8/32. The parent's width is
    set per-case; each lazy_mark's clone copies the parent's width at
    its call, so the clone plans at the same width."""
    from blueflood_spark.session import lazy_mark

    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", width)
        d = spark.range(60).select(
            F.col("id").alias("doc_id"), (F.col("id") % 5).alias("g")
        )
        filters = ["g < 3", "g >= 1", "g % 2 = 0"]
        for marks in [(True, True), (True, True, True), (True, False, True)]:
            for extra_touch in (False, True):

                def build(mark):
                    branches = []
                    for i, m in enumerate(marks):
                        b = d.filter(filters[i % len(filters)]).select(
                            "doc_id", F.col("g").alias(f"g{i}")
                        )
                        branches.append(lazy_mark(b) if (m and mark) else b)
                    out = branches[0]
                    for b in branches[1:]:
                        out = out.join(b, "doc_id")
                    if extra_touch:
                        out = d.join(out, "doc_id", "left")
                    return out

                got = sorted(map(tuple, build(True).collect()))
                want = sorted(map(tuple, build(False).collect()))
                assert got == want, (width, marks, extra_touch)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_concurrent_loops_match_serial_and_leave_caller_conf(spark):
    """Connected components, PageRank and a KMV sketch mark on three
    threads over one session, three times over. Each loop runs in its
    own clone and fits its width there, so every result equals its
    serial result, and the caller's AQE and shuffle width are the ones
    it started with."""
    from concurrent.futures import ThreadPoolExecutor

    from blueflood_spark.operators import dedup as D
    from blueflood_spark.operators import graph as GR
    from blueflood_spark.operators.sketches import kmv_pair_overlap

    ids = spark.createDataFrame([(i,) for i in range(40)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(19)] + [(25, 30), (30, 35)],
        "doc_a long, doc_b long",
    )
    und = [(0, 1), (1, 2), (0, 2), (2, 3)]
    edges = spark.createDataFrame(und + [(b, a) for a, b in und], "src long, dst long")
    nodes = spark.createDataFrame([(i,) for i in range(6)], "id long")
    groups = spark.createDataFrame(
        [("A", v) for v in range(300)]
        + [("B", v) for v in range(150, 450)]
        + [("C", v) for v in range(400, 500)],
        "g string, v long",
    )
    loops = [
        lambda: D.connected_components(pairs, ids, driver_threshold=0),
        lambda: GR.pagerank(edges, nodes, n_iter=5),
        lambda: kmv_pair_overlap(groups, "v", "g", k=64),
    ]

    def rows(loop):
        return sorted(map(tuple, loop().collect()))

    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    width = spark.conf.get("spark.sql.shuffle.partitions")
    serial = [rows(loop) for loop in loops]
    with ThreadPoolExecutor(3) as ex:
        for _ in range(3):
            assert list(ex.map(rows, loops)) == serial
    assert spark.conf.get("spark.sql.adaptive.enabled") == aqe
    assert spark.conf.get("spark.sql.shuffle.partitions") == width
