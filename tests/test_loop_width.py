"""fit_loop_width (session.py): fixpoint-loop shuffle width derived from
the measured edge/label count — the AQE-coalescing equivalent for the
AQE-off loop clone, which plans every round's exchange statically.

Contract under test: (1) the fit is ceil(n / rowsPerPartition) clamped
to [1, conf width] — at corpus scale it returns the CONFIGURED width
unchanged, so it can never override a production setting downward;
(2) the loop operators restore the clone's width after the loop (both
on return and on the nonconvergence raise), so the fitted value never
leaks into a later loop's planning; (3) labels/ranks are bit-identical
at any width (the tiny graphs here all fit width 1; the driver-path
comparison in test_cc_distributed.py and the unrolled-CTE pagerank twin
already pin the values)."""

import pytest

from blueflood_spark.operators import dedup as D
from blueflood_spark.operators import graph as GR
from blueflood_spark.session import (
    _LOOP_ROWS_PER_PARTITION_KEY,
    fit_loop_width,
    fitted_loop_width,
    loop_session,
)


def test_fit_small_frame_narrows_to_one(spark):
    assert fit_loop_width(0, spark) == 1
    assert fit_loop_width(1, spark) == 1
    assert fit_loop_width(2_000_000, spark) == 1


def test_fit_corpus_scale_keeps_conf_width(spark):
    conf_width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # 10^11 symmetrized edges: fitted = 50_000, clamped to conf width —
    # the production setting stays authoritative
    assert fit_loop_width(10**11, spark) == conf_width


def test_fit_midrange_scales_linearly(spark):
    conf_width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    want = min(3, conf_width)
    assert fit_loop_width(5_000_000, spark) == want  # ceil(5e6/2e6) = 3


def test_fit_rows_per_partition_conf(spark):
    child = loop_session(spark)
    child.conf.set(_LOOP_ROWS_PER_PARTITION_KEY, "10")
    try:
        conf_width = int(child.conf.get("spark.sql.shuffle.partitions"))
        assert fit_loop_width(25, child) == min(3, conf_width)
    finally:
        child.conf.unset(_LOOP_ROWS_PER_PARTITION_KEY)


def test_fit_caps_at_parent_stamp_not_live_clone_width(spark):
    # a concurrent loop's tiny fitted width installed on the shared clone
    # must not cap a corpus-scale loop: the cap is the parent's stamp
    from blueflood_spark.session import _LOOP_PARENT_WIDTH_KEY

    key = "spark.sql.shuffle.partitions"
    child = loop_session(spark)
    live, stamp = child.conf.get(key), child.conf.get(_LOOP_PARENT_WIDTH_KEY)
    child.conf.set(key, "1")
    child.conf.set(_LOOP_PARENT_WIDTH_KEY, "8")
    try:
        assert fit_loop_width(10**11, child) == 8
    finally:
        child.conf.set(key, live)
        child.conf.set(_LOOP_PARENT_WIDTH_KEY, stamp)


class _BrokenConf:
    def get(self, *a, **k):
        raise RuntimeError("conf unavailable")


class _BrokenSession:
    conf = _BrokenConf()


def test_fit_returns_none_when_conf_unreadable():
    # r10 ADVICE: never install a guessed width — the caller must skip
    # the set/restore entirely (the old fallback silently wrote 200)
    assert fit_loop_width(5, _BrokenSession()) is None
    assert fit_loop_width(10**12, _BrokenSession()) is None


def test_fitted_loop_width_noop_on_parent_session(spark):
    # r10 ADVICE: on the degraded path loop_session() returns the parent
    # itself — fitting there would shrink the CALLER's live width for
    # concurrently-planned queries. The guard must not touch it.
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    with fitted_loop_width(spark, 1):
        assert spark.conf.get(key) == before
    assert spark.conf.get(key) == before


def test_fitted_loop_width_fits_and_restores_parent_stamp(spark):
    key = "spark.sql.shuffle.partitions"
    parent_width = spark.conf.get(key)
    child = loop_session(spark)
    # simulate another loop's stale leftover: the clone's live width
    # differs from the parent's at entry — restore must re-install the
    # PARENT's stamped width, not this stale pre-loop read
    child.conf.set(key, "7777")
    with fitted_loop_width(child, 1):
        assert child.conf.get(key) == "1"
    assert child.conf.get(key) == parent_width


def _own_clone(spark):
    """THIS parent's memoized clone, WITHOUT calling loop_session()
    (which re-copies the parent's width on access and would mask a
    leak). Looked up by the parent's (app, token) memo key — the full
    suite leaves clones of OTHER parent sessions (width-variant tests
    at 3/8/32) in the memo, so iterating all values asserts someone
    else's width."""
    from blueflood_spark import session as S

    app = spark.sparkContext.applicationId
    token = spark.conf.get(S._LOOP_TOKEN_KEY, "")
    return S._LOOP_SESSIONS.get((app, token))


def _assert_clone_width_restored(spark, parent_width):
    child = _own_clone(spark)
    assert child is not None, "loop ran, so this parent must have a clone"
    assert child.conf.get("spark.sql.shuffle.partitions") == parent_width


def test_cc_restores_clone_width(spark):
    parent_width = spark.conf.get("spark.sql.shuffle.partitions")
    ids = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    pairs = spark.createDataFrame([(i, i + 1) for i in range(7)], "doc_a long, doc_b long")
    out = D.connected_components(pairs, ids, driver_threshold=0)
    assert {r["cluster_id"] for r in out.collect()} == {0}
    _assert_clone_width_restored(spark, parent_width)


def test_cc_restores_clone_width_on_nonconvergence(spark):
    parent_width = spark.conf.get("spark.sql.shuffle.partitions")
    ids = spark.createDataFrame([(i,) for i in range(60)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(59)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="converge"):
        D.connected_components(
            pairs, ids, max_iterations=2, driver_threshold=0
        ).collect()
    _assert_clone_width_restored(spark, parent_width)


def test_pagerank_restores_clone_width_and_values(spark):
    parent_width = spark.conf.get("spark.sql.shuffle.partitions")
    # triangle + isolated node; symmetrized edge list
    und = [(0, 1), (1, 2), (0, 2)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(4)], "id long")
    out = {r["id"]: r["rank"] for r in GR.pagerank(edges, nodes, n_iter=5).collect()}
    # symmetric triangle: every touched node holds exactly `scale` at
    # the fixpoint (each gives away rank/2 to two neighbors and gets the
    # same back); isolated node 3 holds the closed-form teleport base
    base = GR.SCALE * 3 // 20
    assert out[0] == out[1] == out[2] == GR.SCALE
    assert out[3] == base
    _assert_clone_width_restored(spark, parent_width)
