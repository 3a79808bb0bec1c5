"""fit_loop_width (session.py): fixpoint-loop shuffle width derived from
the measured edge/label count — the AQE-coalescing equivalent for the
AQE-off loop clone, which plans every round's exchange statically.

Contract under test: (1) the fit is ceil(n / _LOOP_ROWS_PER_PARTITION)
clamped to [1, parent's width] — at corpus scale it returns the
CONFIGURED width unchanged, so it can never override a production
setting downward; (2) the width is set on the loop's own clone only: it
reaches neither the caller nor the clone the next loop gets (both on
return and on the nonconvergence raise); (3) labels/ranks are
bit-identical at any width (the tiny graphs here all fit width 1; the
driver-path comparison in test_cc_distributed.py and the unrolled-CTE
pagerank twin already pin the values)."""

import pytest

from blueflood_spark import session as S
from blueflood_spark.operators import dedup as D
from blueflood_spark.operators import graph as GR
from blueflood_spark.session import fit_loop_width, loop_session

WIDTH = "spark.sql.shuffle.partitions"


def _fit(spark, n_rows):
    """Fit a fresh clone of `spark`; the width lands on the clone only."""
    parent_width = spark.conf.get(WIDTH)
    child = loop_session(spark)
    fitted = fit_loop_width(child, spark, n_rows)
    assert child.conf.get(WIDTH) == str(fitted)
    assert spark.conf.get(WIDTH) == parent_width
    return fitted


def test_fit_small_frame_narrows_to_one(spark):
    assert _fit(spark, 0) == 1
    assert _fit(spark, 1) == 1
    assert _fit(spark, 2_000_000) == 1


def test_fit_corpus_scale_keeps_conf_width(spark):
    conf_width = int(spark.conf.get(WIDTH))
    # 10^11 symmetrized edges: fitted = 50_000, clamped to conf width —
    # the production setting stays authoritative
    assert _fit(spark, 10**11) == conf_width


def test_fit_midrange_scales_linearly(spark):
    conf_width = int(spark.conf.get(WIDTH))
    assert _fit(spark, 4_000_000) == min(2, conf_width)  # exactly 2 partitions' worth
    assert _fit(spark, 4_000_001) == min(3, conf_width)  # one row over rounds up
    assert _fit(spark, 5_000_000) == min(3, conf_width)  # ceil(5e6/2e6) = 3


def test_fit_caps_at_parent_stamp_not_live_clone_width(spark):
    # the cap is the parent's width when the fit runs, not whatever the
    # clone's live width happens to be
    parent = spark.newSession()
    parent.conf.set(WIDTH, "8")
    child = loop_session(parent)
    child.conf.set(WIDTH, "1")
    assert fit_loop_width(child, parent, 10**11) == 8
    assert child.conf.get(WIDTH) == "8"


class _BrokenConf:
    def get(self, *a, **k):
        raise RuntimeError("conf unavailable")


class _BrokenSession:
    conf = _BrokenConf()


def test_fit_returns_none_when_conf_unreadable(spark):
    # never install a guessed width (an old fallback silently wrote 200)
    child = loop_session(spark)
    before = child.conf.get(WIDTH)
    assert fit_loop_width(child, _BrokenSession(), 5) is None
    assert fit_loop_width(child, _BrokenSession(), 10**12) is None
    assert child.conf.get(WIDTH) == before


def test_fit_loop_width_noop_on_parent_session(spark):
    # on the degraded path loop_session() returns the parent itself —
    # fitting there would shrink the CALLER's live width for
    # concurrently-planned queries. The fit must not touch it.
    before = spark.conf.get(WIDTH)
    assert fit_loop_width(spark, spark, 1) is None
    assert spark.conf.get(WIDTH) == before


def test_fit_loop_width_reaches_neither_parent_nor_next_clone(spark):
    parent_width = spark.conf.get(WIDTH)
    child = loop_session(spark)
    assert fit_loop_width(child, spark, 1) == 1
    assert child.conf.get(WIDTH) == "1"
    assert spark.conf.get(WIDTH) == parent_width
    assert loop_session(spark).conf.get(WIDTH) == parent_width


@pytest.fixture()
def clones(monkeypatch):
    """Every clone loop_session() hands out during the test, in order
    (the operators import it at call time, so the spy sees their calls)."""
    made = []
    real = S.loop_session

    def spy(spark):
        child = real(spark)
        made.append(child)
        return child

    monkeypatch.setattr(S, "loop_session", spy)
    return made


def _assert_fit_stays_in_its_clone(spark, parent_width, clones):
    """What `*_restores_clone_width*` means with one clone per loop: the
    loop fitted its own clone (the graphs here all fit width 1), the
    caller keeps its width, and the clone the next loop gets starts
    from the caller's width again."""
    assert [c.conf.get(WIDTH) for c in clones] == ["1"]
    assert spark.conf.get(WIDTH) == parent_width
    assert loop_session(spark).conf.get(WIDTH) == parent_width


def test_cc_restores_clone_width(spark, clones):
    parent_width = spark.conf.get(WIDTH)
    ids = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    pairs = spark.createDataFrame([(i, i + 1) for i in range(7)], "doc_a long, doc_b long")
    out = D.connected_components(pairs, ids, driver_threshold=0)
    assert {r["cluster_id"] for r in out.collect()} == {0}
    _assert_fit_stays_in_its_clone(spark, parent_width, clones)


def test_cc_restores_clone_width_on_nonconvergence(spark, clones):
    parent_width = spark.conf.get(WIDTH)
    ids = spark.createDataFrame([(i,) for i in range(60)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(59)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="converge"):
        D.connected_components(
            pairs, ids, max_iterations=2, driver_threshold=0
        ).collect()
    _assert_fit_stays_in_its_clone(spark, parent_width, clones)


def test_pagerank_restores_clone_width_and_values(spark, clones):
    parent_width = spark.conf.get(WIDTH)
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
    _assert_fit_stays_in_its_clone(spark, parent_width, clones)
