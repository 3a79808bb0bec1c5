"""The 100 TB connected-components path: `_cc_distributed` (min-label
propagation with pointer-doubling compression) must produce labels
IDENTICAL to the driver union-find path on the same graphs.

Forced via `driver_threshold=0` — the threshold the production path
crosses when the near-dup pair set outgrows the driver. Graph shapes
chosen adversarially for label propagation: long chains (diameter
stress — pure 1-hop propagation would need `diameter` rounds; the
compression step makes it O(log diameter)), stars (hub fan-out),
component merges late in the id order, singletons, and random graphs.
"""

import random

import pytest

from blueflood_spark.operators import dedup as D


def _labels(spark, edges, n_nodes, **kw):
    ids = spark.createDataFrame([(i,) for i in range(n_nodes)], "doc_id long")
    if edges:
        pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    else:
        pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    out = D.connected_components(pairs, ids, **kw)
    return {r["doc_id"]: r["cluster_id"] for r in out.collect()}


def _both(spark, edges, n_nodes, **kw):
    dist = _labels(spark, edges, n_nodes, driver_threshold=0, **kw)
    drv = _labels(spark, edges, n_nodes, driver_threshold=10**9, **kw)
    return dist, drv


def test_cc_distributed_chain(spark):
    # chain 0-1-2-...-79: diameter 79 ≫ 20 iterations of plain 1-hop
    # propagation — converges only because of the compression step
    edges = [(i, i + 1) for i in range(79)]
    dist, drv = _both(spark, edges, 80)
    assert dist == drv
    assert set(dist.values()) == {0}


def test_cc_distributed_star_and_singletons(spark):
    # star centered at the HIGHEST id (label must flow against edge
    # direction), plus untouched singletons labeling themselves
    edges = [(i, 30) for i in range(10)]
    dist, drv = _both(spark, edges, 40)
    assert dist == drv
    assert dist[30] == 0 and all(dist[i] == 0 for i in range(10))
    assert all(dist[i] == i for i in range(10, 30))


def test_cc_distributed_late_merge(spark):
    # two chains that merge only through their far ends: the minimum
    # label must cross the bridge after both chains have settled
    left = [(i, i + 1) for i in range(0, 9)]          # 0..9
    right = [(i, i + 1) for i in range(20, 29)]       # 20..29
    bridge = [(9, 29)]
    dist, drv = _both(spark, left + right + bridge, 30)
    assert dist == drv
    assert {dist[i] for i in range(10)} == {0}
    assert {dist[i] for i in range(20, 30)} == {0}


@pytest.mark.parametrize("seed", [7, 42, 1337])
def test_cc_distributed_random(spark, seed):
    rng = random.Random(seed)
    n = 120
    edges = [
        (rng.randrange(n), rng.randrange(n))
        for _ in range(rng.randrange(40, 140))
    ]
    edges = [(a, b) for a, b in edges if a != b]
    dist, drv = _both(spark, edges, n)
    assert dist == drv


def test_cc_distributed_empty_pairs(spark):
    dist, drv = _both(spark, [], 12)
    assert dist == drv
    assert dist == {i: i for i in range(12)}


def test_cc_distributed_nonconvergence_raises(spark):
    # a chain longer than max_iterations can cover must fail LOUDLY,
    # not return silently-wrong labels
    edges = [(i, i + 1) for i in range(59)]
    ids = spark.createDataFrame([(i,) for i in range(60)], "doc_id long")
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    with pytest.raises(RuntimeError, match="converge"):
        D.connected_components(
            pairs, ids, max_iterations=2, driver_threshold=0
        ).collect()


def test_cc_distributed_never_touches_caller_aqe(spark):
    """r8: the loop runs in the AQE-off loop-session CLONE
    (session.loop_session); the caller's session conf is never mutated —
    on the converged return, on the nonconvergence raise, and at no
    instant in between (r7 toggled-and-restored, which left a window
    where concurrent queries planned without AQE and a restore race —
    the r7 ADVICE finding the clone removes)."""
    from blueflood_spark.session import loop_session

    before = spark.conf.get("spark.sql.adaptive.enabled")
    edges = [(i, i + 1) for i in range(59)]
    ids = spark.createDataFrame([(i,) for i in range(60)], "doc_id long")
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    with pytest.raises(RuntimeError, match="converge"):
        D.connected_components(pairs, ids, max_iterations=2, driver_threshold=0).collect()
    assert spark.conf.get("spark.sql.adaptive.enabled") == before
    D.connected_components(pairs, ids, driver_threshold=0).count()
    assert spark.conf.get("spark.sql.adaptive.enabled") == before
    # the clone itself has AQE off, is new on every call, and
    # inherits the caller's shuffle width + timezone
    child = loop_session(spark)
    assert child.conf.get("spark.sql.adaptive.enabled") == "false"
    assert child is not loop_session(spark)
    assert child.conf.get("spark.sql.shuffle.partitions") == spark.conf.get(
        "spark.sql.shuffle.partitions"
    )
    assert child.conf.get("spark.sql.session.timeZone") == spark.conf.get(
        "spark.sql.session.timeZone"
    )
